package graft

import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration._
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}

/** Cluster-dialable engine knobs (`spark.graft.*` session conf) and
  * the two plan-shape decisions every scale-critical operator makes
  * with them.
  *
  * [[collectUpTo]] is the guarded collect: ONE collect job,
  * `df.limit(cap + 1).collect()` (AQE still runs each exchange under it
  * as its own map-stage job). `Right(rows)` means the input had at
  * most `cap` rows and `rows` is all of it — small enough to serve as
  * a driver-local relation or model. `Left(rows)` means the input is
  * over the cap; `rows` holds its first `cap + 1` rows, and the caller
  * takes its large-input shape, raises, or reads the prefix. The cap
  * is clamped so `cap + 1` never wraps an Int limit negative, and a
  * negative cap is rejected.
  *
  * [[underBytes]] is the stats route: Catalyst's size estimate of the
  * input against a byte threshold resolved as explicit argument (when
  * `>= 0`) > session conf key > shipped default, logged at INFO. The
  * defaults are the measured crossovers for a 32-core / 128 GB single
  * box; the right crossover is a per-deployment statement, so one
  * `spark.conf.set` (or `--conf spark.graft.…` at submit) moves a route
  * for the whole session without a code change.
  *
  * Values accept Spark's usual byte-suffix syntax (`64m`, `1g`,
  * plain bytes) for the byte keys and plain longs for the count keys.
  */
object Conf {

  /** Route threshold for the semantic-dedup cell walk
    * ([[graft.operators.Similarity.dropWithinCells]]): collect_list +
    * native walk at or below, streamed one-cell-buffer walk above.
    * Default [[graft.operators.Similarity.CellWalkShuffleBytes]].
    */
  val CellWalkBytesKey = "spark.graft.cellWalkShuffleBytes"

  /** Route threshold for corpus n-gram top-k
    * ([[graft.operators.NgramStats.topKAuto]]): exact two-pass at or
    * below, Misra-Gries sketch + exact recount above. Default
    * [[graft.operators.NgramStats.SketchRouteBytes]].
    */
  val SketchRouteBytesKey = "spark.graft.ngramSketchRouteBytes"

  /** Route threshold for the span-family posting aggregate
    * ([[graft.operators.Dedup.dupSpanFirsts]]): plain map-combined
    * groupBy at or below, pre-shuffled fixed-width postings above.
    * Default [[graft.operators.Dedup.PostingShuffleBytes]].
    */
  val PostingShuffleBytesKey = "spark.graft.postingShuffleBytes"

  /** Max flagged-doc rows the span scrub broadcasts before routing the
    * remainder join through a staged/shuffled shape (count, not
    * bytes). Default [[graft.operators.Dedup.ScrubHitsBroadcastLimit]].
    */
  val ScrubHitsLimitKey = "spark.graft.scrubHitsBroadcastLimit"

  /** Max duplicated-span rows the span family collects straight to a
    * driver-local relation ([[collectUpTo]], no executor cache) before
    * falling back to the persisted probe side (count, not bytes). Default
    * [[graft.operators.Dedup.DupSpanLocalLimit]].
    */
  val DupSpanLocalLimitKey = "spark.graft.dupSpanLocalLimit"

  /** Row cap for the n-gram top-k single-probe TakeOrdered
    * ([[graft.operators.NgramStats.topK]]): under it the kept set is
    * collected by [[collectUpTo]] and broadcast locally; tie volumes past it
    * take the guarded persist shape. Keep it under
    * `spark.sql.execution.topKSortFallbackThreshold`. Default
    * [[graft.operators.NgramStats.KeptProbeLimit]].
    */
  val NgramKeptProbeLimitKey = "spark.graft.ngramKeptProbeLimit"

  /** Row cap for the line-dedup frequent-line probe
    * ([[graft.operators.LineDedup.dropCommonLines]]): under it the
    * boilerplate set is collected by [[collectUpTo]] and broadcast
    * locally; past it the staged+broadcast fallback takes over. Default
    * [[graft.operators.LineDedup.FrequentLocalLimit]].
    */
  val LineFrequentLocalLimitKey = "spark.graft.lineFrequentLocalLimit"

  /** Byte-valued knob: session conf wins when set (Spark byte-suffix
    * syntax allowed), else `default`.
    */
  private[graft] def bytes(spark: SparkSession, key: String, default: Long): Long =
    spark.conf.getOption(key)
      .map(v => org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v))
      .getOrElse(default)

  /** Count-valued knob (a row cap): session conf wins when set, else
    * `default`.
    */
  def count(spark: SparkSession, key: String, default: Long): Long =
    spark.conf.getOption(key).map(_.trim.toLong).getOrElse(default)

  /** Collect at most `cap` rows of `df` in one job: `Right` with the
    * whole input when it has at most `cap` rows, else `Left` with its
    * first `cap + 1`. A cap at or past `Int.MaxValue` means "as many as
    * an Int limit can express".
    */
  def collectUpTo(df: DataFrame, cap: Long): Either[Array[Row], Array[Row]] = {
    require(cap >= 0, s"probe cap must be >= 0, got $cap")
    val clamped = math.min(cap, Int.MaxValue - 1L)
    val rows = df.limit(clamped.toInt + 1).collect()
    if (rows.length <= clamped) Right(rows) else Left(rows)
  }

  /** `obs`'s row from a returned action; `None` if not posted in 2 s. */
  def observed(obs: Observation): Option[Row] =
    try Some(Await.result(obs.future, 2.seconds)) catch { case _: TimeoutException => None }

  /** Catalyst's size estimate of `df`'s optimized plan, in bytes. */
  def estimatedBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** True when `df`'s size estimate is at or under the threshold:
    * `explicit` if `>= 0`, else the session's `key`, else `default`.
    */
  def underBytes(df: DataFrame, key: String, default: Long,
      explicit: Long = -1L): Boolean = {
    val threshold = if (explicit >= 0) explicit else bytes(df.sparkSession, key, default)
    val estimate = estimatedBytes(df)
    val under = estimate <= threshold
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"$key: input ~$estimate B vs threshold $threshold B -> " +
        (if (under) "under" else "over"))
    under
  }
}
