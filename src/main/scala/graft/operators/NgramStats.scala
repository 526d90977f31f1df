package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus n-gram frequency top-k — the vocabulary/boilerplate
  * analysis pass of any corpus report, in the shape that survives the
  * fifth decade (r13, routed r14).
  *
  * The textbook formulation (`explode(grams) → groupBy(gram) →
  * TakeOrdered`) shuffles the FULL gram-string stream into the
  * aggregate; on an open vocabulary most grams are singletons, so
  * map-side combine reduces almost nothing and the hash aggregate
  * degenerates into a sort-spill of hundreds of millions of strings —
  * measured SUPERLINEAR at the 5M-doc decade (×64 for ×10 data in the
  * r13 full-suite sweep).
  *
  * Three entry points:
  *  - [[topK]] — EXACT two-pass top-k (hash-keyed counts, then a
  *    broadcast-filtered string recount). Exact must still group
  *    every distinct gram, so its single-box class stays superlinear
  *    at the memory edge; on a cluster the aggregate is partial-
  *    combinable and spreads (a per-executor-memory statement).
  *  - [[topKSketch]] — bounded O(maxMapSize)/task Misra-Gries
  *    candidates + exact recount; the single-box 100 TB path.
  *  - [[topKAuto]] — the DEFAULT: stats-routes between them on
  *    Catalyst plan size (the same device [[Dedup.PostingShuffleBytes]]
  *    uses), exact below [[SketchRouteBytes]], sketch above.
  */
object NgramStats {

  /** Exact two-pass top-k:
    *  1. aggregate counts keyed on `xxhash64(gram)` — the strings die
    *     map-side, the shuffle carries 8-byte longs (same Zipf
    *     singleton mass, ~4-8× less volume, no string comparisons in
    *     the spill sort); the count table is persisted so the k-th
    *     threshold probe and the kept-set read share ONE aggregate.
    *  2. the k-th largest count is a 1-row driver read off that count
    *     table (TakeOrdered over longs); every hash at or above it —
    *     k rows plus boundary ties — filters a second gram scan that
    *     recovers the strings and recounts just those grams, and the
    *     final exact (count DESC, gram ASC) order + limit happens on
    *     that table.
    *
    * Tie-volume guard (r14, ADVICE): on a singleton-heavy vocabulary
    * the k-th count can be 1 — "k rows plus ties" is then nearly the
    * whole distinct-gram table, and a forced broadcast() (which
    * overrides Spark's size checks) would OOM. The kept set is probed
    * with a bounded collect: at or under [[KeptBroadcastLimit]] rows
    * it broadcasts from a LOCAL relation (the count-table cache is
    * released before returning — nothing leaks past the call); over
    * the cap the second scan degrades to a shuffled semi-join against
    * the re-derived count filter (cost proportional to the tie
    * volume; the cache is released, so the degenerate path recomputes
    * the count aggregate once — correct, and the only regime where it
    * happens is the one [[topKSketch]] exists for).
    *
    * Single-probe fast path (r16, replacing the r15 stats gate): ONE
    * TakeOrdered job collects the top `probeCap`+1 (hash, count) rows
    * of the count aggregate. The k-th collected count IS the
    * threshold, and when every collected row past the tie boundary is
    * strictly under it (or the table was exhausted) the collected
    * prefix IS the complete kept set — it broadcasts as a LOCAL
    * relation into the string recount. The corpus is then scanned
    * exactly TWICE (probe aggregate + recount) with nothing persisted;
    * the r15 gated shape paid a THIRD scan (the kept filter recomputed
    * the aggregate inside the final query's broadcast build — the
    * round's one measured regression). `probeCap` stays under
    * `spark.sql.execution.topKSortFallbackThreshold` (10k default) so
    * the probe plans as a bounded per-partition heap, never a full
    * sort of the distinct-gram table; ties overflowing it fall through
    * to the r14 guarded persist shape below (one extra bounded
    * aggregate compute, only in the massively-tied regime
    * [[topKSketch]] exists for).
    *
    * Result is bit-identical to the one-pass formulation (same
    * xxhash64-collision caveat as every hash-keyed dedup operator: a
    * collision inside the top-k boundary would merge two grams — ~2⁻⁶⁴
    * per pair, below any corpus's noise floor). Cost: one extra corpus
    * scan, which a second decade of data amortizes against not
    * spilling the string shuffle.
    */
  def topK(df: DataFrame, textCol: String, n: Int, k: Int,
      gramCol: String = "gram", countCol: String = "n",
      keptBroadcastLimit: Int = KeptBroadcastLimit): DataFrame = {
    require(n >= 1, s"ngram width must be >= 1, got $n")
    require(k >= 1, s"top-k must be >= 1, got $k")
    require(keptBroadcastLimit >= 0,
      s"keptBroadcastLimit must be >= 0, got $keptBroadcastLimit")
    def grams: DataFrame = df.select(explode(graft.functions.TextSignatures
      .shingleStringsCol(col(textCol), n)).as("_g"))
    def empty: DataFrame = grams.limit(0)
      .select(col("_g").as(gramCol), lit(0L).as(countCol))
    def finish(filtered: DataFrame): DataFrame = filtered
      .groupBy(col("_g"))
      .agg(count(lit(1)).as(countCol))
      .orderBy(col(countCol).desc, col("_g").asc)
      .limit(k)
      .select(col("_g").as(gramCol), col(countCol))
    val countsPlan = grams
      .groupBy(xxhash64(col("_g")).as("_h"))
      .agg(count(lit(1)).as("_c"))
    // Single-probe fast path (r16) — see the docstring. The probe is
    // strictly cheaper than both r15 shapes whenever it lands, and
    // bounded when it does not.
    val probeCap = math.min(keptBroadcastLimit.toLong, graft.Conf.count(
      df.sparkSession, graft.Conf.NgramKeptProbeLimitKey, KeptProbeLimit))
    val probe = graft.Conf.collectUpTo(countsPlan.orderBy(col("_c").desc), probeCap)
    val top = probe.merge
    if (top.isEmpty) return empty
    val exhausted = probe.isRight
    // the k-th largest count is known when the table was exhausted
    // or at least k rows came back (probeCap < k can't happen on
    // real dials — keptBroadcastLimit ≥ k — but stays correct)
    if (exhausted || top.length >= k) {
      val threshold = top(math.min(k, top.length) - 1).getLong(1)
      if (exhausted || top.last.getLong(1) < threshold) {
        // every excluded row counts ≤ the last collected row <
        // threshold — the collected prefix holds the COMPLETE kept
        // set (k rows plus boundary ties)
        val spark = df.sparkSession
        import spark.implicits._
        val local = top.iterator.filter(_.getLong(1) >= threshold)
          .map(_.getLong(0)).toSeq.toDF("_h")
        return finish(
          grams.join(broadcast(local), xxhash64(col("_g")) === col("_h")))
      }
    }
    val counts = countsPlan
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // k-th largest count (or the smallest count when the vocabulary
      // has fewer than k grams): a k-row TakeOrdered over (long, long)
      val topCounts = counts.select(col("_c"))
        .orderBy(col("_c").desc).limit(k)
        .agg(min(col("_c"))).head()
      if (topCounts.isNullAt(0)) return empty
      val threshold = topCounts.getLong(0)
      val kept = counts.filter(col("_c") >= threshold).select(col("_h"))
      val spark = df.sparkSession
      import spark.implicits._
      val filtered = graft.Conf.collectUpTo(kept, keptBroadcastLimit) match {
        case Right(keptRows) =>
          // local relation → plan-time broadcast, no executor cache
          // retained by the returned plan
          val local = keptRows.map(_.getLong(0)).toSeq.toDF("_h")
          grams.join(broadcast(local), xxhash64(col("_g")) === col("_h"))
        case Left(_) => grams.join(kept, xxhash64(col("_g")) === col("_h"))
      }
      finish(filtered)
    } finally counts.unpersist(false)
  }

  /** Max kept-hash rows [[topK]] will broadcast for the recount scan
    * (8 B a row → ≤ ~8 MB at the cap); past it the recount degrades
    * to a shuffled semi-join.
    */
  val KeptBroadcastLimit: Int = 1000000

  /** Default row cap for [[topK]]'s single-probe TakeOrdered (r16,
    * conf-dialable via [[graft.Conf.NgramKeptProbeLimitKey]]): must
    * stay under `spark.sql.execution.topKSortFallbackThreshold` (10k
    * default) so the probe is a bounded per-partition heap, and bounds
    * the local kept relation at ~64 KB. Tie volumes past it take the
    * guarded persist shape.
    */
  val KeptProbeLimit: Long = 4096L

  /** Bounded-memory heavy-hitters top-k — the single-box 100 TB path
    * (r13). [[topK]] is exact but must group EVERY distinct gram; at
    * the 5M-doc decade that is ~300M distinct longs and the aggregate
    * runs at the machine's memory edge (measured SUPERLINEAR on one
    * box even hash-keyed — the spill is inherent to exactness; the
    * aggregate is partial-combinable, so on a cluster it spreads and
    * the class is a per-executor memory statement, not an algorithm
    * one). This variant substitutes a Misra-Gries FrequentItems
    * sketch over the gram hashes (Apache DataSketches LongsSketch):
    * one `mapPartitions` pass with O(maxMapSize) memory per task,
    * sketches merged on the driver, candidate hashes = the sketch's
    * NO_FALSE_NEGATIVES top set — every gram whose true count exceeds
    * the error bound survives — then the same broadcast-filtered
    * second scan recovers strings and EXACT counts for just the
    * candidates, so the RETURNED counts are exact and the final
    * (count DESC, gram ASC) order is the true one. The approximation
    * only decides which tail grams enter the candidate set: with
    * `maxMapSize` ≥ the Zipf head's working set (65536 default, ~1MB)
    * the returned top-k equals the exact top-k whenever the k-th
    * count clears the sketch's epsilon bound (sketch.getMaximumError,
    * checked by the spec on the profiled star).
    */
  def topKSketch(df: DataFrame, textCol: String, n: Int, k: Int,
      maxMapSize: Int = 65536,
      gramCol: String = "gram", countCol: String = "n",
      verifyExact: Boolean = true): DataFrame = {
    require(n >= 1, s"ngram width must be >= 1, got $n")
    require(k >= 1, s"top-k must be >= 1, got $k")
    require(maxMapSize >= 2 * k,
      s"maxMapSize ($maxMapSize) must be >= 2k (${2 * k}) for a usable sketch")
    import org.apache.datasketches.frequencies.{ErrorType, LongsSketch}
    def grams: DataFrame = df.select(explode(graft.functions.TextSignatures
      .shingleStringsCol(col(textCol), n)).as("_g"))
    val spark = df.sparkSession
    import spark.implicits._
    // nearest power of two at or above maxMapSize (LongsSketch requires one)
    val mapSize = Integer.highestOneBit(math.max(2, maxMapSize - 1)) * 2
    val merged = grams
      .select(xxhash64(col("_g")).as("_h")).as[Long]
      .mapPartitions { it =>
        val sk = new LongsSketch(mapSize)
        it.foreach(sk.update)
        Iterator.single(sk.toByteArray)
      }.collect()
      .foldLeft(new LongsSketch(mapSize)) { (acc, bytes) =>
        acc.merge(LongsSketch.getInstance(
          org.apache.datasketches.memory.Memory.wrap(bytes)))
      }
    val cand = merged.getFrequentItems(ErrorType.NO_FALSE_NEGATIVES)
      .map(_.getItem)
    if (cand.isEmpty) return grams.limit(0)
      .select(col("_g").as(gramCol), lit(0L).as(countCol))
    val kept = cand.toSeq.toDF("_h")
    val out = grams
      .join(broadcast(kept), xxhash64(col("_g")) === col("_h"))
      .groupBy(col("_g"))
      .agg(count(lit(1)).as(countCol))
      .orderBy(col(countCol).desc, col("_g").asc)
      .limit(k)
      .select(col("_g").as(gramCol), col(countCol))
    if (!verifyExact) return out
    // Exactness certificate (r15, ADVICE): Misra-Gries guarantees
    // every gram whose TRUE count exceeds the merged sketch's maximum
    // error is a candidate, so when the k-th recounted candidate count
    // clears that bound no non-candidate can belong in the top-k — the
    // returned table is PROVEN equal to exact topK. The check costs
    // only materializing the ≤ k result rows (which the caller was
    // about to compute anyway — they are re-served from a local
    // relation, no recompute); when the bound is not cleared the
    // result is still exhaustive over the candidate set with exact
    // counts, but tail candidates may be missing — logged as a warning
    // naming the dial (maxMapSize) instead of silently looking
    // authoritative.
    val resultRows = out.collect()
    val bound = merged.getMaximumError
    val kth = if (resultRows.length < k) 0L
      else resultRows.last.getLong(1)
    val proven = bound == 0 || (resultRows.length == k && kth > bound)
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    if (proven)
      log.info(s"topKSketch: top-$k proven exact (kth recounted count " +
        s"$kth > sketch max error $bound)")
    else
      log.warn(s"topKSketch: top-$k NOT guaranteed exact (kth recounted " +
        s"count $kth <= sketch max error $bound) — grams under the error " +
        s"bound may be missing from the candidate set; raise maxMapSize " +
        s"(currently $mapSize) or call topK for the exact aggregate")
    spark.createDataFrame(
      java.util.Arrays.asList(resultRows: _*), out.schema)
  }

  /** Stats-routed default (r14, the r13 verdict's item 2): EXACT
    * [[topK]] below `routeBytes` of input (Catalyst plan stats — the
    * same cost-based device as [[Dedup.PostingShuffleBytes]]),
    * [[topKSketch]] above it. The exact path's open-vocabulary
    * aggregate is the right plan while the distinct-gram table fits
    * one box's aggregate memory; past that its single-box class is
    * superlinear at the memory edge (r13 sweep: ×64/decade at 5M
    * docs) while the sketch path is O(maxMapSize)/task with exact
    * recounted results — spec-pinned equal to exact on the profiled
    * star. Callers who KNOW their cluster spreads the exact aggregate
    * (it is partial-combinable) override by calling [[topK]]
    * directly; `routeBytes` is the explicit dial, and `routeBytes < 0`
    * (the default) resolves `spark.graft.ngramSketchRouteBytes` from
    * session conf before falling back to [[SketchRouteBytes]] (r15 —
    * cluster operators re-dial the crossover without a code change).
    */
  def topKAuto(df: DataFrame, textCol: String, n: Int, k: Int,
      maxMapSize: Int = 65536,
      gramCol: String = "gram", countCol: String = "n",
      routeBytes: Long = -1L): DataFrame = {
    if (graft.Conf.underBytes(df, graft.Conf.SketchRouteBytesKey,
        SketchRouteBytes, routeBytes)) topK(df, textCol, n, k, gramCol, countCol)
    else topKSketch(df, textCol, n, k, maxMapSize, gramCol, countCol)
  }

  /** Input-size threshold (Catalyst plan stats, bytes) above which
    * [[topKAuto]] routes to the sketch. 64 MB of input text is ~300k
    * docs ≈ 20M distinct trigrams — comfortably inside one box's
    * aggregate memory for the exact path below it, and measured at
    * the sf10 star (~90 MB, 500k docs) the sketch path is already at
    * parity with exact, so routing above this line never pays a
    * slowdown for the bounded memory.
    */
  val SketchRouteBytes: Long = 64L << 20
}
