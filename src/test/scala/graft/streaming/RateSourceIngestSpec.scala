package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.functions.TextFunctions

/** Exactly-once corpus ingestion from a NON-FILE source.
  *
  * Every other ingestStream spec drives the loop with MemoryStream or
  * file batches; production intake is a Kafka topic. `rate-micro-batch`
  * is the Kafka SHAPE without a broker: a continuous, offset-ranged,
  * replayable source whose batch contents are a deterministic function
  * of the offset range — exactly what the commit-marker discipline has
  * to survive (offsets redelivered after a crash re-enter ingestBatch
  * with the same batchId and must not double-append).
  */
class RateSourceIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val gate = (c: org.apache.spark.sql.Column) =>
    TextFunctions.gopherFailReason(c, minTokens = 3, maxDupWordRatio = 1.0)

  // value pairs (2g, 2g+1) carry the same word BAG in different order:
  // the odd member is a bag-dup the pipeline must drop, whichever
  // batch it arrives in.
  private def docs(rowsPerBatch: Int) = spark.readStream
    .format("rate-micro-batch")
    .option("rowsPerBatch", rowsPerBatch)
    .option("startTimestamp", 0L)
    .load()
    .select(col("value").as("doc_id"),
      when(col("value") % 2 === 0,
        format_string("alpha%1$d beta%1$d gamma%1$d delta%1$d",
          (col("value") / 2).cast("long")))
        .otherwise(
          format_string("delta%1$d gamma%1$d beta%1$d alpha%1$d",
            (col("value") / 2).cast("long")))
        .as("text"))

  private def lakeIds(lakeDir: String): Seq[Long] =
    try spark.read.parquet(lakeDir).select("doc_id").as[Long].collect().toSeq.sorted
    catch { case _: Exception => Seq.empty } // lake not created yet / torn listing

  /** The checkpoint's offsets/ and commits/ listings. */
  private def ckptListing(ckpt: String): String = Seq("offsets", "commits").map { d =>
    s"$d/: " + Option(new java.io.File(ckpt, d).list()).fold("none")(_.sorted.mkString(" "))
  }.mkString("; ")

  /** Waits until the lake holds `n` doc_ids; fails at the deadline, or
    * as soon as the stream stops, with what the lake, the stream and its
    * checkpoint show. */
  private def awaitLakeAtLeast(q: StreamingQuery, lakeDir: String, ckpt: String, n: Int,
      timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var seen = lakeIds(lakeDir).size
    while (seen < n) {
      if (System.currentTimeMillis() >= deadline || !q.isActive)
        fail(s"lake holds $seen doc_ids, wanted $n, after ${timeoutMs / 1000} s " +
          s"(stream active: ${q.isActive}); exception: " +
          q.exception.fold("none")(_.toString) + s"; lastProgress: ${q.lastProgress}; " +
          ckptListing(ckpt))
      Thread.sleep(200)
      seen = lakeIds(lakeDir).size
    }
  }

  test("Kafka-shaped offset source: marker discipline holds across restart " +
      "and forced offset redelivery") {
    val dir = graft.TestDirs.create("graft_rate_ingest")
    val lakeDir = dir.resolve("lake").toString
    val ckpt = dir.resolve("ckpt").toString

    // phase 1: run the stream off the live source until a few batches
    // committed (6 values/batch = 3 groups/batch)
    val q1 = CorpusIngest.ingestStream(docs(6), lakeDir, ckpt, failReason = gate)
    // wait for the lake AND for >= 2 checkpoint commit markers: the
    // lake can reach 6 doc_ids while the second batch's commit marker
    // is still being written, and stopping there made the phase-2
    // precondition below flaky
    def commitMarkers(): Array[java.io.File] =
      Option(new java.io.File(ckpt, "commits").listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    try {
      awaitLakeAtLeast(q1, lakeDir, ckpt, 6, timeoutMs = 120000L)
      val deadline = System.currentTimeMillis() + 120000L
      while (commitMarkers().length < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(100L)
    } finally q1.stop()
    val afterPhase1 = lakeIds(lakeDir)
    assert(afterPhase1.size >= 6, s"stream made no progress: $afterPhase1")

    // phase 2: FORCE redelivery — drop the newest checkpoint commit so
    // the restarted query replays that batch's offset range through
    // foreachBatch with the same batchId (the crash-at-the-worst-point
    // schedule: data appended to the lake, offset commit lost)
    val commits = commitMarkers()
    assert(commits.length >= 2, "need at least two committed batches")
    assert(commits.last.delete())
    // with its checksum sibling, as a lost commit has none: a stale
    // `.N.crc` fails the replayed batch's commit (the checksum rename
    // finds its target), which Spark reports as "Multiple streaming
    // queries are concurrently using …/commits"
    new java.io.File(commits.last.getParentFile, s".${commits.last.getName}.crc").delete()

    val q2 = CorpusIngest.ingestStream(docs(6), lakeDir, ckpt, failReason = gate)
    try awaitLakeAtLeast(q2, lakeDir, ckpt, afterPhase1.size + 3, timeoutMs = 120000L)
    finally q2.stop()
    val finalIds = lakeIds(lakeDir)

    // exactly-once, invariant-based (the source is unbounded, so the
    // assertions must not depend on how many batches happened to run):
    // 1. no doc_id admitted twice
    assert(finalIds.distinct == finalIds, "a doc_id landed twice")
    // 2. only even members kept — every odd value is a bag-dup of its
    //    even pair partner (same batch: groups never straddle a
    //    6-row offset range)
    assert(finalIds.forall(_ % 2 == 0), s"a bag-dup slipped through: $finalIds")
    // 3. one doc per group, never two — the fingerprint is unique
    val fps = spark.read.parquet(lakeDir)
      .select(CorpusIngest.FingerprintCol).as[String].collect().toSeq
    assert(fps.distinct.size == fps.size, "duplicate fingerprint in the lake")
    // 4. the stream actually progressed past the redelivered batch
    assert(finalIds.size > afterPhase1.size)
    // 5. phase-1 docs survived the replay untouched
    assert(afterPhase1.toSet.subsetOf(finalIds.toSet))
  }
}
