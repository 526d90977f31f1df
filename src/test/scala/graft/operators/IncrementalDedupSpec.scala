package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.{BloomMightContain, TextFunctions}

class IncrementalDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus = Seq(
    (1L, "alpha beta gamma delta"),
    (2L, "epsilon zeta eta theta"),
    (3L, "iota kappa lambda mu")
  ).toDF("doc_id", "text")

  // 10: exact dup of 1; 11: word-order permutation of 2 (bag dup);
  // 12: fresh; 13: near-dup of 3 but with an EXTRA word (not a bag dup)
  private def batch = Seq(
    (10L, "alpha beta gamma delta"),
    (11L, "theta epsilon eta zeta"),
    (12L, "nu xi omicron pi"),
    (13L, "iota kappa lambda mu EXTRA")
  ).toDF("doc_id", "text")

  test("dropExisting removes exact and bag-fingerprint dups, keeps the rest") {
    val kept = IncrementalDedup.dropExisting(
        batch, corpus, TextFunctions.bagFingerprint(col("text")))
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(12L, 13L))
  }

  test("result is exact under a deliberately tiny, collision-heavy Bloom filter") {
    // expectedBatchKeys=1 with 50% fpp: nearly every corpus key becomes
    // a candidate — the exact anti join must still produce the same set
    val kept = IncrementalDedup.dropExisting(
        batch, corpus, TextFunctions.bagFingerprint(col("text")),
        expectedBatchKeys = 1L, fpp = 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(12L, 13L))
  }

  test("empty batch and disjoint batch both behave") {
    val none = IncrementalDedup.dropExisting(
      batch.filter(lit(false)), corpus, TextFunctions.bagFingerprint(col("text")))
    assert(none.count() == 0)
    val disjoint = IncrementalDedup.dropExisting(
        batch.filter(col("doc_id") === 12), corpus,
        TextFunctions.bagFingerprint(col("text")))
      .select("doc_id").as[Long].collect()
    assert(disjoint.toSeq == Seq(12L))
  }

  test("BloomMightContain has no false negatives and probes codegen-clean") {
    val keys = (0L until 1000L).toDF("k")
    val bloom = keys.stat.bloomFilter(col("k"), 1000L, 0.03)
    val hits = spark.range(0, 2000).toDF("k")
      .filter(BloomMightContain.mightContain(col("k"), bloom))
      .as[Long].collect()
    // every inserted key must be found; false positives are bounded
    assert((0L until 1000L).forall(hits.contains))
    assert(hits.count(_ >= 1000L) <= 200) // ~3% fpp, generous bound
  }

  test("foreachBatch streaming dedup: each microbatch dedups against the growing corpus") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = graft.TestDirs.create("graft_incr_stream")
    val corpusDir = dir.resolve("corpus").toString
    corpus.write.parquet(corpusDir)

    val input = MemoryStream[(Long, String)]
    val query = input.toDF().toDF("doc_id", "text")
      .writeStream
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val fp = TextFunctions.bagFingerprint(col("text"))
        // WITHIN-batch dedup first (keep min doc_id per key — two
        // copies co-arriving in one microbatch must not both land),
        // then the cross-batch Bloom probe against the lake
        val batchDeduped = batch
          .groupBy(fp.as("_bk"))
          .agg(min_by(struct(col("doc_id"), col("text")), col("doc_id")).as("_w"))
          .select(col("_w.doc_id").as("doc_id"), col("_w.text").as("text"))
        val lake = spark.read.parquet(corpusDir)
        IncrementalDedup.dropExisting(batchDeduped, lake, fp)
          .write.mode("append").parquet(corpusDir)
      }
      .start()

    // batch 1: one dup of the standing corpus, one fresh doc, and a
    // WITHIN-batch permutation-dup pair (only min id 14 may land)
    input.addData((10L, "alpha beta gamma delta"), (11L, "nu xi omicron pi"),
      (14L, "phi chi psi omega"), (15L, "omega psi chi phi"))
    query.processAllAvailable()
    // batch 2: a permutation-dup of batch 1's fresh doc — must be
    // dropped because the corpus has grown to include doc 11
    input.addData((12L, "pi omicron xi nu"), (13L, "rho sigma tau upsilon"))
    query.processAllAvailable()
    query.stop()

    val ids = spark.read.parquet(corpusDir)
      .select("doc_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L, 11L, 13L, 14L), s"got ${ids.toSeq}")
  }

  test("corpus side of the plan has no shuffle (map-side bloom probe)") {
    val fp = TextFunctions.bagFingerprint(col("text"))
    val keyed = batch.withColumn("_ik", fp)
    val bloom = keyed.stat.bloomFilter(xxhash64(col("_ik")), 100L, 0.01)
    val candidates = corpus.select(fp.as("_ik"))
      .filter(BloomMightContain.mightContain(xxhash64(col("_ik")), bloom))
    // candidate extraction = scan + filter + project only
    val plan = candidates.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }
}
