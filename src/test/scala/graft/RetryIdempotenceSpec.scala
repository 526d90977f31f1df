package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Injects a FIRST-ATTEMPT failure into every task of the stage it is
  * planted in (keyed so each test arms its own failures exactly once
  * per task). TestSpark runs `local[4, 3]`, so Spark retries the task
  * — exactly what speculative execution and lost executors do routinely
  * on a 1000-executor cluster. The specs below assert the retried run
  * is BIT-IDENTICAL to a clean run: no operator may leak state across
  * task attempts (memo caches, aggregate buffers, half-written files).
  */
object FailOnce {
  private val fired =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Throw once per (key, stage, partition) on attempt 0. */
  def maybeThrow(key: String): Unit = {
    val tc = org.apache.spark.TaskContext.get()
    if (tc != null && tc.attemptNumber() == 0 &&
        fired.putIfAbsent(s"$key:${tc.stageId()}:${tc.partitionId()}",
          java.lang.Boolean.TRUE) == null)
      throw new RuntimeException(s"injected first-attempt task failure [$key]")
  }
}

class RetryIdempotenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A pass-through long column that arms [[FailOnce]] for `key` in
    * whatever stage it lands in. */
  private def trip(key: String) =
    udf((v: Long) => { FailOnce.maybeThrow(key); v })

  private def tripStr(key: String) =
    udf((v: String) => { FailOnce.maybeThrow(key); v })

  test("TypedImperativeAggregates (KLL, Misra-Gries, top-k pairs) are " +
      "bit-identical under first-attempt task failures") {
    import graft.functions.{KllFunctions, FreqFunctions, TopKPairs}
    val df = spark.range(0, 4000).select(
      (col("id") % 7).as("g"), col("id").as("v"),
      (col("id") % 13).cast("string").as("s"))
      .repartition(4)

    def run(poison: Boolean) = {
      val src =
        if (poison) df.withColumn("v", trip("agg-retry")(col("v")))
        else df
      src.groupBy("g").agg(
        KllFunctions.kllQuantile(kll_sketch_agg_double(col("v").cast("double")), 0.5)
          .as("p50"),
        FreqFunctions.freqTopItems(FreqFunctions.freqAgg(col("s")), 3)
          .cast("string").as("top_items"),
        TopKPairs.topKPairs(col("v").cast("double"), col("v"), 5)
          .cast("string").as("top_pairs"))
        .orderBy("g").collect().toSeq
        .map(r => (r.getAs[Long]("g"), r.getAs[Double]("p50"),
          r.getAs[String]("top_items"), r.getAs[String]("top_pairs")))
    }
    val clean = run(poison = false)
    val retried = run(poison = true)
    // Misra-Gries top items and the exact top-k pair heap are merge-
    // order independent → bit-identical across the retried run
    assert(retried.map(r => (r._1, r._3, r._4)) ==
      clean.map(r => (r._1, r._3, r._4)))
    // KLL partials merge in completion order (nondeterministic even
    // without failures), so the retried sketch is held to the same
    // RANK tolerance as a clean one: p50 of g, g+7, … < 4000 is ~2000
    retried.foreach { case (g, p50, _, _) =>
      assert(math.abs(p50 - 2000.0) < 120.0, s"g=$g p50=$p50 off the median")
    }
  }

  test("BpeTrain.encode per-partition memoization is attempt-local: " +
      "retried tasks re-derive identical tokenizations") {
    import graft.operators.BpeTrain
    val docs = (0 until 200).map(i =>
      (i.toLong, s"lower lowest newer newest wider widest token $i"))
      .toDF("doc_id", "text").repartition(4)
    val merges = BpeTrain.train(docs, "text", numMerges = 30)
    def run(poison: Boolean) = {
      val src =
        if (poison) docs.withColumn("text", tripStr("bpe-retry")(col("text")))
        else docs
      BpeTrain.encode(src, "text", merges)
        .select("doc_id", "bpe_tokens", "bpe_n_tokens")
        .orderBy("doc_id").collect().toSeq.map(_.toString)
    }
    assert(run(poison = true) == run(poison = false))
  }

  test("Multimodal.resizeImages re-decodes deterministically on retry " +
      "(byte-identical PNG output)") {
    import graft.multimodal.{MediaFixtures, Multimodal}
    val media = (0L until 12L).map(i => (i, MediaFixtures.pngGradient(i)))
      .toDF("media_id", "media").repartition(3)
    def run(poison: Boolean) = {
      val src =
        if (poison) media.withColumn("media_id", trip("mm-retry")(col("media_id")))
        else media
      Multimodal.resizeImages(src, 4, 4)
        .orderBy("media_id").collect()
        .map(r => (r.getLong(0),
          java.util.Arrays.hashCode(r.getAs[Array[Byte]]("media")),
          r.getInt(2), r.getInt(3))).toSeq
    }
    assert(run(poison = true) == run(poison = false))
  }

  test("CorpusIngest.ingestBatch: task failures inside the append job " +
      "leave the lake exactly-once (job-commit discipline)") {
    import graft.streaming.CorpusIngest
    val dir = graft.TestDirs.create("graft_retry_lake")
    val lakeDir = dir.resolve("lake").toString
    val gate = (c: org.apache.spark.sql.Column) =>
      graft.functions.TextFunctions.gopherFailReason(
        c, minTokens = 3, maxDupWordRatio = 1.0)
    val rows = (0L until 40L).map(i =>
      (i, s"unique document number $i with several distinct tokens"))
    val batch = rows.toDF("doc_id", "text").repartition(4)
      .withColumn("doc_id", trip("lake-retry")(col("doc_id")))
    CorpusIngest.ingestBatch(batch, 0L, lakeDir, failReason = gate,
      scope = "retry-test")
    val got = spark.read.parquet(lakeDir)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == (0L until 40L), s"lost/duplicated rows: ${got.size}")
  }

  test("IncrementalAgg.fold: task failures during a state append do not " +
      "corrupt or double-count the running aggregate") {
    import graft.operators.IncrementalAgg
    import graft.operators.IncrementalAgg._
    val state = graft.TestDirs
      .create("graft_retry_incr").toString
    val data = spark.range(0, 1000).select(
      (col("id") % 5).cast("string").as("g"), col("id").as("n"))
      .repartition(4)
    val metrics = Seq(Count("rows"), Sum("n", "n_sum"), Max("n", "n_max"))
    val poisoned = data.withColumn("n", trip("incr-retry")(col("n")))
    IncrementalAgg.fold(poisoned, Seq("g"), metrics, state, "b0")
    val got = IncrementalAgg.result(spark, state)
      .orderBy("g").collect().toSeq
    val want = data.groupBy("g").agg(count(lit(1)).as("rows"),
      sum("n").as("n_sum"), max("n").as("n_max"))
      .orderBy("g").collect().toSeq
    assert(got == want)
  }
}
