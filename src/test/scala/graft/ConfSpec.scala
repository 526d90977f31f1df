package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, NgramStats, Similarity}

/** `spark.graft.*` session-conf knobs (r15): every scale-critical
  * stats route resolves its crossover from session conf when no
  * explicit argument is given, so a cluster operator re-dials routes
  * per deployment without a code change. Each test sets a key, checks
  * the routed shape engaged AND the result is identical, then unsets.
  */
class ConfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withConf[A](key: String, value: String)(body: => A): A =
    try { spark.conf.set(key, value); body }
    finally spark.conf.unset(key)

  test("byte and count knobs parse Spark suffix syntax and fall back to defaults") {
    assert(Conf.bytes(spark, Conf.CellWalkBytesKey, 123L) == 123L)
    withConf(Conf.CellWalkBytesKey, "64m") {
      assert(Conf.bytes(spark, Conf.CellWalkBytesKey, 123L) == (64L << 20))
    }
    withConf(Conf.CellWalkBytesKey, "4096") {
      assert(Conf.bytes(spark, Conf.CellWalkBytesKey, 123L) == 4096L)
    }
    assert(Conf.count(spark, Conf.ScrubHitsLimitKey, 7L) == 7L)
    withConf(Conf.ScrubHitsLimitKey, "42") {
      assert(Conf.count(spark, Conf.ScrubHitsLimitKey, 7L) == 42L)
    }
  }

  test("collectUpTo: cap+1 never overflows; negative caps are rejected loudly") {
    // Right = at most cap rows, all of them; Left = over the cap, its
    // first cap + 1 rows
    def probe(rows: Long, cap: Long) = Conf.collectUpTo(spark.range(rows).toDF(), cap)
    def shape(e: Either[Array[org.apache.spark.sql.Row], Array[org.apache.spark.sql.Row]]) =
      e.fold(l => ("Left", l.length), r => ("Right", r.length))
    assert(shape(probe(0, 0)) == ("Right", 0))   // at
    assert(shape(probe(5, 0)) == ("Left", 1))    // over
    assert(shape(probe(40, 41)) == ("Right", 40)) // under
    assert(shape(probe(41, 41)) == ("Right", 41)) // at
    assert(shape(probe(50, 41)) == ("Left", 42))  // over
    // Int.MaxValue and Long.MaxValue dials must mean "as much as an
    // Int limit can express", not wrap negative into limit() (r15
    // ADVICE); inputs at or over them cannot be collected, so only
    // "under" is exercised
    for (cap <- Seq(Int.MaxValue.toLong, Long.MaxValue)) {
      assert(shape(probe(0, cap)) == ("Right", 0))
      assert(shape(probe(3, cap)) == ("Right", 3))
    }
    intercept[IllegalArgumentException](probe(3, -1L))
    // route flips on negative caps raise at the probe, not silently
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e")).toDF("doc_id", "text")
    withConf(Conf.DupSpanLocalLimitKey, "-5") {
      intercept[IllegalArgumentException] {
        Dedup.spanDuplicateIds(docs, "doc_id", "text", spanTokens = 2).collect()
      }
    }
    // a Long.MaxValue dial is usable end-to-end
    withConf(Conf.DupSpanLocalLimitKey, Long.MaxValue.toString) {
      assert(Dedup.spanDuplicateIds(docs, "doc_id", "text", spanTokens = 2)
        .collect().map(_.getLong(0)).toSeq == Seq(2L))
    }
  }

  test("collectUpTo: one scheduled job over a shuffled aggregate, under or over the cap") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val agg = spark.range(1000).groupBy((col("id") % 7).as("k")).count()
    val sc = spark.sparkContext
    // AQE materializes the aggregate's exchange as its own map-stage
    // job (final stage carries a shuffle dependency); the probe itself
    // must add exactly one result job — no executeTake ramp
    var mapJobs, resultJobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (org.apache.spark.ListenerBusDrain.isMapStageJob(j)) mapJobs += 1
        else resultJobs += 1
    }
    for ((cap, under) <- Seq(100L -> true, 3L -> false)) {
      org.apache.spark.ListenerBusDrain.drain(sc)
      mapJobs = 0; resultJobs = 0
      sc.addSparkListener(listener)
      try {
        val out = Conf.collectUpTo(agg, cap)
        org.apache.spark.ListenerBusDrain.drain(sc)
        assert(out.isRight == under, s"cap=$cap")
        assert(resultJobs == 1, s"cap=$cap: $resultJobs result jobs")
        assert(mapJobs == 1, s"cap=$cap: $mapJobs map-stage jobs")
      } finally sc.removeSparkListener(listener)
    }
  }

  test("underBytes: an explicit threshold beats conf, conf beats the default") {
    val df = spark.range(100).toDF()
    val est = Conf.estimatedBytes(df)
    assert(est > 0)
    val key = Conf.CellWalkBytesKey
    // default only; the comparison is inclusive
    assert(Conf.underBytes(df, key, est.toLong))
    assert(!Conf.underBytes(df, key, est.toLong - 1))
    withConf(key, "0") {
      assert(!Conf.underBytes(df, key, default = Long.MaxValue)) // conf > default
      assert(Conf.underBytes(df, key, 0L, explicit = est.toLong)) // explicit > conf
    }
    withConf(key, "1g") {
      assert(Conf.underBytes(df, key, default = 0L))              // conf > default
      assert(!Conf.underBytes(df, key, Long.MaxValue, explicit = 0L)) // explicit > conf
    }
  }

  test("cellWalkShuffleBytes=0 flips the semantic-dedup walk to the streamed route") {
    val rows = Seq(
      (1L, Seq(1f, 0f, 0f), 0), (2L, Seq(1f, 0f, 0f), 0), // clone pair
      (3L, Seq(0f, 1f, 0f), 0), (4L, Seq(2f, 2f, 0f), 1),
      (5L, Seq(4f, 4f, 0f), 1)                             // scaled clone
    ).toDF("vec_id", "embedding", "_cell")
    val df = rows.select("vec_id", "embedding")
    def walk() = Similarity.dropWithinCells(
      df, "vec_id", "embedding", rows, threshold = 0.999, maxCellSize = 10)
    val viaDefault = walk() // tiny input → collect_list route
    assert(!viaDefault.queryExecution.executedPlan.toString
      .contains("MapPartitions"))
    withConf(Conf.CellWalkBytesKey, "0") {
      val viaStream = walk()
      assert(viaStream.queryExecution.executedPlan.toString
        .contains("MapPartitions"))
      assert(viaStream.select("vec_id").as[Long].collect().toSet ==
        viaDefault.select("vec_id").as[Long].collect().toSet)
    }
  }

  test("ngramSketchRouteBytes=0 flips topKAuto to the sketch, counts stay exact") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val exact = rows(NgramStats.topKAuto(docs, "text", 3, 20))
    withConf(Conf.SketchRouteBytesKey, "0") {
      val sk = NgramStats.topKAuto(docs, "text", 3, 20)
      // the sketch path materializes + certifies → a local relation
      assert(sk.queryExecution.executedPlan.toString.contains("LocalTableScan"))
      assert(rows(sk) == exact)
    }
  }

  test("postingShuffleBytes=0 flips the span posting aggregate to the pre-shuffled route") {
    val boiler = "standard legal disclaimer header used on every single page verbatim"
    val docs = Seq(
      (1L, boiler), (2L, s"$boiler plus some unique trailing reporting text here"),
      (3L, "fresh words that no other document in this tiny corpus contains at all")
    ).toDF("doc_id", "text")
    def dropped() = Dedup.spanDuplicateIds(docs, "doc_id", "text", spanTokens = 8)
      .as[Long].collect().toSet
    val direct = dropped()
    withConf(Conf.PostingShuffleBytesKey, "0") {
      assert(dropped() == direct)
    }
  }

  test("scrubHitsBroadcastLimit=0 routes the scrub spill through the shared temp base (local master)") {
    val boiler = "standard legal disclaimer header used on every single page verbatim"
    val unique = "entirely original reporting about a local event nobody else covered"
    val docs = Seq(
      (1L, boiler), (2L, s"$boiler $unique")
    ).toDF("doc_id", "text")
    def scrub() = Dedup.scrubSpanDuplicates(docs, "doc_id", "text", spanTokens = 8)
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    val viaBroadcast = scrub()
    withConf(Conf.ScrubHitsLimitKey, "0") {
      val spilled = scrub()
      assert(spilled == viaBroadcast)
      // the spill landed under LocalFs' SHARED base (one shutdown hook
      // per JVM, not one per call — r15, ADVICE)
      val base = LocalFs.tempBasePath
      assert(base.isDirectory)
      assert(base.listFiles().exists(_.getName.startsWith("graft_scrub_hits")))
    }
  }
}
