package graft.operators

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class FunnelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: Long) = new java.sql.Timestamp(s * 1000L)

  private def events = Seq(
    // user 1 completes A → B → C in order
    (1L, ts(10), "A"), (1L, ts(20), "B"), (1L, ts(30), "C"),
    // user 2: B arrives BEFORE A — B must not count; journey stops at A
    (2L, ts(10), "B"), (2L, ts(20), "A"),
    // user 3: A then C but no B — C must not count (ordered semantics)
    (3L, ts(10), "A"), (3L, ts(20), "C"),
    // user 4 never does A — excluded entirely
    (4L, ts(10), "B"), (4L, ts(20), "C"),
    // user 5: repeated stages — earliest valid each time
    (5L, ts(10), "A"), (5L, ts(5), "A"), (5L, ts(8), "B"), (5L, ts(12), "B")
  ).toDF("user_id", "ts", "event_type")

  test("stages enforce strict order per key") {
    val out = Funnel.stages(events, Seq("A", "B", "C"))
      .collect().map(r => (r.getLong(0),
        Option(r.getTimestamp(1)).map(_.getTime / 1000),
        Option(r.getTimestamp(2)).map(_.getTime / 1000),
        Option(r.getTimestamp(3)).map(_.getTime / 1000)))
      .sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, Some(10L), Some(20L), Some(30L)),
      (2L, Some(20L), None, None),      // pre-A "B" doesn't count
      (3L, Some(10L), None, None),      // C without B doesn't count
      (5L, Some(5L), Some(8L), None)))  // earliest A=5, earliest B after it=8
  }

  test("report counts per-stage completions") {
    val r = Funnel.report(events, Seq("A", "B", "C")).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 2L, 1L)))
  }

  test("conversion window: stage counts only within maxGap of the previous stage") {
    // user 1: B at t=20, 10s after A — inside a 15-second window,
    // outside a 5-second one (B exists but converted too late)
    val within = Funnel.stages(events, Seq("A", "B"), maxGap = Some("15 seconds"))
      .filter($"user_id" === 1L).collect().head
    assert(!within.isNullAt(2))
    val outside = Funnel.stages(events, Seq("A", "B"), maxGap = Some("5 seconds"))
      .filter($"user_id" === 1L).collect().head
    assert(outside.isNullAt(2))
  }

  test("single-stage funnel and duplicate-stage rejection") {
    val one = Funnel.stages(events, Seq("C"))
    assert(one.count() == 3) // users 1, 3, 4 have a C
    intercept[IllegalArgumentException] {
      Funnel.stages(events, Seq("A", "A"))
    }
  }

  test("malformed maxGap fails eagerly, naming the bad value") {
    val e = intercept[IllegalArgumentException] {
      Funnel.stages(events, Seq("A", "B"), maxGap = Some("7 parsecs"))
    }
    assert(e.getMessage.contains("7 parsecs"), e.getMessage)
    // eagerly = before any action; also through report()
    intercept[IllegalArgumentException] {
      Funnel.report(events, Seq("A", "B"), maxGap = Some(") DROP TABLE x"))
    }
  }

  test("report accepts maxGap and counts only in-window conversions") {
    // user 1 converts A→B 10s apart; a 5-second window drops that B
    val r5 = Funnel.report(events, Seq("A", "B"), maxGap = Some("5 seconds"))
      .collect().head
    assert((r5.getLong(0), r5.getLong(1)) == ((4L, 1L))) // only user 5 (gap 3s)
    val r15 = Funnel.report(events, Seq("A", "B"), maxGap = Some("15 seconds"))
      .collect().head
    assert((r15.getLong(0), r15.getLong(1)) == ((4L, 2L)))
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("user_id").collect().map(_.toSeq).toSeq

  test("one-scan formulation matches the chained one on the fixture, with and without maxGap") {
    for (gap <- Seq(None, Some("5 seconds"), Some("15 seconds"))) {
      val chained = Funnel.stages(events, Seq("A", "B", "C"), maxGap = gap)
      val oneScan = Funnel.stagesOneScan(events, Seq("A", "B", "C"), maxGap = gap)
      assert(oneScan.columns.toSeq == chained.columns.toSeq)
      assert(sortedRows(oneScan) == sortedRows(chained), s"maxGap=$gap")
    }
  }

  test("one-scan matches chained when stage-1 events carry null timestamps") {
    // user 7's only A has a null ts: both formulations must KEEP the
    // key (stage 1 happened) with t_A null and no later stages
    val withNull = events.unionByName(
      Seq((7L, "A")).toDF("user_id", "event_type")
        .withColumn("ts", lit(null).cast("timestamp"))
        .select("user_id", "ts", "event_type"))
    val chained = Funnel.stages(withNull, Seq("A", "B"))
    val oneScan = Funnel.stagesOneScan(withNull, Seq("A", "B"))
    assert(sortedRows(oneScan) == sortedRows(chained))
    assert(oneScan.filter($"user_id" === 7L).count() == 1)
  }

  test("one-scan matches chained on a randomized event log") {
    val rnd = new scala.util.Random(0xf0e1)
    val stageNames = Seq("A", "B", "C", "D")
    val rows = Seq.tabulate(600) { i =>
      (rnd.nextInt(40).toLong, ts(rnd.nextInt(500).toLong),
        stageNames(rnd.nextInt(stageNames.size)))
    }
    val df = rows.toDF("user_id", "ts", "event_type")
    for (gap <- Seq(None, Some("100 seconds"))) {
      val chained = Funnel.stages(df, stageNames, maxGap = gap)
      val oneScan = Funnel.stagesOneScan(df, stageNames, maxGap = gap)
      assert(sortedRows(oneScan) == sortedRows(chained), s"maxGap=$gap")
    }
  }

  test("hot-key guard: a planted 100k-event key raises actionably; under the cap the result is correct") {
    import org.apache.spark.sql.functions._
    val hot = spark.range(100000).select(lit(99L).as("user_id"),
      timestamp_seconds(col("id")).as("ts"), lit("A").as("event_type"))
    val log = events.unionByName(hot)

    def chainMsgs(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage}\n${chainMsgs(t.getCause)}"
    val e = intercept[Exception] {
      Funnel.stagesOneScan(log, Seq("A", "B", "C"),
        maxEventsPerKey = Some(1000L)).collect()
    }
    assert(chainMsgs(e).contains("funnel hot key '99'"), chainMsgs(e))
    assert(chainMsgs(e).contains("stages()"), chainMsgs(e))

    // cap above the hot key: guard passes through and the result equals
    // the skew-safe chained formulation on the same log
    val guarded = Funnel.stagesOneScan(log, Seq("A", "B", "C"),
      maxEventsPerKey = Some(200000L))
    val chained = Funnel.stages(log, Seq("A", "B", "C"))
    assert(guarded.orderBy("user_id").collect().map(_.toSeq).toSeq ==
      chained.orderBy("user_id").collect().map(_.toSeq).toSeq)

    intercept[IllegalArgumentException] {
      Funnel.stagesOneScan(events, Seq("A"), maxEventsPerKey = Some(0L))
    }
  }

  test("report formulation knob: chained and one-scan report identical counts") {
    for (gap <- Seq(None, Some("8 seconds"))) {
      val chained = Funnel.report(events, Seq("A", "B", "C"), maxGap = gap)
      val oneScan = Funnel.report(events, Seq("A", "B", "C"), maxGap = gap,
        oneScan = true, maxEventsPerKey = Some(1000L))
      assert(chained.collect().map(_.toSeq).toSeq ==
        oneScan.collect().map(_.toSeq).toSeq, s"maxGap=$gap")
    }
  }

  test("one-scan plans exactly one source scan; chained plans one per stage") {
    val dir = graft.TestDirs.create("graft_funnel_plan")
    events.write.parquet(dir.resolve("events").toString)
    val src = spark.read.parquet(dir.resolve("events").toString)
    def scans(df: org.apache.spark.sql.DataFrame): Int =
      "Scan parquet".r.findAllIn(df.queryExecution.executedPlan.toString).size
    assert(scans(Funnel.stagesOneScan(src, Seq("A", "B", "C"))) == 1)
    // chained: one scan leaf per stage PLUS each stage re-embedding its
    // predecessor's sub-plan (identical subtrees — the ReuseExchange
    // rule collapses them at runtime, but the static leaf count is
    // what motivates stagesOneScan for long funnels)
    assert(scans(Funnel.stages(src, Seq("A", "B", "C"))) >= 3)
  }

  test("hot-key guard catches a hot NULL key (null-safe join)") {
    import org.apache.spark.sql.functions._
    // the most likely hot key in real event data IS null (anonymous /
    // bot traffic); an equi-join guard would never match it
    val hotNull = spark.range(5000).select(
      lit(null).cast("long").as("user_id"),
      timestamp_seconds(col("id")).as("ts"), lit("A").as("event_type"))
    val log = events.unionByName(hotNull)
    def chainMsgs(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage}\n${chainMsgs(t.getCause)}"
    val e = intercept[Exception] {
      Funnel.stagesOneScan(log, Seq("A", "B", "C"),
        maxEventsPerKey = Some(1000L)).collect()
    }
    assert(chainMsgs(e).contains("funnel hot key 'NULL'"), chainMsgs(e))
  }
}
