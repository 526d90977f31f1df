package graft.streaming

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.TestSpark
import graft.streaming.EventsStream._

class EventsStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  test("windowedCounts aggregates a memory stream with a watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = windowedCounts(input.toDF(), window = "10 minutes",
      watermark = "10 minutes")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("append").start()

    // Append mode finalizes a window only in a batch AFTER the
    // watermark passed its end — drive three microbatches.
    input.addData(
      Event(ts(1), 1L, "click", 1.0),
      Event(ts(2), 2L, "click", 2.0),
      Event(ts(3), 3L, "click", 3.0),
      Event(ts(11), 1L, "view", 5.0))
    query.processAllAvailable()
    input.addData(Event(ts(45), 9L, "noise", 0.0)) // watermark → 10:35
    query.processAllAvailable()
    input.addData(Event(ts(59), 9L, "noise", 0.0)) // flush remaining
    query.processAllAvailable()
    query.stop()

    val rows = spark.table("win_counts")
      .select("event_type", "n_events", "value_sum")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows.contains(("click", 3L, 6.0)))
    assert(rows.contains(("view", 1L, 5.0)))
  }

  test("file-source stream: read parquet dir, window, write parquet sink") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = graft.TestDirs.create("graft_stream")
    val srcDir = dir.resolve("src").toString
    val outDir = dir.resolve("out").toString
    val ckDir = dir.resolve("ck").toString
    Seq(
      (1L, ts(1), 1L, "click", 1.0, "{}"),
      (2L, ts(2), 2L, "click", 2.0, "{}"),
      (3L, ts(11), 1L, "view", 5.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(srcDir)

    val q = windowedCounts(readEventsStream(spark, srcDir),
        window = "10 minutes", watermark = "0 seconds")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    // append mode: with watermark 0 the 10:00 window closes once the
    // 10:11 event advances the watermark
    val out = spark.read.parquet(outDir)
    assert(out.columns.toSet ==
      Set("window_start", "event_type", "n_events", "value_sum"))
    val clicks = out.filter(col("event_type") === "click").collect()
    assert(clicks.length == 1 && clicks.head.getAs[Long]("n_events") == 2L)
  }

  test("streamingDedup drops repeated ids within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = streamingDedup(input.toDF(), Seq("user_id", "event_type"),
        watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    input.addData(
      Event(ts(1), 1L, "click", 1.0),
      Event(ts(2), 1L, "click", 99.0), // duplicate (user_id, event_type)
      Event(ts(3), 2L, "click", 2.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("dedup_stream").collect()
    assert(rows.length == 2)
  }

  test("sessionize EventTimeTimeout flushes when the watermark passes the gap — deterministic") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = sessionize(input.toDS(), gapMs = 5 * 60 * 1000L,
        timeout = org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout())
      .writeStream.format("memory").queryName("sessions_evt")
      .outputMode("append").start()

    // batch 1: user 1's session, lastMs = 10:01
    input.addData(Event(ts(0), 1L, "a", 1.0), Event(ts(1), 1L, "a", 2.0))
    query.processAllAvailable()
    // batch 2: an unrelated user's event at 10:30 lifts the watermark
    // past 10:01 + 5min → batch 3 fires user 1's event-time timeout.
    // No wall-clock involved: pure event time, fully replayable.
    input.addData(Event(ts(30), 2L, "x", 9.0))
    query.processAllAvailable()
    input.addData(Event(ts(31), 2L, "x", 1.0))
    query.processAllAvailable()
    query.stop()

    val flushed = spark.table("sessions_evt").as[SessionSummary].collect()
      .filter(_.user_id == 1L)
    assert(flushed.length == 1)
    assert(flushed.head.n_events == 2L && flushed.head.total_value == 3.0)
    assert(flushed.head.end_ts - flushed.head.start_ts == 60 * 1000L)
  }

  test("sessionize ProcessingTimeTimeout flushes an idle session with no new events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // tiny gap so real wall-clock comfortably exceeds it between batches
    val query = sessionize(input.toDS(), gapMs = 200L)
      .writeStream.format("memory").queryName("sessions_timeout")
      .outputMode("append").start()

    // user 1 goes idle after batch 1 — only the TIMEOUT can close this
    // session (no later user-1 event ever arrives). With
    // ProcessingTimeTimeout the engine self-triggers batches, so
    // processAllAvailable never settles — poll the sink instead.
    // same event time: one session (the 200 ms gap is in EVENT time too)
    input.addData(Event(ts(0), 1L, "a", 1.0), Event(ts(0), 1L, "a", 2.0))
    val deadline = System.currentTimeMillis() + 60000
    var flushed = Array.empty[SessionSummary]
    while (flushed.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(250)
      flushed = spark.table("sessions_timeout").as[SessionSummary].collect()
        .filter(_.user_id == 1L)
    }
    query.stop()
    assert(flushed.length == 1, "idle session was never flushed by the timeout")
    assert(flushed.head.n_events == 2L && flushed.head.total_value == 3.0)
  }

  test("sessionize closes a session after the inactivity gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = sessionize(input.toDS(), gapMs = 5 * 60 * 1000L,
        timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()

    // user 1: two events 1 min apart (one session), then 20 min later a
    // new event → first session closes on the SAME batch's arrival.
    input.addData(
      Event(ts(0), 1L, "a", 1.0),
      Event(ts(1), 1L, "a", 2.0),
      Event(ts(21), 1L, "b", 7.0))
    query.processAllAvailable()
    query.stop()

    val rows = spark.table("sessions").as[SessionSummary].collect()
    assert(rows.length == 1)
    val s = rows.head
    assert(s.user_id == 1L && s.n_events == 2L && s.total_value == 3.0)
    assert(s.end_ts - s.start_ts == 60 * 1000L)
  }

  test("stream-stream interval join matches within lookback, same key only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    val query = intervalJoinStreams(
        clicks.toDF(), views.toDF(), lookback = "5 minutes",
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()

    views.addData(
      Event(ts(1), 1L, "view_a", 0.0),  // 9 min before click: outside
      Event(ts(7), 1L, "view_b", 0.0),  // 3 min before click: inside
      Event(ts(9), 2L, "view_c", 0.0))  // right key, wrong user
    clicks.addData(Event(ts(10), 1L, "click", 1.0))
    query.processAllAvailable()
    // advance both watermarks so the joined results finalize in append
    // mode (distinct keys so the noise rows can't join each other)
    views.addData(Event(ts(59), 8L, "noise", 0.0))
    clicks.addData(Event(ts(59), 9L, "noise", 0.0))
    query.processAllAvailable()
    query.stop()

    val rows = spark.table("attrib")
      .select("user_id", "left_type", "right_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set((1L, "click", "view_b")))
  }
}
