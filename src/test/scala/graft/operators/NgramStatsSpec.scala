package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class NgramStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def onePass(df: org.apache.spark.sql.DataFrame, n: Int, k: Int) =
    df.select(explode(graft.functions.TextSignatures
        .shingleStringsCol(col("text"), n)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram")).limit(k)

  test("two-pass hash-keyed top-k ≡ the one-pass string-keyed formulation") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows(NgramStats.topK(docs, "text", 3, 100)) ==
      rows(onePass(docs, 3, 100)))
    assert(rows(NgramStats.topK(docs, "text", 2, 17)) ==
      rows(onePass(docs, 2, 17)))
  }

  test("boundary ties resolve by gram ASC, exactly like the one-pass order") {
    // counts: "a b"×3; "b a"×2, "b c"×2, "c b"×2 (three-way tie at the
    // k=2 boundary) — the kept-hash superset must carry ALL ties and
    // the final sort must pick the lexicographically first
    val docs = Seq(
      (1L, "a b a b a b"),   // a b ×3, b a ×2
      (2L, "b c b"),          // b c, c b
      (3L, "b c"), (4L, "c b")
    ).toDF("doc_id", "text")
    val got = NgramStats.topK(docs, "text", 2, 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a b", 3L), ("b a", 2L)))
  }

  test("fewer distinct grams than k returns them all; empty corpus returns none") {
    val docs = Seq((1L, "x y z")).toDF("doc_id", "text")
    val got = NgramStats.topK(docs, "text", 2, 100)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("x y", 1L), ("y z", 1L)))
    val empty = Seq((1L, "one")).toDF("doc_id", "text") // no 2-gram
    assert(NgramStats.topK(empty, "text", 2, 5).collect().isEmpty)
  }

  test("sketch top-k equals exact top-k on the real corpus; counts are exact") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val exact = rows(NgramStats.topK(docs, "text", 3, 50))
    val sk = rows(NgramStats.topKSketch(docs, "text", 3, 50))
    assert(sk == exact) // head well above the sketch's error bound here
    // exact counts survive the sketch path (recount, not estimate)
    assert(sk.head._2 == exact.head._2)
    // degenerate corpora
    assert(NgramStats.topKSketch(
      Seq((1L, "just two")).toDF("doc_id", "text"), "text", 3, 5)
      .collect().isEmpty)
    intercept[IllegalArgumentException] {
      NgramStats.topKSketch(docs, "text", 3, 50, maxMapSize = 10)
    }
  }

  test("topKAuto routes on plan stats: both routes return the identical table") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val exact = rows(NgramStats.topK(docs, "text", 3, 40))
    // default route at gate SF = exact (input way under 64 MB)
    assert(rows(NgramStats.topKAuto(docs, "text", 3, 40)) == exact)
    // forced sketch route (routeBytes = 0): same table, exact counts
    assert(rows(NgramStats.topKAuto(docs, "text", 3, 40, routeBytes = 0L))
      == exact)
  }

  test("tie-volume guard: past the cap the recount degrades to a shuffled join") {
    // k-th count = 1 → the kept set is (nearly) every distinct gram;
    // with the cap forced to 0 the recount must take the non-broadcast
    // fallback and still return the identical exact table. The cap
    // of 0 also bounds the single probe, so the guarded persist +
    // probe path is what's exercised.
    val docs = Seq((1L, "a b c d e f g h"), (2L, "a b x")).toDF("doc_id", "text")
    val expected = NgramStats.topK(docs, "text", 2, 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(expected.head == (("a b", 2L)))
    val fallback = NgramStats.topK(docs, "text", 2, 5, keptBroadcastLimit = 0)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(fallback == expected)
  }

  test("single-probe fast path: kept set served locally, guarded path matches") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // r16 default: ONE TakeOrdered probe collects the kept set whole;
    // the returned recount plan joins a LOCAL relation and scans the
    // corpus exactly once (the probe was the other scan). The
    // forced-guarded run (probe cap conf-forced to 0) must return the
    // identical table.
    val fast = NgramStats.topK(docs, "text", 3, 25)
    spark.conf.set(graft.Conf.NgramKeptProbeLimitKey, "0")
    val guarded =
      try NgramStats.topK(docs, "text", 3, 25)
      finally spark.conf.unset(graft.Conf.NgramKeptProbeLimitKey)
    assert(rows(fast) == rows(guarded))
    // route observability: both routes serve the kept hashes from a
    // LocalTableScan broadcast; neither recomputes the count aggregate
    // inside the returned plan (exactly one corpus scan in it — the
    // r15 gated shape had two)
    val fastPlan = fast.queryExecution.executedPlan.toString
    assert(fastPlan.contains("LocalTableScan"))
    assert(!fastPlan.contains("HashAggregate(keys=[xxhash64"))
    assert(guarded.queryExecution.executedPlan.toString.contains("LocalTableScan"))
  }

  test("single-probe tie overflow: probe cap 0 falls back, identical table") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val fast = rows(NgramStats.topK(docs, "text", 3, 25))
    // conf-forced tiny probe: ties "overflow" immediately → the r14
    // guarded persist shape, same table
    spark.conf.set(graft.Conf.NgramKeptProbeLimitKey, "0")
    try assert(rows(NgramStats.topK(docs, "text", 3, 25)) == fast)
    finally spark.conf.unset(graft.Conf.NgramKeptProbeLimitKey)
  }

  test("the count shuffle is hash-keyed: no gram string in the first aggregate") {
    val docs = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val plan = NgramStats.topK(docs, "text", 3, 10)
      .queryExecution.executedPlan.toString
    // the recover join is broadcast, never a sort-merge of the corpus
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }
}
