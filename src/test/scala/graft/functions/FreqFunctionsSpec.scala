package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.IncrementalAgg
import graft.operators.IncrementalAgg._

/** Frequent-items (heavy hitters) sketches: assertions ride the
  * NO_FALSE_POSITIVES guarantee — every item above the N/maxMapSize
  * threshold MUST be reported with bounds bracketing its true count;
  * items below it are sketch-dependent and never asserted.
  */
class FreqFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // 3 planted heavy hitters over a long tail of unique items
  private def corpus(n: Int): Seq[String] = {
    val heavy = Seq.fill(n / 4)("en") ++ Seq.fill(n / 8)("de") ++
      Seq.fill(n / 16)("fr")
    val tail = (0 until n - heavy.size).map(i => s"rare-$i")
    heavy ++ tail
  }

  test("planted heavy hitters are recovered with bracketing bounds") {
    val data = corpus(8000)
    val df = data.toDF("domain")
    val top = df.agg(FreqFunctions.freqAgg($"domain").as("s"))
      .select(explode(FreqFunctions.freqTopItems($"s")).as("e"))
      .select("e.item", "e.estimate", "e.lower", "e.upper")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val names = top.map(_._1).toSeq
    assert(names.take(3) == Seq("en", "de", "fr"), names.take(5).toString)
    val truth = Map("en" -> 2000L, "de" -> 1000L, "fr" -> 500L)
    top.filter(t => truth.contains(t._1)).foreach { case (item, est, lo, hi) =>
      assert(lo <= truth(item) && truth(item) <= hi, s"$item [$lo,$hi]")
      assert(lo <= est && est <= hi)
    }
  }

  test("merge of per-batch sketches keeps the guarantee (the incremental shape)") {
    val data = corpus(8000)
    val df = data.zipWithIndex.map { case (v, i) => (i % 5, v) }.toDF("b", "domain")
    val top = df.groupBy("b").agg(FreqFunctions.freqAgg($"domain").as("s"))
      .agg(FreqFunctions.freqMerge($"s").as("m"))
      .select(explode(FreqFunctions.freqTopItems($"m", limit = 3)).as("e"))
      .select("e.item", "e.lower", "e.upper")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(top.map(_._1).toSeq == Seq("en", "de", "fr"))
    val truth = Map("en" -> 2000L, "de" -> 1000L, "fr" -> 500L)
    top.foreach { case (item, lo, hi) =>
      assert(lo <= truth(item) && truth(item) <= hi, s"$item [$lo,$hi]") }
  }

  test("IncrementalAgg FrequentItems metric: per-group top items across fit/append/compact") {
    val data = corpus(6000)
    val rows = data.zipWithIndex.map { case (v, i) =>
      (i.toLong, if (i % 2 == 0) "web" else "books", v) }
    val df = rows.toDF("id", "source", "domain")
    val state = graft.TestDirs
      .create("graft_freq_incr").toString
    val ms = Seq(Count("rows"), FrequentItems("domain", 2, "top_domains"))
    fit(df.filter($"id" % 3 === 0), Seq("source"), ms, state, "b0")
    append(state, df.filter($"id" % 3 === 1), "b1")
    append(state, df.filter($"id" % 3 === 2), "b2")
    def check(): Unit = {
      val got = result(spark, state).orderBy("source").collect()
      assert(got.map(_.getString(0)).toSeq == Seq("books", "web"))
      got.foreach { r =>
        val items = r.getSeq[org.apache.spark.sql.Row](2).map(_.getString(0))
        assert(items == Seq("en", "de"), s"${r.getString(0)}: $items")
      }
    }
    check()
    // sketch partials survive compaction's merge + re-store
    IncrementalAgg.compact(spark, state)
    check()
    // schema: array<struct> with the declared name
    val f = result(spark, state).schema("top_domains")
    assert(f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
  }

  test("guards: map size must be a power of two; non-string input raises") {
    val df = Seq((1L, "x")).toDF("n", "s")
    assertThrows[Exception] {
      df.agg(FreqFunctions.freqAgg($"s", maxMapSize = 100)).collect()
    }
    assertThrows[Exception] {
      df.agg(FreqFunctions.freqAgg($"n")).collect()
    }
  }
}
