package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** KLL sketch quantiles: assertions are RANK-tolerance, never byte
  * equality — KLL compaction is randomized (unlike HLL's register
  * lattice), so two batch splits legitimately differ within the
  * guaranteed rank error (~1.65% at k=200; asserted at 5% for
  * flake-proof margin).
  */
class KllFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** True rank (fraction ≤ v) of value v in the exact data. */
  private def rankOf(sorted: Array[Double], v: Double): Double =
    sorted.count(_ <= v).toDouble / sorted.length

  test("sketch quantiles land within rank tolerance of exact, skewed data included") {
    // lognormal-ish skew — the latency-shaped distribution quantile
    // metrics exist for
    val rnd = new scala.util.Random(7L)
    val values = Array.fill(20000)(math.exp(rnd.nextGaussian() * 1.5))
    val sorted = values.sorted
    val df = values.toSeq.toDF("v")
    val sk = df.agg(kll_sketch_agg_double($"v").as("s"))
    for (q <- Seq(0.1, 0.5, 0.95, 0.99)) {
      val est = sk.select(KllFunctions.kllQuantile($"s", q)).head().getDouble(0)
      val r = rankOf(sorted, est)
      assert(math.abs(r - q) < 0.05, s"q=$q est=$est rank=$r")
    }
  }

  test("merge of per-batch sketches ≈ one-shot sketch (rank tolerance)") {
    val rnd = new scala.util.Random(11L)
    val values = Array.fill(30000)(rnd.nextGaussian() * 100 + 500)
    val sorted = values.sorted
    val df = values.zipWithIndex.map { case (v, i) => (i % 7, v) }
      .toSeq.toDF("b", "v")
    // sketch each of 7 batches separately, then union the sketches —
    // the IncrementalAgg shape
    val merged = df.groupBy("b").agg(kll_sketch_agg_double($"v").as("s"))
      .agg(kll_merge_agg_double($"s").as("m"))
    for (q <- Seq(0.25, 0.5, 0.9)) {
      val est = merged.select(KllFunctions.kllQuantile($"m", q)).head().getDouble(0)
      assert(math.abs(rankOf(sorted, est) - q) < 0.05, s"q=$q est=$est")
    }
  }

  test("null inputs are ignored; empty / all-null sketches yield null quantile") {
    val df = Seq(Some(1.0), None, Some(3.0), None, Some(2.0)).toDF("v")
    val est = df.agg(kll_sketch_agg_double($"v").as("s"))
      .select(KllFunctions.kllQuantile($"s", 0.5)).head().getDouble(0)
    assert(est == 2.0) // exact at n=3 (sketch stores all values)
    val empty = df.filter($"v".isNull)
      .agg(kll_sketch_agg_double($"v").as("s"))
      .select(KllFunctions.kllQuantile($"s", 0.5)).head()
    assert(empty.isNullAt(0))
  }

  test("type and parameter guards raise") {
    val df = Seq(("a", 1.0)).toDF("s", "v")
    assertThrows[Exception] {
      df.agg(kll_sketch_agg_double($"s")).collect() // string column
    }
    // q validated by the driver-side Column builder, before any job
    assertThrows[Exception] { // IllegalArgumentException: q out of range
      Seq(Array[Byte]()).toDF("s")
        .select(KllFunctions.kllQuantile($"s", 1.5)).collect()
    }
    assertThrows[Exception] { // AnalysisException: k below 8
      df.agg(kll_sketch_agg_double($"v", 2)).collect()
    }
  }

  test("the aggregate combines map-side: one partial per partition crosses the shuffle") {
    val df = spark.range(0, 100000, 1, 8).selectExpr("cast(id as double) as v")
    val plan = df.agg(kll_sketch_agg_double($"v").as("s"))
      .queryExecution.executedPlan.toString
    // ObjectHashAggregate partial + final split, like every sketch agg
    assert(plan.contains("ObjectHashAggregate"), plan)
  }
}
