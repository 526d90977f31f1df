package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.ThetaFunctions._

class ThetaFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("below the nominal cap every set-operation estimate is EXACT") {
    // A = {0..599}, B = {400..999}: |A|=600 |B|=600 |A∩B|=200 |A∪B|=1000
    val a = spark.range(0, 600).select($"id".cast("string").as("v"))
    val b = spark.range(400, 1000).select($"id".cast("string").as("v"))
    val sa = a.agg(thetaAgg($"v", 4096).as("s"))
    val sb = b.agg(thetaAgg($"v", 4096).as("s"))
    val r = sa.crossJoin(sb.withColumnRenamed("s", "t")).select(
      thetaEstimate($"s").as("ea"),
      thetaEstimate($"t").as("eb"),
      thetaEstimate(theta_intersection($"s", $"t")).as("ei"),
      thetaEstimate(thetaUnionScalar($"s", $"t")).as("eu"),
      thetaEstimate(theta_difference($"s", $"t")).as("eab"),
      thetaEstimate(theta_difference($"t", $"s")).as("eba")).head()
    assert((0 until 6).map(r.getDouble) ==
      Seq(600.0, 600.0, 200.0, 1000.0, 400.0, 400.0))
  }

  test("incremental per-batch sketches union to the one-shot sketch exactly") {
    // theta retains the k smallest value hashes — a pure function of
    // the value SET, no coin flips (unlike KLL) — so any batch split
    // unions to the same estimate as the single pass, even in
    // estimation mode
    val n = 50000
    val df = spark.range(n).select(
      ($"id" % 4).as("b"), $"id".cast("string").as("v"))
    val oneShot = df.agg(thetaAgg($"v", 1024).as("s"))
      .select(thetaEstimate($"s")).head().getDouble(0)
    val perBatch = df.groupBy("b").agg(thetaAgg($"v", 1024).as("s"))
      .agg(thetaUnion($"s", 1024).as("u"))
      .select(thetaEstimate($"u")).head().getDouble(0)
    assert(perBatch == oneShot, s"union-of-batches $perBatch vs one-shot $oneShot")
    // and the estimate lands within theta tolerance of the truth
    assert(math.abs(oneShot - n) / n < 0.1, s"estimate $oneShot vs exact $n")
  }

  test("estimation mode: relative error within the 1/sqrt(k) regime") {
    val n = 200000
    val df = spark.range(n).select($"id".cast("string").as("v"))
    val est = df.agg(thetaAgg($"v", 4096).as("s"))
      .select(thetaEstimate($"s")).head().getDouble(0)
    // ~1.6% RSE at k=4096; 5 sigma of headroom
    assert(math.abs(est - n) / n < 0.08, s"estimate $est vs exact $n")
  }

  test("scalar union never caps an exact result below its inputs") {
    // two exact 3000-entry sketches (nominal 8192): a union built at
    // the default nominal 4096 would downsample; the scalar union is
    // built at the largest nominal instead, so the result stays exact
    val a = spark.range(0, 3000).select($"id".cast("string").as("v"))
    val b = spark.range(3000, 6000).select($"id".cast("string").as("v"))
    val eu = a.agg(thetaAgg($"v", 8192).as("s"))
      .crossJoin(b.agg(thetaAgg($"v", 8192).as("t")))
      .select(thetaEstimate(thetaUnionScalar($"s", $"t"))).head().getDouble(0)
    assert(eu == 6000.0, s"union estimate $eu should be exact 6000")
  }

  test("nulls are ignored; empty inputs give empty (estimate 0) sketches") {
    val df = Seq(Some("x"), None, Some("y"), None).toDF("v")
    val e = df.agg(thetaAgg($"v").as("s"))
      .select(thetaEstimate($"s")).head().getDouble(0)
    assert(e == 2.0)
    val empty = df.filter($"v".isNull && $"v".isNotNull)
      .agg(thetaAgg($"v").as("s"))
      .select(thetaEstimate($"s"),
        thetaEstimate(theta_intersection($"s", $"s")),
        thetaEstimate(theta_difference($"s", $"s"))).head()
    assert((0 until 3).map(empty.getDouble) == Seq(0.0, 0.0, 0.0))
  }

  test("an INT key sketches as its string cast") {
    val ints = spark.range(0, 500).select($"id".cast("int").as("n"))
    val si = ints.agg(thetaAgg($"n").as("s"))
    val ss = ints.agg(thetaAgg($"n".cast("string")).as("t"))
    val r = si.crossJoin(ss).select(
      thetaEstimate($"s"), thetaEstimate($"t"),
      thetaEstimate(theta_intersection($"s", $"t"))).head()
    assert((0 until 3).map(r.getDouble) == Seq(500.0, 500.0, 500.0))
  }

  test("type and parameter guards raise at analysis") {
    val df = Seq((1, Array[Byte]())).toDF("n", "b")
    assertThrows[Exception] { // nominal not a power of 2
      df.agg(thetaAgg($"n".cast("string"), 1000)).collect()
    }
    assertThrows[Exception] { // union over non-binary
      df.agg(thetaUnion($"n")).collect()
    }
    assertThrows[Exception] { // estimate over non-binary
      df.select(thetaEstimate($"n")).collect()
    }
  }

  test("the aggregate combines map-side: ObjectHashAggregate partials") {
    val df = spark.range(0, 100000, 1, 8).select($"id".cast("string").as("v"))
    val plan = df.agg(thetaAgg($"v").as("s"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
  }
}
