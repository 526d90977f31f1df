package graft.functions

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The KLL and theta parameters at their bounds: every illegal value
  * raises on the driver (a Column builder's check or Spark's analysis)
  * before any job starts; the extreme legal nominals run. */
class SketchBoundsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def values: DataFrame = (1 to 40).map(i => (i.toDouble, i.toString)).toDF("v", "s")
  private def sketches: DataFrame = Seq(Array[Byte]()).toDF("b")

  test("an out-of-range nominal, k or q raises before any job starts") {
    val bad: Seq[(String, () => DataFrame)] =
      Seq(0, -1, Int.MinValue, 8, 1000, 1 << 27).flatMap { n =>
        Seq(s"thetaAgg nominal=$n" -> (() => values.agg(ThetaFunctions.thetaAgg($"s", n))),
          s"thetaUnion nominal=$n" -> (() => sketches.agg(ThetaFunctions.thetaUnion($"b", n))))
      } ++ Seq(0, -1, 7, 65536).map { k =>
        s"kll_sketch_agg_double k=$k" -> (() => values.agg(kll_sketch_agg_double($"v", k)))
      } ++ Seq(-0.1, 1.5, Double.NaN).map { q =>
        s"kllQuantile q=$q" -> (() => sketches.select(KllFunctions.kllQuantile($"b", q)))
      }
    val sc = spark.sparkContext
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try bad.foreach { case (label, build) =>
      val e = intercept[Exception](build().collect())
      assert(e.isInstanceOf[IllegalArgumentException] || e.isInstanceOf[AnalysisException],
        s"$label: $e")
      org.apache.spark.ListenerBusDrain.drain(sc)
      assert(started.get == 0, label)
    } finally sc.removeSparkListener(listener)
  }

  test("nominal 16 and 2^26 are legal") {
    def estimate(n: Int): Double =
      values.groupBy($"v" % 2).agg(ThetaFunctions.thetaAgg($"s", n).as("t"))
        .agg(ThetaFunctions.thetaUnion($"t", n).as("u"))
        .select(ThetaFunctions.thetaEstimate($"u")).head().getDouble(0)
    assert(estimate(16) > 0) // 40 keys over a 16-entry cap: an estimate
    assert(estimate(1 << 26) == 40.0) // below the cap: exact
  }
}
