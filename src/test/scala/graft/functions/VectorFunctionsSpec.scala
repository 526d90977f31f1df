package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The native [[VectorFunctions.Dot]] kernel must be BIT-IDENTICAL to the
  * `aggregate(zip_with(...))` higher-order formulation it replaced —
  * every similarity oracle (round(cosine, 4) compares against DuckDB)
  * rides on that equivalence.
  */
class VectorFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  test("native dot ≡ HOF dot on float arrays, bit-exact") {
    val rnd = new scala.util.Random(3)
    val df = Seq.tabulate(200) { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1),
        Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }.toDF("id", "a", "b")
    val diff = df.select(
        VectorFunctions.dot(col("a"), col("b")).as("nat"),
        hofDot(col("a"), col("b")).as("hof"))
      .filter(col("nat") =!= col("hof")) // bit-exact: any ulp drift fails
      .count()
    assert(diff == 0L)
  }

  test("native dot null semantics match HOF: mismatch/null element/empty/null array") {
    val df = Seq(
      (1L, Some(Seq(1.0f, 2.0f)), Some(Seq(3.0f, 4.0f))),   // 11.0
      (2L, Some(Seq(1.0f, 2.0f)), Some(Seq(3.0f))),         // length mismatch → null
      (3L, Some(Seq.empty[Float]), Some(Seq.empty[Float])), // empty → 0.0
      (4L, None, Some(Seq(1.0f)))                           // null array → null
    ).toDF("id", "a", "b")
    val rows = df.select(col("id"),
        VectorFunctions.dot(col("a"), col("b")).as("nat"),
        hofDot(col("a"), col("b")).as("hof"))
      .orderBy("id").collect()
    rows.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2), s"row ${r.getLong(0)}")
      if (!r.isNullAt(1)) assert(r.getDouble(1) == r.getDouble(2))
    }
    assert(rows(0).getDouble(1) == 11.0 && rows(1).isNullAt(1) &&
      rows(2).getDouble(1) == 0.0 && rows(3).isNullAt(1))
    // null ELEMENT inside an array nulls the dot in both formulations
    val withNullElem = spark.sql(
      "SELECT array(1.0D, CAST(NULL AS DOUBLE)) AS a, array(2.0D, 3.0D) AS b")
    val r2 = withNullElem.select(
      VectorFunctions.dot(col("a"), col("b")).as("nat"),
      hofDot(col("a"), col("b")).as("hof")).head()
    assert(r2.isNullAt(0) && r2.isNullAt(1))
  }

  test("native dot works on double and mixed float/double arrays (centroid literals)") {
    val df = Seq((1L, Array(0.5f, -1.5f))).toDF("id", "v")
    val r = df.select(
      VectorFunctions.dotConst(col("v"), Array(2.0, 4.0)).as("d")).head()
    assert(r.getDouble(0) == 0.5 * 2.0 + (-1.5) * 4.0)
  }

  test("native dot accepts every numeric element type the HOF form accepted (short/byte/decimal)") {
    // quantized embeddings are commonly stored narrow — the native
    // expr must not reject at analysis what cast-inside-zip_with took
    val df = spark.sql(
      """SELECT array(CAST(1 AS SMALLINT), CAST(-2 AS SMALLINT)) AS s,
        |       array(CAST(3 AS TINYINT), CAST(4 AS TINYINT)) AS t,
        |       array(CAST(1.50 AS DECIMAL(5,2)), CAST(-0.25 AS DECIMAL(5,2))) AS d,
        |       array(2.0D, 10.0D) AS w""".stripMargin)
    val r = df.select(
      VectorFunctions.dot(col("s"), col("w")).as("ds"),
      VectorFunctions.dot(col("t"), col("w")).as("dt"),
      VectorFunctions.dot(col("d"), col("w")).as("dd"),
      hofDot(col("d"), col("w")).as("hof")).head()
    assert(r.getDouble(0) == 1 * 2.0 + -2 * 10.0)
    assert(r.getDouble(1) == 3 * 2.0 + 4 * 10.0)
    assert(r.getDouble(2) == 1.5 * 2.0 + -0.25 * 10.0)
    assert(r.getDouble(2) == r.getDouble(3)) // decimal path ≡ HOF
  }

  test("dot survives whole-stage codegen (no fallback) in a realistic plan") {
    val rnd = new scala.util.Random(7)
    val df = Seq.tabulate(50) { i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat()))
    }.toDF("id", "v")
    val out = df
      .withColumn("nm", VectorFunctions.norm(col("v")))
      .filter(col("nm") > 0)
      .count()
    assert(out == 50L)
  }
}
