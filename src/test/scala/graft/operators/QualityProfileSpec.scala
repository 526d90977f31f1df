package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The one-parse exact profile ([[Quality.profile]] with
  * `exact = true`: one cell per (row, column), one aggregate per
  * distinct typed value, one per column) against the formulation it
  * replaced, kept here as the reference: one single-distinct aggregate
  * per column, unioned. Frames are generated over every column type
  * the reference accepts, with small value pools so values repeat,
  * nulls everywhere, several columns sharing a type, NaN payloads and
  * signed zeros, and zero-row inputs.
  */
class QualityProfileSpec extends AnyFunSuite {
  import QualityProfileSpec._
  private lazy val spark = TestSpark.spark

  private def reference(df: DataFrame): DataFrame =
    df.columns.map { c =>
      val v = df(s"`${c.replace("`", "``")}`")
      df.select(v).agg(
        count(lit(1)).as("total_rows"),
        sum(when(v.isNull, 1).otherwise(0)).cast("long").as("null_count"),
        countDistinct(v).cast("long").as("distinct_count"))
        .select(lit(c).as("column_name"),
          col("total_rows"), col("null_count"), col("distinct_count"))
    }.reduce(_ unionByName _)
      .withColumn("null_rate", col("null_count").cast("double") / col("total_rows"))
      .withColumn("score", (lit(1.0) - col("null_rate")) * 100)

  private def rows(df: DataFrame): Map[String, Seq[Any]] =
    df.collect().map(r => r.getString(0) -> r.toSeq.tail).toMap

  private def frame(c: Case): DataFrame = {
    val schema = StructType(c.types.zipWithIndex.map { case (t, i) => StructField(s"c$i", t) })
    spark.createDataFrame(spark.sparkContext.parallelize(c.rows, 3), schema)
  }

  /** Exact profile ≡ reference; the HLL profile's exact columns and
    * `validate` agree with it too.
    */
  private def matches(c: Case): Boolean = {
    val df = frame(c)
    val want = rows(reference(df))
    val got = rows(Quality.profile(df))
    val approx = rows(Quality.profile(df, exact = false))
    val scores = df.columns.toSeq.map(n => want(n)(4))
    val validated = Quality.validate(df, Double.NegativeInfinity)
    val avg = if (c.rows.isEmpty) 0.0 else scores.map(_.asInstanceOf[Double]).sum / scores.size
    got == want &&
      approx.map { case (k, v) => k -> (v.take(2) ++ v.drop(3)) } ==
        want.map { case (k, v) => k -> (v.take(2) ++ v.drop(3)) } &&
      validated == avg
  }

  private def check(gen: Gen[Case], seed: Long, n: Int): Unit = {
    val res = ScTest.check(ScTest.Parameters.default
      .withMinSuccessfulTests(n).withInitialSeed(Seed(seed)), Prop.forAll(gen)(matches))
    assert(res.passed, res.status.toString)
  }

  test("one-parse profile ≡ unioned per-column aggregates on generated frames") {
    check(genCase(Gen.choose(1, 6), Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 30))),
      seed = 13, n = 16)
  }

  test("one column, and sixty columns sharing types") {
    check(genCase(Gen.const(1), Gen.choose(0, 20)), seed = 29, n = 6)
    check(genCase(Gen.const(60), Gen.const(12)), seed = 31, n = 1)
  }

  test("an all-null column and zero rows over every type") {
    val allNull = Case(Seq(IntegerType, StringType, MapType(StringType, IntegerType)),
      (1 to 5).map(i => Row(null, s"s${i % 2}", null)))
    assert(matches(allNull))
    assert(matches(Case(pool.map(_._1), Nil)))
  }

  test("maps compare as GROUP BY compares them, not by their bytes") {
    val m = MapType(StringType, IntegerType)
    val c = Case(Seq(m, StructType(Seq(StructField("x", m))), ArrayType(m)), Seq(
      Map("a" -> 1, "b" -> 2), Map("b" -> 2, "a" -> 1), null).map(v => Row(v, Row(v), Seq(v))))
    val df = frame(c)
    val groups = df.columns.toSeq.map(n => df.groupBy(df(n)).count().filter(df(n).isNotNull).count())
    assert(groups.head == 1L)
    val got = rows(Quality.profile(df)).map { case (k, v) => k -> v(2) }
    assert(got == df.columns.zip(groups).toMap)
    // the replaced formulation counted entry orders apart
    assert(rows(reference(df))("c0")(2) == 2L)
  }

  test("floats normalise as grouping keys do: -0.0 = 0.0, every NaN payload one value") {
    val p = Quality.profile(frame(Case(Seq(DoubleType), Seq(0.0, -0.0, Double.NaN,
      java.lang.Double.longBitsToDouble(0x7ff8000000000123L), 1.0).map(Row(_)))))
      .collect().head
    assert(p.getAs[Long]("distinct_count") == 3L)
  }
}

object QualityProfileSpec {
  final case class Case(types: Seq[DataType], rows: Seq[Row])

  private def day(d: Int) = java.sql.Date.valueOf(f"2024-01-${d + 1}%02d")

  /** Every column type with a small value pool, so values repeat. */
  val pool: Seq[(DataType, Gen[Any])] = Seq(
    IntegerType -> Gen.choose(-2, 2),
    LongType -> Gen.choose(-2L, 2L),
    DoubleType -> Gen.oneOf(0.0, -0.0, 1.5, Double.NaN,
      java.lang.Double.longBitsToDouble(0x7ff8000000000001L),
      Double.PositiveInfinity, Double.NegativeInfinity),
    DecimalType(10, 2) -> Gen.oneOf("1.50", "2.25", "-0.01").map(new java.math.BigDecimal(_)),
    StringType -> Gen.oneOf("", "a", "b", "a.b"),
    DateType -> Gen.choose(0, 3).map(day),
    TimestampType -> Gen.choose(0, 3).map(s => new java.sql.Timestamp(s * 1000L)),
    BinaryType -> Gen.oneOf(Array[Byte](), Array[Byte](1), Array[Byte](1, 2)),
    ArrayType(IntegerType) -> Gen.oneOf(Seq(1, 2), Seq(), Seq(2, 1), Seq[Any](null)),
    ArrayType(DoubleType) -> Gen.oneOf(Seq(0.0), Seq(-0.0), Seq(Double.NaN),
      Seq(java.lang.Double.longBitsToDouble(0x7ff8000000000001L))),
    StructType(Seq(StructField("a", IntegerType), StructField("b", DoubleType))) ->
      Gen.oneOf(Row(1, 0.0), Row(null, null), Row(1, -0.0), Row(2, Double.NaN)),
    // entries in one order: the old formulation compared maps by their
    // bytes (see the map test above)
    MapType(StringType, IntegerType) ->
      Gen.oneOf(Map("a" -> 1), Map.empty[String, Int], Map("a" -> 1, "b" -> 2)))

  def genCase(width: Gen[Int], height: Gen[Int]): Gen[Case] = for {
    w <- width
    cols <- Gen.listOfN(w, Gen.oneOf(pool))
    h <- height
    rows <- Gen.listOfN(h, Gen.sequence[List[Any], Any](
      cols.map(c => Gen.frequency(1 -> Gen.const(null), 4 -> c._2))))
  } yield Case(cols.map(_._1), rows.map(Row.fromSeq))
}
