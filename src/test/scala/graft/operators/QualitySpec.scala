package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class QualitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def df = Seq(
    (Some(1), Some("a")), (Some(2), None), (None, Some("a")), (Some(4), Some("b"))
  ).toDF("x", "y")

  test("profile computes null/distinct per column in one pass") {
    val p = Quality.profile(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(p("x").getAs[Long]("null_count") == 1L)
    assert(p("x").getAs[Long]("distinct_count") == 3L)
    assert(p("y").getAs[Long]("null_count") == 1L)
    assert(p("y").getAs[Long]("distinct_count") == 2L)
    assert(p("x").getAs[Double]("score") == 75.0)
  }

  test("validate passes above threshold, throws below") {
    assert(Quality.validate(df, minScore = 50.0) == 75.0)
    intercept[IllegalStateException] {
      Quality.validate(df, minScore = 90.0)
    }
  }

  test("column names with dots, quotes and backticks profile on both paths") {
    val names = Seq("x.y", "it's", "a`b", "`")
    val odd = df.select($"x", $"y", $"x".as("c"), $"y".as("d")).toDF(names: _*)
    for (exact <- Seq(true, false)) {
      val p = Quality.profile(odd, exact).collect().map(r => r.getString(0) -> r).toMap
      assert(p.keySet == names.toSet, s"exact=$exact")
      for (n <- names) {
        assert(p(n).getAs[Long]("total_rows") == 4L, s"exact=$exact $n")
        assert(p(n).getAs[Long]("null_count") == 1L, s"exact=$exact $n")
      }
      assert(p("x.y").getAs[Long]("distinct_count") == 3L, s"exact=$exact")
      assert(p("it's").getAs[Long]("distinct_count") == 2L, s"exact=$exact")
    }
    assert(Quality.validate(odd, minScore = 0.0) == 75.0)
  }

  test("a zero-column frame gives an empty profile on both paths") {
    val none = spark.range(3).select()
    for (exact <- Seq(true, false)) {
      val p = Quality.profile(none, exact)
      assert(p.columns.toSeq == Seq("column_name", "total_rows", "null_count",
        "distinct_count", "null_rate", "score"))
      assert(p.collect().isEmpty, s"exact=$exact")
    }
    assert(Quality.validate(none, minScore = 0.0) == 0.0)
  }

  test("a zero-row input: one row per column with null rates, and validate scores 0.0") {
    val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType(Seq(StructField("x", IntegerType), StructField("y", StringType))))
    for (exact <- Seq(true, false)) {
      val p = Quality.profile(empty, exact).collect().map(r => r.getString(0) -> r).toMap
      assert(p.keySet == Set("x", "y"), s"exact=$exact")
      for (r <- p.values) {
        assert(r.getAs[Long]("total_rows") == 0L && r.getAs[Long]("distinct_count") == 0L)
        assert(r.isNullAt(2) && r.isNullAt(4) && r.isNullAt(5), r)
      }
    }
    assert(Quality.validate(empty, minScore = 0.0) == 0.0)
    val e = intercept[IllegalStateException](Quality.validate(empty, minScore = 50.0))
    assert(e.getMessage.contains("below minimum"))
  }
}
