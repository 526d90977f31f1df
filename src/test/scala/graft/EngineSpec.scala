package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TransformStep._
import graft.sources.Writers

class EngineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val csvPath = {
    val dir = graft.TestDirs.create("graft_engine")
    val p = dir.resolve("t.csv").toString
    Writers.write(Seq(
      (1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0), (4, null, 40.0)
    ).toDF("id", "tag", "v"), p, "csv")
    p
  }

  test("previewFile returns rows, columns and total count") {
    val p = Engine.previewFile(spark, csvPath, "csv", limit = 2, orderBy = Seq("id"))
    assert(p.columns == Seq("id", "tag", "v"))
    assert(p.totalCount == 4L && p.rows.size == 2)
    assert(p.rows.head.getAs[Int]("id") == 1)
  }

  test("previewFile approxTotal: exact on one file, bytes-scaled across files") {
    // single-file input: the probe IS the whole read → exact
    val p1 = Engine.previewFile(spark, csvPath, "csv", limit = 1, approxTotal = true)
    assert(p1.totalCount == 4L)
    // multi-file input: one file counted, scaled by total bytes —
    // uniform rows, so the estimate lands on the exact count
    val dir = graft.TestDirs.create("graft_engine_multi")
    val p = dir.resolve("m.csv").toString
    Writers.write((1 to 400).map(i => (1000 + i, "xx")).toDF("id", "s")
      .repartition(4), p, "csv")
    val est = Engine.previewFile(spark, p, "csv", limit = 1, approxTotal = true)
    assert(est.totalCount >= 360 && est.totalCount <= 440, est.totalCount)
    // a header-only part file must not be the probe representative:
    // probeRows=0 falls back to the exact count, never estimates 0
    Files.writeString(java.nio.file.Paths.get(p).resolve("empty-part.csv"), "id,s\n")
    val guarded = Engine.previewFile(spark, p, "csv", limit = 1, approxTotal = true)
    assert(guarded.totalCount == 400L, guarded.totalCount)
  }

  test("executeSql resolves {{name}} placeholders") {
    val out = Engine.executeSql(spark,
      "SELECT tag, count(*) AS n FROM {{data}} GROUP BY tag ORDER BY n DESC, tag",
      sources = Map("data" -> (csvPath, "csv")))
    assert(out.head.getAs[Long]("n") == 2L)
  }

  test("applyTransforms + exportToFile round-trip") {
    val dir = graft.TestDirs.create("graft_engine_out")
    val out = dir.resolve("out").toString
    Engine.exportToFile(spark, csvPath, "csv",
      Seq(FilterRows("v >= 20"), AddDerivedColumn("half", "v / 2")),
      out, "parquet")
    val back = spark.read.parquet(out)
    assert(back.count() == 3 && back.columns.contains("half"))
  }

  test("dataQualityScore matches the reference result shape") {
    val q = Engine.dataQualityScore(spark, csvPath, "csv")
    assert(q.totalRows == 4L && q.columnCount == 3)
    assert(q.details("tag")._1 == 0.25)       // null_rate
    assert(q.details("id")._2 == 1.0)         // unique_ratio
    assert(q.score > 90.0 && q.score <= 100.0)
  }
}
