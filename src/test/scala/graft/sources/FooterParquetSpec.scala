package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import graft.{TestDirs, TestSpark}

/** [[Readers.parquet]] ([[FooterParquet]]) against `spark.read.parquet`:
  * the same schema and rows, with no job at read time, wherever Spark's
  * inference reads one footer; Spark's own route (and its errors) where
  * it does not.
  */
class FooterParquetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val dir = TestDirs.create("graft_footer_parquet")

  private def jobs[A](f: => A): (Int, A) =
    org.apache.spark.ListenerBusDrain.jobsDuring(spark.sparkContext)(f)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Readers.parquet builds its frame in 0 jobs and matches Spark's. */
  private def assertSame(paths: Seq[String], options: Map[String, String] = Map.empty): Unit = {
    val want = spark.read.options(options).parquet(paths: _*)
    val (n, got) = jobs(Readers.parquet(spark, options, paths: _*))
    assert(n == 0, s"$paths: $n jobs at read time")
    assert(got.schema == want.schema, paths)
    assert(rows(got) == rows(want), paths)
  }

  /** `df` written as one parquet file at `to`. */
  private def writeOne(df: DataFrame, to: Path): Unit = {
    val tmp = dir.resolve(s"one_${java.util.UUID.randomUUID()}")
    df.coalesce(1).write.parquet(tmp.toString)
    val part = Files.list(tmp).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.createDirectories(to.getParent)
    Files.move(part, to, StandardCopyOption.REPLACE_EXISTING)
  }

  private lazy val base = (1 to 40).map(i => (i, s"t${i % 3}", i * 0.25)).toDF("id", "tag", "v")
  private lazy val wide = base.withColumn("_fp", col("tag")).withColumn("extra", lit(7L))

  test("every sf0.001 table, events' nanos ts included") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    for (t <- graft.Tables.names)
      assertSame(Seq(s"/root/testdata/sf0.001/$t.parquet"))
  }

  test("a basePath hive-partitioned read, a glob and an empty-frame write") {
    val lake = dir.resolve("hive").toString
    base.write.partitionBy("tag").parquet(lake)
    assertSame(Seq(lake))
    assertSame(Seq(s"$lake/tag=t1", s"$lake/tag=t2"), Map("basePath" -> lake))
    assertSame(Seq(s"$lake/tag=t*/*.parquet"))
    val empty = dir.resolve("empty").toString
    base.limit(0).write.parquet(empty)
    assertSame(Seq(empty))
  }

  test("drifted files: the first by path decides, as in Spark") {
    for ((first, second, name) <- Seq((base, wide, "legacy_first"), (wide, base, "fp_first"))) {
      val lake = dir.resolve(name)
      writeOne(first, lake.resolve("a.parquet"))
      writeOne(second, lake.resolve("b.parquet"))
      assertSame(Seq(lake.toString))
    }
  }

  test("summary files: _common_metadata, then _metadata, win over the data files") {
    // each summary carries the wide schema, the data files the narrow one
    for (summaries <- Seq(Seq("_metadata"), Seq("_common_metadata"),
        Seq("_common_metadata", "_metadata"))) {
      val d = dir.resolve("summary_" + summaries.mkString("_"))
      writeOne(base, d.resolve("part-0.parquet"))
      summaries.foreach(s => writeOne(wide, d.resolve(s)))
      assertSame(Seq(d.toString))
      assert(Readers.parquet(spark, d.toString).columns.contains("extra"))
    }
    // the common-metadata summary alone decides when both disagree
    val d = dir.resolve("summary_disagree")
    writeOne(base, d.resolve("part-0.parquet"))
    writeOne(wide, d.resolve("_metadata"))
    writeOne(base.select("id"), d.resolve("_common_metadata"))
    assertSame(Seq(d.toString))
    assert(Readers.parquet(spark, d.toString).columns.toSeq == Seq("id"))
  }

  test("mergeSchema, as an option or the session conf, takes Spark's merged schema") {
    val lake = dir.resolve("merge")
    writeOne(base, lake.resolve("a.parquet"))
    writeOne(wide, lake.resolve("b.parquet"))
    val merged = spark.read.option("mergeSchema", "true").parquet(lake.toString).schema
    assert(merged.fieldNames.contains("extra"))
    val (n, byOption) = jobs(Readers.parquet(spark, Map("mergeSchema" -> "true"), lake.toString))
    assert(n == 1 && byOption.schema == merged)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assert(Readers.parquet(spark, lake.toString).schema == merged)
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("a dir holding only _SUCCESS fails as Spark does") {
    val d = dir.resolve("only_success")
    Files.createDirectories(d)
    Files.writeString(d.resolve("_SUCCESS"), "")
    val want = intercept[AnalysisException](spark.read.parquet(d.toString))
    val got = intercept[AnalysisException](Readers.parquet(spark, d.toString))
    assert(want.getCondition == "UNABLE_TO_INFER_SCHEMA")
    assert(got.getCondition == want.getCondition)
  }

  test("plans: a self-join reuses its exchange; Spark's and graft's reads are sameResult") {
    val p = dir.resolve("plans").toString
    base.write.parquet(p)
    val df = Readers.parquet(spark, p)
    val agg = df.groupBy("tag").count()
    val joined = agg.as("a").join(agg.as("b"), "tag")
    assert(joined.collect().length == 3)
    assert(joined.queryExecution.executedPlan.toString.contains("ReusedExchange"))
    val sparkPlan = spark.read.parquet(p).filter($"id" > 3).queryExecution.optimizedPlan
    val graftPlan = df.filter($"id" > 3).queryExecution.optimizedPlan
    assert(graftPlan.sameResult(sparkPlan))
    assert(graftPlan.semanticHash() == sparkPlan.semanticHash())
    val scan = df.filter($"id" > 3).queryExecution.executedPlan.toString
    assert(scan.contains("FileScan parquet") && scan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,3)]"))
  }
}
