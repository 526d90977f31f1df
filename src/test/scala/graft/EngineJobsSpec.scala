package graft

import java.nio.file.Files
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextFunctions
import graft.operators.IncrementalAgg
import graft.operators.TransformStep._
import graft.sources.{Readers, Writers}
import graft.streaming.CorpusIngest

/** Spark jobs per [[Engine]] call on multi-file inputs and per ingest
  * step, and the exactness of `previewFile`'s total wherever it comes
  * from: the preview's own observed scan, or the `count()` it falls back
  * to.
  */
class EngineJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val dir = TestDirs.create("graft_engine_jobs")

  /** The same 300 rows (some nulls) as 3 files of each format. */
  private lazy val inputs: Map[String, String] = {
    val df = (1 to 300).map(i => (i, if (i % 7 == 0) null else s"t${i % 5}", i * 0.5))
      .toDF("id", "tag", "v").repartition(3)
    Seq("csv", "json", "parquet").map { f =>
      val p = dir.resolve(s"in.$f").toString
      Writers.write(df, p, f)
      f -> p
    }.toMap
  }

  /** Jobs scheduled while `f` runs. */
  private def jobs[A](f: => A): (Int, A) =
    org.apache.spark.ListenerBusDrain.jobsDuring(spark.sparkContext)(f)

  private def withConf[A](key: String, value: String)(f: => A): A = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("job budgets: dataQualityScore and previewFile at the floor, the other calls pinned") {
    val csv = inputs("csv")
    val (quality, q) = jobs(Engine.dataQualityScore(spark, csv, "csv"))
    assert(q.totalRows == 300L && q.columnCount == 3)
    assert(quality <= 5, s"dataQualityScore: $quality jobs")
    // parquet: the schema comes from one footer read on the driver
    for ((format, budget) <- Seq("parquet" -> 1, "json" -> 2, "csv" -> 3)) {
      val (n, p) = jobs(Engine.previewFile(spark, inputs(format), format, 10, Seq("id")))
      assert(p.totalCount == 300L && p.rows.size == 10)
      assert(n == budget, s"previewFile $format: $n jobs")
    }
    // the other calls, pinned at their current counts
    val parquet = inputs("parquet")
    assert(jobs(Engine.inferSchema(spark, csv, "csv"))._1 == 2)
    assert(jobs(Engine.inferSchema(spark, parquet, "parquet"))._1 == 0)
    assert(jobs(Engine.executeSql(spark, "SELECT tag, count(*) AS n FROM {{t}} GROUP BY tag",
      Map("t" -> (parquet, "parquet"))).collect())._1 == 2)
    assert(jobs(Engine.applyTransforms(spark, parquet, "parquet",
      Seq(FilterRows("v > 10"), AddDerivedColumn("w", "v * 2")))
      .orderBy("id").limit(20).collect())._1 == 1)
    assert(jobs(Engine.exportToFile(spark, csv, "csv", Seq(FilterRows("v > 10")),
      dir.resolve("export.csv").toString, "csv"))._1 == 3)
  }

  test("ingest pins: readLake and IncrementalAgg.result frames in 0 jobs, " +
      "ingestBatch on a stamped lake in 7") {
    val gate = (c: org.apache.spark.sql.Column) =>
      TextFunctions.gopherFailReason(c, minTokens = 3, maxDupWordRatio = 1.0)
    val docs = (1 to 60).map(i => (i.toLong, s"w${i % 45} alpha beta gamma ${i % 45}", s"s${i % 4}"))
      .toDF("doc_id", "text", "source")
    val lake = dir.resolve("lake").toString
    CorpusIngest.ingestBatch(docs.filter(col("doc_id") <= 30), 0L, lake,
      failReason = gate, scope = "pin")
    assert(CorpusIngest.readLake(spark, lake).columns.contains(CorpusIngest.FingerprintCol))
    val (ingest, _) = jobs(CorpusIngest.ingestBatch(docs.filter(col("doc_id") > 30), 1L, lake,
      failReason = gate, scope = "pin"))
    assert(ingest == 7, s"ingestBatch: $ingest jobs")
    val (read, lakeDf) = jobs(CorpusIngest.readLake(spark, lake))
    assert(read == 0 && lakeDf.count() == 45L)
    val state = dir.resolve("agg").toString
    val metrics = Seq(IncrementalAgg.Count("docs"), IncrementalAgg.Max("doc_id", "top"))
    IncrementalAgg.fit(docs.filter(col("doc_id") <= 30), Seq("source"), metrics, state, "b0")
    IncrementalAgg.append(state, docs.filter(col("doc_id") > 30), "b1")
    IncrementalAgg.compact(spark, state, "c1")
    IncrementalAgg.append(state, docs.filter(col("doc_id") > 50), "b2")
    val (result, agg) = jobs(IncrementalAgg.result(spark, state))
    assert(result == 0, s"IncrementalAgg.result: $result jobs")
    assert(agg.count() == 4L)
  }

  test("previewFile's total equals df.count() on every route") {
    val headerOnly = dir.resolve("header-only.csv")
    Files.createDirectories(headerOnly)
    Files.writeString(headerOnly.resolve("part-0.csv"), "id,tag,v\n")
    val emptyParquet = dir.resolve("empty.parquet").toString
    Writers.write(Seq.empty[(Int, String)].toDF("id", "tag"), emptyParquet, "parquet")
    val cases = inputs.toSeq ++ Seq("csv" -> headerOnly.toString, "parquet" -> emptyParquet)
    for ((format, path) <- cases) {
      val want = Readers.read(spark, path, format).count()
      def total(limit: Int, orderBy: Seq[String]) =
        Engine.previewFile(spark, path, format, limit, orderBy).totalCount
      for ((limit, orderBy) <- Seq(10 -> Seq("id"), 0 -> Seq("id"), 10 -> Nil, 1000 -> Seq("id")))
        assert(total(limit, orderBy) == want, s"$path limit=$limit orderBy=$orderBy")
      // past the threshold the ordered take plans Sort + CollectLimit
      withConf("spark.sql.execution.topKSortFallbackThreshold", "5") {
        val p = Engine.previewFile(spark, path, format, 10, Seq("id"))
        assert(p.totalCount == want, s"$path with a sort fallback")
        assert(p.rows.size == math.min(10L, want))
      }
    }
  }
}
