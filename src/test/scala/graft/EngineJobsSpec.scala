package graft

import java.nio.file.Files
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TransformStep._
import graft.sources.{Readers, Writers}

/** Spark jobs per [[Engine]] call on multi-file inputs, and the exactness
  * of `previewFile`'s total wherever it comes from: the preview's own
  * observed scan, or the `count()` it falls back to.
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
  private def jobs[A](f: => A): (Int, A) = {
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain.drain(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try { val out = f; org.apache.spark.ListenerBusDrain.drain(sc); (n.get, out) }
    finally sc.removeSparkListener(listener)
  }

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
    for ((format, budget) <- Seq("parquet" -> 2, "json" -> 2, "csv" -> 3)) {
      val (n, p) = jobs(Engine.previewFile(spark, inputs(format), format, 10, Seq("id")))
      assert(p.totalCount == 300L && p.rows.size == 10)
      assert(n <= budget, s"previewFile $format: $n jobs")
    }
    // the other calls, pinned at their current counts
    val parquet = inputs("parquet")
    assert(jobs(Engine.inferSchema(spark, csv, "csv"))._1 == 2)
    assert(jobs(Engine.inferSchema(spark, parquet, "parquet"))._1 == 1)
    assert(jobs(Engine.executeSql(spark, "SELECT tag, count(*) AS n FROM {{t}} GROUP BY tag",
      Map("t" -> (parquet, "parquet"))).collect())._1 == 3)
    assert(jobs(Engine.applyTransforms(spark, parquet, "parquet",
      Seq(FilterRows("v > 10"), AddDerivedColumn("w", "v * 2")))
      .orderBy("id").limit(20).collect())._1 == 2)
    assert(jobs(Engine.exportToFile(spark, csv, "csv", Seq(FilterRows("v > 10")),
      dir.resolve("export.csv").toString, "csv"))._1 == 3)
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
