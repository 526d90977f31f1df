package graft

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
import org.apache.spark.sql.functions.{count, lit}
import graft.operators.{Quality, TransformStep}
import graft.sources.{Readers, Writers}

/** 1:1 facade over the reference's `DuckDBEngine` service API
  * (services/duckdb_engine.py) — same operations, same shapes — so
  * call sites of the reference port mechanically:
  *
  *  - preview_file      → [[Engine.previewFile]]
  *  - infer_schema      → [[Engine.inferSchema]]
  *  - execute_sql       → [[Engine.executeSql]]
  *  - apply_transforms  → [[Engine.applyTransforms]]
  *  - export_to_file    → [[Engine.exportToFile]]
  *  - data_quality_score→ [[Engine.dataQualityScore]]
  *
  * Differences are deliberate: results are DataFrames (lazy,
  * distributed) rather than row dicts, and previews take a sort for
  * determinism (a LIMIT without order is not a well-defined result on
  * a distributed scan).
  */
object Engine {

  final case class Preview(columns: Seq[String], rows: Seq[Row], totalCount: Long)

  /** preview_file (duckdb_engine.py:31-64): first `limit` rows (by
    * `orderBy`, for determinism) + schema + total count.
    *
    * The exact total (reference parity, duckdb_engine.py:45) is an
    * `Observation` on the ordered take when that is a
    * `TakeOrderedAndProject` reading every row: 1 job on parquet (its
    * schema is one footer read on the driver), 2 on json, 3 on csv. Else it is a `count()`, 2 more jobs: no `orderBy`
    * (the take stops early), `limit <= 0` (no scan), a sort past
    * `spark.sql.execution.topKSortFallbackThreshold` (its sampling job
    * counts rows twice), or no metric in time. `approxTotal = true`
    * swaps in a metadata/sampled estimate, for csv/json/xls sources
    * where counting means reading.
    */
  def previewFile(
      spark: SparkSession, path: String, format: String,
      limit: Int = 200, orderBy: Seq[String] = Nil,
      approxTotal: Boolean = false): Preview = {
    val df = Readers.read(spark, path, format)
    val obs = Observation()
    val observe = !approxTotal && orderBy.nonEmpty && limit > 0
    val input = if (observe) df.observe(obs, count(lit(1)).as("rows")) else df
    val taken = (if (orderBy.nonEmpty) input.orderBy(orderBy.head, orderBy.tail: _*) else input)
      .limit(limit)
    val rows = taken.collect().toSeq
    val observedTotal = taken.queryExecution.executedPlan match {
      case t: TakeOrderedAndProjectExec if observe &&
          !SortOrder.orderingSatisfies(t.child.outputOrdering, t.sortOrder) =>
        Conf.observed(obs).collect { case r if r.length == 1 => r.getLong(0) }
      case _ => None
    }
    val total =
      if (!approxTotal) observedTotal.getOrElse(df.count())
      else {
        // rows-per-byte measured by COUNTING ONE input file, scaled by
        // the input's total on-disk size — a thousandth of the scan
        // when the input has thousands of splits, and exact for a
        // single-file input (the probe is then the whole read).
        // None = size UNKNOWN (non-file:// scheme, stat failure) —
        // distinct from a known-zero (genuinely empty) file.
        def sizeOf(uri: String): Option[Long] =
          try Some(java.nio.file.Files.size(
            java.nio.file.Paths.get(new java.net.URI(uri))))
          catch { case _: Exception => None }
        val files = df.inputFiles
        val sizes = files.map(f => f -> sizeOf(f))
        val known = sizes.collect { case (f, Some(s)) => (f, s) }
        // probe candidates: smallest file with a KNOWN nonzero size
        // (an empty/header-only part must not be the representative —
        // probeRows=0 would estimate 0 for the whole dataset). ANY
        // unknown size forces the exact count: scaling by a partial
        // bytesTotal would silently deflate the estimate.
        val candidates = known.filter(_._2 > 0L)
        if (files.length <= 1 || known.length != files.length || candidates.isEmpty)
          df.count()
        else {
          val bytesTotal = known.map(_._2).sum
          val (probe, probeBytes) = candidates.minBy(_._2) // cheapest split
          // re-use the already-inferred schema: a csv probe would
          // otherwise pay a second inference scan of the same file
          val probeRows = Readers.read(spark, probe, format,
            schema = Some(df.schema)).count()
          if (probeRows == 0L) df.count() // degenerate probe: be exact
          else (BigDecimal(probeRows) * bytesTotal / probeBytes)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        }
      }
    Preview(df.columns.toSeq, rows, total)
  }

  /** infer_schema (duckdb_engine.py:66-86): (name, type, nullable). */
  def inferSchema(spark: SparkSession, path: String, format: String): Seq[(String, String, Boolean)] =
    Readers.inferSchema(spark, path, format)

  /** execute_sql (duckdb_engine.py:88-124): arbitrary SQL over named
    * source views; `{{name}}` placeholders are view references.
    */
  def executeSql(
      spark: SparkSession, sql: String,
      sources: Map[String, (String, String)] = Map.empty, // name -> (path, format)
      limit: Int = 1000): DataFrame = {
    sources.foreach { case (name, (path, format)) =>
      Readers.read(spark, path, format).createOrReplaceTempView(name)
    }
    val resolved = sources.keys.foldLeft(sql)((s, n) => s.replace(s"{{$n}}", n))
    spark.sql(resolved).limit(limit)
  }

  /** apply_transforms (duckdb_engine.py:126-165): the step pipeline
    * over a file, previewed. The whole chain is ONE lazy plan.
    */
  def applyTransforms(
      spark: SparkSession, path: String, format: String,
      steps: Seq[TransformStep]): DataFrame =
    TransformStep.applyAll(Readers.read(spark, path, format), steps)

  /** export_to_file (duckdb_engine.py:181-214): transforms + write. */
  def exportToFile(
      spark: SparkSession, inPath: String, inFormat: String,
      steps: Seq[TransformStep], outPath: String, outFormat: String = "csv"): String = {
    Writers.write(applyTransforms(spark, inPath, inFormat, steps), outPath, outFormat)
    outPath
  }

  /** data_quality_score (duckdb_engine.py:216-263): same result shape
    * {score, total_rows, column_count, details} from one exact profile:
    * 3 jobs past the schema read, 5 on csv (the reference: 2N queries).
    */
  final case class QualityReport(
      score: Double, totalRows: Long, columnCount: Int,
      details: Map[String, (Double, Double, Double)]) // null_rate, unique_ratio, score

  def dataQualityScore(spark: SparkSession, path: String, format: String): QualityReport = {
    val df = Readers.read(spark, path, format)
    val profile = Quality.profile(df).collect()
    if (profile.isEmpty || profile.head.getAs[Long]("total_rows") == 0L)
      return QualityReport(0.0, 0L, 0, Map.empty)
    val total = profile.head.getAs[Long]("total_rows")
    val details = profile.map { r =>
      val nullRate = r.getAs[Double]("null_rate")
      val uniqueRatio = r.getAs[Long]("distinct_count").toDouble / total
      r.getAs[String]("column_name") -> ((nullRate, uniqueRatio, r.getAs[Double]("score")))
    }.toMap
    QualityReport(
      details.values.map(_._3).sum / details.size, total, details.size, details)
  }
}
