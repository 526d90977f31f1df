package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}
import graft.Engine
import graft.operators.TransformStep._

/** `interactive`: one op is one analyst request. The kinds are the
  * six `Engine` calls, the facade of the reference's `DuckDBEngine`
  * service, over small parquet, csv and json files, plus an ingest:
  * one [[IncrementalIngest]] append and query of a small document
  * batch, with compaction every fourth ingest. Every cycle of requests
  * holds each kind once, in a seeded order, and a run measures whole
  * cycles, so the mix is the same for every seed. The equal weights
  * are an assumption: the reference records no request mix. */
final class Interactive(val ctx: Ctx) extends Workload {
  private val li = ctx.path("lineitem.parquet")
  private val ord = ctx.path("orders.csv")
  private val ordJson = ctx.path("orders.json")
  private val previewRows = 100
  private var files = Map.empty[String, (Long, Long)] // path -> (rows, bytes)
  private val ingest = new IncrementalIngest(ctx.copy(dir = ctx.path("ingest")),
    batchDocs = 1000, compactEvery = 4)

  def warmupOps: Int = 2 * Interactive.kinds.length
  override def cycle: Int = Interactive.kinds.length
  def cycleSeconds: Double = 6.0

  def generate(ops: Int): Map[String, Any] = {
    val (liRows, ordRows, jsonRows) = (80000L, 30000L, 20000L)
    Gen.lineitem(spark, liRows, ctx.seed, 0.0).write.parquet(li)
    Gen.orders(spark, ordRows, ctx.seed).coalesce(1).write.option("header", "true").csv(ord)
    Gen.orders(spark, jsonRows, ctx.seed).coalesce(1).write.json(ordJson)
    files = Map(li -> liRows, ord -> ordRows, ordJson -> jsonRows)
      .map { case (p, n) => p -> (n, Gen.sizeOf(p)) }
    Map("rows" -> files.values.map(_._1).sum, "bytes" -> files.values.map(_._2).sum,
      "files" -> files.map { case (p, (n, b)) =>
        new java.io.File(p).getName -> Map("rows" -> n, "bytes" -> b) },
      "ingest" -> ingest.generate((ops + cycle - 1) / cycle))
  }

  /** Request kind of op i: a seeded permutation of the kinds per cycle. */
  def kindOf(i: Int): String = {
    val k = Interactive.kinds.length
    val perm = Gen.rng(ctx.seed, i / k).shuffle(Interactive.kinds)
    perm(i % k)
  }

  private val transformSteps = Seq(
    FilterRows("l_quantity > 10"),
    AddDerivedColumn("revenue", "l_extendedprice * (1 - l_discount)"),
    TrimWhitespace(Seq("l_shipmode")),
    RenameColumn("l_comment", "comment"))

  private val sqlParquet = "SELECT l_shipmode, l_returnflag, count(*) AS n, " +
    "sum(l_quantity) AS qty FROM {{l}} WHERE l_discount >= 0.05 " +
    "GROUP BY l_shipmode, l_returnflag ORDER BY l_shipmode, l_returnflag"

  def exportPath(i: Int): String = ctx.path(s"out/export-$i.csv")

  def op(i: Int): OpOut = {
    val kind = kindOf(i)
    def out(path: String, r: Any) = OpOut(kind, files(path)._1, files(path)._2, r)
    def call[A](name: String)(body: => A): A = ctx.span(s"engine.$name")(body)
    kind match {
      case "preview_parquet" => out(li, call("previewFile")(Engine.previewFile(
        spark, li, "parquet", previewRows, Seq("l_orderkey", "l_linenumber"))))
      case "preview_csv" => out(ord, call("previewFile")(Engine.previewFile(
        spark, ord, "csv", previewRows, Seq("o_orderkey"))))
      case "schema_parquet" => out(li, call("inferSchema")(Engine.inferSchema(spark, li, "parquet")))
      case "schema_csv" => out(ord, call("inferSchema")(Engine.inferSchema(spark, ord, "csv")))
      case "preview_json" => out(ordJson, call("previewFile")(Engine.previewFile(
        spark, ordJson, "json", previewRows, Seq("o_orderkey"))))
      case "schema_json" => out(ordJson, call("inferSchema")(Engine.inferSchema(spark, ordJson, "json")))
      case "sql_parquet" => out(li, call("executeSql")(
        Engine.executeSql(spark, sqlParquet, Map("l" -> (li, "parquet"))).collect().toSeq))
      case "transforms" => out(li, call("applyTransforms")(
        Engine.applyTransforms(spark, li, "parquet", transformSteps)
          .orderBy("l_orderkey", "l_linenumber").limit(previewRows).collect().toSeq))
      case "quality_csv" => out(ord, call("dataQualityScore")(Engine.dataQualityScore(spark, ord, "csv")))
      case "export" => out(ord, call("exportToFile")(Engine.exportToFile(spark, ord, "csv",
        Seq(FilterRows("o_orderpriority = '1-URGENT'")), exportPath(i), "csv")))
      case "ingest" => ingest.op(i / cycle).copy(kind = kind)
    }
  }

  private def csv: DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(ord)

  private def qualityScore(df: DataFrame): (Double, Long) = {
    val total = df.count()
    val counts = df.agg(count(lit(1)), df.columns.map(c => count(col(s"`$c`"))): _*).head()
    val scores = df.columns.indices.map(j => (1.0 - (total - counts.getLong(j + 1)).toDouble / total) * 100)
    (scores.sum / scores.size, total)
  }

  /** Expected result per request kind, each from a plain read of the
    * file and the DataFrame API rather than the `Engine` entry point. */
  private lazy val expected: Map[String, Any] = {
    def preview(df: DataFrame, order: Seq[String]) =
      (df.columns.toSeq, df.orderBy(order.map(col): _*).limit(previewRows).collect().toSeq, df.count())
    val written = Gen.lineitem(spark, 1, ctx.seed, 0.0).schema
    // json inference: fields by name; whole numbers as bigint, other
    // numbers as double, everything else (dates too) as string
    val jsonSchema = Gen.orders(spark, 1, ctx.seed).schema.fields.toSeq.sortBy(_.name).map { f =>
      f.name -> (f.dataType match {
        case IntegerType | LongType => "BIGINT"
        case _: DecimalType | DoubleType => "DOUBLE"
        case _ => "STRING"
      })
    }
    Map(
      "preview_parquet" -> preview(spark.read.parquet(li), Seq("l_orderkey", "l_linenumber")),
      "preview_csv" -> preview(csv, Seq("o_orderkey")),
      "schema_parquet" -> written.fields.toSeq.map(f => (f.name, f.dataType.sql)),
      "schema_csv" -> Gen.orders(spark, 1, ctx.seed).columns.toSeq,
      "preview_json" -> preview(spark.read.json(ordJson), Seq("o_orderkey")),
      "schema_json" -> jsonSchema,
      "sql_parquet" -> spark.read.parquet(li).filter(col("l_discount") >= 0.05)
        .groupBy("l_shipmode", "l_returnflag")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"))
        .orderBy("l_shipmode", "l_returnflag").collect().toSeq,
      "transforms" -> spark.read.parquet(li).filter(col("l_quantity") > 10)
        .withColumn("revenue", col("l_extendedprice") * (lit(1) - col("l_discount")))
        .withColumn("l_shipmode", trim(col("l_shipmode")))
        .withColumnRenamed("l_comment", "comment")
        .orderBy("l_orderkey", "l_linenumber").limit(previewRows).collect().toSeq,
      "quality_csv" -> qualityScore(csv),
      "export" -> csv.filter(col("o_orderpriority") === "1-URGENT").count())
  }

  def check(ops: Seq[(Int, OpOut)]): Map[Int, String] = {
    val (ingests, requests) = ops.partition(_._2.kind == "ingest")
    ingest.check(ingests.map { case (i, o) => i / cycle -> o })
      .map { case (k, m) => ingests.find(_._1 / cycle == k).get._1 -> m } ++
      checkRequests(requests)
  }

  private def checkRequests(ops: Seq[(Int, OpOut)]): Map[Int, String] = ops.flatMap { case (i, o) =>
    val want = expected(o.kind)
    val ok = (o.kind, o.result) match {
      case (_, p: Engine.Preview) =>
        val (cols, rows, total) = want.asInstanceOf[(Seq[String], Seq[Row], Long)]
        p.columns == cols && Workload.rowsEqual(p.rows, rows) && p.totalCount == total
      case ("schema_parquet" | "schema_json", s: Seq[_]) =>
        s.asInstanceOf[Seq[(String, String, Boolean)]].map(f => (f._1, f._2)) == want
      case ("schema_csv", s: Seq[_]) =>
        s.asInstanceOf[Seq[(String, String, Boolean)]].map(_._1) == want
      case (_, q: Engine.QualityReport) =>
        val (score, total) = want.asInstanceOf[(Double, Long)]
        math.abs(q.score - score) < 1e-9 && q.totalRows == total
      case ("export", path: String) =>
        spark.read.option("header", "true").csv(path).count() == want
      case (_, rows: Seq[_]) =>
        Workload.rowsEqual(rows.asInstanceOf[Seq[Row]], want.asInstanceOf[Seq[Row]])
      case _ => false
    }
    if (ok) None else Some(i -> s"${o.kind} result differs from the direct formulation")
  }.toMap
}

object Interactive {
  val kinds: Seq[String] = Seq("preview_parquet", "preview_csv", "preview_json",
    "schema_parquet", "schema_csv", "schema_json", "sql_parquet", "transforms", "quality_csv",
    "export", "ingest")
}
