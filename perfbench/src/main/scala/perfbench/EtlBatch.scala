package perfbench

import org.apache.spark.sql.SparkSession
import graft.operators.TransformStep
import graft.plans.{PipelineDag, PipelineJson}
import graft.plans.PipelineDag.{Sink, Transform}

/** `etl_batch`: one op is one `PipelineJson.run` of the star pipeline
  * ([[EtlBatch.pipeline]]) over a seeded lineitem/orders star of about a
  * million lineitem rows. */
final class EtlBatch(val ctx: Ctx) extends Workload {
  private val lineitemRows = 1200000L
  private val dupShare = 0.02
  private val li = ctx.path("lineitem.parquet")
  private val ord = ctx.path("orders.parquet")
  private var inputRows = 0L
  private var inputBytes = 0L

  def warmupOps: Int = 1
  def cycleSeconds: Double = 12.0

  def generate(ops: Int): Map[String, Any] = {
    Gen.lineitem(spark, lineitemRows, ctx.seed, dupShare).write.parquet(li)
    Gen.orders(spark, lineitemRows / 4, ctx.seed).write.parquet(ord)
    val liRows = spark.read.parquet(li).count()
    val ordRows = spark.read.parquet(ord).count()
    inputRows = liRows + ordRows
    inputBytes = Gen.sizeOf(li) + Gen.sizeOf(ord)
    Map("lineitem_rows" -> liRows, "orders_rows" -> ordRows, "rows" -> inputRows,
      "bytes" -> inputBytes, "dup_share" -> dupShare)
  }

  def outDir(i: Int): String = ctx.path(s"out/op-$i")

  def op(i: Int): OpOut = {
    EtlBatch.run(ctx, li, ord, outDir(i))
    OpOut("pipeline", inputRows, inputBytes, outDir(i))
  }

  def check(ops: Seq[(Int, OpOut)]): Map[Int, String] = {
    val want = EtlBatch.expected(spark, li, ord)
    ops.flatMap { case (i, o) =>
      EtlBatch.verify(spark, o.result.asInstanceOf[String], want).map(i -> _)
    }.toMap
  }

  /** Each transform node's step chain alone on its cached input,
    * drained to a noop sink. */
  override def isolate(): Map[String, Double] = {
    val (nodes, _) = PipelineJson.parse(EtlBatch.pipeline(li, ord, ctx.path("out/isolate")))
    val inputs = Map("li_t" -> li, "ord_t" -> ord)
    nodes.collect { case PipelineDag.Node(id, Transform(steps)) =>
      val in = spark.read.parquet(inputs(id)).cache()
      in.count()
      val ms = Workload.timeMs(3)(ctx.span(s"operators.TransformStep.$id") {
        Workload.drain(TransformStep.applyAll(in, steps))
      })
      in.unpersist(blocking = true)
      s"operators.TransformStep.$id.ms" -> ms
    }.toMap
  }
}

/** The star pipeline: the lineitem branch runs all 13 transform-step
  * operators (a `sql_transform` join against orders and an `aggregate`
  * among them), then validation and a conditional split; the orders
  * branch aggregates to the same shape; a merge of the three goes to a
  * parquet `file_output` and a csv `export`. */
object EtlBatch {
  def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def step(op: String, params: String) = s"""{"operator":"$op","params":{$params}}"""
  private def node(id: String, tpe: String, config: String) =
    s"""{"id":"$id","type":"$tpe","data":{"config":{$config}}}"""

  def lineitemSteps(ord: String): Seq[String] = Seq(
    step("rename_column", """"from_name":"l_extendedprice","to_name":"price""""),
    step("cast_type", """"column":"l_shipdate","target_type":"string""""),
    step("trim_whitespace", """"columns":["l_shipmode","l_comment"]"""),
    step("filter_rows", """"expression":"l_quantity >= 2""""),
    step("drop_nulls", """"columns":["l_orderkey","l_comment"]"""),
    step("deduplicate_rows", """"columns":["l_orderkey","l_linenumber"],"order_by":"l_partkey""""),
    step("replace_text", """"column":"l_shipmode","find":"REG AIR","replace":"AIR""""),
    step("regex_replace", """"column":"l_comment","pattern":"[0-9]+","replacement":"#""""),
    step("add_derived_column", """"name":"revenue","expression":"price * (1 - l_discount)""""),
    step("split_column",
      """"column":"l_shipdate","delimiter":"-","new_names":["ship_year","ship_month","ship_day"]"""),
    step("merge_columns",
      """"columns":["l_returnflag","l_linestatus"],"separator":"/","new_name":"flag_status""""),
    step("sql_transform", "\"sql\":" + q(
      "SELECT i.ship_year, i.l_shipmode, i.flag_status, i.revenue, i.l_quantity, " +
        s"o.o_orderpriority FROM {{input}} i JOIN parquet.`$ord` o " +
        "ON i.l_orderkey = o.o_orderkey")),
    step("aggregate", """"group_by":["ship_year","l_shipmode","o_orderpriority"],""" +
      """"aggregations":{"revenue":"sum","l_quantity":"sum","flag_status":"count"}"""))

  val orderSteps: Seq[String] = Seq(
    step("filter_rows", """"expression":"o_orderstatus <> 'P'""""),
    step("add_derived_column",
      """"name":"ship_year","expression":"substring(cast(o_orderdate as string), 1, 4)""""),
    step("add_derived_column", """"name":"l_shipmode","expression":"'ALL'""""),
    step("aggregate", """"group_by":["ship_year","l_shipmode","o_orderpriority"],""" +
      """"aggregations":{"o_totalprice":"sum","o_shippriority":"sum","o_orderkey":"count"}"""),
    step("rename_column", """"from_name":"o_totalprice_sum","to_name":"revenue_sum""""),
    step("rename_column", """"from_name":"o_shippriority_sum","to_name":"l_quantity_sum""""),
    step("rename_column", """"from_name":"o_orderkey_count","to_name":"flag_status_count""""))

  /** The pipeline document over the two inputs, writing under `out`. */
  def pipeline(li: String, ord: String, out: String): String = {
    val nodes = Seq(
      node("li", "file_input", s""""path":${q(li)},"format":"parquet""""),
      node("ord", "file_input", s""""path":${q(ord)},"format":"parquet""""),
      node("li_t", "transform", s""""steps":[${lineitemSteps(ord).mkString(",")}]"""),
      node("ord_t", "transform", s""""steps":[${orderSteps.mkString(",")}]"""),
      node("valid", "validation", """"min_score":50"""),
      node("big", "conditional_branch", """"expression":"revenue_sum >= 100000""""),
      node("small", "conditional_branch", """"expression":"NOT (revenue_sum >= 100000)""""),
      node("merged", "merge", ""),
      node("out", "file_output", s""""path":${q(out + "/agg.parquet")},"format":"parquet""""),
      node("export", "export", s""""path":${q(out + "/agg.csv")},"format":"csv""""))
    val edges = Seq("li" -> "li_t", "ord" -> "ord_t", "li_t" -> "valid", "valid" -> "big",
      "valid" -> "small", "big" -> "merged", "small" -> "merged", "ord_t" -> "merged",
      "merged" -> "out", "merged" -> "export")
      .map { case (s, t) => s"""{"source":"$s","target":"$t"}""" }
    s"""{"nodes":[${nodes.mkString(",")}],"edges":[${edges.mkString(",")}]}"""
  }

  /** Parse and execute the pipeline; sinks run in `plans.sink` spans
    * so sink time and jobs separate from the eager work `execute` does
    * before them. */
  def run(ctx: Ctx, li: String, ord: String, out: String): Unit = {
    val (nodes, edges) = ctx.span("plans.parse")(PipelineJson.parse(pipeline(li, ord, out)))
    val traced =
      if (!ctx.tracer.enabled) nodes
      else nodes.map {
        case PipelineDag.Node(id, Sink(write)) =>
          PipelineDag.Node(id, Sink(df => ctx.span("plans.sink")(write(df))))
        case n => n
      }
    ctx.span("plans.execute")(PipelineDag.execute(ctx.spark, traced, edges))
  }

  /** The whole DAG as one plain Spark SQL statement over the inputs. */
  def expectedSql(li: String, ord: String): String =
    s"""WITH l AS (
       |  SELECT l_orderkey, l_quantity, l_extendedprice * (1 - l_discount) AS revenue,
       |    split(cast(l_shipdate AS string), '-')[0] AS ship_year,
       |    replace(trim(l_shipmode), 'REG AIR', 'AIR') AS l_shipmode,
       |    concat(coalesce(l_returnflag, ''), '/', coalesce(l_linestatus, '')) AS flag_status,
       |    row_number() OVER (PARTITION BY l_orderkey, l_linenumber ORDER BY l_partkey) AS rn
       |  FROM parquet.`$li`
       |  WHERE l_quantity >= 2 AND l_orderkey IS NOT NULL AND l_comment IS NOT NULL)
       |SELECT l.ship_year, l.l_shipmode, o.o_orderpriority,
       |  sum(l.revenue) AS revenue_sum, sum(l.l_quantity) AS l_quantity_sum,
       |  count(l.flag_status) AS flag_status_count
       |FROM l JOIN parquet.`$ord` o ON l.l_orderkey = o.o_orderkey
       |WHERE l.rn = 1
       |GROUP BY l.ship_year, l.l_shipmode, o.o_orderpriority
       |UNION ALL
       |SELECT substring(cast(o_orderdate AS string), 1, 4), 'ALL', o_orderpriority,
       |  sum(o_totalprice), sum(o_shippriority), count(o_orderkey)
       |FROM parquet.`$ord` WHERE o_orderstatus <> 'P'
       |GROUP BY 1, 2, 3""".stripMargin



  /** Row count and content hash of the expected result. */
  def expected(spark: SparkSession, li: String, ord: String): (Long, BigDecimal) =
    Workload.contentHash(spark.sql(expectedSql(li, ord)))

  /** Failure reason, if the outputs under `out` differ from `want`. */
  def verify(spark: SparkSession, out: String, want: (Long, BigDecimal)): Option[String] = {
    val got = Workload.contentHash(spark.read.parquet(out + "/agg.parquet"))
    val csvRows = spark.read.option("header", "true").csv(out + "/agg.csv").count()
    if (got != want) Some(s"parquet output (rows, hash) $got != expected $want")
    else if (csvRows != want._1) Some(s"csv export has $csvRows rows, expected ${want._1}")
    else None
  }
}
