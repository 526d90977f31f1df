package perfbench

import org.apache.spark.sql.functions._
import graft.plans.{PipelineDag, PipelineJson}
import graft.plans.PipelineDag.{MapNode, Sink}

/** `llm_curation`: one op is one `PipelineJson.run` of the curation
  * pipeline file_input → exact_dedup → minhash_dedup → text_annotate →
  * gopher_filter → pii_redact → file_output over Zipf documents with a
  * seeded share of exact and near duplicates. */
final class LlmCuration(val ctx: Ctx) extends Workload {
  private val nDocs = 50000L
  private val warmDocs = 10000L
  private val exactShare = 0.08
  private val nearShare = 0.08
  private val gopherMinTokens = 20
  private val docs = new Gen.Docs(ctx.seed, 10, 100, exactShare, nearShare)
  private val in = ctx.path("docs.parquet")
  private val warmIn = ctx.path("warmup_docs.parquet")
  private var inputBytes = 0L

  def warmupOps: Int = 2
  def cycleSeconds: Double = 12.0

  def generate(ops: Int): Map[String, Any] = {
    Gen.docsFrame(spark, nDocs, docs).write.parquet(in)
    Gen.docsFrame(spark, warmDocs, new Gen.Docs(ctx.seed + 1, 10, 100, exactShare, nearShare))
      .write.parquet(warmIn)
    inputBytes = Gen.sizeOf(in)
    Map("rows" -> nDocs, "bytes" -> inputBytes, "exact_dup_share" -> exactShare,
      "near_dup_share" -> nearShare)
  }

  def outDir(i: Int): String = ctx.path(s"out/op-$i.parquet")

  val nodeTypes: Seq[(String, String)] = Seq(
    "exact_dedup" -> """"id_column":"doc_id","column":"text"""",
    "minhash_dedup" -> """"id_column":"doc_id","column":"text","threshold":0.7""",
    "text_annotate" -> """"column":"text","lang_column":"lang_pred","tokens_column":"n_tokens"""",
    "gopher_filter" -> s""""column":"text","min_tokens":$gopherMinTokens""",
    "pii_redact" -> """"column":"text"""")

  /** The warm-up op reads a smaller document set of its own. */
  def pipeline(out: String, in: String = in): String = {
    val ids = "in" +: nodeTypes.map(_._1) :+ "out"
    val nodes = (s"""{"id":"in","type":"file_input","data":{"config":{"path":"$in","format":"parquet"}}}""" +:
      nodeTypes.map { case (t, c) => s"""{"id":"$t","type":"$t","data":{"config":{$c}}}""" }) :+
      s"""{"id":"out","type":"file_output","data":{"config":{"path":"$out","format":"parquet"}}}"""
    val edges = ids.zip(ids.tail).map { case (s, t) => s"""{"source":"$s","target":"$t"}""" }
    s"""{"nodes":[${nodes.mkString(",")}],"edges":[${edges.mkString(",")}]}"""
  }

  /** Curation nodes and sinks wrapped in spans: node functions run
    * their eager probes when the DAG builds, sinks run the plan. */
  private def traced(nodes: Seq[PipelineDag.Node]): Seq[PipelineDag.Node] =
    if (!ctx.tracer.enabled) nodes
    else nodes.map {
      case PipelineDag.Node(id, MapNode(f)) =>
        PipelineDag.Node(id, MapNode((s, df) => ctx.span(s"plans.node.$id")(f(s, df))))
      case PipelineDag.Node(id, Sink(write)) =>
        PipelineDag.Node(id, Sink(df => ctx.span("plans.sink")(write(df))))
      case n => n
    }

  def op(i: Int): OpOut = {
    val input = if (i < warmupOps) warmIn else in
    val (nodes, edges) = ctx.span("plans.parse")(PipelineJson.parse(pipeline(outDir(i), input)))
    ctx.span("plans.execute")(PipelineDag.execute(spark, traced(nodes), edges))
    OpOut("pipeline", nDocs, inputBytes, outDir(i))
  }

  /** Kept ids from the generator's truth, node by node: exact copies
    * collapse to the smallest id per whitespace-normalized lowercase
    * text; near pairs the generator made, at exact word-3-shingle
    * Jaccard >= 0.7, collapse to their component's smallest id; the
    * Gopher rules are re-derived in plain Scala. */
  def expectedIds(): Set[Long] = {
    import spark.implicits._
    val truth = Gen.truthFrame(spark, nDocs, docs)
    val norm = regexp_replace(trim(lower(col("text"))), "\\s+", " ")
    val exactKept = truth.groupBy(norm.as("k")).agg(min(col("id")).as("id"))
      .select("id").as[Long].collect().toSet
    val texts = truth.select("id", "text", "kind", "src").as[Gen.DocTruth]
      .collect().filter(t => exactKept(t.id)).map(t => t.id -> t).toMap
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = parent.get(x) match {
      case Some(p) if p != x => val r = find(p); parent(x) = r; r
      case _ => x
    }
    texts.values.filter(_.kind == "near").foreach { t =>
      texts.get(t.src).filter(s => LlmCuration.jaccard3(s.text, t.text) >= 0.7).foreach { s =>
        val (a, b) = (find(s.id), find(t.id))
        if (a != b) { parent(math.max(a, b)) = math.min(a, b) }
      }
    }
    texts.values.filter(t => find(t.id) == t.id)
      .filter(t => LlmCuration.gopherPass(t.text, gopherMinTokens)).map(_.id).toSet
  }

  def check(ops: Seq[(Int, OpOut)]): Map[Int, String] = {
    import spark.implicits._
    val expected = expectedIds()
    ops.flatMap { case (i, o) =>
      val got = spark.read.parquet(o.result.asInstanceOf[String]).select("doc_id").as[Long].collect()
      if (got.length == expected.size && got.toSet == expected) None
      else Some(i -> (s"kept ${got.length} ids (${(got.toSet -- expected).size} unexpected), " +
        s"expected ${expected.size}"))
    }.toMap
  }

  /** Each curation node's function alone, materializing its output
    * (cached) from the previous node's cached output. */
  override def isolate(): Map[String, Double] = {
    val (nodes, _) = PipelineJson.parse(pipeline(ctx.path("out/isolate.parquet")))
    var input = spark.read.parquet(in).cache()
    input.count()
    val nodeMs = nodes.collect { case PipelineDag.Node(id, MapNode(f)) =>
      val (ms, next) = Workload.timed(ctx.span(s"operators.$id") {
        val next = f(spark, input).cache()
        next.count()
        next
      })
      input.unpersist(blocking = true)
      input = next
      s"operators.$id.ms" -> ms
    }.toMap
    input.unpersist(blocking = true)
    nodeMs
  }
}

object LlmCuration {
  private def shingles3(text: String): Set[String] = {
    val toks = text.trim.toLowerCase.split("\\s+")
    if (toks.length < 3) Set.empty
    else toks.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard3(a: String, b: String): Double = {
    val (x, y) = (shingles3(a), shingles3(b))
    val u = (x ++ y).size
    if (u == 0) 0.0 else (x intersect y).size.toDouble / u
  }

  /** Gopher rules (Rae et al. 2021) at the pipeline's settings: token
    * count, mean word length over the raw text, duplicate-word ratio. */
  def gopherPass(text: String, minTokens: Int): Boolean = {
    val trimmed = text.trim
    val toks = if (trimmed.isEmpty) Array.empty[String] else trimmed.split("\\s+")
    val n = toks.length
    val meanWlen = text.length.toDouble / math.max(n, 1)
    val lowered = trimmed.toLowerCase.split("\\s+")
    val dup = 1.0 - lowered.distinct.length.toDouble / math.max(lowered.length, 1)
    n >= minTokens && n <= 100000 && meanWlen >= 3.0 && meanWlen <= 10.0 && dup <= 0.6
  }
}
