package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Quality, TransformStep}
import graft.sources.Readers

/** DAG pipeline executor, re-expressed from the reference's
  * `PipelineExecutor` (executor/engine.py:21-353).
  *
  * The reference walks the DAG in topological order and MATERIALIZES A
  * CSV TEMP FILE between every node. Here a node's "output" is a lazy
  * DataFrame: the whole DAG folds into ONE Catalyst plan per sink, so
  * filters/projections flow across node boundaries, nothing is
  * serialized mid-pipeline, and a 10-node pipeline costs one job per
  * sink instead of 10 engine round-trips. Only sinks and validation
  * gates run actions — each wrapped in the reference's retry-with-
  * backoff policy (engine.py:84-96).
  */
object PipelineDag {

  final case class Node(id: String, op: NodeOp)
  final case class Edge(source: String, target: String)

  sealed trait NodeOp
  /** file_input / connector_input: any source → DataFrame. */
  final case class Source(read: SparkSession => DataFrame) extends NodeOp
  /** transform: the §2.1 step pipeline. */
  final case class Transform(steps: Seq[TransformStep]) extends NodeOp
  /** validation: quality gate — FAILS the run below minScore. */
  final case class Validation(minScore: Double) extends NodeOp
  /** conditional_branch: rows matching the predicate flow on. */
  final case class Conditional(predicate: String) extends NodeOp
  /** merge: UNION ALL by column name of every input. */
  case object Merge extends NodeOp
  /** split_json: parse a JSON string column into typed fields (DDL schema). */
  final case class SplitJson(column: String, ddl: String) extends NodeOp
  /** pdf_extract: extract text from a PDF binary column
    * ([[graft.functions.PdfText]]) into `outputCol`, other columns
    * untouched. Reference-declared node type (engine.py:26), stubbed
    * there — real here.
    */
  final case class PdfExtract(column: String, outputCol: String) extends NodeOp
  /** Generic one-input transform supplied as a function — the
    * extension point for nodes whose logic is not a TransformStep
    * chain (trained-model application like lang_id). */
  final case class MapNode(f: (SparkSession, DataFrame) => DataFrame)
      extends NodeOp
  /** Two-input transform `f(spark, primary, secondary)` — the
    * extension point for curation nodes whose semantics need a second
    * table (decontaminate against a benchmark, DSIR against a target
    * corpus, LM scoring against a reference train set). The secondary
    * input is the inbound edge whose SOURCE id equals `secondaryId`;
    * with an empty `secondaryId` the second inbound edge (document
    * order) is the secondary — naming beats ordering when both are
    * given, so an author re-ordering the edges array can't silently
    * swap corpus and benchmark.
    */
  final case class Map2Node(secondaryId: String,
      f: (SparkSession, DataFrame, DataFrame) => DataFrame) extends NodeOp
  /** invoke_http (engine.py:246-266): mid-DAG HTTP call whose RESPONSE
    * becomes the node's output for downstream nodes; the node's input
    * (if any) may feed the request body. Distinct from [[Sink]]-shaped
    * webhook_send, which passes its input through.
    */
  final case class HttpCall(call: (SparkSession, Option[DataFrame]) => DataFrame)
      extends NodeOp
  /** file_output / export / db_insert / webhook_send: any sink action.
    * `write` may return a status detail, surfaced in the node log as
    * "sink ok (detail)" — e.g. incremental_aggregate reporting its
    * batch was skipped as an already-committed duplicate, which would
    * otherwise be invisible to pipeline operators (r9 advice).
    */
  final case class Sink(write: DataFrame => Option[String]) extends NodeOp
  object Sink {
    /** The common status-less sink. */
    def unit(write: DataFrame => Unit): Sink = Sink(df => { write(df); None })
  }

  final case class RunResult(
      outputs: Map[String, DataFrame],
      nodeLog: Seq[(String, String)], // (nodeId, status message)
      // per-sink observed metrics (currently rows written), collected
      // FREE via Spark's Observation API during the sink's own action —
      // no extra counting job; the reference logs per-node row counts
      // by materializing between nodes, this keeps the lazy plan
      observed: Map[String, Map[String, Any]] = Map.empty)

  /** Retry with linear backoff — reference policy (engine.py:84-96):
    * attempt 1..max, sleep delay*attempt between failures. Only
    * `NonFatal` failures retry (the reference catches `Exception`): an
    * interrupt or a fatal VM error propagates on the first attempt.
    */
  def withRetries[A](maxRetries: Int = 3, delayMs: Long = 100)(body: => A): A = {
    // plain while loop — a `return` inside a foreach lambda would throw
    // NonLocalReturnControl and be swallowed by the catch below
    var last: Throwable = null
    var attempt = 1
    while (attempt <= maxRetries) {
      try return body
      catch {
        case scala.util.control.NonFatal(e) =>
          last = e
          if (attempt < maxRetries) Thread.sleep(delayMs * attempt)
      }
      attempt += 1
    }
    throw new IllegalStateException(
      s"Failed after $maxRetries attempts: ${last.getMessage}", last)
  }

  /** Kahn topological sort; throws on cycles or dangling edges. */
  def topoSort(nodes: Seq[Node], edges: Seq[Edge]): Seq[Node] = {
    val byId = nodes.map(n => n.id -> n).toMap
    edges.foreach { e =>
      require(byId.contains(e.source) && byId.contains(e.target),
        s"Edge ${e.source}->${e.target} references unknown node")
    }
    val inDeg = scala.collection.mutable.Map(nodes.map(_.id -> 0): _*)
    edges.foreach(e => inDeg(e.target) += 1)
    val queue = scala.collection.mutable.Queue(
      nodes.filter(n => inDeg(n.id) == 0).map(_.id): _*)
    val order = scala.collection.mutable.ArrayBuffer[Node]()
    while (queue.nonEmpty) {
      val id = queue.dequeue()
      order += byId(id)
      edges.filter(_.source == id).foreach { e =>
        inDeg(e.target) -= 1
        if (inDeg(e.target) == 0) queue.enqueue(e.target)
      }
    }
    require(order.size == nodes.size, "Pipeline graph has a cycle")
    order.toSeq
  }

  /** Execute the DAG. Pure transforms stay lazy; Validation and Sink
    * nodes run (retried) actions. Returns every node's DataFrame and a
    * per-node status log.
    */
  def execute(spark: SparkSession, nodes: Seq[Node], edges: Seq[Edge]): RunResult =
    executeCore(spark, nodes, edges, state = None, stageNodes = Set.empty)

  /** Durable-state execution for long pipelines: re-running the same
    * DAG with the same `stateDir` RESUMES instead of redoing.
    *
    * What the reference gets from materializing a temp file between
    * every node (executor/engine.py — each node writes CSV before the
    * next starts) is crash isolation: work before the failure isn't
    * lost. This executor keeps nodes lazy (one Catalyst plan per sink)
    * and moves the isolation into explicit, durable state instead:
    *
    *  - every completed Sink/Validation writes a marker under
    *    `stateDir/_done/` (the shared [[graft.streaming.Generations]]
    *    ledger); on re-run those actions are SKIPPED — a
    *    sink that already committed is never double-written (an
    *    external webhook/db/export must not fire twice);
    *  - node ids in `stageNodes` additionally persist their output to
    *    `stateDir/_stage/<id>` parquet; on re-run the stage is read
    *    back and the node's ENTIRE upstream subgraph is neither
    *    recomputed nor re-fired (mid-DAG HttpCall included).
    *
    * Execution is demand-driven: only ancestors of still-pending
    * effectful nodes run, and ancestor traversal stops at a valid
    * stage. State lives on whatever filesystem `stateDir` names
    * (HDFS/S3A/local via the Hadoop FS API) — on a cluster, durable
    * storage survives driver loss. The caller owns invalidation:
    * state is only meaningful while the DAG and its inputs are
    * unchanged (delete the dir to force a fresh run), matching the
    * contract of every file-based workflow checkpoint.
    */
  def executeResumable(
      spark: SparkSession, nodes: Seq[Node], edges: Seq[Edge],
      stateDir: String, stageNodes: Set[String] = Set.empty): RunResult =
    executeCore(spark, nodes, edges,
      state = Some(new RunState(spark, stateDir)), stageNodes = stageNodes)

  /** Durable run state: done-markers + parquet stages under one dir. */
  private final class RunState(spark: SparkSession, dir: String) {
    import org.apache.hadoop.fs.Path
    private val root = new Path(dir)
    private val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // ids are caller-chosen strings — encode so they can't escape the
    // state dir or collide ("a/b" vs "a%2Fb")
    private def enc(id: String) =
      java.net.URLEncoder.encode(id, "UTF-8")
    private val done = graft.streaming.Generations.runLedger(fs, root)
    def stagePath(id: String): String =
      new Path(root, s"_stage/${enc(id)}").toString
    def isDone(id: String): Boolean = done.contains(enc(id))
    def markDone(id: String): Unit = done.record(enc(id))
    /** A stage is valid only when its parquet commit finished —
      * `_SUCCESS` guards against a half-written stage from a crashed
      * run being read back as truth.
      */
    def hasStage(id: String): Boolean =
      fs.exists(new Path(stagePath(id) + "/_SUCCESS"))
    def writeStage(id: String, df: DataFrame): DataFrame = {
      df.write.mode("overwrite").parquet(stagePath(id))
      Readers.parquet(df.sparkSession, stagePath(id))
    }
    def readStage(id: String): DataFrame = Readers.parquet(spark, stagePath(id))
  }

  private def executeCore(
      spark: SparkSession, nodes: Seq[Node], edges: Seq[Edge],
      state: Option[RunState], stageNodes: Set[String]): RunResult = {
    val order = topoSort(nodes, edges)
    // demand-driven node set: ancestors of every still-pending
    // effectful node (Sink / Validation without a done-marker), with
    // traversal cut at valid stages — nothing upstream of a stage
    // needs to exist to serve its consumers
    val needed: Set[String] = state match {
      case None => order.map(_.id).toSet
      case Some(st) =>
        val parents = edges.groupBy(_.target).map { case (t, es) => t -> es.map(_.source) }
        val pending = order.collect {
          case Node(id, _: Sink) if !st.isDone(id) => id
          case Node(id, _: Validation) if !st.isDone(id) => id
          // HttpCall is effectful but marker-less (its RESULT is what
          // matters downstream, not a completion flag): without a
          // durable stage it must re-run on resume — otherwise a leaf
          // HttpCall that never executed before the crash would be
          // silently dropped. Staging it is the caller's way to say
          // "fired once is enough".
          case Node(id, _: HttpCall) if !st.hasStage(id) => id
        }
        val seen = scala.collection.mutable.Set[String]()
        def walk(id: String): Unit = if (seen.add(id)) {
          if (!st.hasStage(id)) // stage cuts the upstream walk
            parents.getOrElse(id, Nil).foreach(walk)
        }
        pending.foreach(walk)
        seen.toSet
    }

    val outputs = scala.collection.mutable.Map[String, DataFrame]()
    val log = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val observed = scala.collection.mutable.Map[String, Map[String, Any]]()

    order.foreach { node =>
      if (!needed.contains(node.id)) {
        state.foreach { st =>
          // not demanded this run — still expose a lazy view of any
          // stage so the caller's RunResult.outputs stays useful
          if (st.hasStage(node.id)) outputs(node.id) = st.readStage(node.id)
          if (st.isDone(node.id)) log += node.id -> "skipped (already done)"
        }
      } else if (state.exists(_.hasStage(node.id))) {
        outputs(node.id) = state.get.readStage(node.id)
        log += node.id -> "resumed from stage"
      } else {
      val inEdges = edges.filter(_.target == node.id)
      val inputs: Seq[DataFrame] = inEdges.map(e => outputs(e.source))
      def one: DataFrame = {
        require(inputs.nonEmpty, s"Node ${node.id} has no inputs")
        inputs.head
      }
      val out: DataFrame = node.op match {
        case Source(read) => read(spark)
        case Transform(steps) => TransformStep.applyAll(one, steps)
        case Validation(minScore) =>
          // a done-marked gate is an ancestor pass-through on resume:
          // it already passed, re-scoring would re-scan the data
          if (state.exists(_.isDone(node.id))) {
            log += node.id -> "validation skipped (already done)"
          } else {
            val score = withRetries()(Quality.validate(one, minScore))
            state.foreach(_.markDone(node.id))
            log += node.id -> f"quality $score%.1f >= $minScore%.1f"
          }
          one
        case Conditional(predicate) => one.filter(predicate)
        case Merge =>
          require(inputs.nonEmpty, s"Merge ${node.id} needs >=1 input")
          inputs.reduce(_ unionByName _)
        case SplitJson(column, ddl) =>
          one.withColumn("_parsed", from_json(col(column), ddl, Map.empty[String, String]))
            .select(col("*"), col("_parsed.*")).drop("_parsed", column)
        case MapNode(f) =>
          f(spark, one)
        case Map2Node(secondaryId, f) =>
          require(inEdges.length >= 2,
            s"Node ${node.id} needs two inputs (primary + secondary), " +
              s"got ${inEdges.length}")
          val secIdx =
            if (secondaryId.isEmpty) 1
            else inEdges.indexWhere(_.source == secondaryId)
          require(secIdx >= 0,
            s"Node ${node.id}: no inbound edge from '$secondaryId'")
          val primIdx = inEdges.indices.find(_ != secIdx).get
          f(spark, inputs(primIdx), inputs(secIdx))
        case PdfExtract(column, outputCol) =>
          // native expression (repo convention — RollingHash,
          // NfcNormalize): keeps the node inside whole-stage codegen,
          // no scala-udf plan node, other columns untouched
          one.withColumn(outputCol,
            graft.functions.PdfText.pdfText(col(column).cast("binary")))
        case HttpCall(call) =>
          // retry policy belongs to the node body: a GET is safely
          // re-sent, but a mutating POST whose response was lost may
          // already have committed server-side — blanket retries here
          // would silently duplicate the mutation (same reasoning as
          // Export.recordRpc's single-attempt default).
          val out = call(spark, inputs.headOption)
          log += node.id -> "http ok"
          out
        case Sink(write) =>
          // committed sinks NEVER re-fire on resume — an external
          // webhook/db/export write is not idempotent; the node still
          // passes its input through for downstream consumers
          if (state.exists(_.isDone(node.id))) {
            log += node.id -> "sink skipped (already done)"
          } else {
            // observe rides the sink's own action: rows counted as they
            // flow, zero extra jobs. Each retry attempt gets a fresh
            // Observation (one registration per dataset instance).
            var detail: Option[String] = None
            val rows = withRetries() {
              val obs = org.apache.spark.sql.Observation()
              detail = write(one.observe(obs, count(lit(1)).as("rows")))
              // bounded wait, then give up quietly (a sink that never
              // executed its input has no metric)
              graft.Conf.observed(obs).fold(Map.empty[String, Any])(row =>
                row.schema.fieldNames.zip(row.toSeq).toMap)
            }
            if (rows.nonEmpty) observed(node.id) = rows
            state.foreach(_.markDone(node.id))
            log += node.id ->
              detail.map(d => s"sink ok ($d)").getOrElse("sink ok")
          }
          one
      }
      val staged =
        if (state.isDefined && stageNodes.contains(node.id)) {
          log += node.id -> "staged"
          state.get.writeStage(node.id, out)
        } else out
      outputs(node.id) = staged
      if (!log.lastOption.exists(_._1 == node.id))
        log += node.id -> "ok"
      }
    }
    RunResult(outputs.toMap, log.toSeq, observed.toMap)
  }
}
