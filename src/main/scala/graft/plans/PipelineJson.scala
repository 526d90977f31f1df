package graft.plans

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import graft.operators.TransformStep
import graft.operators.TransformStep._
import graft.plans.PipelineDag._
import graft.sources.{Readers, Writers}

/** Parser for the reference platform's pipeline-definition JSON
  * (models/pipeline.py `definition_json`, executed by
  * executor/engine.py): `{"nodes": [{"id", "type",
  * "data": {"config": {...}}}], "edges": [{"source", "target"}]}`.
  *
  * A pipeline authored in the reference UI runs on this engine
  * unchanged — node types and transform-step operator names map 1:1
  * onto [[PipelineDag]] / [[TransformStep]]. File references use
  * `path`+`format` config keys (the reference resolves opaque MinIO
  * file_ids through its control-plane DB; a path is the engine-level
  * equivalent).
  */
object PipelineJson {

  private val mapper = new ObjectMapper()

  /** mysql/jdbc connector_input config → (url, props, query) —
    * jdbc_url taken verbatim, or assembled from the reference
    * MySQLConnector's config keys (builtin.py:138-144:
    * host/port/user/password/database) with the query taken from
    * read_params.query (engine.py:198 read_data(**config
    * ["read_params"])). An ASSEMBLED url gets
    * `zeroDateTimeBehavior=convertToNull`: MySQL zero dates
    * ('0000-00-00') otherwise throw mid-read through Connector/J,
    * while the reference's DuckDB mysql scanner reads them as NULL —
    * this pins the same semantics (r13 MySQL-dialect depth item). An
    * EXPLICIT jdbc_url is never rewritten — the caller owns its
    * options. Spark resolves `jdbc:mysql:` URLs to its MySQLDialect;
    * the resulting type mappings (TINYINT(1), unsigned widening,
    * DATETIME) are pinned in MySqlDialectSpec.
    */
  private[graft] def mysqlConnectorConfig(
      config: JsonNode): (String, Map[String, String], String) = {
    val props = new scala.collection.mutable.HashMap[String, String]()
    val url = config.path("jdbc_url").asText("") match {
      case "" =>
        val host = config.path("host").asText("localhost")
        val port = config.path("port").asInt(3306)
        val database = config.path("database").asText("")
        if (config.has("user")) props += "user" -> config.path("user").asText
        if (config.has("password")) props += "password" -> config.path("password").asText
        s"jdbc:mysql://$host:$port/$database?zeroDateTimeBehavior=convertToNull"
      case u => u
    }
    val query = config.path("query").asText("") match {
      case "" => config.path("read_params").path("query").asText("")
      case q => q
    }
    require(query.nonEmpty,
      "mysql connector_input requires a query (config.query or read_params.query)")
    (url, props.toMap, query)
  }

  def parse(json: String): (Seq[Node], Seq[Edge]) = {
    val root = mapper.readTree(json)
    // accept BOTH the raw definition_json ({"nodes", "edges"}) and the
    // export-document wrapper pipeline_service.export_json emits
    // (pipeline_service.py:117 — {"id", "name", "description",
    // "version", "definition": {...}, "tags"}): a file a user saved
    // from the reference's export endpoint runs here unchanged.
    val defn = if (root.has("definition")) root.path("definition") else root
    val nodes = defn.path("nodes").elements.asScala.map(parseNode).toSeq
    val edges = defn.path("edges").elements.asScala.map { e =>
      Edge(e.path("source").asText, e.path("target").asText)
    }.toSeq
    (nodes, edges)
  }

  /** Metadata carried by a pipeline_service.export_json document.
    * `version` defaults to 1 and `tags` to empty, matching the
    * reference's model defaults (models/pipeline.py).
    */
  final case class ExportMeta(
      id: Long, name: String, description: String, version: Int,
      tags: Seq[String])

  /** Parse an export document's metadata envelope (None when the JSON
    * is a bare definition with no wrapper).
    */
  def exportMeta(json: String): Option[ExportMeta] = {
    val root = mapper.readTree(json)
    if (!root.has("definition")) None
    else Some(ExportMeta(
      root.path("id").asLong, root.path("name").asText,
      root.path("description").asText,
      if (root.has("version")) root.path("version").asInt else 1,
      strSeq(root.path("tags"))))
  }

  /** Parse + execute in one call (the reference's `execute(run_id)`). */
  def run(spark: SparkSession, json: String): RunResult = {
    val (nodes, edges) = parse(json)
    PipelineDag.execute(spark, nodes, edges)
  }

  /** Parse + resumable execute ([[PipelineDag.executeResumable]]):
    * re-running the same document with the same `stateDir` resumes
    * after a mid-run failure — committed sinks are skipped, node ids
    * in `stageNodes` restart from their durable parquet stage.
    */
  def runResumable(
      spark: SparkSession, json: String,
      stateDir: String, stageNodes: Set[String] = Set.empty): RunResult = {
    val (nodes, edges) = parse(json)
    PipelineDag.executeResumable(spark, nodes, edges, stateDir, stageNodes)
  }

  private def strSeq(n: JsonNode): Seq[String] =
    n.elements.asScala.map(_.asText).toSeq

  private def parseNode(n: JsonNode): Node = {
    val id = n.path("id").asText
    val config = n.path("data").path("config")
    val op: NodeOp = n.path("type").asText match {
      case "file_input" =>
        val path = config.path("path").asText
        val format =
          if (config.has("format")) config.path("format").asText
          else Readers.detectFormat(path)
        Source(sp => Readers.read(sp, path, format))
      case "connector_input" =>
        // connectors/builtin.py: dispatch on connector_type, falling
        // back to the reference engine's own config key — engine.py:196
        // reads config.get("type", "csv") — so a reference-authored
        // pipeline ({"type": "http", ...}) dispatches identically. http
        // carries method/headers/body/auth (a POST "query an API" read
        // works); mysql maps onto the JDBC connector; csv/json are the
        // file shape.
        val connectorType = config.path("connector_type").asText("") match {
          case "" => config.path("type").asText("")
          case ct => ct
        }
        connectorType match {
          case "http" => Source(httpConnector(config).read(_))
          case "mysql" | "jdbc" =>
            val (url, props, query) = mysqlConnectorConfig(config)
            Source(sp => graft.sources.Connectors
              .JdbcConnector(url, query, props).read(sp))
          case "" | "csv" | "json" =>
            val path = config.path("path").asText
            val format =
              if (config.has("format")) config.path("format").asText
              else Readers.detectFormat(path)
            Source(sp => Readers.read(sp, path, format))
          case other =>
            throw new IllegalArgumentException(s"Unknown connector_type: $other")
        }
      case "transform" =>
        Transform(config.path("steps").elements.asScala.map(parseStep).toSeq)
      case "validation" =>
        Validation(if (config.has("min_score")) config.path("min_score").asDouble else 50.0)
      case "conditional_branch" =>
        Conditional(config.path("expression").asText)
      case "merge" => Merge
      case "split_json" =>
        SplitJson(config.path("column").asText, config.path("schema").asText)
      case "file_output" => fileSink(config)
      case "export" =>
        // engine.py:280-283: export dispatches on adapter_type
        // (webhook | odoo_xmlrpc, export_adapters/builtin.py) and
        // raises on an unknown adapter like get_export_adapter; a
        // config with no adapter_type but a path is the file-export
        // shape (duckdb_engine.py export_to_file).
        config.path("adapter_type").asText("") match {
          case "odoo_xmlrpc" =>
            val url = config.path("url").asText
            val db = config.path("db").asText
            val user = config.path("username").asText
            val password = config.path("password").asText
            val model = config.path("model").asText
            val method = config.path("method").asText("create")
            Sink.unit(df => graft.sources.Export.recordRpc(
              df, graft.sources.Export.XmlRpcClient(url),
              db, user, password, model, method))
          case "webhook" => webhookSink(config)
          case "" if config.has("path") => fileSink(config)
          case "" if config.has("url") => webhookSink(config) // reference default adapter
          case "" =>
            throw new IllegalArgumentException(
              "export node needs an adapter_type, a path (file export) or a url (webhook)")
          case other =>
            throw new IllegalArgumentException(s"Unknown export adapter: $other")
        }
      case "webhook_send" =>
        // engine.py:267-272: POST the node's input onward; the input
        // passes through downstream. Executor-side batched JSON
        // (Export), not a driver-side dump.
        webhookSink(config)
      case "invoke_http" =>
        // engine.py:246-266: the HTTP RESPONSE becomes the node's
        // output that downstream nodes consume ("call API → transform
        // response"). With an upstream input and a POST/PUT method,
        // the input rows become the request body (the reference sends
        // the input file's CSV content). The request is a bounded
        // driver-side API call — for bulk data export use
        // webhook_send, which batches from the executors.
        val url = config.path("url").asText
        require(url.nonEmpty, "invoke_http node requires a url")
        val method = config.path("method").asText("GET").toUpperCase
        val configBody =
          if (config.has("body")) Some(config.path("body").asText) else None
        val headers = parseHeaders(config)
        // idempotent methods get the reference's retry-with-backoff;
        // mutating ones get exactly one attempt (a lost RESPONSE after
        // a server-side commit would otherwise duplicate the mutation)
        val retries = if (method == "GET" || method == "HEAD") 3 else 1
        // the body is a DRIVER-SIDE materialization — unbounded input
        // (a fact table mis-wired into invoke_http) would OOM the
        // driver, so the collect is capped and raises with the node id.
        // Validated at PARSE time: Jackson's asLong returns 0 for a
        // non-numeric value, which would reject every nonempty body
        // with a misleading "cap exceeded" error at run time.
        val maxBodyRows =
          if (!config.has("max_body_rows")) 100000L
          else {
            val n = config.path("max_body_rows")
            require(n.canConvertToLong && n.asLong > 0,
              s"invoke_http node '$id': max_body_rows must be a positive " +
                s"integer, got ${n.toString}")
            n.asLong
          }
        HttpCall { (sp, input) =>
          val body = input match {
            case Some(df) if method == "POST" || method == "PUT" =>
              Some(toCsvString(df, maxBodyRows, id))
            case _ => configBody
          }
          PipelineDag.withRetries(retries) {
            graft.sources.Connectors.HttpConnector(
              url, method = method, headers = headers, body = body).read(sp)
          }
        }
      case "db_insert" =>
        // engine.py:260-266: distributed JDBC append.
        val url = config.path("jdbc_url").asText
        val table = config.path("table_name").asText
        Sink.unit { df =>
          val props = new java.util.Properties()
          if (config.has("user")) props.put("user", config.path("user").asText)
          if (config.has("password")) props.put("password", config.path("password").asText)
          Writers.jdbcInsert(df, url, table, props)
        }
      case "lang_id_train" =>
        // beyond-reference node: fit the trained char-n-gram language
        // classifier (operators.LangId) on this run's labeled input
        // and persist it as a path-addressed artifact; sink-shaped —
        // rows pass through, the node log reports the model size
        val labelCol = config.path("label_column").asText("")
        val trainText = config.path("column").asText("text")
        val trainPath = config.path("model_path").asText("")
        require(labelCol.nonEmpty,
          s"lang_id_train node '$id' requires 'label_column'")
        require(trainPath.nonEmpty,
          s"lang_id_train node '$id' requires 'model_path'")
        val buckets = config.path("buckets").asInt(4096)
        Sink { df =>
          val m = graft.operators.LangId.fit(df, labelCol, trainText, buckets)
          graft.operators.LangId.save(df.sparkSession, m, trainPath)
          Some(s"trained ${m.langs.length}-language model -> $trainPath")
        }
      case "lang_id" =>
        // apply a trained model: one codegen'd in-row pass, model
        // loaded once per run and shipped with the plan. Optional
        // "und_margin" (per-gram top-2 log-posterior margin, r11)
        // routes low-evidence docs to "und" instead of force-assigning
        // them to whichever trained language scores highest.
        val textCol = config.path("column").asText("text")
        val outCol = config.path("output_column").asText("lang_pred")
        val modelPath = config.path("model_path").asText("")
        val undMargin = config.path("und_margin").asDouble(0.0)
        require(modelPath.nonEmpty, s"lang_id node '$id' requires 'model_path'")
        require(undMargin >= 0.0,
          s"lang_id node '$id': und_margin must be >= 0, got $undMargin")
        MapNode { (s, df) =>
          val m = graft.operators.LangId.load(s, modelPath)
          df.withColumn(outCol,
            graft.operators.LangId.langIdModel(
              org.apache.spark.sql.functions.col(textCol), m, undMargin))
        }
      case "quality_train" =>
        // beyond-reference node: fit the model-based quality filter
        // (operators.QualityClassifier). With "label_column" the input
        // carries exemplar hq/lq labels (the CCNet configuration);
        // without it the classifier selfTrains on the heuristic's
        // confident extreme quantiles. Sink-shaped like lang_id_train.
        val qTextCol = config.path("column").asText("text")
        val qPath = config.path("model_path").asText("")
        require(qPath.nonEmpty,
          s"quality_train node '$id' requires 'model_path'")
        val qBuckets = config.path("buckets").asInt(4096)
        val qLabel = config.path("label_column").asText("")
        val loQ = config.path("lo_quantile").asDouble(0.25)
        val hiQ = config.path("hi_quantile").asDouble(0.75)
        Sink { df =>
          val m =
            if (qLabel.nonEmpty)
              graft.operators.QualityClassifier.fitLabeled(df, qLabel, qTextCol, qBuckets)
            else
              graft.operators.QualityClassifier.selfTrain(df, qTextCol, loQ, hiQ, qBuckets)
          graft.operators.LangId.save(df.sparkSession, m, qPath)
          val how = if (qLabel.nonEmpty) "exemplar-labeled" else "self-trained"
          Some(s"$how quality model -> $qPath")
        }
      case "quality_label" =>
        // apply a trained quality model as a label column — the
        // audit/routing shape (keep the label, decide downstream)
        val qlText = config.path("column").asText("text")
        val qlOut = config.path("output_column").asText("quality_pred")
        val qlPath = config.path("model_path").asText("")
        val qlMargin = config.path("und_margin").asDouble(0.0)
        require(qlPath.nonEmpty, s"quality_label node '$id' requires 'model_path'")
        require(qlMargin >= 0.0,
          s"quality_label node '$id': und_margin must be >= 0, got $qlMargin")
        MapNode { (s, df) =>
          val m = graft.operators.LangId.load(s, qlPath)
          df.withColumn(qlOut,
            graft.operators.QualityClassifier.qualityLabel(
              org.apache.spark.sql.functions.col(qlText), m, qlMargin))
        }
      case "quality_filter" =>
        // apply a trained quality model as a FILTER — the pipeline
        // gate shape; "keep_und" keeps low-evidence docs (dropping is
        // the irreversible action)
        val qfText = config.path("column").asText("text")
        val qfPath = config.path("model_path").asText("")
        val qfMargin = config.path("und_margin").asDouble(0.0)
        val keepUnd = config.path("keep_und").asBoolean(false)
        require(qfPath.nonEmpty, s"quality_filter node '$id' requires 'model_path'")
        require(qfMargin >= 0.0,
          s"quality_filter node '$id': und_margin must be >= 0, got $qfMargin")
        MapNode { (s, df) =>
          val m = graft.operators.LangId.load(s, qfPath)
          graft.operators.QualityClassifier.filterHq(df, qfText, m, qfMargin, keepUnd)
        }
      case "incremental_result" =>
        // read twin of incremental_aggregate: the running aggregate
        // served from partial state alone — a dashboard/export
        // pipeline never touches the corpus
        val statePath = config.path("state_path").asText("")
        require(statePath.nonEmpty,
          s"incremental_result node '$id' requires 'state_path'")
        Source(s => graft.operators.IncrementalAgg.result(s, statePath))
      case "incremental_aggregate" =>
        // beyond-reference node: fold this run's input batch into
        // durable partial-aggregate state (operators.IncrementalAgg) —
        // the lake-scale replacement for re-running a full `aggregate`
        // transform per pipeline execution. Sink-shaped: the fold is
        // the write action, rows pass through downstream. batch_id is
        // the idempotency key: a re-run of the same pipeline+batch is
        // a marker-detected no-op, never a double count.
        val statePath = config.path("state_path").asText("")
        require(statePath.nonEmpty,
          s"incremental_aggregate node '$id' requires 'state_path'")
        val batchId = config.path("batch_id").asText("")
        require(batchId.nonEmpty,
          s"incremental_aggregate node '$id' requires 'batch_id' " +
            "(the idempotency key for re-runs)")
        val groupBy = strSeq(config.path("group_by"))
        val metricsNode = config.path("metrics")
        require(metricsNode.isArray && metricsNode.size() > 0,
          s"incremental_aggregate node '$id' requires a 'metrics' array")
        val metrics: Seq[graft.operators.IncrementalAgg.Metric] =
          (0 until metricsNode.size()).map { i =>
            val m = metricsNode.get(i)
            val colName = m.path("column").asText("")
            val as = m.path("as").asText("")
            require(as.nonEmpty,
              s"incremental_aggregate node '$id': metric $i needs 'as'")
            m.path("kind").asText("") match {
              case "count" => graft.operators.IncrementalAgg.Count(as)
              case "sum" => graft.operators.IncrementalAgg.Sum(colName, as)
              case "min" => graft.operators.IncrementalAgg.Min(colName, as)
              case "max" => graft.operators.IncrementalAgg.Max(colName, as)
              case "avg" => graft.operators.IncrementalAgg.Avg(colName, as)
              case "approx_distinct" =>
                graft.operators.IncrementalAgg.ApproxDistinct(colName, as)
              case "approx_quantile" =>
                require(m.has("q"),
                  s"incremental_aggregate node '$id': approx_quantile " +
                    s"metric $i needs 'q' in [0, 1]")
                graft.operators.IncrementalAgg.ApproxQuantile(
                  colName, m.path("q").asDouble, as)
              case "frequent_items" =>
                graft.operators.IncrementalAgg.FrequentItems(
                  colName, m.path("limit").asInt(10), as)
              case other => throw new IllegalArgumentException(
                s"incremental_aggregate node '$id': unknown metric kind " +
                  s"'$other' (count/sum/min/max/avg/approx_distinct/" +
                  "approx_quantile/frequent_items)")
            }
          }
        Sink { df =>
          val folded = graft.operators.IncrementalAgg.fold(
            df, groupBy, metrics, statePath, batchId)
          // surface a skipped fold: a re-run with a STALE batch_id but
          // NEW input data silently no-ops otherwise (r9 advice) — the
          // node log names the remedy
          if (folded) None
          else Some(s"batch '$batchId' already committed - fold " +
            "skipped; bump batch_id to fold new data")
        }
      case "pdf_extract" =>
        // declared in the reference's node-type list (engine.py:26)
        // but stubbed to pass-through there (engine.py:178); real
        // here: PdfText over a binary column (default "content", the
        // payload column of Spark's binaryFile source).
        PdfExtract(
          config.path("column").asText("content"),
          config.path("output_column").asText("text"))
      case "email_notify" =>
        // declared in the reference's node-type list (engine.py:25)
        // but stubbed to pass-through there (engine.py:178); real
        // here: a bounded preview of the node's input goes out over
        // JDK SMTP, and the rows pass through downstream (Sink
        // semantics). The preview collect is limit-bounded — never a
        // corpus-sized driver materialization.
        val host = config.path("host").asText("localhost")
        val port = config.path("port").asInt(25)
        val from = config.path("from").asText("graft@localhost")
        val to =
          if (config.path("to").isArray) strSeq(config.path("to"))
          else config.path("to").asText("") match {
            case "" => Seq.empty
            case one => Seq(one)
          }
        require(to.nonEmpty, s"email_notify node '$id' requires 'to'")
        val subject = config.path("subject").asText("Pipeline notification")
        val bodyText = config.path("body").asText("")
        val previewRows = config.path("preview_rows").asInt(10)
        require(previewRows >= 0,
          s"email_notify node '$id': preview_rows must be >= 0, got $previewRows")
        Sink.unit { df =>
          val preview = graft.Conf.collectUpTo(df, previewRows)
          val shown = preview.merge.take(previewRows)
          val note = preview match {
            case Left(_) => s"first $previewRows rows:"
            case Right(rows) => s"${rows.length} rows:"
          }
          // readable cells for non-scalar columns: raw String.valueOf
          // prints '[B@1a2b3c' for binary and 'WrappedArray(...)' for
          // arrays — exactly the columns a media/embedding pipeline
          // feeds this node
          def cell(v: Any): String = v match {
            case null => "null"
            case b: Array[Byte] => s"<${b.length} bytes>"
            case a: Array[_] => a.take(8).map(cell).mkString("[", ", ",
              if (a.length > 8) ", …]" else "]")
            case s: scala.collection.Seq[_] => s.take(8).map(cell)
              .mkString("[", ", ", if (s.length > 8) ", …]" else "]")
            case other => String.valueOf(other)
          }
          val table = (df.columns.mkString("\t") +:
            shown.map(r => (0 until r.length)
              .map(i => cell(r.get(i))).mkString("\t"))).mkString("\n")
          graft.sources.Smtp.send(host, port, graft.sources.Smtp.Message(
            from, to, subject,
            (if (bodyText.nonEmpty) bodyText + "\n\n" else "") + note + "\n" + table))
        }
      case "sample" =>
        // beyond-reference curation node: deterministic subsample of
        // the node's input (operators.SampleOps). Shapes: 'group_by'
        // alone = uniform n per group; 'weight' alone = Efraimidis–
        // Spirakis weighted n without replacement; both = stratified
        // weighted. Draws are md5(key + salt)-derived — re-running the
        // pipeline picks the SAME rows whatever the cluster layout;
        // 'salt' is the version knob for a fresh draw.
        val n = config.path("n").asInt(0)
        require(n > 0, s"sample node '$id' requires a positive 'n'")
        val keyCol = config.path("key").asText("")
        require(keyCol.nonEmpty,
          s"sample node '$id' requires 'key' (a column uniquely identifying rows)")
        val salt = config.path("salt").asText("")
        val groupBy = strSeq(config.path("group_by"))
        val weightCol = config.path("weight").asText("")
        require(groupBy.nonEmpty || weightCol.nonEmpty,
          s"sample node '$id' needs 'group_by' (uniform per group), " +
            "'weight' (weighted), or both (stratified weighted)")
        MapNode { (_, df) =>
          import org.apache.spark.sql.functions.col
          (groupBy.nonEmpty, weightCol.nonEmpty) match {
            case (true, false) =>
              graft.operators.SampleOps.perGroup(df, groupBy, n, col(keyCol), salt)
            case (false, true) =>
              graft.operators.SampleOps.weighted(df, n, col(weightCol), col(keyCol), salt)
            case _ =>
              graft.operators.SampleOps.weightedPerGroup(
                df, groupBy, n, col(weightCol), col(keyCol), salt)
          }
        }
      // ---- LLM-curation node family (r15) ------------------------
      // The reference's whole authoring UX is JSON pipelines
      // (engine.py:155-178); before r15 this parser reached the 13
      // reference transforms plus the model/incremental nodes but NOT
      // the curation operators, so a training-data user could not
      // author the dedup→filter→redact shapes as data. Each node below
      // is a thin dispatch onto the operator/function that already
      // carries the oracle twin and the scale argument — config keys
      // follow the reference's snake_case convention.
      case "exact_dedup" =>
        // one hash-aggregate keep-min-id per normalized fingerprint —
        // the full row of the winning copy survives (min_by), so the
        // node composes mid-pipeline; one shuffle at any scale
        val dedupId = config.path("id_column").asText("")
        require(dedupId.nonEmpty, s"exact_dedup node '$id' requires 'id_column'")
        val dedupText = config.path("column").asText("text")
        MapNode { (_, df) =>
          import org.apache.spark.sql.functions._
          df.groupBy(graft.functions.TextFunctions
              .fingerprint(col(dedupText)).as("_fp"))
            .agg(min_by(struct(df.columns.map(col): _*), col(dedupId)).as("_w"))
            .select(df.columns.map(c => col(s"_w.`$c`").as(c)): _*)
        }
      case "minhash_dedup" =>
        // MinHash LSH candidate pairs + exact-Jaccard rerank, then
        // keep one representative per near-dup cluster
        // (Dedup.minHashNearDups → dropNearDuplicates — bucketed,
        // never all-pairs)
        val mhId = config.path("id_column").asText("")
        require(mhId.nonEmpty, s"minhash_dedup node '$id' requires 'id_column'")
        val mhText = config.path("column").asText("text")
        val shingleN = config.path("shingle_n").asInt(3)
        val bands = config.path("bands").asInt(16)
        val rowsPerBand = config.path("rows_per_band").asInt(4)
        val mhThreshold = config.path("threshold").asDouble(0.7)
        val maxBucket = config.path("max_bucket_size").asInt(1000)
        MapNode { (_, df) =>
          val (pairs, stage) = graft.operators.Dedup.minHashNearDupsStaged(
            df, mhId, mhText, shingleN, bands, rowsPerBand,
            mhThreshold, maxBucket, stageDir = None)
          graft.operators.Dedup.dropNearDuplicates(
            df, mhId, pairs, assumeCanonical = true, release = Seq(stage))
        }
      case "span_dedup" =>
        // ExactSubstr (Lee et al. 2021): mode "drop" removes every
        // later-duplicate-span doc, mode "scrub" (default) cuts the
        // duplicated ranges and keeps the unique remainder
        val sdId = config.path("id_column").asText("")
        require(sdId.nonEmpty, s"span_dedup node '$id' requires 'id_column'")
        val sdText = config.path("column").asText("text")
        val spanTokens = config.path("span_tokens").asInt(8)
        val minSpanTokens = config.path("min_span_tokens").asInt(0)
        config.path("mode").asText("scrub") match {
          case "drop" => MapNode { (_, df) =>
            graft.operators.Dedup.dropSpanDuplicates(df, sdId, sdText, spanTokens)
          }
          case "scrub" => MapNode { (_, df) =>
            graft.operators.Dedup.scrubSpanDuplicates(
              df, sdId, sdText, spanTokens, minSpanTokens)
          }
          case other => throw new IllegalArgumentException(
            s"span_dedup node '$id': mode must be 'drop' or 'scrub', got '$other'")
        }
      case "line_dedup" =>
        // CCNet/RefinedWeb boilerplate-line removal: lines recurring
        // across >= min_docs docs are cut everywhere
        val ldId = config.path("id_column").asText("")
        require(ldId.nonEmpty, s"line_dedup node '$id' requires 'id_column'")
        val ldText = config.path("column").asText("text")
        val minDocs = config.path("min_docs").asLong(30L)
        MapNode { (_, df) =>
          graft.operators.LineDedup.dropCommonLines(df, ldId, ldText, minDocs)
        }
      case "url_filter" =>
        // domain blocklist gate: drop rows whose REGISTRABLE domain is
        // listed; the tiny blocklist broadcasts into a left-anti probe
        // — the corpus never shuffles. Optional output_column keeps
        // the parsed domain for downstream mixing.
        val urlCol = config.path("column").asText("url")
        val blocked = strSeq(config.path("blocklist"))
        require(blocked.nonEmpty, s"url_filter node '$id' requires 'blocklist'")
        val domainOut = config.path("output_column").asText("")
        MapNode { (s, df) =>
          import org.apache.spark.sql.functions._
          import s.implicits._
          val withDomain = df.withColumn("_rdomain",
            graft.functions.TextFunctions.registrableDomain(col(urlCol)))
          val block = blocked.map(_.toLowerCase).toDF("_rdomain")
          val kept = withDomain.join(broadcast(block), Seq("_rdomain"), "left_anti")
          if (domainOut.nonEmpty) kept.withColumnRenamed("_rdomain", domainOut)
          else kept.drop("_rdomain")
        }
      case "c4_filter" =>
        // C4 page cleaning (Raffel 2020 §2.2) as an in-pipeline
        // filter: text replaced by the kept lines, failing pages drop
        val c4Text = config.path("column").asText("text")
        MapNode((_, df) => graft.operators.C4Filter.applyClean(df, c4Text))
      case "gopher_filter" =>
        // Gopher quality rules (Rae 2021 A1.1). mode "filter"
        // (default) keeps passing docs; mode "label" annotates
        // keep/fail_reason instead — dropping is the irreversible
        // action, so audit pipelines label first
        val gText = config.path("column").asText("text")
        val gMin = config.path("min_tokens").asLong(50L)
        val gMax = config.path("max_tokens").asLong(100000L)
        val gMinWlen = config.path("min_mean_word_length").asDouble(3.0)
        val gMaxWlen = config.path("max_mean_word_length").asDouble(10.0)
        val gDup = config.path("max_dup_word_ratio").asDouble(0.6)
        val gOut = config.path("output_column").asText("fail_reason")
        def gReason(c: org.apache.spark.sql.Column) =
          graft.functions.TextFunctions.gopherFailReason(
            c, gMin, gMax, gMinWlen, gMaxWlen, gDup)
        config.path("mode").asText("filter") match {
          case "filter" => MapNode { (_, df) =>
            import org.apache.spark.sql.functions.col
            df.filter(gReason(col(gText)).isNull)
          }
          case "label" => MapNode { (_, df) =>
            import org.apache.spark.sql.functions.col
            df.withColumn(gOut, gReason(col(gText)))
              .withColumn("keep", org.apache.spark.sql.functions.col(gOut).isNull)
          }
          case other => throw new IllegalArgumentException(
            s"gopher_filter node '$id': mode must be 'filter' or 'label', got '$other'")
        }
      case "pii_redact" =>
        // email/SSN/phone/IPv4/Luhn-card/IBAN/API-key scrub — chained
        // codegen'd regexp_replace, one scan, zero shuffles; in-place
        // unless output_column names a new column
        val pText = config.path("column").asText("text")
        val pOut = config.path("output_column").asText("") match {
          case "" => pText
          case o => o
        }
        MapNode { (_, df) =>
          import org.apache.spark.sql.functions.col
          df.withColumn(pOut,
            graft.functions.TextFunctions.piiRedact(col(pText)))
        }
      case "train_split" =>
        // leakage-aware split: the key is the BAG-OF-WORDS fingerprint
        // so exact duplicates and word-order reshuffles land in the
        // SAME split by construction; assignment = lexicographic
        // buckets of the md5 hex prefix, deterministic on any cluster
        val tsText = config.path("column").asText("text")
        val tsOut = config.path("output_column").asText("split")
        val trainFrac = config.path("train_frac").asDouble(0.9)
        val valFrac = config.path("val_frac").asDouble(0.05)
        require(trainFrac > 0 && valFrac >= 0 && trainFrac + valFrac <= 1.0,
          s"train_split node '$id': need train_frac > 0, val_frac >= 0, " +
            s"sum <= 1 (got $trainFrac + $valFrac)")
        // 2-hex-char buckets: 256 cells — the same e6/f3 thresholds as
        // the x_train_split oracle at the default 90/5/5
        val trainHex = f"${math.floor(trainFrac * 256).toInt}%02x"
        val valHex = f"${math.floor((trainFrac + valFrac) * 256).toInt}%02x"
        MapNode { (_, df) =>
          import org.apache.spark.sql.functions._
          val b = substring(graft.functions.TextFunctions
            .bagFingerprint(col(tsText)), 1, 2)
          df.withColumn(tsOut,
            when(b < trainHex, "train").when(b < valHex, "val").otherwise("test"))
        }
      case "text_annotate" =>
        // in-scan curation annotations: heuristic language id and/or
        // whitespace token count — the per-row metadata every
        // downstream gate and report consumes, computed once in the
        // scan projection (no shuffle)
        val taText = config.path("column").asText("text")
        val langOut = config.path("lang_column").asText("")
        val tokensOut = config.path("tokens_column").asText("")
        require(langOut.nonEmpty || tokensOut.nonEmpty,
          s"text_annotate node '$id' needs 'lang_column' and/or 'tokens_column'")
        MapNode { (_, df) =>
          import org.apache.spark.sql.functions.col
          val withLang =
            if (langOut.isEmpty) df
            else df.withColumn(langOut,
              graft.functions.TextFunctions.langId(col(taText)))
          if (tokensOut.isEmpty) withLang
          else withLang.withColumn(tokensOut,
            graft.functions.TextFunctions.wsTokenCount(col(taText)).cast("long"))
        }
      case "domain_mix_sample" =>
        // realize a target domain mixture by deterministic downsampling
        // (DomainMix.sampleToMix): targets is a domain→share map;
        // unlisted domains drop (null share), matching the operator
        val dmId = config.path("id_column").asText("")
        val dmDomain = config.path("domain_column").asText("")
        val dmTokens = config.path("tokens_column").asText("")
        require(dmId.nonEmpty && dmDomain.nonEmpty && dmTokens.nonEmpty,
          s"domain_mix_sample node '$id' requires 'id_column', " +
            "'domain_column' and 'tokens_column'")
        val targetsNode = config.path("targets")
        require(targetsNode.isObject && targetsNode.size() > 0,
          s"domain_mix_sample node '$id' requires a 'targets' object " +
            "(domain -> share)")
        val targets = targetsNode.properties.asScala
          .map(e => e.getKey -> e.getValue.asDouble).toSeq
        MapNode { (_, df) =>
          import org.apache.spark.sql.functions._
          val share = targets.foldLeft(lit(null).cast("double")) {
            case (acc, (dom, s)) => when(col(dmDomain) === dom, s).otherwise(acc)
          }
          graft.operators.DomainMix.sampleToMix(
            df, dmDomain, dmId, col(dmTokens), share)
        }
      case "semantic_dedup" =>
        // SemDeDup (Abbas 2023) over an embedding column: fixed-k
        // cell assignment + the stats-routed cell walk — the node is
        // a thin dispatch, so the JSON author gets the same scale
        // routes (spark.graft.cellWalkShuffleBytes et al.) as the
        // Scala API
        val smId = config.path("id_column").asText("")
        require(smId.nonEmpty, s"semantic_dedup node '$id' requires 'id_column'")
        val smVec = config.path("embedding_column").asText("embedding")
        val smThr = config.path("threshold").asDouble(0.95)
        val smMaxCell = config.path("max_cell_size").asInt(10000)
        val smNlist = config.path("nlist").asInt(0)
        MapNode { (_, df) =>
          graft.operators.Similarity.semanticDedup(
            df, smId, smVec, smThr, smNlist, smMaxCell)
        }
      case "decontaminate" =>
        // benchmark decontamination: TWO inputs — the corpus (primary)
        // and the benchmark (the edge named by 'benchmark_input', or
        // the second inbound edge). mode "filter" (default) drops
        // contaminated docs; "label" annotates a boolean instead.
        val dcId = config.path("id_column").asText("")
        require(dcId.nonEmpty, s"decontaminate node '$id' requires 'id_column'")
        val dcText = config.path("column").asText("text")
        val dcBenchCol = config.path("benchmark_column").asText(dcText)
        val dcBenchInput = config.path("benchmark_input").asText("")
        val dcN = config.path("span_tokens").asInt(8)
        val dcOut = config.path("output_column").asText("contaminated")
        config.path("mode").asText("filter") match {
          case "filter" => Map2Node(dcBenchInput, (_, corpus, bench) =>
            graft.operators.Decontaminate.drop(
              corpus, dcId, dcText, bench, dcBenchCol, dcN))
          case "label" => Map2Node(dcBenchInput, (_, corpus, bench) =>
            graft.operators.Decontaminate.label(
              corpus, dcId, dcText, bench, dcBenchCol, dcN, dcOut))
          case other => throw new IllegalArgumentException(
            s"decontaminate node '$id': mode must be 'filter' or 'label', " +
              s"got '$other'")
        }
      case "dsir_score" =>
        // DSIR importance log-weights (Xie 2023) of the corpus toward
        // a target distribution — corpus primary, target named by
        // 'target_input' (or second edge); annotates 'dsir_logw'
        val dsText = config.path("column").asText("text")
        val dsTarget = config.path("target_input").asText("")
        Map2Node(dsTarget, (_, corpus, target) =>
          graft.operators.Dsir.score(corpus, target, dsText))
      case "dsir_sample" =>
        // the DSIR resampling step: deterministic Gumbel-top-k of
        // 'size' docs by importance weight — returns the sampled ids
        val dsId = config.path("id_column").asText("")
        require(dsId.nonEmpty, s"dsir_sample node '$id' requires 'id_column'")
        val dsText = config.path("column").asText("text")
        val dsTarget = config.path("target_input").asText("")
        val dsK = config.path("size").asInt(0)
        require(dsK >= 1, s"dsir_sample node '$id' requires 'size' >= 1")
        Map2Node(dsTarget, (_, corpus, target) =>
          graft.operators.Dsir.resample(corpus, target, dsId, dsText, dsK))
      case "lm_score" =>
        // CCNet-style LM quality scoring: order-n conditional model
        // (model "ngram", default) or stupid-backoff ("backoff"),
        // trained on the corpus itself or on a reference corpus named
        // by 'train_input'. mode "score" returns (id, n_ngrams,
        // lm_score); "annotate" joins the score back onto the corpus
        // (left join on the id key — unscored short docs keep null).
        val lmId = config.path("id_column").asText("")
        require(lmId.nonEmpty, s"lm_score node '$id' requires 'id_column'")
        val lmText = config.path("column").asText("text")
        val lmOrder = config.path("order").asInt(2)
        val lmMinCount = config.path("min_count").asLong(1L)
        val lmTopV = if (config.has("top_v")) Some(config.path("top_v").asInt)
          else None
        val lmAlpha = config.path("alpha").asDouble(0.4)
        val lmTrainInput = config.path("train_input").asText("")
        val lmModel = config.path("model").asText("ngram")
        require(lmModel == "ngram" || lmModel == "backoff",
          s"lm_score node '$id': model must be 'ngram' or 'backoff', " +
            s"got '$lmModel'")
        val lmMode = config.path("mode").asText("score")
        require(lmMode == "score" || lmMode == "annotate",
          s"lm_score node '$id': mode must be 'score' or 'annotate', " +
            s"got '$lmMode'")
        def lmScores(corpus: org.apache.spark.sql.DataFrame,
            train: Option[org.apache.spark.sql.DataFrame]) =
          if (lmModel == "backoff")
            graft.operators.LmScore.backoffScores(corpus, lmId, lmText,
              lmOrder, lmAlpha, train = train, minCount = lmMinCount,
              topV = lmTopV)
          else graft.operators.LmScore.ngramScores(corpus, lmId, lmText,
            lmOrder, train = train, minCount = lmMinCount, topV = lmTopV)
        def lmOut(corpus: org.apache.spark.sql.DataFrame,
            train: Option[org.apache.spark.sql.DataFrame]) =
          if (lmMode == "score") lmScores(corpus, train)
          else corpus.join(lmScores(corpus, train), Seq(lmId), "left")
        if (lmTrainInput.isEmpty) MapNode((_, df) => lmOut(df, None))
        else Map2Node(lmTrainInput, (_, corpus, train) =>
          lmOut(corpus, Some(train)))
      case "entropy_filter" =>
        // character-entropy gate: low = template/repeated-char junk,
        // high = base64/minified blobs; natural text sits between
        val enText = config.path("column").asText("text")
        val enMin = config.path("min_entropy").asDouble(3.0)
        val enMax = config.path("max_entropy").asDouble(5.5)
        val enOut = config.path("output_column").asText("entropy")
        def ent = graft.functions.CharEntropy.charEntropyCol(
          org.apache.spark.sql.functions.col(enText))
        config.path("mode").asText("filter") match {
          case "filter" => MapNode { (_, df) =>
            df.filter(ent >= enMin && ent <= enMax)
          }
          case "label" => MapNode { (_, df) =>
            df.withColumn(enOut, ent)
              .withColumn("keep",
                org.apache.spark.sql.functions.col(enOut).between(enMin, enMax))
          }
          case other => throw new IllegalArgumentException(
            s"entropy_filter node '$id': mode must be 'filter' or 'label', " +
              s"got '$other'")
        }
      case "nfc_normalize" =>
        // Unicode NFC composition — the byte-level-dedup prerequisite
        // on multilingual corpora; in-place unless output_column
        val nfText = config.path("column").asText("text")
        val nfOut = config.path("output_column").asText("") match {
          case "" => nfText
          case o => o
        }
        MapNode { (_, df) =>
          import org.apache.spark.sql.functions.col
          df.withColumn(nfOut,
            graft.functions.NfcNormalize.nfcNormalize(col(nfText)))
        }
      case "chunk_docs" =>
        // fixed-width sliding-window chunking (the context-length
        // prep step): each doc row becomes one row per chunk with the
        // text column REPLACED by the chunk (downstream nodes keep
        // operating on the same column name), plus chunk_id and
        // n_chunk_tokens
        val chText = config.path("column").asText("text")
        val chWidth = config.path("width").asInt(32)
        val chStride = config.path("stride").asInt(chWidth)
        MapNode { (_, df) =>
          import org.apache.spark.sql.functions._
          val rest = df.columns.filterNot(_ == chText).map(col)
          df.select(rest :+ explode(graft.functions.ChunkDocs.chunksCol(
              col(chText), chWidth, chStride)).as("_chunk"): _*)
            .select(rest ++ Seq(col("_chunk.chunk").as(chText),
              col("_chunk.chunk_id"),
              col("_chunk.n_chunk_tokens")): _*)
        }
      case other =>
        // reference behavior: unknown node types pass through
        // (engine.py:188 "Pass-through node type")
        Conditional("true")
    }
    Node(id, op)
  }

  /** path+format file write — shared by file_output and export's
    * file shape so their handling can't diverge. */
  private def fileSink(config: JsonNode): NodeOp = {
    val path = config.path("path").asText
    val format =
      if (config.has("format")) config.path("format").asText
      else Readers.detectFormat(path)
    Sink.unit(df => Writers.write(df, path, format))
  }

  /** http connector from a connector_input/invoke_http-shaped config:
    * url/method/body/params + the reference's auth shapes
    * (connectors/builtin.py: bearer {token}, api_key
    * {key_name, key_value}); params also honors the engine's
    * read_params.params pass-through (engine.py:198).
    */
  private def httpConnector(config: JsonNode): graft.sources.Connectors.HttpConnector = {
    val url = config.path("url").asText
    require(url.nonEmpty, "http connector_input requires a url")
    val method = config.path("method").asText("GET")
    val body =
      if (config.has("body")) Some(config.path("body").asText) else None
    val paramsNode =
      if (config.has("params")) config.path("params")
      else config.path("read_params").path("params")
    val params = paramsNode.properties.asScala
      .map(e => e.getKey -> e.getValue.asText).toMap
    val auth = config.path("auth_config")
    val bearer = auth.path("token").asText("") match {
      case "" => None
      case t => Some(t)
    }
    val apiKey = auth.path("key_value").asText("") match {
      case "" => None
      case v => Some(auth.path("key_name").asText("X-API-Key") -> v)
    }
    graft.sources.Connectors.HttpConnector(
      url, method = method, headers = parseHeaders(config), body = body,
      params = params, authBearer = bearer, apiKey = apiKey)
  }

  /** Render a (bounded) DataFrame as CSV text for an invoke_http
    * request body — header row + RFC-4180-quoted cells, matching the
    * reference's "input file content as body" behavior.
    *
    * The collect is capped at `maxRows` ([[graft.Conf.collectUpTo]], so
    * the overflow check itself never pulls the full input): beyond the
    * cap the node raises instead of silently OOMing the driver.
    */
  private def toCsvString(
      df: org.apache.spark.sql.DataFrame, maxRows: Long, nodeId: String): String = {
    val capped = graft.Conf.collectUpTo(df, maxRows).getOrElse(
      throw new IllegalStateException(
        s"invoke_http node '$nodeId': input exceeds max_body_rows=$maxRows — " +
          "the request body is materialized on the driver; raise max_body_rows " +
          "only for genuinely bounded inputs, or use webhook_send for bulk export"))
    def cell(v: Any): String = {
      val s = if (v == null) "" else v.toString
      if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    }
    val sb = new StringBuilder(df.columns.mkString(","))
    capped.foreach { row =>
      sb.append('\n')
      sb.append((0 until row.length).map(i => cell(row.get(i))).mkString(","))
    }
    sb.toString
  }

  /** headers map — shared by every http-shaped node config. */
  private def parseHeaders(config: JsonNode): Map[String, String] =
    if (config.has("headers"))
      config.path("headers").properties.asScala
        .map(e => e.getKey -> e.getValue.asText).toMap
    else Map.empty[String, String]

  /** url+headers+batch_size webhook POST — shared by webhook_send,
    * invoke_http and export's webhook adapter. */
  private def webhookSink(config: JsonNode): NodeOp = {
    val url = config.path("url").asText
    require(url.nonEmpty, "webhook node requires a url")
    val batch = if (config.has("batch_size")) config.path("batch_size").asInt else 500
    Sink.unit(df => graft.sources.Export.webhook(
      df, graft.sources.Export.HttpPost(url, parseHeaders(config)), batchSize = batch))
  }

  /** Transform-step operator names exactly as in duckdb_engine.py
    * `_step_to_sql` (:286-370).
    */
  private def parseStep(s: JsonNode): TransformStep = {
    val p = s.path("params")
    s.path("operator").asText match {
      case "rename_column" =>
        RenameColumn(p.path("from_name").asText, p.path("to_name").asText)
      case "cast_type" =>
        CastType(p.path("column").asText, p.path("target_type").asText)
      case "trim_whitespace" => TrimWhitespace(strSeq(p.path("columns")))
      case "filter_rows" => FilterRows(p.path("expression").asText)
      case "drop_nulls" => DropNulls(strSeq(p.path("columns")))
      case "deduplicate_rows" =>
        DeduplicateRows(strSeq(p.path("columns")),
          if (p.has("order_by")) Some(p.path("order_by").asText) else None)
      case "replace_text" =>
        ReplaceText(p.path("column").asText, p.path("find").asText,
          p.path("replace").asText)
      case "regex_replace" =>
        RegexReplace(p.path("column").asText, p.path("pattern").asText,
          p.path("replacement").asText)
      case "add_derived_column" =>
        AddDerivedColumn(p.path("name").asText, p.path("expression").asText)
      case "split_column" =>
        SplitColumn(p.path("column").asText, p.path("delimiter").asText,
          strSeq(p.path("new_names")))
      case "merge_columns" =>
        MergeColumns(strSeq(p.path("columns")),
          if (p.has("separator")) p.path("separator").asText else " ",
          p.path("new_name").asText)
      case "sql_transform" => SqlTransform(p.path("sql").asText)
      case "aggregate" =>
        Aggregate(strSeq(p.path("group_by")),
          p.path("aggregations").properties.asScala
            .map(e => e.getKey -> e.getValue.asText).toSeq)
      case other =>
        throw new IllegalArgumentException(s"Unknown transform operator: $other")
    }
  }
}
