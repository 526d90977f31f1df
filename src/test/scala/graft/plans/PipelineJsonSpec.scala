package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, explode}
import graft.TestSpark
import graft.sources.Writers

class PipelineJsonSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("a reference-format pipeline JSON parses and runs end-to-end") {
    val dir = graft.TestDirs.create("graft_pj")
    val in = dir.resolve("in.csv").toString
    val out = dir.resolve("out").toString
    Writers.write(Seq(
      (1, "  Alice ", 10.0), (2, "Bob", 20.0), (3, "Cara", 5.0), (3, "Cara", 5.0)
    ).toDF("id", "name", "amount"), in, "csv")

    // the reference UI's definition_json shape, verbatim
    val json = s"""{
      "nodes": [
        {"id": "n1", "type": "file_input",
         "data": {"config": {"path": "$in", "format": "csv"}}},
        {"id": "n2", "type": "transform", "data": {"config": {"steps": [
          {"operator": "trim_whitespace", "params": {"columns": ["*"]}},
          {"operator": "deduplicate_rows", "params": {"columns": ["id"], "order_by": "id"}},
          {"operator": "filter_rows", "params": {"expression": "amount > 6"}},
          {"operator": "add_derived_column", "params": {"name": "doubled", "expression": "amount * 2"}}
        ]}}},
        {"id": "n3", "type": "validation", "data": {"config": {"min_score": 50}}},
        {"id": "n4", "type": "unknown_future_type", "data": {"config": {}}},
        {"id": "n5", "type": "file_output",
         "data": {"config": {"path": "$out", "format": "parquet"}}}
      ],
      "edges": [
        {"source": "n1", "target": "n2"},
        {"source": "n2", "target": "n3"},
        {"source": "n3", "target": "n4"},
        {"source": "n4", "target": "n5"}
      ]
    }"""

    val res = PipelineJson.run(spark, json)
    assert(res.nodeLog.exists { case (id, msg) => id == "n3" && msg.startsWith("quality") })
    assert(res.nodeLog.contains("n5" -> "sink ok"))

    val back = spark.read.parquet(out)
    val rows = back.collect().map(r => (r.getAs[Int]("id"), r.getAs[String]("name"),
      r.getAs[Double]("doubled"))).sortBy(_._1)
    assert(rows.toSeq == Seq((1, "Alice", 20.0), (2, "Bob", 40.0)))
  }

  test("incremental_aggregate node folds the run's batch; re-runs never double-count") {
    val dir = graft.TestDirs.create("graft_pj_incr")
    val in = dir.resolve("in.csv").toString
    val state = dir.resolve("state").toString
    Writers.write(Seq(
      ("a", 10L), ("a", 20L), ("b", 5L)
    ).toDF("g", "v"), in, "csv")

    def json(batch: String) = s"""{
      "nodes": [
        {"id": "n1", "type": "file_input",
         "data": {"config": {"path": "$in", "format": "csv"}}},
        {"id": "n2", "type": "incremental_aggregate",
         "data": {"config": {"state_path": "$state", "batch_id": "$batch",
           "group_by": ["g"],
           "metrics": [
             {"kind": "count", "as": "rows"},
             {"kind": "sum", "column": "v", "as": "v_sum"},
             {"kind": "approx_quantile", "column": "v", "q": 0.5, "as": "v_p50"}
           ]}}}
      ],
      "edges": [{"source": "n1", "target": "n2"}]
    }"""

    val first = PipelineJson.run(spark, json("day0"))
    assert(first.nodeLog.exists { case (id, msg) =>
      id == "n2" && msg == "sink ok" })
    // re-run of the SAME batch: marker-detected no-op — and VISIBLY
    // so: a stale batch_id with new input data would otherwise no-op
    // in silence (r9 advice)
    val rerun = PipelineJson.run(spark, json("day0"))
    assert(rerun.nodeLog.exists { case (id, msg) =>
      id == "n2" && msg.contains("already committed") &&
        msg.contains("bump batch_id") }, rerun.nodeLog.toString)
    // a new day folds in
    PipelineJson.run(spark, json("day1"))
    val got = graft.operators.IncrementalAgg.result(spark, state)
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("a", 4L, 60L), ("b", 2L, 10L)))
    // the sketch metric rode the same folds: tiny groups are exact in
    // a KLL sketch (all values retained below the compaction bound)
    val p50 = graft.operators.IncrementalAgg.result(spark, state)
      .orderBy("g").collect().map(r => (r.getString(0), r.getDouble(3))).toSeq
    assert(p50 == Seq(("a", 10.0), ("b", 5.0)), p50.toString)

    // the read twin: a pipeline that serves the running aggregate
    // from state (and can transform/export it) without the corpus
    val outDir = dir.resolve("report").toString
    PipelineJson.run(spark, s"""{
      "nodes": [
        {"id": "r1", "type": "incremental_result",
         "data": {"config": {"state_path": "$state"}}},
        {"id": "r2", "type": "transform", "data": {"config": {"steps": [
          {"operator": "filter_rows", "params": {"expression": "v_sum > 20"}}
        ]}}},
        {"id": "r3", "type": "file_output",
         "data": {"config": {"path": "$outDir", "format": "parquet"}}}
      ],
      "edges": [
        {"source": "r1", "target": "r2"},
        {"source": "r2", "target": "r3"}
      ]
    }""")
    val report = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("v_sum"))).toSeq
    assert(report == Seq(("a", 60L)))

    // config errors raise at parse, naming the node
    val bad = intercept[IllegalArgumentException] {
      PipelineJson.run(spark, json("day2").replace("\"kind\": \"sum\"", "\"kind\": \"median\""))
    }
    assert(bad.getMessage.contains("unknown metric kind"))
  }

  test("webhook_send node posts the flow's rows via JSON config") {
    import java.net.InetSocketAddress
    import java.util.concurrent.atomic.AtomicInteger
    val hits = new AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/hook", { ex =>
      hits.incrementAndGet(); ex.sendResponseHeaders(200, -1); ex.close()
    })
    server.start()
    try {
      val dir = graft.TestDirs.create("graft_wh_json")
      val in = dir.resolve("in.csv").toString
      Writers.write(Seq((1, "a"), (2, "b")).toDF("id", "s").coalesce(1), in, "csv")
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/hook"
      val res = PipelineJson.run(spark, s"""{
        "nodes": [
          {"id": "n1", "type": "file_input", "data": {"config": {"path": "$in", "format": "csv"}}},
          {"id": "n2", "type": "webhook_send", "data": {"config": {"url": "$url"}}}
        ],
        "edges": [{"source": "n1", "target": "n2"}]
      }""")
      assert(res.nodeLog.contains("n2" -> "sink ok"))
      assert(hits.get() >= 1)
    } finally server.stop(0)
  }

  test("export node with adapter_type odoo_xmlrpc drives the XML-RPC adapter") {
    import java.net.InetSocketAddress
    import java.nio.charset.StandardCharsets
    import java.util.concurrent.atomic.AtomicInteger
    val authCalls = new AtomicInteger(0)
    val objectCalls = new AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new InetSocketAddress("127.0.0.1", 0), 0)
    def serve(path: String, counter: AtomicInteger, resp: String): Unit =
      server.createContext(path, { ex =>
        counter.incrementAndGet()
        ex.getRequestBody.readAllBytes()
        val out = resp.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.add("Content-Type", "text/xml")
        ex.sendResponseHeaders(200, out.length)
        ex.getResponseBody.write(out); ex.close()
      })
    serve("/xmlrpc/2/common", authCalls,
      "<methodResponse><params><param><value><int>9</int></value></param></params></methodResponse>")
    serve("/xmlrpc/2/object", objectCalls,
      "<methodResponse><params><param><value><int>77</int></value></param></params></methodResponse>")
    server.start()
    try {
      val dir = graft.TestDirs.create("graft_odoo_json")
      val in = dir.resolve("in.csv").toString
      Writers.write(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "s").coalesce(1), in, "csv")
      val url = s"http://127.0.0.1:${server.getAddress.getPort}"
      val res = PipelineJson.run(spark, s"""{
        "nodes": [
          {"id": "n1", "type": "file_input", "data": {"config": {"path": "$in", "format": "csv"}}},
          {"id": "n2", "type": "export", "data": {"config": {
            "adapter_type": "odoo_xmlrpc", "url": "$url", "db": "d",
            "username": "u", "password": "p", "model": "res.partner"}}}
        ],
        "edges": [{"source": "n1", "target": "n2"}]
      }""")
      assert(res.nodeLog.contains("n2" -> "sink ok"))
      assert(authCalls.get() == 1)   // one non-empty partition
      assert(objectCalls.get() == 3) // one execute_kw per record
    } finally server.stop(0)
  }

  test("aggregate step via JSON") {
    val (nodes, edges) = PipelineJson.parse("""{
      "nodes": [{"id": "t", "type": "transform", "data": {"config": {"steps": [
        {"operator": "aggregate", "params": {"group_by": ["g"],
          "aggregations": {"v": "sum"}}}]}}}],
      "edges": []
    }""")
    assert(nodes.head.op.isInstanceOf[PipelineDag.Transform])
  }

  test("connector_input with connector_type http POSTs and feeds the pipeline") {
    import java.net.InetSocketAddress
    import java.nio.charset.StandardCharsets
    val seenMethod = new java.util.concurrent.atomic.AtomicReference[String]("")
    val server = com.sun.net.httpserver.HttpServer.create(
      new InetSocketAddress("127.0.0.1", 0), 0)
    val out = """{"id":1,"s":"a"}
{"id":2,"s":"b"}""".getBytes(StandardCharsets.UTF_8)
    server.createContext("/api", { ex =>
      seenMethod.set(ex.getRequestMethod)
      ex.getRequestBody.readAllBytes()
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, out.length)
      ex.getResponseBody.write(out); ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/api"
      val outDir = graft.TestDirs.create("graft_ci").resolve("out").toString
      val res = PipelineJson.run(spark, s"""{
        "nodes": [
          {"id": "n1", "type": "connector_input", "data": {"config": {
            "connector_type": "http", "url": "$url", "method": "POST",
            "body": "{\\"query\\": \\"all\\"}"}}},
          {"id": "n2", "type": "file_output",
           "data": {"config": {"path": "$outDir", "format": "parquet"}}}
        ],
        "edges": [{"source": "n1", "target": "n2"}]
      }""")
      assert(res.nodeLog.contains("n2" -> "sink ok"))
      assert(seenMethod.get() == "POST")
      assert(spark.read.parquet(outDir).count() == 2)
    } finally server.stop(0)
  }

  test("invoke_http mid-DAG: response becomes the downstream DataFrame") {
    import java.net.InetSocketAddress
    import java.nio.charset.StandardCharsets
    // engine.py:246-266 parity: with an upstream input and POST, the
    // input rows are the request body; the RESPONSE feeds downstream.
    val seenBody = new java.util.concurrent.atomic.AtomicReference[String]("")
    val server = com.sun.net.httpserver.HttpServer.create(
      new InetSocketAddress("127.0.0.1", 0), 0)
    val resp = """{"score":10,"label":"x"}
{"score":3,"label":"y"}
{"score":8,"label":"z"}""".getBytes(StandardCharsets.UTF_8)
    server.createContext("/enrich", { ex =>
      seenBody.set(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, resp.length)
      ex.getResponseBody.write(resp); ex.close()
    })
    server.start()
    try {
      val dir = graft.TestDirs.create("graft_ih")
      val in = dir.resolve("in.csv").toString
      val out = dir.resolve("out").toString
      Writers.write(Seq((1, "a"), (2, "b")).toDF("id", "s").coalesce(1), in, "csv")
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/enrich"
      val res = PipelineJson.run(spark, s"""{
        "nodes": [
          {"id": "n1", "type": "file_input", "data": {"config": {"path": "$in", "format": "csv"}}},
          {"id": "n2", "type": "invoke_http",
           "data": {"config": {"url": "$url", "method": "post"}}},
          {"id": "n3", "type": "transform", "data": {"config": {"steps": [
            {"operator": "filter_rows", "params": {"expression": "score > 5"}}]}}},
          {"id": "n4", "type": "file_output",
           "data": {"config": {"path": "$out", "format": "parquet"}}}
        ],
        "edges": [
          {"source": "n1", "target": "n2"},
          {"source": "n2", "target": "n3"},
          {"source": "n3", "target": "n4"}
        ]
      }""")
      assert(res.nodeLog.contains("n2" -> "http ok"))
      // the node's input went out as the CSV request body...
      assert(seenBody.get().linesIterator.toSeq == Seq("id,s", "1,a", "2,b"))
      // ...and the RESPONSE (not the input) flowed downstream
      val rows = spark.read.parquet(out).collect()
        .map(r => (r.getAs[Long]("score"), r.getAs[String]("label"))).sortBy(_._1)
      assert(rows.toSeq == Seq((8L, "z"), (10L, "x")))
    } finally server.stop(0)
  }

  test("invoke_http with GET and no input acts as an http source node") {
    import java.net.InetSocketAddress
    import java.nio.charset.StandardCharsets
    val server = com.sun.net.httpserver.HttpServer.create(
      new InetSocketAddress("127.0.0.1", 0), 0)
    val resp = """{"v":1}""".getBytes(StandardCharsets.UTF_8)
    server.createContext("/data", { ex =>
      ex.getRequestBody.readAllBytes()
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, resp.length)
      ex.getResponseBody.write(resp); ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/data"
      val res = PipelineJson.run(spark, s"""{
        "nodes": [{"id": "n1", "type": "invoke_http",
          "data": {"config": {"url": "$url"}}}],
        "edges": []
      }""")
      assert(res.outputs("n1").collect().map(_.getAs[Long]("v")).toSeq == Seq(1L))
    } finally server.stop(0)
  }

  test("invoke_http caps the driver-side request body at max_body_rows") {
    import java.net.InetSocketAddress
    // the body is materialized on the driver: a mis-wired fact table
    // must raise with the node id, not OOM the driver
    val server = com.sun.net.httpserver.HttpServer.create(
      new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/sink", { ex =>
      ex.getRequestBody.readAllBytes()
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    server.start()
    try {
      val dir = graft.TestDirs.create("graft_cap")
      val in = dir.resolve("big.csv").toString
      Writers.write((1 to 50).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1),
        in, "csv")
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/sink"
      def json(maxRows: Int) = s"""{
        "nodes": [
          {"id": "n1", "type": "file_input", "data": {"config": {"path": "$in", "format": "csv"}}},
          {"id": "nhttp", "type": "invoke_http",
           "data": {"config": {"url": "$url", "method": "POST", "max_body_rows": $maxRows}}}
        ],
        "edges": [{"source": "n1", "target": "nhttp"}]
      }"""
      val e = intercept[IllegalStateException] { PipelineJson.run(spark, json(10)) }
      assert(e.getMessage.contains("nhttp") && e.getMessage.contains("max_body_rows"),
        e.getMessage)
      // at or under the cap the call goes through
      assert(PipelineJson.run(spark, json(50)).nodeLog.contains("nhttp" -> "http ok"))
      // a non-numeric or non-positive cap is rejected at PARSE time
      // (Jackson asLong would silently read a string as 0 and reject
      // every nonempty body with a misleading cap error)
      for (bad <- Seq("\"50000\"", "0", "-5")) {
        val err = intercept[IllegalArgumentException] {
          PipelineJson.parse(s"""{
            "nodes": [{"id": "nbad", "type": "invoke_http",
             "data": {"config": {"url": "http://x/", "max_body_rows": $bad}}}],
            "edges": []
          }""")
        }
        assert(err.getMessage.contains("nbad"), err.getMessage)
      }
    } finally server.stop(0)
  }

  test("connector_input dispatches on the reference's 'type' key when connector_type is absent") {
    // engine.py:196 reads config.get("type", "csv") — a reference-
    // authored pipeline must not fall into the file branch with an
    // empty path and a misleading error.
    val dir = graft.TestDirs.create("graft_ct")
    val in = dir.resolve("in.csv").toString
    Writers.write(Seq((1, "a")).toDF("id", "s").coalesce(1), in, "csv")
    val res = PipelineJson.run(spark, s"""{
      "nodes": [{"id": "n1", "type": "connector_input",
        "data": {"config": {"type": "csv", "path": "$in"}}}],
      "edges": []
    }""")
    assert(res.outputs("n1").count() == 1)
  }

  test("mysql connector_input assembles the reference's host/port config shape") {
    // parse-level: the reference MySQLConnector config (builtin.py:
    // 138-144) must produce a Source, and a missing query must fail
    // loudly at parse time rather than as an empty-url JDBC error.
    val (nodes, _) = PipelineJson.parse("""{
      "nodes": [{"id": "n1", "type": "connector_input",
        "data": {"config": {"type": "mysql", "host": "db.example", "port": 3307,
          "user": "u", "password": "p", "database": "sales",
          "read_params": {"query": "SELECT 1"}}}}],
      "edges": []
    }""")
    assert(nodes.head.op.isInstanceOf[PipelineDag.Source])
    intercept[IllegalArgumentException] {
      PipelineJson.parse("""{
        "nodes": [{"id": "n1", "type": "connector_input",
          "data": {"config": {"type": "mysql", "host": "db.example"}}}],
        "edges": []
      }""")
    }
  }

  test("unknown export adapter_type raises at parse time") {
    intercept[IllegalArgumentException] {
      PipelineJson.parse("""{
        "nodes": [{"id": "e", "type": "export",
          "data": {"config": {"adapter_type": "odoo_xml_rpc", "url": "http://x"}}}],
        "edges": []
      }""")
    }
  }

  test("sample node: uniform per-group, weighted, and stratified shapes from JSON") {
    val dir = graft.TestDirs.create("graft_pj_sample")
    val in = dir.resolve("docs").toString
    (0L until 300L).map(i => (i, s"g${i % 3}", (i % 7) + 1))
      .toDF("doc_id", "grp", "w").write.parquet(in)
    def run(config: String) = {
      val out = graft.TestDirs.create("graft_pj_sample_out").resolve("o").toString
      PipelineJson.run(spark, s"""{
        "nodes": [
          {"id": "n1", "type": "file_input",
           "data": {"config": {"path": "$in", "format": "parquet"}}},
          {"id": "n2", "type": "sample", "data": {"config": $config}},
          {"id": "n3", "type": "file_output",
           "data": {"config": {"path": "$out", "format": "parquet"}}}
        ],
        "edges": [{"source": "n1", "target": "n2"}, {"source": "n2", "target": "n3"}]
      }""")
      spark.read.parquet(out)
    }
    // uniform per group: 3 groups × 4
    val uni = run("""{"n": 4, "key": "doc_id", "group_by": ["grp"], "salt": "v1"}""")
    assert(uni.count() == 12 &&
      uni.groupBy("grp").count().collect().forall(_.getLong(1) == 4))
    // weighted global: exactly n rows, deterministic across runs
    val w1 = run("""{"n": 10, "key": "doc_id", "weight": "w", "salt": "v1"}""")
    val w2 = run("""{"n": 10, "key": "doc_id", "weight": "w", "salt": "v1"}""")
    assert(w1.count() == 10)
    assert(w1.select("doc_id").collect().map(_.getLong(0)).toSet ==
      w2.select("doc_id").collect().map(_.getLong(0)).toSet)
    // stratified weighted: per-group caps
    val sw = run(
      """{"n": 2, "key": "doc_id", "group_by": ["grp"], "weight": "w", "salt": "v1"}""")
    assert(sw.count() == 6 &&
      sw.groupBy("grp").count().collect().forall(_.getLong(1) == 2))
    // config guards name the missing field
    val e = intercept[IllegalArgumentException] {
      run("""{"n": 4, "key": "doc_id"}""")
    }
    assert(e.getMessage.contains("group_by") && e.getMessage.contains("weight"))
    assert(intercept[IllegalArgumentException] {
      run("""{"n": 4, "group_by": ["grp"]}""")
    }.getMessage.contains("key"))
  }

  test("unknown operator raises") {
    intercept[IllegalArgumentException] {
      PipelineJson.parse("""{
        "nodes": [{"id": "t", "type": "transform", "data": {"config": {"steps": [
          {"operator": "teleport", "params": {}}]}}}],
        "edges": []
      }""")
    }
  }

  // ---- r15 LLM-curation node family: each JSON node must land on the
  // SAME table as the underlying operator called directly ------------

  /** Run a one-source one-curation-node pipeline over `df`. */
  private def runNode(df: org.apache.spark.sql.DataFrame,
      nodeType: String, config: String): org.apache.spark.sql.DataFrame = {
    val dir = graft.TestDirs.create("graft_pj_cur")
    val in = dir.resolve("in.parquet").toString
    df.write.parquet(in)
    PipelineJson.run(spark, s"""{
      "nodes": [
        {"id": "src", "type": "file_input",
         "data": {"config": {"path": "$in", "format": "parquet"}}},
        {"id": "op", "type": "$nodeType", "data": {"config": $config}}
      ],
      "edges": [{"source": "src", "target": "op"}]
    }""").outputs("op")
  }

  private val boiler =
    "standard legal disclaimer header used on every single page verbatim"
  private val unique =
    "entirely original reporting about a local event nobody else covered"

  test("exact_dedup node keeps the min-id full row per fingerprint") {
    val docs = Seq(
      (3L, "Hello   world", "a"), (1L, "hello world", "b"),
      (2L, "something else entirely", "c")
    ).toDF("doc_id", "text", "extra")
    val out = runNode(docs, "exact_dedup",
      """{"id_column": "doc_id", "column": "text"}""")
      .orderBy("doc_id").as[(Long, String, String)].collect().toSeq
    // ids 1 and 3 share the normalized fingerprint → min id 1 wins,
    // with ITS raw text and extra column intact
    assert(out == Seq((1L, "hello world", "b"),
      (2L, "something else entirely", "c")))
  }

  test("minhash_dedup node drops near-duplicate cluster members like the operator") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "completely different text about maritime shipping schedules and cargo")
    ).toDF("doc_id", "text")
    val direct = {
      val pairs = graft.operators.Dedup.minHashNearDups(docs, "doc_id", "text")
      graft.operators.Dedup.dropNearDuplicates(docs, "doc_id", pairs,
        assumeCanonical = true).select("doc_id").as[Long].collect().toSet
    }
    val viaJson = runNode(docs, "minhash_dedup",
      """{"id_column": "doc_id", "column": "text"}""")
      .select("doc_id").as[Long].collect().toSet
    assert(viaJson == direct)
    assert(viaJson == Set(1L, 3L))
  }

  test("minhash_dedup node releases its shingle stage once its pairs are on the driver") {
    val dir = graft.TestDirs.create("graft_pj_mh")
    val in = dir.resolve("in.parquet").toString
    val out = dir.resolve("out").toString
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "completely different text about maritime shipping schedules and cargo")
    ).toDF("doc_id", "text").write.parquet(in)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val res = PipelineJson.run(spark, s"""{
      "nodes": [
        {"id": "src", "type": "file_input",
         "data": {"config": {"path": "$in", "format": "parquet"}}},
        {"id": "mh", "type": "minhash_dedup",
         "data": {"config": {"id_column": "doc_id", "column": "text"}}},
        {"id": "sink", "type": "file_output",
         "data": {"config": {"path": "$out", "format": "parquet"}}}
      ],
      "edges": [{"source": "src", "target": "mh"}, {"source": "mh", "target": "sink"}]
    }""")
    assert(res.nodeLog.contains("sink" -> "sink ok"))
    assert(sc.getPersistentRDDs.size == before)
    assert(spark.read.parquet(out).select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
  }

  test("span_dedup node: scrub (default) and drop modes match the operators") {
    val docs = Seq(
      (1L, boiler), (2L, s"$boiler $unique"),
      (3L, "fresh words that no other document in this tiny corpus contains at all")
    ).toDF("doc_id", "text")
    val scrubDirect = graft.operators.Dedup
      .scrubSpanDuplicates(docs, "doc_id", "text", 8)
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    val scrubJson = runNode(docs, "span_dedup",
      """{"id_column": "doc_id", "column": "text", "span_tokens": 8}""")
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    assert(scrubJson == scrubDirect)
    val dropJson = runNode(docs, "span_dedup",
      """{"id_column": "doc_id", "column": "text", "mode": "drop"}""")
      .select("doc_id").as[Long].collect().toSet
    assert(dropJson == Set(1L, 3L)) // doc 2's spans are owned by doc 1
    intercept[IllegalArgumentException] {
      PipelineJson.parse("""{"nodes": [{"id": "x", "type": "span_dedup",
        "data": {"config": {"id_column": "i", "mode": "vaporize"}}}], "edges": []}""")
    }
  }

  test("url_filter node drops blocklisted registrable domains, keeps the domain column on request") {
    val docs = Seq(
      (1L, "https://user:pw@www.bad.com:8080/x"),
      (2L, "https://news.good.org/y"),
      (3L, "http://cdn.bad.com/z")
    ).toDF("doc_id", "url")
    val out = runNode(docs, "url_filter",
      """{"column": "url", "blocklist": ["bad.com"], "output_column": "domain"}""")
      .orderBy("doc_id").select("doc_id", "domain")
      .as[(Long, String)].collect().toSeq
    assert(out == Seq((2L, "good.org")))
    // default: no domain column added
    val cols = runNode(docs, "url_filter",
      """{"column": "url", "blocklist": ["good.org"]}""").columns.toSeq
    assert(cols == Seq("doc_id", "url"))
  }

  test("c4_filter node cleans lines in place and drops failing pages") {
    val keepLine = "This sentence has the required five words, ending properly."
    val docs = Seq(
      (1L, s"$keepLine\n$keepLine\n$keepLine\nshort bad line"),
      (2L, "too few surviving lines here.")
    ).toDF("doc_id", "text")
    val out = runNode(docs, "c4_filter", """{"column": "text"}""")
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(out.map(_._1) == Seq(1L))
    assert(out.head._2 == Seq(keepLine, keepLine, keepLine).mkString("\n"))
  }

  test("gopher_filter node: filter and label modes share the rule set") {
    val longDoc = (1 to 60).map(i => s"word$i").mkString(" ")
    val docs = Seq((1L, longDoc), (2L, "way too short")).toDF("doc_id", "text")
    val kept = runNode(docs, "gopher_filter", """{"column": "text"}""")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L))
    val labeled = runNode(docs, "gopher_filter",
      """{"column": "text", "mode": "label"}""")
      .orderBy("doc_id").select("doc_id", "keep", "fail_reason")
      .as[(Long, Boolean, Option[String])].collect().toSeq
    assert(labeled == Seq((1L, true, None), (2L, false, Some("too_short"))))
  }

  test("pii_redact node scrubs in place or into output_column") {
    val docs = Seq((1L, "mail me at someone@example.com now")).toDF("doc_id", "text")
    val inPlace = runNode(docs, "pii_redact", """{"column": "text"}""")
      .as[(Long, String)].collect().head
    assert(!inPlace._2.contains("example.com"))
    val aside = runNode(docs, "pii_redact",
      """{"column": "text", "output_column": "clean"}""")
      .select("doc_id", "text", "clean")
      .as[(Long, String, String)].collect().head
    assert(aside._2.contains("example.com") && !aside._3.contains("example.com"))
  }

  test("train_split node reproduces the leakage-aware 90/5/5 bucketing") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val viaJson = runNode(docs, "train_split", """{"column": "text"}""")
      .groupBy("split").count()
      .as[(String, Long)].collect().toMap
    // deterministic md5-prefix buckets: exact duplicates land together;
    // ~90/5/5 at corpus scale (tiny SF → loose bounds, presence checks)
    assert(viaJson.keySet.subsetOf(Set("train", "val", "test")))
    assert(viaJson("train").toDouble / viaJson.values.sum > 0.7)
    // word-order reshuffles land in the SAME split (the leakage rule)
    val pair = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha"))
      .toDF("doc_id", "text")
    val splits = runNode(pair, "train_split", """{"column": "text"}""")
      .select("split").as[String].collect().toSet
    assert(splits.size == 1)
  }

  test("text_annotate node adds lang and token columns in-scan") {
    val docs = Seq((1L, "the quick brown fox and the lazy dog are friends"))
      .toDF("doc_id", "text")
    val out = runNode(docs, "text_annotate",
      """{"column": "text", "lang_column": "lang_pred", "tokens_column": "ws_tokens"}""")
    assert(out.columns.toSeq == Seq("doc_id", "text", "lang_pred", "ws_tokens"))
    val row = out.as[(Long, String, String, Long)].collect().head
    assert(row._3 == "en" && row._4 == 10L)
  }

  test("p_llm_pipeline_json ≡ the hand-built x_pipeline_e2e composition") {
    // the JSON-authored pipeline and the fused Scala plan must land on
    // the identical table (they share one DuckDB twin in oracleSql)
    val sf = "/root/testdata/sf0.001"
    def rows(name: String) = graft.SparkEntry.queries(name)(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows("p_llm_pipeline_json") == rows("x_pipeline_e2e"))
  }

  /** Two-input node harness: primary + secondary file_inputs feeding
    * one `nodeType` node. `swapEdges` reverses the edge order so the
    * named-secondary resolution can be tested against edge order.
    */
  private def runNode2(primary: org.apache.spark.sql.DataFrame,
      secondary: org.apache.spark.sql.DataFrame, nodeType: String,
      config: String, swapEdges: Boolean = false,
      secondaryId: String = "sec"): org.apache.spark.sql.DataFrame = {
    val dir = graft.TestDirs.create("graft_pj_cur2")
    val inA = dir.resolve("a.parquet").toString
    val inB = dir.resolve("b.parquet").toString
    primary.write.parquet(inA)
    secondary.write.parquet(inB)
    val e1 = s"""{"source": "prim", "target": "op"}"""
    val e2 = s"""{"source": "$secondaryId", "target": "op"}"""
    val edges = if (swapEdges) s"$e2, $e1" else s"$e1, $e2"
    PipelineJson.run(spark, s"""{
      "nodes": [
        {"id": "prim", "type": "file_input",
         "data": {"config": {"path": "$inA", "format": "parquet"}}},
        {"id": "$secondaryId", "type": "file_input",
         "data": {"config": {"path": "$inB", "format": "parquet"}}},
        {"id": "op", "type": "$nodeType", "data": {"config": $config}}
      ],
      "edges": [$edges]
    }""").outputs("op")
  }

  private val contam =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"

  test("decontaminate node: filter and label modes ≡ the operator; named benchmark beats edge order") {
    val corpus = Seq(
      (1L, s"prefix words here $contam suffix words trail"),
      (2L, unique + " with many extra following tokens appended here"),
      (3L, "too short to shingle")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, contam)).toDF("doc_id", "text")

    val cfg = """{"id_column": "doc_id", "column": "text",
      "benchmark_input": "sec", "span_tokens": 8}"""
    val kept = runNode2(corpus, bench, "decontaminate", cfg)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 3L)) // doc 1 shares a 12-token span
    val direct = graft.operators.Decontaminate.drop(
        corpus, "doc_id", "text", bench, "text", 8)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == direct.toSeq)

    // label mode annotates instead of dropping
    val labeled = runNode2(corpus, bench, "decontaminate",
        """{"id_column": "doc_id", "column": "text",
           "benchmark_input": "sec", "mode": "label"}""")
      .select("doc_id", "contaminated").as[(Long, Boolean)].collect().toMap
    assert(labeled == Map(1L -> true, 2L -> false, 3L -> false))

    // the SAME config with the edges array reversed: the named
    // benchmark_input must still resolve the benchmark correctly
    val keptSwapped = runNode2(corpus, bench, "decontaminate", cfg,
      swapEdges = true).select("doc_id").as[Long].collect().sorted
    assert(keptSwapped.toSeq == Seq(2L, 3L))

    val err = intercept[IllegalArgumentException] {
      runNode2(corpus, bench, "decontaminate",
        """{"id_column": "doc_id", "mode": "purge",
           "benchmark_input": "sec"}""")
    }
    assert(err.getMessage.contains("purge"))
  }

  test("a two-input node with one inbound edge raises actionably") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val err = intercept[IllegalArgumentException] {
      runNode(docs, "decontaminate",
        """{"id_column": "doc_id", "column": "text"}""")
    }
    assert(err.getMessage.contains("two inputs"))
  }

  test("dsir_score and dsir_sample nodes ≡ the Dsir operator calls") {
    val corpus = (1 to 60).map { i =>
      (i.toLong, if (i % 3 == 0) "the quick brown fox jumps over the dog"
        else "lorem ipsum dolor sit amet consectetur adipiscing elit")
    }.toDF("doc_id", "text")
    val target = Seq(
      (1L, "the quick brown fox jumps high over lazy dogs")
    ).toDF("doc_id", "text")

    val scored = runNode2(corpus, target, "dsir_score",
      """{"column": "text", "target_input": "sec"}""")
    val direct = graft.operators.Dsir.score(corpus, target, "text")
    assert(scored.select("doc_id", "dsir_logw").collect().toSet ==
      direct.select("doc_id", "dsir_logw").collect().toSet)

    val sampled = runNode2(corpus, target, "dsir_sample",
      """{"id_column": "doc_id", "column": "text",
         "target_input": "sec", "size": 10}""")
    val directSample = graft.operators.Dsir.resample(
      corpus, target, "doc_id", "text", 10)
    assert(sampled.collect().toSeq == directSample.collect().toSeq)
  }

  test("semantic_dedup node drops cosine twins like the operator") {
    val base = (0 until 40).map { i =>
      val v = Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat)
      (i.toLong, v)
    }
    // planted exact clones of ids 0..4 at ids 100..104
    val clones = (0 until 5).map(i => (100L + i, base(i)._2.clone()))
    val vecs = (base ++ clones).toDF("vec_id", "embedding")
    val out = runNode(vecs, "semantic_dedup",
        """{"id_column": "vec_id", "embedding_column": "embedding",
           "threshold": 1.0}""")
      .select("vec_id").as[Long].collect().sorted
    val direct = graft.operators.Similarity.semanticDedup(
        vecs, "vec_id", "embedding", threshold = 1.0)
      .select("vec_id").as[Long].collect().sorted
    assert(out.toSeq == direct.toSeq)
    assert(out.forall(_ < 100L)) // every clone dropped, originals kept
  }

  test("lm_score node: ngram self-train, backoff with train_input, annotate mode") {
    val corpus = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the hat"),
      (3L, "mat the on sat cat the")
    ).toDF("doc_id", "text")

    val scored = runNode(corpus, "lm_score",
      """{"id_column": "doc_id", "column": "text", "order": 2}""")
    val direct = graft.operators.LmScore.ngramScores(
      corpus, "doc_id", "text", 2)
    assert(scored.collect().toSet == direct.collect().toSet)

    // backoff model trained on a REFERENCE corpus via train_input
    val train = Seq((10L, "the cat sat on the mat again and again"))
      .toDF("doc_id", "text")
    val bo = runNode2(corpus, train, "lm_score",
      """{"id_column": "doc_id", "column": "text", "model": "backoff",
         "order": 3, "train_input": "sec"}""")
    val boDirect = graft.operators.LmScore.backoffScores(
      corpus, "doc_id", "text", 3, train = Some(train))
    assert(bo.collect().toSet == boDirect.collect().toSet)

    // annotate mode keeps the corpus schema + score columns
    val annotated = runNode(corpus, "lm_score",
      """{"id_column": "doc_id", "column": "text", "mode": "annotate"}""")
    assert(annotated.columns.toSeq ==
      Seq("doc_id", "text", "n_ngrams", "lm_score"))
    assert(annotated.count() == 3)
  }

  test("entropy_filter node: filter and label modes share the gate") {
    val docs = Seq(
      (1L, "a reasonably varied natural sentence with several words"),
      (2L, "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz")
    ).toDF("doc_id", "text")
    val kept = runNode(docs, "entropy_filter", """{"column": "text"}""")
      .select("doc_id").as[Long].collect()
    assert(kept.toSeq == Seq(1L))
    val labeled = runNode(docs, "entropy_filter",
        """{"column": "text", "mode": "label"}""")
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(labeled == Map(1L -> true, 2L -> false))
  }

  test("nfc_normalize node composes in place; chunk_docs re-rows the corpus") {
    val docs = Seq((1L, "café")).toDF("doc_id", "text")
    val norm = runNode(docs, "nfc_normalize", """{"column": "text"}""")
      .select("text").as[String].collect().head
    assert(norm == "café" && norm.length == 4)

    val long = Seq((1L, (1 to 70).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val chunks = runNode(long, "chunk_docs",
      """{"column": "text", "width": 32, "stride": 16}""")
    assert(chunks.columns.toSeq ==
      Seq("doc_id", "text", "chunk_id", "n_chunk_tokens"))
    val direct = long.select(col("doc_id"),
        explode(graft.functions.ChunkDocs.chunksCol(
          col("text"), 32, 16)).as("c"))
      .select(col("doc_id"), col("c.chunk").as("text"),
        col("c.chunk_id"), col("c.n_chunk_tokens"))
    assert(chunks.collect().toSeq == direct.collect().toSeq)
  }

  test("p_decontaminate_json ≡ the complement of x_decontaminate's contaminated ids") {
    val sf = "/root/testdata/sf0.001"
    val kept = graft.SparkEntry.queries("p_decontaminate_json")(spark, sf)
      .as[Long].collect().toSet
    val contaminated = graft.SparkEntry.queries("x_decontaminate")(spark, sf)
      .as[Long].collect().toSet
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .filter("doc_id % 7 != 0").select("doc_id").as[Long].collect().toSet
    assert(kept == (corpus -- contaminated))
    assert(contaminated.nonEmpty && kept.nonEmpty)
  }

  test("domain_mix_sample node realizes a JSON-authored target mixture") {
    val docs = (1 to 200).map { i =>
      (i.toLong, if (i % 2 == 0) "web" else "books", 100L)
    }.toDF("doc_id", "domain", "tokens")
    val out = runNode(docs, "domain_mix_sample",
      """{"id_column": "doc_id", "domain_column": "domain",
          "tokens_column": "tokens", "targets": {"books": 1.0}}""")
      .select("domain").as[String].collect()
    // only the listed domain survives (unlisted → null share → drop);
    // books' share is realized by keeping (close to) all of it
    assert(out.nonEmpty && out.forall(_ == "books"))
  }
}
