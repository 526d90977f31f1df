package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import com.sun.net.httpserver.HttpServer
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Static capture sink for the fake RPC client — executors in
  * local mode share the JVM, so a singleton sees every partition.
  */
object RpcCapture {
  val auths = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String)]()
  val calls =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String, Seq[(String, Any)])]()
  def reset(): Unit = { auths.clear(); calls.clear() }
}

class CapturingRpcClient extends Export.RpcClient {
  def authenticate(db: String, username: String, password: String): Option[Long] = {
    RpcCapture.auths.add((db, username, password)); Some(7L)
  }
  def executeKw(db: String, uid: Long, password: String,
                model: String, method: String,
                record: Seq[(String, Any)]): Long = {
    RpcCapture.calls.add((uid, model, method, record)); RpcCapture.calls.size().toLong
  }
}

class SourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("csv/json/parquet/orc round-trip through Writers and Readers") {
    val df = Seq((1, "a"), (2, "b")).toDF("id", "s")
    val dir = graft.TestDirs.create("graft_rt")
    for (fmt <- Seq("csv", "json", "parquet", "orc")) {
      val p = dir.resolve(fmt).toString
      Writers.write(df, p, fmt)
      val back = Readers.read(spark, p, fmt)
      assert(back.count() == 2, fmt)
      assert(back.columns.toSet == Set("id", "s"), fmt)
    }
  }

  test("Readers.read applies a caller's schema to parquet and orc") {
    val df = Seq((1, "a", 0.5), (2, "b", 1.5)).toDF("id", "tag", "v")
    val dir = graft.TestDirs.create("graft_rd_schema")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id INT, tag STRING")
    for (fmt <- Seq("parquet", "orc")) {
      val p = dir.resolve(fmt).toString
      Writers.write(df, p, fmt)
      val back = Readers.read(spark, p, fmt, schema = Some(schema))
      assert(back.schema == schema, fmt)
      assert(back.orderBy("id").collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
        Seq(1 -> "a", 2 -> "b"), fmt)
    }
  }

  test("pdf format reads files as (path, length, text) via binaryFile") {
    val dir = graft.TestDirs.create("graft_pdf")
    Files.write(dir.resolve("a.pdf"),
      graft.functions.PdfText.minimalPdf("alpha document"))
    Files.write(dir.resolve("b.pdf"),
      graft.functions.PdfText.minimalPdf("beta document", flate = true))
    Files.write(dir.resolve("notes.txt"), "not a pdf".getBytes)
    assert(Readers.detectFormat("/x/report.PDF") == "pdf")
    val out = Readers.read(spark, dir.toString, "pdf")
      .orderBy("path").collect()
    // the glob filter keeps the txt out; both PDFs extract real text
    assert(out.length == 2)
    assert(out.map(_.getAs[String]("text")).toSeq ==
      Seq("alpha document", "beta document"))
    assert(out.forall(_.getAs[Long]("length") > 0))
    // plan pin: the extract is the native graft_pdf_text, not a Scala
    // udf (the DAG node and the file reader share one expression)
    val plan = Readers.read(spark, dir.toString, "pdf")
      .queryExecution.analyzed.toString
    assert(!plan.contains("UDF"), plan)
    assert(plan.contains("graft_pdf_text"), plan)
  }

  test("inferSchema and detectFormat") {
    val dir = graft.TestDirs.create("graft_schema")
    val p = dir.resolve("t.csv").toString
    Writers.write(Seq((1, "a")).toDF("id", "s"), p, "csv")
    val fields = Readers.inferSchema(spark, p, "csv")
    assert(fields.map(_._1).toSet == Set("id", "s"))
    assert(Readers.detectFormat("/x/y/data.PARQUET") == "parquet")
    assert(Readers.detectFormat("/x/y/data.weird") == "csv")
  }

  test("unsupported formats raise instead of guessing") {
    // .xls detects as xls (→ XlsReader), never silently as csv
    assert(Readers.detectFormat("/x/legacy.xls") == "xls")
    intercept[IllegalArgumentException] {
      Writers.write(Seq(1).toDF("x"), "/tmp/none.xlsx", "xlsx")
    }
  }

  test("xml reads real rows (reference silently misparses xml as csv)") {
    val dir = graft.TestDirs.create("graft_xml")
    val p = dir.resolve("data.xml")
    Files.writeString(p,
      """<?xml version="1.0"?>
        |<rows>
        |  <row><id>1</id><name>Alice &amp; co</name><amount>10.5</amount></row>
        |  <row><id>2</id><name>Bob</name><amount>20.0</amount></row>
        |</rows>""".stripMargin)
    val df = Readers.read(spark, p.toString, "xml")
    val rows = df.orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("name"), r.getAs[Double]("amount")))
    assert(rows.toSeq == Seq((1L, "Alice & co", 10.5), (2L, "Bob", 20.0)))
    assert(Readers.detectFormat("/x/d.xml") == "xml")
    // custom record tag via options
    val p2 = dir.resolve("items.xml")
    Files.writeString(p2,
      "<catalog><item><sku>a</sku></item><item><sku>b</sku></item></catalog>")
    val df2 = Readers.read(spark, p2.toString, "xml",
      options = Map("rowTag" -> "item"))
    assert(df2.collect().map(_.getAs[String]("sku")).sorted.toSeq == Seq("a", "b"))
  }

  test("Readers.read takes an http(s) URL as a file path (presigned-URL parity)") {
    // reference installs DuckDB httpfs (duckdb_engine.py:25) and
    // preview_file accepts "Local path or presigned URL" — Readers.read
    // must accept a bare https:// input the same way
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val body = "id,s\n1,a\n2,b\n".getBytes(StandardCharsets.UTF_8)
    server.createContext("/files/table.csv", { ex =>
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body); ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/files/table.csv"
      val df = Readers.read(spark, base, "csv")
      assert(df.count() == 2 && df.columns.toSet == Set("id", "s"))
      // presigned-style URL: format detection must see through the query string
      val presigned = s"$base?X-Amz-Signature=abc123&X-Amz-Expires=3600"
      assert(Readers.detectFormat(presigned) == "csv")
      val df2 = Readers.read(spark, presigned, Readers.detectFormat(presigned))
      assert(df2.count() == 2)
      // ...but LOCAL paths keep '#'/'?' verbatim (legal filename chars)
      assert(Readers.detectFormat("/data/file#1.parquet") == "parquet")
      // a 3xx redirect is FOLLOWED (S3-style 307), not spooled as data
      server.createContext("/moved.csv", { ex =>
        ex.getResponseHeaders.add("Location", "/files/table.csv")
        ex.sendResponseHeaders(302, -1); ex.close()
      })
      val viaRedirect = Readers.read(spark,
        s"http://127.0.0.1:${server.getAddress.getPort}/moved.csv", "csv")
      assert(viaRedirect.count() == 2)
      // a 404 raises loudly instead of parsing an error page as csv
      intercept[IllegalArgumentException] {
        Readers.read(spark,
          s"http://127.0.0.1:${server.getAddress.getPort}/missing.csv", "csv")
      }
    } finally server.stop(0)
  }

  test("FileConnector test() and read()") {
    val dir = graft.TestDirs.create("graft_fc")
    val p = dir.resolve("c.csv").toString
    Writers.write(Seq((1, "a")).toDF("id", "s"), p, "csv")
    val c = Connectors.FileConnector(p, "csv")
    assert(c.test())
    assert(c.read(spark).count() == 1)
    assert(!Connectors.FileConnector("/nope/missing.csv", "csv").test())
  }

  test("HttpConnector fetches CSV from a local server by content type") {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val body = "id,s\n1,a\n2,b\n".getBytes(StandardCharsets.UTF_8)
    server.createContext("/data", { ex =>
      ex.getResponseHeaders.add("Content-Type", "text/csv")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body); ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/data"
      val c = Connectors.HttpConnector(url)
      assert(c.test())
      val df = c.read(spark)
      assert(df.count() == 2 && df.columns.toSet == Set("id", "s"))
    } finally server.stop(0)
  }

  test("HttpConnector POST method sends the body and reads the JSON response") {
    val seenBody = new java.util.concurrent.atomic.AtomicReference[String]("")
    val seenMethod = new java.util.concurrent.atomic.AtomicReference[String]("")
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val out = """{"id":1,"s":"a"}""".getBytes(StandardCharsets.UTF_8)
    server.createContext("/q", { ex =>
      seenMethod.set(ex.getRequestMethod)
      seenBody.set(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, out.length)
      ex.getResponseBody.write(out); ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/q"
      val c = Connectors.HttpConnector(url, method = "POST",
        body = Some("""{"query":"all"}"""), params = Map("page" -> "1"))
      val df = c.read(spark)
      assert(df.count() == 1 && df.columns.toSet == Set("id", "s"))
      assert(seenMethod.get() == "POST")
      assert(seenBody.get() == """{"query":"all"}""")
      // write_data mirror: POST a payload back
      assert(c.write("""[{"x":1}]""") == 200)
    } finally server.stop(0)
  }

  test("Export.recordRpc authenticates per partition then sends one call per record") {
    RpcCapture.reset()
    val df = (1 to 6).map(i => (i.toLong, s"rec$i")).toDF("id", "name").coalesce(2)
    Export.recordRpc(df, new CapturingRpcClient, "dbx", "alice", "secret", "product.product")
    assert(RpcCapture.auths.size() == 2) // once per non-empty partition
    assert(RpcCapture.auths.asScala.toSet == Set(("dbx", "alice", "secret")))
    val calls = RpcCapture.calls.asScala.toSeq
    assert(calls.size == 6)
    assert(calls.forall { case (uid, model, method, _) =>
      uid == 7L && model == "product.product" && method == "create" })
    assert(calls.map(_._4.toMap.apply("name")).toSet ==
      (1 to 6).map(i => s"rec$i").toSet)
  }

  test("XmlRpcClient speaks the Odoo endpoint shape end-to-end") {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val reqs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    def serve(path: String, resp: String): Unit =
      server.createContext(path, { ex =>
        reqs.add((path, new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)))
        val out = resp.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.add("Content-Type", "text/xml")
        ex.sendResponseHeaders(200, out.length)
        ex.getResponseBody.write(out); ex.close()
      })
    serve("/xmlrpc/2/common",
      "<methodResponse><params><param><value><int>42</int></value></param></params></methodResponse>")
    serve("/xmlrpc/2/object",
      "<methodResponse><params><param><value><int>1001</int></value></param></params></methodResponse>")
    server.start()
    try {
      val client = Export.XmlRpcClient(s"http://127.0.0.1:${server.getAddress.getPort}")
      assert(client.authenticate("db", "u", "p").contains(42L))
      val id = client.executeKw("db", 42L, "p", "res.partner", "create",
        Seq("name" -> "n<1>", "qty" -> 5, "price" -> 1.5, "ok" -> true,
          "note" -> null, "big_id" -> 3000000000L))
      assert(id == 1001L)
      val objBody = reqs.asScala.find(_._1 == "/xmlrpc/2/object").get._2
      assert(objBody.contains("<methodName>execute_kw</methodName>"))
      assert(objBody.contains("<name>name</name><value><string>n&lt;1></string></value>"))
      assert(objBody.contains("<int>5</int>") && objBody.contains("<double>1.5</double>"))
      assert(objBody.contains("<boolean>1</boolean>") && objBody.contains("<nil/>"))
      // XML-RPC <int> is 32-bit: Longs (DataFrame ids) must ship as
      // <i8>, which compliant servers accept and an <int> beyond 2^31
      // would make them reject at parse time.
      assert(objBody.contains("<i8>3000000000</i8>"))
    } finally server.stop(0)
  }

  test("Export.webhook posts executor-side JSON batches with retry") {
    val hits = new AtomicInteger(0)
    val fails = new AtomicInteger(2) // first 2 requests 500 → retried
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/hook", { ex =>
      val code = if (fails.getAndDecrement() > 0) 500 else 200
      if (code == 200) hits.incrementAndGet()
      ex.sendResponseHeaders(code, -1); ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/hook"
      val df = (1 to 10).map(i => (i, s"row$i")).toDF("id", "s").coalesce(1)
      Export.webhook(df, Export.HttpPost(url), batchSize = 5)
      assert(hits.get() == 2) // 10 rows / batch 5
    } finally server.stop(0)
  }

  test("rowsToJson escapes control characters and quotes") {
    import org.apache.spark.sql.Row
    val json = Export.rowsToJson(Seq("a", "b"),
      Seq(Row("x\"y\n", 5), Row(null, 1.5)))
    assert(json == """[{"a":"x\"y\n","b":5},{"a":null,"b":1.5}]""")
  }
}
