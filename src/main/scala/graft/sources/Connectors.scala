package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Input connectors — the reference's connector registry
  * (connectors/builtin.py: CSVConnector, JSONConnector, HTTPConnector,
  * MySQLConnector), re-expressed over Spark's DataFrameReader.
  *
  * Every connector lands on the same contract: `read` produces a
  * DataFrame (lazily where the source allows it), `test` probes
  * availability.
  */
object Connectors {

  sealed trait Connector {
    def test(): Boolean
    def read(spark: SparkSession): DataFrame
  }

  /** csv/json local-or-DFS file connector. */
  final case class FileConnector(path: String, format: String) extends Connector {
    def test(): Boolean = Files.exists(java.nio.file.Paths.get(path))
    def read(spark: SparkSession): DataFrame = Readers.read(spark, path, format)
  }

  /** HTTP/REST fetch (connectors/builtin.py:62-130): configurable
    * method + request body (the reference's `method` config — a POST
    * "query an API" read works), query params, bearer / api-key auth
    * headers; the response body is saved to a spool file then read by
    * format from the content type. The fetch is a driver-side bounded
    * download — an API response, not the 100 TB path (that's
    * files/JDBC). [[write]] mirrors the reference's `write_data`
    * (POST a payload back to the endpoint).
    */
  final case class HttpConnector(
      url: String,
      method: String = "GET",
      headers: Map[String, String] = Map.empty,
      body: Option[String] = None,
      params: Map[String, String] = Map.empty,
      authBearer: Option[String] = None,
      apiKey: Option[(String, String)] = None,
      spoolDir: Option[Path] = None) extends Connector {

    private def client = HttpClient.newHttpClient()

    private def enc(s: String) =
      java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)

    private def fullUrl: String =
      if (params.isEmpty) url
      else url + (if (url.contains("?")) "&" else "?") +
        params.map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("&")

    /** URL + headers + auth shared by every request this connector
      * makes — read, test and write must never diverge on auth.
      */
    private def baseRequest: HttpRequest.Builder = {
      val b = HttpRequest.newBuilder(URI.create(fullUrl))
      headers.foreach { case (k, v) => b.header(k, v) }
      authBearer.foreach(t => b.header("Authorization", s"Bearer $t"))
      apiKey.foreach { case (k, v) => b.header(k, v) }
      b
    }

    private def request: HttpRequest = {
      val publisher = body
        .map(HttpRequest.BodyPublishers.ofString(_))
        .getOrElse(HttpRequest.BodyPublishers.noBody())
      baseRequest.method(method.toUpperCase, publisher).build()
    }

    def test(): Boolean =
      try client.send(request, HttpResponse.BodyHandlers.discarding()).statusCode() < 400
      catch { case _: Exception => false }

    def read(spark: SparkSession): DataFrame = {
      val resp = client.send(request, HttpResponse.BodyHandlers.ofByteArray())
      require(resp.statusCode() < 400, s"HTTP ${resp.statusCode()} from $url")
      val contentType = resp.headers.firstValue("content-type").orElse("")
      val fmt =
        if (contentType.contains("json")) "json"
        else if (contentType.contains("csv")) "csv"
        else "json"
      // the spool outlives this call (Spark reads it lazily): the
      // shared JVM-lifetime temp base deletes it at exit
      val dir = spoolDir.getOrElse(graft.LocalFs.tempDir("graft_http").toPath)
      val spool = dir.resolve(s"payload.$fmt")
      Files.write(spool, resp.body())
      Readers.read(spark, spool.toString, fmt)
    }

    /** `write_data`: POST a payload to the endpoint; returns the status. */
    def write(payload: String, contentType: String = "application/json"): Int = {
      val req = baseRequest.header("Content-Type", contentType)
        .POST(HttpRequest.BodyPublishers.ofString(payload)).build()
      client.send(req, HttpResponse.BodyHandlers.discarding()).statusCode()
    }
  }

  /** JDBC database connector (MySQL/Postgres/...): pushes the query to
    * the database; with partitionColumn bounds it reads in parallel
    * across `numPartitions` executor connections.
    */
  final case class JdbcConnector(
      url: String, query: String,
      props: Map[String, String] = Map.empty,
      partitionColumn: Option[(String, Long, Long, Int)] = None) extends Connector {

    def test(): Boolean =
      try { java.sql.DriverManager.getConnection(url).close(); true }
      catch { case _: Exception => false }

    def read(spark: SparkSession): DataFrame = {
      val base = spark.read.format("jdbc")
        .option("url", url)
        .options(props)
      // Spark rejects `query` + `partitionColumn` together — the
      // partitioned path must route the same query through `dbtable`
      // as a derived table, so each executor connection appends its
      // own stride predicate to it
      val r = partitionColumn match {
        case Some((col, lower, upper, n)) => base
          .option("dbtable", s"($query) graft_q")
          .option("partitionColumn", col)
          .option("lowerBound", lower).option("upperBound", upper)
          .option("numPartitions", n)
        case None => base.option("query", query)
      }
      r.load()
    }
  }
}
