package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.types.StructType

/** File-format readers — the reference's `_read_function`
  * (duckdb_engine.py:266-281) surface: csv, json, parquet, txt, plus
  * REAL xlsx ([[XlsxReader]]) and legacy xls ([[XlsReader]]) reads
  * (both JDK-only) and xml (Spark 4 built-in source) where the
  * reference either shells out to DuckDB st_read or silently
  * misparses xml as csv.
  *
  * Schema inference runs whenever the caller passes no schema, and its
  * cost depends on the format:
  *  - parquet and orc: one footer, read on the driver (for parquet by
  *    [[FooterParquet]]; Spark's orc source does so itself), so no
  *    Spark job; `mergeSchema` reads every footer in one job;
  *  - csv/txt and json: a Spark job that scans the input (at 100 TB a
  *    full extra scan, so large callers pass a schema);
  *  - xlsx/xls: parsed on the driver, the inference is the read.
  * csv/json are splittable here because multiLine stays off.
  */
object Readers {

  def read(
      spark: SparkSession, path: String, format: String,
      schema: Option[StructType] = None,
      options: Map[String, String] = Map.empty): DataFrame = {
    // Presigned-URL / bare-https inputs (reference parity: it installs
    // DuckDB httpfs — duckdb_engine.py:25 — and preview_file documents
    // "Local path or presigned URL", :31): spool the response to a temp
    // file, then read locally. A driver-side bounded download — the
    // right shape for an API payload or a presigned preview, NOT the
    // 100 TB path (that's s3a/abfss object-store URIs, which Spark's
    // own FileSystem layer handles without touching this branch).
    if (path.startsWith("http://") || path.startsWith("https://"))
      return read(spark, spoolUrl(path), format, schema, options)
    val fmt = format.toLowerCase
    val base = fmt match {
      case "csv" | "txt" =>
        val r = spark.read.options(Map(
          "header" -> "true", "inferSchema" -> schema.isEmpty.toString) ++ options)
        schema.fold(r)(r.schema).csv(path)
      case "json" =>
        val r = spark.read.options(options)
        schema.fold(r)(r.schema).json(path)
      case "parquet" =>
        val r = parquetReader(spark).options(options)
        schema.fold(r)(r.schema).load(path)
      case "orc" =>
        val r = spark.read.options(options)
        schema.fold(r)(r.schema).orc(path)
      case "xlsx" =>
        // the reference reads Excel via DuckDB's spatial st_read
        // (duckdb_engine.py:258); here a JDK-only zip+StAX reader
        // (no POI on the offline classpath) — see [[XlsxReader]].
        // A caller-supplied schema overrides inference (cast by name,
        // like the csv branch); options("sheet") selects a worksheet.
        val inferred = XlsxReader.read(spark, path, options.get("sheet"))
        schema.fold(inferred) { st =>
          inferred.select(st.fields.toSeq.map(f =>
            org.apache.spark.sql.functions.col(f.name).cast(f.dataType)): _*)
        }
      case "xml" =>
        // REAL xml rows via Spark 4's built-in xml source (the
        // reference silently parses xml as CSV — duckdb_engine.py:261
        // — yielding wrong data; this reads it properly). Record
        // element defaults to <row>, override with options("rowTag").
        val r = spark.read.options(Map("rowTag" -> "row") ++ options)
        schema.fold(r)(r.schema).xml(path)
      case "xls" =>
        // pre-2007 binary Excel: JDK-only BIFF8 reader over the CFB
        // container (see [[XlsReader]] — [MS-CFB]/[MS-XLS] are public
        // specs; the reference reads it through DuckDB st_read/GDAL).
        // Same schema-override and sheet-option contract as xlsx.
        val inferred = XlsReader.read(spark, path, options.get("sheet"))
        schema.fold(inferred) { st =>
          inferred.select(st.fields.toSeq.map(f =>
            org.apache.spark.sql.functions.col(f.name).cast(f.dataType)): _*)
        }
      case "pdf" =>
        // PDFs read as (path, length, text): Spark's binaryFile source
        // streams the bytes (splittable by FILE — the right unit for
        // documents) and the native graft_pdf_text kernel (same expression the
        // DAG node uses, PipelineDag pdf_extract) extracts per row on
        // the executors — no Scala-udf serialization wall in the plan.
        // Callers wanting the raw bytes read format "binaryfile".
        spark.read.format("binaryFile")
          .options(Map("pathGlobFilter" -> "*.pdf") ++ options).load(path)
          .select(
            org.apache.spark.sql.functions.col("path"),
            org.apache.spark.sql.functions.col("length"),
            graft.functions.PdfText.pdfText(
              org.apache.spark.sql.functions.col("content")).as("text"))
      case "binaryfile" =>
        spark.read.format("binaryFile").options(options).load(path)
      case other =>
        throw new IllegalArgumentException(s"Unsupported input format: $other")
    }
    base
  }

  /** Every graft parquet read: Spark's parquet source, with the schema
    * taken from one footer on the driver instead of an inference job
    * ([[FooterParquet]]). `options` are Spark's parquet read options
    * (`basePath`, `mergeSchema`, ...).
    */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    parquet(spark, Map.empty[String, String], paths: _*)

  def parquet(spark: SparkSession, options: Map[String, String], paths: String*): DataFrame =
    parquetReader(spark).options(options).load(paths: _*)

  private def parquetReader(spark: SparkSession): DataFrameReader =
    spark.read.format(classOf[FooterParquet].getName)

  /** infer_schema (duckdb_engine.py:66-86): name/type/nullable rows. */
  def inferSchema(spark: SparkSession, path: String, format: String): Seq[(String, String, Boolean)] =
    read(spark, path, format).schema.fields.toSeq
      .map(f => (f.name, f.dataType.sql, f.nullable))

  /** Format detection by extension (duckdb_engine.py:283-287).
    * For URLs the query string / fragment is stripped first so a
    * presigned URL's `?X-Amz-...` tail can't hide the real extension;
    * LOCAL paths are taken verbatim (`#` and `?` are legal filename
    * characters there).
    */
  def detectFormat(path: String): String = {
    val clean =
      if (path.startsWith("http://") || path.startsWith("https://"))
        path.takeWhile(c => c != '?' && c != '#')
      else path
    val ext = clean.reverse.takeWhile(_ != '.').reverse.toLowerCase
    // "xls" maps to itself so a legacy Excel file hits the loud
    // unsupported error in read() instead of silently misparsing as csv
    if (Set("csv", "json", "parquet", "txt", "xlsx", "xls", "xml", "pdf")
        .contains(ext)) ext
    else "csv"
  }

  /** Download an http(s) URL to a temp spool file (extension kept so
    * downstream format detection still works) and return its path.
    * The body STREAMS to disk (never buffered on the heap — a
    * presigned parquet download can be multi-GB); redirects are
    * followed (the JDK default is NEVER, and an S3-style 307 would
    * otherwise "succeed" with an empty body); only 2xx is success.
    */
  private def spoolUrl(url: String): String = {
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val ext = detectFormat(url)
    val spoolDir = java.nio.file.Files.createTempDirectory("graft_url")
    val spool = spoolDir.resolve(s"payload.$ext")
    // JVM-exit cleanup (reverse order: file before dir) — the spool
    // must outlive this call because Spark re-reads the path lazily,
    // so eager deletion isn't possible; without this, repeated URL
    // reads accumulate temp files for the life of the machine.
    spoolDir.toFile.deleteOnExit()
    spool.toFile.deleteOnExit()
    val client = HttpClient.newBuilder()
      .followRedirects(HttpClient.Redirect.NORMAL)
      .connectTimeout(java.time.Duration.ofSeconds(30)).build()
    // HttpRequest.timeout only bounds time-to-HEADERS in java.net.http
    // — a server that stalls MID-BODY with the connection open would
    // hang a file body handler forever. Stream the body and watchdog
    // PROGRESS instead: a window with no bytes aborts the read (the
    // timer closes the stream, failing the blocked read()); a slow but
    // moving multi-GB presigned download is never killed.
    val resp = client.send(
      HttpRequest.newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofSeconds(60)).GET().build(),
      HttpResponse.BodyHandlers.ofInputStream())
    val in = resp.body()
    if (resp.statusCode() / 100 != 2) {
      in.close()
      java.nio.file.Files.deleteIfExists(spool) // error page is not data
      throw new IllegalArgumentException(
        s"HTTP ${resp.statusCode()} fetching $url")
    }
    val stallNanos = 120L * 1000 * 1000 * 1000
    val lastProgress = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
    val watchdog = new java.util.Timer("graft-spool-watchdog", true)
    watchdog.schedule(new java.util.TimerTask {
      def run(): Unit =
        if (System.nanoTime() - lastProgress.get() > stallNanos)
          try in.close() catch { case _: Exception => () }
    }, 10000L, 10000L)
    try {
      val out = java.nio.file.Files.newOutputStream(spool)
      try {
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n >= 0) {
          out.write(buf, 0, n)
          lastProgress.set(System.nanoTime())
          n = in.read(buf)
        }
      } finally out.close()
    } catch {
      case e: Exception =>
        java.nio.file.Files.deleteIfExists(spool) // partial body is not data
        throw new IllegalArgumentException(s"download of $url failed or stalled", e)
    } finally {
      watchdog.cancel()
      try in.close() catch { case _: Exception => () }
    }
    spool.toString
  }
}
