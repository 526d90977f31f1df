package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, kll_sketch_agg_double, lit, typedLit, xxhash64}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.{TestSessions, TestSpark}
import graft.multimodal.MediaFixtures

/** The native kernels ([[NativeCall]]) and the one SQL function table
  * ([[GraftFunctions]]): the table is the whole `graft_*` surface of a
  * session with or without the extension; every kernel keeps its SQL
  * text and explain string; both evaluation paths agree on every
  * kernel; subexpression elimination still shares one Luhn pass.
  */
class NativeCallSpec extends AnyFunSuite {
  import CurationKernelsSpec.withCodegen
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ------------------------------------------------------------ inputs

  private def sketch(agg: Column, values: DataFrame): Array[Byte] =
    values.agg(agg).head().getAs[Array[Byte]](0)

  private lazy val freq = sketch(FreqFunctions.freqAgg($"v"), Seq("x", "y", "x", "z", "x").toDF("v"))
  private lazy val freqEmpty = sketch(FreqFunctions.freqAgg($"v"), Seq.empty[String].toDF("v"))

  private val pdf =
    ("%PDF-1.4\n1 0 obj\n<< /Length 40 >>\nstream\nBT /F1 12 Tf (hello pdf) Tj ET\n" +
      "endstream\nendobj\n%%EOF\n").getBytes("ISO-8859-1")

  /** The seven numeric array kinds, one vector column each. */
  private val vectorCols = Seq("vd" -> DoubleType, "vf" -> FloatType, "vl" -> LongType,
    "vi" -> IntegerType, "vs" -> ShortType, "vb" -> ByteType, "vm" -> DecimalType(10, 2))

  private val schema = StructType(Seq(
    StructField("t", StringType), StructField("b", BinaryType),
    StructField("fq", BinaryType),
    StructField("h", ArrayType(LongType)), StructField("d", ArrayType(DoubleType)),
    StructField("i", ArrayType(LongType)), StructField("si", ArrayType(IntegerType)),
    StructField("w", ArrayType(StringType)), StructField("pc", BinaryType),
    StructField("bc", BinaryType), StructField("qi", IntegerType),
    StructField("dfs", ArrayType(DoubleType)), StructField("n", LongType),
    StructField("dl", DoubleType)) ++
    vectorCols.map { case (n, t) => StructField(n, ArrayType(t)) })

  /** `xs` as a vector column's value: each element in the column's kind. */
  private def vector(xs: Seq[Option[Double]]): Seq[Seq[Any]] = vectorCols.map { case (_, t) =>
    xs.map(_.map[Any] { x =>
      t match {
        case DoubleType => x
        case FloatType => x.toFloat
        case LongType => x.toLong
        case IntegerType => x.toInt
        case ShortType => x.toShort
        case ByteType => x.toByte
        case _ => new java.math.BigDecimal(x).setScale(2)
      }
    }.orNull)
  }

  /** Row 0 all null, row 1 every empty value (a vector with a null
    * element: an empty vector has the wrong width), then real values. */
  private lazy val inputRows: Seq[Row] = {
    val texts = Seq("Hello, World! The cat sat on the mat; is it? yes.",
      "İstanbul Kelvin 汉字 4111 1111 1111 1111 me@example.com 555-867-5309",
      "the of and a to in is " * 20 + "é é 😀",
      "  one\ttwo\nthree  ")
    val bins = Seq(MediaFixtures.pngGradient(1), MediaFixtures.wavClip(2), pdf,
      "not media at all".getBytes("US-ASCII"))
    val real = texts.indices.map { j =>
      Row.fromSeq(Seq(texts(j), bins(j), freq,
        Seq(1L, 5L, -3L, j.toLong), Seq(1.0, 2.5, -0.5, j * 0.1), Seq(1L, 0L, 3L, 2L),
        Seq(0, 2, j), texts(j).toLowerCase.split(" ").toSeq,
        Array(j.toByte, (3 - j).toByte), Array((j * 37).toByte), j % 2,
        Seq(3.0, 1.0 * j, 0.0), 10L + j, 4.0 + j) ++
        vector(Seq(1.0 + j, -2.0, 0.5 * j, 3.0).map(Some(_))))
    }
    Row.fromSeq(Seq.fill(schema.size)(null)) +:
      Row.fromSeq(Seq("", Array.emptyByteArray, freqEmpty,
        Seq.empty[Long], Seq.empty[Double], Seq.empty[Long], Seq.empty[Int], Seq.empty[String],
        Array[Byte](0, 1), Array[Byte](5), 0, Seq(0.0, 0.0, 0.0), 1L, 1.0) ++
        vector(Seq(Some(1.0), None, Some(3.0), Some(4.0)))) +: real
  }

  private lazy val inputs: DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(inputRows, 2), schema)

  // ------------------------------------------------------------ models

  private val sqMins = Array(-2.0, -2.0, -2.0, -2.0)
  private val sqScales = Array(0.02, 0.05, 0.0, 0.03)
  private val bqThresholds = Array(0.0, 0.5, -1.0, 1.0)
  private val codebooks = Array.tabulate(2, 4, 2)((s, c, j) => s + c * 0.7 - j * 0.3)
  private val rotation = Array(Array(0.0, 1.0, 0.0, 0.0), Array(1.0, 0.0, 0.0, 0.0),
    Array(0.0, 0.0, 0.6, -0.8), Array(0.0, 0.0, 0.8, 0.6))
  private val centroids = Array(Array(1.0, 0.0, 0.0, 1.0), Array(-1.0, 2.0, 0.5, 0.0),
    Array(3.0, -2.0, 1.0, 3.0))
  private val adcTable = Array.tabulate(8)(x => x * 0.25 - 1.0)
  private val adcTables = Array(adcTable, adcTable.reverse)
  private val bqQuery = Array(0x0f.toByte)
  private val bqQueries = Array(bqQuery, Array(0x33.toByte))
  private val dsirTable = Array.tabulate(4096)(x => (x % 7 - 3) * 12345678L)
  private val bm25Terms = Seq("the", "cat", "is")
  private val bloom = {
    val f = org.apache.spark.util.sketch.BloomFilter.create(100)
    Seq(42L, 7L, -1L).foreach(f.putLong)
    f
  }
  private val langModel = graft.operators.LangId.Model(Array("en", "fr"),
    Array(math.log(0.6), math.log(0.4)),
    Array.tabulate(2, 16)((l, b) => -(b + 1 + l * (b % 3)).toFloat / 10), 16, 1, 2)
  private val langDecimal = graft.operators.LangId.DecimalModel(Array("en", "fr"),
    Array(-5000000000L, -9000000000L),
    Array.tabulate(2, 16)((l, b) => -(b + 1 + l * (b % 3)) * 1000000000L), 16, 1, 2)

  // --------------------------------------------- every converted kernel

  /** (label, Column, pinned `sql`, pinned `toString` with expression ids
    * dropped) — the pins are the values of the hand-written classes
    * the kernels replaced. */
  private def kernels: Seq[(String, Column, String, String)] = {
    val (t, b, h) = (col("t"), col("b"), col("h"))
    val (fq, d, i) = (col("fq"), col("d"), col("i"))
    def k(label: String, c: Column, sql: String, str: String) = (label, c, sql, str)
    Seq(
      k("collapse_ws", TextMetrics.collapseWsCol(t), "graft_collapse_ws(t)", "graft_collapse_ws(t)"),
      k("ws_token_count", TextMetrics.wsTokenCountCol(t),
        "graft_ws_token_count(t)", "graft_ws_token_count(t)"),
      k("bpe_token_count", TextMetrics.bpeTokenCountCol(t),
        "graft_bpe_token_count(t)", "graft_bpe_token_count(t)"),
      k("punct_count", TextMetrics.punctCountCol(t), "graft_punct_count(t)", "graft_punct_count(t)"),
      k("stopword_hits", TextMetrics.stopwordHitsCol(t),
        "graft_stopword_hits(t)", "graft_stopword_hits(t)"),
      k("has_han", TextMetrics.hasHanCol(t), "graft_has_han(t)", "graft_has_han(t)"),
      k("shingle_hashes", TextSignatures.shingleHashesCol(t, 3),
        "graft_shingle_hashes(t)", "graft_shingle_hashes(t, 3)"),
      k("shingle_strings", TextSignatures.shingleStringsCol(t, 2),
        "graft_shingle_strings(t)", "graft_shingle_strings(t, 2)"),
      k("minhash_sig", TextSignatures.minHashSigCol(h, 4),
        "graft_minhash_sig(h)", "graft_minhash_sig(h, 4)"),
      k("simhash64", TextSignatures.simHash64Col(t), "graft_simhash64(t)", "graft_simhash64(t)"),
      k("lang_id", TextFunctions.langId(t), "graft_lang_id(t)", "graft_lang_id(t)"),
      k("gopher", TextFunctions.gopherFailReason(t), "graft_gopher_fail_reason(t)",
        "graft_gopher_fail_reason(t, 50, 100000, 3.0, 10.0, 0.6)"),
      k("pii_redact", TextFunctions.piiRedact(t), "graft_pii_redact(t, graft_luhn_cards(t))",
        "graft_pii_redact(t, graft_luhn_cards(t))"),
      k("nfc", NfcNormalize.nfcNormalize(t), "graft_nfc(t)", "graft_nfc(t)"),
      k("char_entropy", CharEntropy.charEntropyCol(t),
        "graft_char_entropy(t)", "graft_char_entropy(t)"),
      k("luhn_cards", LuhnCards.validCandidatesCol(t), "graft_luhn_cards(t)", "graft_luhn_cards(t)"),
      k("rolling_hash", RollingHash.rollingHash(t)(spark),
        "graft_rolling_hash(t)", "graft_rolling_hash(t)"),
      k("pdf_text", PdfText.pdfText(b), "graft_pdf_text(b)", "graft_pdf_text(b)"),
      k("image_dims", ImageDims.imageDims(b), "graft_image_dims(b)", "graft_image_dims(b)"),
      k("audio_meta", AudioMeta.audioMeta(b), "graft_audio_meta(b)", "graft_audio_meta(b)"),
      k("video_meta", VideoMeta.videoMeta(b), "graft_video_meta(b)", "graft_video_meta(b)"),
      k("chunks", ChunkDocs.chunksCol(t, 4, 2), "graft_chunks(t)", "graft_chunks(t, 4, 2)"),
      k("positioned_shingles", SpanScrub.positionedShinglesCol(t, 3),
        "graft_positioned_shingles(t)", "graft_positioned_shingles(t, 3)"),
      k("freq_top", FreqFunctions.freqTopItems(fq, 3), "graft_freq_top(fq)", "graft_freq_top(fq, 3)"),
      k("array_fsum", Bm25Native.sumOrderedCol(d), "graft_array_fsum(d)", "graft_array_fsum(d)"),
      k("array_picksum", Bm25Native.pickSumCol(d, i),
        "graft_array_picksum(d, i)", "graft_array_picksum(d, i)"),
      k("lang_grams", graft.operators.LangId.FeatureBuckets.colWith(1, 3, 64)(t),
        "graft_lang_grams(t)", "graft_lang_grams(t, 1, 3, 64)")) ++ modelKernels
  }

  /** The kernels that carry a model, each over a small fixture model;
    * the vector kernels once per element kind. `sql` is the replaced
    * class's; `toString` prints each model as its fingerprint, where
    * the class printed array identities. */
  private def modelKernels: Seq[(String, Column, String, String)] = {
    val (t, i, si, w) = (col("t"), col("i"), col("si"), col("w"))
    val (pc, bc, qi) = (col("pc"), col("bc"), col("qi"))
    def k(label: String, c: Column, sql: String, str: String) = (label, c, sql, str)
    vectorCols.map(_._1).flatMap { v =>
      Seq(
        k(s"sq_encode $v", SqFunctions.sqEncode(col(v), sqMins, sqScales, normalize = true),
          s"graft_sq_encode($v)", s"graft_sq_encode($v, $SqMins, $SqScales, true)"),
        k(s"bq_encode $v", BqFunctions.bqEncode(col(v), bqThresholds, normalize = false),
          s"graft_bq_encode($v)", s"graft_bq_encode($v, $BqThresholds, false)"),
        k(s"pq_encode $v", PqFunctions.pqEncode(col(v), codebooks, normalize = true),
          s"graft_pq_encode($v)", s"graft_pq_encode($v, $Codebooks, true, $NoRotation)"),
        k(s"opq_encode $v", PqFunctions.pqEncode(col(v), codebooks, normalize = false, rotation),
          s"graft_pq_encode($v)", s"graft_pq_encode($v, $Codebooks, false, $Rotation)"),
        k(s"nearest_cell $v", CentroidFunctions.nearestCell(col(v), centroids),
          s"graft_nearest_cell($v)", s"graft_nearest_cell($v, $Centroids, $Halves)"),
        k(s"dot $v", VectorFunctions.dot(col(v), col("vd")),
          s"graft_dot($v, vd)", s"graft_dot($v, vd)"))
    } ++ Seq(
      k("pq_adc", PqFunctions.pqAdc(pc, adcTable, 2, 4),
        "graft_pq_adc(pc)", s"graft_pq_adc(pc, $AdcTable, 2, 4)"),
      k("pq_adc_batch", PqFunctions.pqAdcBatch(pc, qi, adcTables, 2, 4),
        "graft_pq_adc_batch(pc, qi)", s"graft_pq_adc_batch(pc, qi, $AdcTables, 2, 4)"),
      k("bq_hamming", BqFunctions.bqHamming(bc, bqQuery),
        "graft_bq_hamming(bc)", s"graft_bq_hamming(bc, $BqQuery)"),
      k("bq_hamming_batch", BqFunctions.bqHammingBatch(bc, qi, bqQueries),
        "graft_bq_hamming_batch(bc, qi)", s"graft_bq_hamming_batch(bc, qi, $BqQueries)"),
      k("dsir_sum", DsirScore.dsirSumCol(t, dsirTable),
        "graft_dsir_sum(t)", s"graft_dsir_sum(t, $DsirTable)"),
      k("bm25_matchvec", Bm25Native.matchVecCol(w, bm25Terms),
        "graft_bm25_matchvec(w)", s"graft_bm25_matchvec(w, $Bm25Terms, 3)"),
      k("bm25_contribs", Bm25Native.contribsCol(w, col("dfs"), col("n"), col("dl"),
          bm25Terms, 1.2, 0.75), "graft_bm25_contribs(w, dfs, n, dl)",
        s"graft_bm25_contribs(w, dfs, nL, dl, $Bm25Terms, 3, 1.2, 0.75)"),
      k("bloom_might_contain", BloomMightContain.mightContain(xxhash64(t), bloom),
        "graft_bloom_might_contain(xxhash64(t))",
        s"graft_bloom_might_contain(xxhash64(t, 42), $Bloom)"),
      k("scrub_spans int", SpanScrub.scrubCol(t, si, 2, 1),
        "graft_scrub_spans(t, si)", "graft_scrub_spans(t, si, 2, 1)"),
      k("scrub_spans bigint", SpanScrub.scrubCol(t, i, 1, 2),
        "graft_scrub_spans(t, i)", "graft_scrub_spans(t, i, 1, 2)"),
      k("lang_id_model", graft.operators.LangId.langIdModel(t, langModel),
        "graft_lang_id_model(t)", s"graft_lang_id_model(t, $LangModel, 0.0)"),
      k("lang_id_model und", graft.operators.LangId.langIdModel(t, langModel, undMargin = 0.05),
        "graft_lang_id_model(t)", s"graft_lang_id_model(t, $LangModel, 0.05)"),
      k("lang_id_decimal", graft.operators.LangId.langIdDecimal(t, langDecimal),
        "graft_lang_id_decimal(t)", s"graft_lang_id_decimal(t, $LangDecimal)"))
  }

  // the fixture models' pinned `toString`s
  private val SqMins = "model:a053f4c4"
  private val SqScales = "model:bd14041a"
  private val BqThresholds = "model:0a024e33"
  private val Codebooks = "model:40dabc93"
  private val NoRotation = "model:4f535019"
  private val Rotation = "model:89a1d89a"
  private val Centroids = "model:3d29c2db"
  private val Halves = "model:72eec783"
  private val AdcTable = "model:5b74b008"
  private val AdcTables = "model:d34dc48d"
  private val BqQuery = "model:213a2120"
  private val BqQueries = "model:2c638100"
  private val DsirTable = "model:347fdf3e"
  private val Bm25Terms = "model:5968dd22"
  private val Bloom = "model:67a13ad0"
  private val LangModel = "model:f95e54a1"
  private val LangDecimal = "model:e20362a1"

  // -------------------------------------------------------------- specs

  test("one table: a session with GraftExtensions and one with register(spark) expose the same graft_* names") {
    def graftNames(s: SparkSession): Set[String] =
      s.sessionState.functionRegistry.listFunction().map(_.funcName)
        .filter(_.startsWith("graft_")).toSet
    val table = GraftFunctions.table.map(_.name)
    assert(table.distinct.size == table.size, "a name is listed twice")
    val withExt = TestSessions.withExtensions(spark, new GraftExtensions)
    val bare = TestSessions.withExtensions(spark)
    assert(graftNames(bare).isEmpty)
    GraftFunctions.register(bare)
    assert(graftNames(withExt) == table.toSet)
    assert(graftNames(bare) == table.toSet)
    // the names that only one of the two routes used to reach
    assert(Set("graft_char_entropy", "graft_chunks", "graft_shingle_strings", "graft_nfc")
      .subsetOf(table.toSet))
    Seq(withExt, bare).foreach { s =>
      val r = s.sql("SELECT graft_nfc('é') AS n, size(graft_shingle_strings('a b c', 2)) AS s, " +
        "size(graft_chunks('a b c d', 2, 2)) AS c, graft_char_entropy('aabb') AS e").head()
      assert(r == Row("é", 2, 2, 1.0))
    }
  }

  test("the SQL builders check arity and literal arguments") {
    GraftFunctions.register(spark)
    val bad = Seq(
      "SELECT graft_punct_count('a', 'b')",
      "SELECT graft_shingle_hashes('a b')",
      "SELECT graft_shingle_hashes('a b', NULL)",
      "SELECT graft_chunks('a b', '2', 1)",
      "SELECT graft_minhash_sig(array(1L), 0)",
      "SELECT graft_chunks('a b', 0, 1)")
    bad.foreach(q => assertThrows[Exception](spark.sql(q).collect()))
  }

  test("every kernel keeps its sql text, auto column name and explain string") {
    val ks = kernels
    val df = inputs.select(ks.map(_._2): _*)
    val exprs = df.queryExecution.analyzed.expressions.map {
      case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
      case e => e
    }
    ks.zip(exprs).zip(df.columns).foreach { case (((label, _, sql, str), e), name) =>
      assert(e.sql == sql, label)
      assert(name == sql, label)
      assert(e.toString.replaceAll("#\\d+", "") == str, label)
    }
  }

  /** `inputs` with row 0 replaced by row 1, under a schema whose fields
    * are not nullable: a null-propagating kernel's null check is then
    * the constant `false`. */
  private lazy val nonNullInputs: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(inputRows(1) +: inputRows.tail, 2),
    StructType(schema.fields.map(_.copy(nullable = false))))

  test("interpreted and generated evaluation agree on every kernel") {
    assert(nonNullInputs.schema.fields.forall(!_.nullable))
    for (in <- Seq(inputs, nonNullInputs); (label, c, _, _) <- kernels) {
      val df = in.select(c.as("v"))
      val interpreted = withCodegen(on = false)(df.collect())
      val generated = withCodegen(on = true)(df.collect())
      assert(interpreted.length == 6, label)
      assert(interpreted.toSeq == generated.toSeq, label)
    }
    // the documented `kllQuantile(kll_sketch_agg_double(x))`
    val q = (1 to 9).map(_.toDouble).toDF("v")
      .agg(KllFunctions.kllQuantile(kll_sketch_agg_double($"v"), 0.5))
    assert(withCodegen(on = false)(q.collect()).toSeq == withCodegen(on = true)(q.collect()).toSeq)
  }

  test("a vector or code of the wrong width raises on both paths") {
    val short = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(Seq(1.0f, 2.0f, 3.0f), Array[Byte](1), Array[Byte](1, 2), 0)), 2),
      StructType(Seq(StructField("v", ArrayType(FloatType)), StructField("pc", BinaryType),
        StructField("bc", BinaryType), StructField("qi", IntegerType))))
    val (v, pc, bc, qi) = (col("v"), col("pc"), col("bc"), col("qi"))
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    for ((c, msg) <- Seq(
        SqFunctions.sqEncode(v, sqMins, sqScales, normalize = true) -> "model expects 4",
        BqFunctions.bqEncode(v, bqThresholds, normalize = false) -> "model expects 4",
        PqFunctions.pqEncode(v, codebooks, normalize = true) -> "model expects 4",
        PqFunctions.pqAdc(pc, adcTable, 2, 4) -> "different PQ model",
        PqFunctions.pqAdcBatch(pc, qi, adcTables, 2, 4) -> "different PQ model",
        BqFunctions.bqHamming(bc, bqQuery) -> "different BQ model",
        BqFunctions.bqHammingBatch(bc, qi, bqQueries) -> "different BQ model");
        on <- Seq(false, true)) {
      val e = intercept[Exception](withCodegen(on)(short.select(c).collect()))
      assert(messages(e).exists(_.contains(msg)), s"$c codegen=$on: ${messages(e)}")
    }
    // the similarity kernels read a width mismatch as "no score"
    Seq(false, true).foreach { on =>
      val r = withCodegen(on)(short.select(CentroidFunctions.nearestCell(v, centroids),
        VectorFunctions.dot(v, typedLit(Seq(1.0, 2.0)))).head())
      assert(r == Row(null, null), s"codegen=$on")
    }
  }

  /** `c` analysed over `inputs`. */
  private def expr(c: Column) =
    inputs.select(c).queryExecution.analyzed.expressions.head.children.head

  test("model kernels: separately built calls over equal models are semanticEquals") {
    for ((a, b) <- Seq(
        PqFunctions.pqAdc(col("pc"), adcTable, 2, 4) ->
          PqFunctions.pqAdc(col("pc"), adcTable.clone(), 2, 4),
        CentroidFunctions.nearestCell(col("vf"), centroids) ->
          CentroidFunctions.nearestCell(col("vf"), centroids.map(_.clone())),
        graft.operators.LangId.langIdModel(col("t"), langModel) ->
          graft.operators.LangId.langIdModel(col("t"), langModel.copy(
            logPrior = langModel.logPrior.clone(), logProb = langModel.logProb.map(_.clone()))))) {
      assert(expr(a).semanticEquals(expr(b)), expr(a))
      assert(expr(a).canonicalized.hashCode == expr(b).canonicalized.hashCode, expr(a))
    }
  }

  test("model kernels: equal models in one select generate one helper call each") {
    val df = inputs.select(
      PqFunctions.pqAdc(col("pc"), adcTable, 2, 4).as("a1"),
      PqFunctions.pqAdc(col("pc"), adcTable.clone(), 2, 4).as("a2"),
      CentroidFunctions.nearestCell(col("vf"), centroids).as("c1"),
      CentroidFunctions.nearestCell(col("vf"), centroids.map(_.clone())).as("c2"),
      graft.operators.LangId.langIdModel(col("t"), langModel).as("l1"),
      graft.operators.LangId.langIdModel(col("t"), langModel.copy(
        langs = langModel.langs.clone())).as("l2"))
    val code = withCodegen(on = true) {
      val rows = df.collect()
      assert(rows.forall(r => r.get(0) == r.get(1) && r.get(2) == r.get(3) && r.get(4) == r.get(5)))
      org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
    }
    for (helper <- Seq("graft.functions.PqFunctions.adc(",
        "graft.functions.CentroidFunctions.nearest(", "graft.operators.LangId.classify("))
      assert(code.split(java.util.regex.Pattern.quote(helper), -1).length - 1 == 1, helper)
  }

  test("model kernels: a call with a different model is not equal") {
    val table2 = adcTable.clone()
    table2(7) = 9.0
    val cents2 = centroids.map(_.clone())
    cents2(2)(3) = 2.5
    for ((a, b) <- Seq(
        PqFunctions.pqAdc(col("pc"), adcTable, 2, 4) -> PqFunctions.pqAdc(col("pc"), table2, 2, 4),
        CentroidFunctions.nearestCell(col("vf"), centroids) ->
          CentroidFunctions.nearestCell(col("vf"), cents2),
        graft.operators.LangId.langIdModel(col("t"), langModel) ->
          graft.operators.LangId.langIdModel(col("t"), langModel.copy(langs = Array("en", "de"))))) {
      assert(!expr(a).semanticEquals(expr(b)), expr(a))
      assert(expr(a).toString != expr(b).toString, expr(a))
    }
    // an equal fingerprint alone does not make two models equal
    val m = NativeCall.Model(adcTable)
    val forged = {
      val c = classOf[NativeCall.Model].getDeclaredConstructor(
        classOf[AnyRef], classOf[Class[_]], java.lang.Long.TYPE)
      c.setAccessible(true)
      c.newInstance(table2, classOf[Array[Double]], Long.box(m.fingerprint))
    }
    assert(m.hashCode == forged.hashCode && m != forged)
  }

  test("model kernel parameters are checked on the driver, before any job") {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    val (t, i, w) = (col("t"), col("i"), col("w"))
    val bad: Seq[(String, () => Column)] =
      Seq(0, -1, Int.MinValue).flatMap { n =>
        Seq(s"scrub k=$n" -> (() => SpanScrub.scrubCol(t, i, n, 1)),
          s"scrub minSpan=$n" -> (() => SpanScrub.scrubCol(t, i, 1, n)))
      } ++ Seq(
        "dsir 4095-entry table" -> (() => DsirScore.dsirSumCol(t, new Array[Long](4095))),
        "bm25 matchVec duplicate terms" -> (() => Bm25Native.matchVecCol(w, Seq("a", "b", "a"))),
        "bm25 contribs duplicate terms" -> (() => Bm25Native.contribsCol(w,
          typedLit(Seq(1.0, 1.0)), lit(2L), lit(1.0), Seq("a", "a"), 1.2, 0.75)))
    val frame = inputs
    org.apache.spark.ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try bad.foreach { case (label, c) =>
      intercept[IllegalArgumentException](frame.select(c()).collect())
      org.apache.spark.ListenerBusDrain.drain(sc)
      assert(started.get == 0, label)
    } finally sc.removeSparkListener(listener)
  }

  test("a null sketch evaluates as the empty one on both paths") {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(null), Row(null)), 2),
      StructType(Seq(StructField("s", BinaryType))))
      .select(ThetaFunctions.thetaEstimate(col("s")), FreqFunctions.freqTopItems(col("s")))
    Seq(false, true).foreach { on =>
      val rows = withCodegen(on)(df.collect())
      assert(rows.toSeq == Seq(Row(0.0, Seq.empty), Row(0.0, Seq.empty)), s"codegen=$on")
    }
  }

  test("cardCount and piiRedact share one Luhn candidate pass in the generated code") {
    val df = spark.sparkContext.parallelize(Seq("card 4111 1111 1111 1111", null), 2).toDF("t")
      .select(TextFunctions.cardCount(col("t")), TextFunctions.piiRedact(col("t")))
    val code = withCodegen(on = true) {
      df.collect()
      org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
    }
    assert("graft\\.functions\\.LuhnCards\\.validCandidates\\(".r.findAllIn(code).size == 1, code)
  }
}
