package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, typedLit}
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

  private lazy val thetaA = sketch(ThetaFunctions.thetaAgg($"v"), Seq("a", "b", "c").toDF("v"))
  private lazy val thetaB = sketch(ThetaFunctions.thetaAgg($"v"), Seq("b", "c", "d", "e").toDF("v"))
  private lazy val thetaEmpty = sketch(ThetaFunctions.thetaAgg($"v"), Seq.empty[String].toDF("v"))
  private lazy val kll = sketch(KllFunctions.kllAgg($"v"), (1 to 50).map(_.toDouble).toDF("v"))
  private lazy val kllEmpty = sketch(KllFunctions.kllAgg($"v"), Seq.empty[Double].toDF("v"))
  private lazy val freq = sketch(FreqFunctions.freqAgg($"v"), Seq("x", "y", "x", "z", "x").toDF("v"))
  private lazy val freqEmpty = sketch(FreqFunctions.freqAgg($"v"), Seq.empty[String].toDF("v"))

  private val pdf =
    ("%PDF-1.4\n1 0 obj\n<< /Length 40 >>\nstream\nBT /F1 12 Tf (hello pdf) Tj ET\n" +
      "endstream\nendobj\n%%EOF\n").getBytes("ISO-8859-1")

  private val schema = StructType(Seq(
    StructField("t", StringType), StructField("b", BinaryType),
    StructField("th", BinaryType), StructField("th2", BinaryType),
    StructField("kl", BinaryType), StructField("fq", BinaryType),
    StructField("h", ArrayType(LongType)), StructField("d", ArrayType(DoubleType)),
    StructField("i", ArrayType(LongType))))

  /** Row 0 all null, row 1 every empty value, then real values. */
  private lazy val inputs: DataFrame = {
    val texts = Seq("Hello, World! The cat sat on the mat; is it? yes.",
      "İstanbul Kelvin 汉字 4111 1111 1111 1111 me@example.com 555-867-5309",
      "the of and a to in is " * 20 + "é é 😀",
      "  one\ttwo\nthree  ")
    val bins = Seq(MediaFixtures.pngGradient(1), MediaFixtures.wavClip(2), pdf,
      "not media at all".getBytes("US-ASCII"))
    val real = texts.indices.map { j =>
      Row(texts(j), bins(j), thetaA, thetaB, kll, freq,
        Seq(1L, 5L, -3L, j.toLong), Seq(1.0, 2.5, -0.5, j * 0.1), Seq(1L, 0L, 3L, 2L))
    }
    val rows = Row.fromSeq(Seq.fill(schema.size)(null)) +:
      Row("", Array.emptyByteArray, thetaEmpty, thetaEmpty, kllEmpty, freqEmpty,
        Seq.empty[Long], Seq.empty[Double], Seq.empty[Long]) +: real
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  // --------------------------------------------- every converted kernel

  /** (label, Column, pinned `sql`, pinned `toString` with expression ids
    * dropped) — the pins are the values of the hand-written classes
    * the kernels replaced. */
  private def kernels: Seq[(String, Column, String, String)] = {
    val (t, b, h) = (col("t"), col("b"), col("h"))
    val (th, th2, kl, fq, d, i) = (col("th"), col("th2"), col("kl"), col("fq"), col("d"), col("i"))
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
      k("theta_intersect", ThetaFunctions.thetaIntersect(th, th2),
        "graft_theta_intersect(th, th2)", "graft_theta_intersect(th, th2)"),
      k("theta_union_pair", ThetaFunctions.thetaUnionScalar(th, th2),
        "graft_theta_union_pair(th, th2)", "graft_theta_union_pair(th, th2)"),
      k("theta_anotb", ThetaFunctions.thetaAnotB(th, th2),
        "graft_theta_anotb(th, th2)", "graft_theta_anotb(th, th2)"),
      k("theta_estimate", ThetaFunctions.thetaEstimate(th),
        "graft_theta_estimate(th)", "graft_theta_estimate(th)"),
      k("kll_quantile", KllFunctions.kllQuantile(kl, 0.5),
        "graft_kll_quantile(kl)", "graft_kll_quantile(kl, 0.5)"),
      k("freq_top", FreqFunctions.freqTopItems(fq, 3), "graft_freq_top(fq)", "graft_freq_top(fq, 3)"),
      k("array_fsum", Bm25Native.sumOrderedCol(d), "graft_array_fsum(d)", "graft_array_fsum(d)"),
      k("array_picksum", Bm25Native.pickSumCol(d, i),
        "graft_array_picksum(d, i)", "graft_array_picksum(d, i)"),
      k("lang_grams", graft.operators.LangId.FeatureBuckets.colWith(1, 3, 64)(t),
        "graft_lang_grams(t)", "graft_lang_grams(t, 1, 3, 64)"))
  }

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

  /** `inputs` with every column coalesced with its row-1 empty value:
    * no child is nullable, so a null-propagating kernel's null check is
    * the constant `false`. */
  private lazy val nonNullInputs: DataFrame = {
    val empty = inputs.collect()(1)
    inputs.select(schema.fields.toSeq.zipWithIndex.map { case (f, j) =>
      val zero = f.dataType match {
        case StringType => lit("")
        case BinaryType => lit(empty.getAs[Array[Byte]](j))
        case ArrayType(LongType, _) => typedLit(Seq.empty[Long])
        case ArrayType(DoubleType, _) => typedLit(Seq.empty[Double])
        case other => fail(s"no empty value for $other")
      }
      coalesce(col(f.name), zero).as(f.name)
    }: _*)
  }

  test("interpreted and generated evaluation agree on every kernel") {
    assert(nonNullInputs.schema.fields.forall(!_.nullable))
    for (in <- Seq(inputs, nonNullInputs); (label, c, _, _) <- kernels) {
      val df = in.select(c.as("v"))
      val interpreted = withCodegen(on = false)(df.collect())
      val generated = withCodegen(on = true)(df.collect())
      assert(interpreted.length == 6, label)
      assert(interpreted.toSeq == generated.toSeq, label)
    }
    // the documented `kllQuantile(kllAgg(x))`: the aggregate's sketch
    // is non-nullable
    val q = (1 to 9).map(_.toDouble).toDF("v")
      .agg(KllFunctions.kllQuantile(KllFunctions.kllAgg($"v"), 0.5))
    assert(withCodegen(on = false)(q.collect()).toSeq == withCodegen(on = true)(q.collect()).toSeq)
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
