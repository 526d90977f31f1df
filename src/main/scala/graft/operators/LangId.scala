package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** TRAINED character-n-gram language identification — the production
  * replacement for the marker-word heuristic
  * ([[graft.functions.TextFunctions.langId]], kept as the
  * oracle-checked twin): a handful of stopword markers per language is
  * fine for an oracle but misroutes real multilingual text (a German
  * sentence without "der/die/und", Romance languages sharing "la/de/
  * en"), and a misrouted document poisons every downstream
  * per-language operator — sampling, packing, domain mixing.
  *
  * Method (public literature, no model downloads): multinomial Naive
  * Bayes over HASHED character n-grams — the fastText-style feature
  * space (Joulin et al. 2016, "Bag of Tricks"; char-n-gram language ID
  * itself is Cavnar–Trenkle 1994). NB rather than logistic: the fit is
  * closed-form from one counting pass, which Spark executes as a
  * single partial-aggregated `groupBy(lang, bucket).count()` — the
  * per-partition combine state is bounded at langs × buckets, so the
  * fit stays one bounded shuffle at any corpus size.
  *
  * The model is bounded BY CONSTRUCTION — `langs × buckets` floats
  * (default 26 KB per language at 4096 buckets) — so it broadcasts
  * with the classify expression to every executor, and scoring is one
  * in-row codegen'd pass per document: no join, no shuffle, no
  * per-row allocation beyond the score array.
  */
object LangId {

  import graft.functions.{NativeCall, NativeKernel}

  /** Hashed-n-gram NB model. `logProb(l)(b)` = log P(bucket b | lang
    * l) with add-one smoothing; `logPrior(l)` = log P(lang l) from
    * document counts.
    */
  final case class Model(
      langs: Array[String], logPrior: Array[Double],
      logProb: Array[Array[Float]], buckets: Int, nMin: Int, nMax: Int) {
    require(langs.nonEmpty && langs.length == logPrior.length &&
      langs.length == logProb.length && logProb.forall(_.length == buckets))
  }

  /** Rolling hash of the n-gram `text[from, from+n)` (lowercased,
    * locale-independent) into [0, buckets). Plain 31-polynomial —
    * deterministic across JVMs and executors.
    */
  private def bucketOf(text: String, from: Int, n: Int, buckets: Int): Int = {
    var h = n // n-grams of different length must not collide trivially
    var i = 0
    while (i < n) {
      h = h * 31 + Character.toLowerCase(text.charAt(from + i)).toInt
      i += 1
    }
    Math.floorMod(h, buckets)
  }

  /** All hashed n-gram buckets of one document (space-padded so
    * word-boundary grams exist). Exposed for the fit path. */
  private[operators] def featureBuckets(
      text: String, nMin: Int, nMax: Int, buckets: Int): Array[Int] = {
    val padded = " " + text + " "
    val out = Array.newBuilder[Int]
    var n = nMin
    while (n <= nMax) {
      var i = 0
      while (i + n <= padded.length) {
        out += bucketOf(padded, i, n, buckets)
        i += 1
      }
      n += 1
    }
    out.result()
  }

  /** The fit's counting plan, exposed so specs can pin its shape: the
    * gram stream is a codegen'd [[FeatureBuckets]] explode — no
    * typed lambda, no DeserializeToObject, the same native-expression
    * standard as the classify side.
    */
  private[operators] def gramCounts(df: DataFrame, langCol: String,
      textCol: String, buckets: Int, nMin: Int, nMax: Int): DataFrame = df
    .select(col(langCol).cast("string").as("_lang"),
      col(textCol).cast("string").as("_text"))
    .filter(col("_lang").isNotNull && col("_text").isNotNull)
    .select(col("_lang"), explode(
      FeatureBuckets.colWith(nMin, nMax, buckets)(col("_text")))
      .as("_bucket"))
    .groupBy("_lang", "_bucket").agg(count(lit(1)).as("_n"))

  /** [[gramCounts]] with the per-lang DOC counts folded into the SAME
    * aggregate: every doc additionally emits the sentinel bucket −1
    * (prepended to its gram array before the explode — a doc with zero
    * grams still emits it), so the one shuffle returns gram counts on
    * buckets ≥ 0 and doc counts on bucket −1. Replaces the second
    * full-corpus doc-count scan both fits used to pay; the null-lang /
    * null-text filter is identical, so the counts are bit-identical to
    * the separate aggregates.
    */
  private def gramAndDocCounts(df: DataFrame, langCol: String,
      textCol: String, buckets: Int, nMin: Int, nMax: Int)
      : (Array[org.apache.spark.sql.Row], Map[String, Long]) = {
    val rows = df
      .select(col(langCol).cast("string").as("_lang"),
        col(textCol).cast("string").as("_text"))
      .filter(col("_lang").isNotNull && col("_text").isNotNull)
      .select(col("_lang"), explode(concat(array(lit(-1)),
        FeatureBuckets.colWith(nMin, nMax, buckets)(col("_text"))))
        .as("_bucket"))
      .groupBy("_lang", "_bucket").agg(count(lit(1)).as("_n"))
      .collect()
    val (doc, gram) = rows.partition(_.getInt(1) == -1)
    (gram, doc.map(r => r.getString(0) -> r.getLong(2)).toMap)
  }

  /** Fit from a labeled corpus: ONE counting aggregation over
    * (lang, bucket) — partial-aggregated map-side, so the shuffle
    * carries at most langs × buckets rows per mapper regardless of
    * corpus size — plus one tiny doc-count aggregate for the priors.
    * The collected model is langs × buckets, bounded by construction.
    */
  def fit(df: DataFrame, langCol: String, textCol: String,
      buckets: Int = 4096, nMin: Int = 1, nMax: Int = 3,
      maxLangs: Int = 256): Model = {
    require(buckets > 0 && nMin >= 1 && nMax >= nMin,
      s"langId.fit: bad (buckets=$buckets, nMin=$nMin, nMax=$nMax)")
    val (counts, docCounts) =
      gramAndDocCounts(df, langCol, textCol, buckets, nMin, nMax)
    require(docCounts.nonEmpty, "langId.fit: no labeled documents")
    require(docCounts.size <= maxLangs,
      s"langId.fit: ${docCounts.size} distinct labels exceeds maxLangs=" +
        s"$maxLangs — the model is langs x buckets and must stay bounded; " +
        "clean the label column or raise maxLangs deliberately")
    val langs = docCounts.keys.toArray.sorted
    val langIdx = langs.zipWithIndex.toMap
    val totalDocs = docCounts.values.sum.toDouble
    val logPrior = langs.map(l => math.log(docCounts(l) / totalDocs))
    val gramTotals = new Array[Long](langs.length)
    val raw = Array.fill(langs.length)(new Array[Long](buckets))
    counts.foreach { r =>
      val l = langIdx(r.getString(0))
      raw(l)(r.getInt(1)) += r.getLong(2)
      gramTotals(l) += r.getLong(2)
    }
    val logProb = Array.tabulate(langs.length) { l =>
      val denom = math.log(gramTotals(l) + buckets.toDouble)
      Array.tabulate(buckets)(bk =>
        (math.log(raw(l)(bk) + 1.0) - denom).toFloat)
    }
    Model(langs, logPrior, logProb, buckets, nMin, nMax)
  }

  /** Cross-engine-deterministic twin of [[Model]]: the same NB, but
    * every log-probability quantized to DECIMAL(28,10) (stored as
    * unscaled scale-10 longs), so per-document accumulation is EXACT
    * integer arithmetic — the [[graft.operators.Dsir]] determinism
    * recipe. This makes the classify decision reproducible
    * bit-for-bit by any engine that can recompute `ln` of a double
    * division of the same exact integer counts (the 1e-10 quantum
    * absorbs 1-ulp `ln` library differences), which is what lets the
    * driver's DuckDB oracle verify the model's PREDICTIONS, not just
    * its sufficient statistics. Float scoring ([[Model]]) stays the
    * production default — same argmax on non-degenerate margins,
    * fewer bytes broadcast.
    */
  final case class DecimalModel(
      langs: Array[String], priorUnscaled: Array[Long],
      lpUnscaled: Array[Array[Long]], buckets: Int, nMin: Int, nMax: Int) {
    require(langs.nonEmpty && langs.length == priorUnscaled.length &&
      langs.length == lpUnscaled.length &&
      lpUnscaled.forall(_.length == buckets))
  }

  /** Fit the decimal-quantized NB: the same two bounded aggregates as
    * [[fit]] for the exact integer counts, then the log-probabilities
    * are computed and quantized THROUGH Spark expressions (one
    * langs×buckets-row local job) so the stored values are the
    * engine's own `ln`+cast chain — exactly what the oracle's DuckDB
    * twin recomputes.
    */
  def fitDecimal(df: DataFrame, langCol: String, textCol: String,
      buckets: Int = 4096, nMin: Int = 1, nMax: Int = 3,
      maxLangs: Int = 256): DecimalModel = {
    require(buckets > 0 && nMin >= 1 && nMax >= nMin,
      s"langId.fitDecimal: bad (buckets=$buckets, nMin=$nMin, nMax=$nMax)")
    val (counts, docCounts) =
      gramAndDocCounts(df, langCol, textCol, buckets, nMin, nMax)
    require(docCounts.nonEmpty, "langId.fitDecimal: no labeled documents")
    require(docCounts.size <= maxLangs,
      s"langId.fitDecimal: ${docCounts.size} labels exceeds maxLangs=$maxLangs")
    val langs = docCounts.keys.toArray.sorted
    val langIdx = langs.zipWithIndex.toMap
    val totalDocs = docCounts.values.sum
    val gramTotals = new Array[Long](langs.length)
    val raw = Array.fill(langs.length)(new Array[Long](buckets))
    counts.foreach { r =>
      val l = langIdx(r.getString(0))
      raw(l)(r.getInt(1)) += r.getLong(2)
      gramTotals(l) += r.getLong(2)
    }
    val spark = df.sparkSession
    import spark.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(28, 10)
    def unscaled(d: java.math.BigDecimal): Long =
      d.setScale(10).unscaledValue().longValueExact()
    // lp(l)(b) = ln((c+1)/(tot_l+buckets)) — dense, add-one smoothing.
    // Priors ride the SAME local job as sentinel rows b = −1 (the
    // ln+cast chain is identical, so the quantized values are exactly
    // what the separate job produced) — one scheduled job, not two.
    val allRows = ((for { l <- langs.indices; b <- 0 until buckets }
      yield (l, b, raw(l)(b) + 1L, gramTotals(l) + buckets.toLong)) ++
      langs.indices.map(l => (l, -1, docCounts(langs(l)), totalDocs)))
      .toDF("l", "b", "num", "den")
      .select(col("l"), col("b"),
        log(col("num").cast("double") / col("den").cast("double"))
          .cast(dec).as("lp"))
      .collect()
    val lpUnscaled = Array.fill(langs.length)(new Array[Long](buckets))
    val priorUnscaled = new Array[Long](langs.length)
    allRows.foreach { r =>
      if (r.getInt(1) == -1) priorUnscaled(r.getInt(0)) = unscaled(r.getDecimal(2))
      else lpUnscaled(r.getInt(0))(r.getInt(1)) = unscaled(r.getDecimal(2))
    }
    DecimalModel(langs, priorUnscaled, lpUnscaled, buckets, nMin, nMax)
  }

  /** [[classify]] on the decimal model: exact long accumulation of
    * unscaled scale-10 log-probs (addExact — a doc would need ~10^7
    * grams to overflow, raising rather than wrapping), argmax with the
    * same blank→"und" and tie→first-language rules.
    */
  def classifyDecimal(text: UTF8String, m: DecimalModel): UTF8String = {
    val s = text.toString
    if (s.trim.isEmpty) return Und
    val scores = m.priorUnscaled.clone()
    val padded = " " + s + " "
    var n = m.nMin
    while (n <= m.nMax) {
      var i = 0
      while (i + n <= padded.length) {
        val bk = bucketOf(padded, i, n, m.buckets)
        var l = 0
        while (l < scores.length) {
          scores(l) = Math.addExact(scores(l), m.lpUnscaled(l)(bk))
          l += 1
        }
        i += 1
      }
      n += 1
    }
    var best = 0
    var l = 1
    while (l < scores.length) {
      if (scores(l) > scores(best)) best = l
      l += 1
    }
    UTF8String.fromString(m.langs(best))
  }

  /** `graft_lang_id_decimal(text)` — [[classifyDecimal]] over an
    * embedded [[DecimalModel]]. */
  val ClassifyDecimal: NativeKernel = NativeKernel("graft_lang_id_decimal",
    "graft.operators.LangId", "classifyDecimal", Seq(Seq(StringType)), StringType)

  /** Column form of [[classifyDecimal]] — one codegen'd in-row pass,
    * like [[langIdModel]]. */
  def langIdDecimal(c: Column, model: DecimalModel): Column =
    ClassifyDecimal.colWith(NativeCall.Model(model))(c)

  private val Und = UTF8String.fromString("und")

  /** Score one document against every language, return the argmax
    * label (ties break to the lexicographically-first language —
    * langs is sorted). Blank text → "und".
    *
    * `undMargin` is the LOW-EVIDENCE gate: the per-gram margin between
    * the best and second-best log-posterior must reach it, else the
    * document routes to "und" instead of being force-assigned to
    * whichever trained language happens to score highest — digits,
    * symbol soup, or a language the model was never trained on should
    * not poison a per-language downstream operator. Per-GRAM (divided
    * by the gram count) so the dial is length-independent; 0.0 (the
    * default) disables the gate, preserving pure-argmax behavior.
    */
  def classify(text: UTF8String, m: Model, undMargin: Double): UTF8String = {
    val s = text.toString
    if (s.trim.isEmpty) return Und
    val scores = m.logPrior.clone()
    val padded = " " + s + " "
    var grams = 0
    var n = m.nMin
    while (n <= m.nMax) {
      var i = 0
      while (i + n <= padded.length) {
        val bk = bucketOf(padded, i, n, m.buckets)
        var l = 0
        while (l < scores.length) {
          scores(l) += m.logProb(l)(bk)
          l += 1
        }
        grams += 1
        i += 1
      }
      n += 1
    }
    var best = 0
    var l = 1
    while (l < scores.length) {
      if (scores(l) > scores(best)) best = l
      l += 1
    }
    if (undMargin > 0.0 && scores.length > 1) {
      var second = if (best == 0) 1 else 0
      var k = 0
      while (k < scores.length) {
        if (k != best && scores(k) > scores(second)) second = k
        k += 1
      }
      if ((scores(best) - scores(second)) / math.max(grams, 1) < undMargin)
        return Und
    }
    UTF8String.fromString(m.langs(best))
  }

  /** Persist the model — one parquet row per language (prior + the
    * bucket log-prob vector) with the hyperparameters on every row, so
    * a trained classifier is a build-once artifact pipelines load by
    * path (the PqModel sidecar convention).
    */
  def save(spark: org.apache.spark.sql.SparkSession, model: Model,
      path: String): Unit = {
    import spark.implicits._
    model.langs.indices
      .map(l => (model.langs(l), model.logPrior(l), model.logProb(l).toSeq,
        model.buckets, model.nMin, model.nMax))
      .toDF("lang", "log_prior", "log_prob", "buckets", "n_min", "n_max")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String): Model = {
    val rows = graft.sources.Readers.parquet(spark, path).orderBy("lang").collect()
    require(rows.nonEmpty, s"langId: no model rows under $path")
    val h = rows.head
    Model(
      rows.map(_.getAs[String]("lang")),
      rows.map(_.getAs[Double]("log_prior")),
      rows.map(_.getAs[scala.collection.Seq[Float]]("log_prob").toArray),
      h.getAs[Int]("buckets"), h.getAs[Int]("n_min"), h.getAs[Int]("n_max"))
  }

  /** `graft_lang_grams(text, nMin, nMax, buckets)` — the fit path's
    * hashed-n-gram stream as a native array kernel, exploded into the
    * one bounded counting aggregate, so the fit scan stays inside
    * whole-stage codegen instead of deserializing every row into a
    * Scala tuple. */
  val FeatureBuckets: NativeKernel = NativeKernel(
    "graft_lang_grams", "graft.operators.LangId", "featureBucketsData", Seq(Seq(StringType)),
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false))

  /** [[featureBuckets]] in the ArrayData shape [[FeatureBuckets]] returns. */
  def featureBucketsData(text: UTF8String, nMin: Int, nMax: Int,
      buckets: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      featureBuckets(text.toString, nMin, nMax, buckets))

  /** `graft_lang_id_model(text)` — [[classify]] over an embedded
    * [[Model]], which rides along as a plan reference object, never a
    * per-row closure. */
  val Classify: NativeKernel = NativeKernel("graft_lang_id_model",
    "graft.operators.LangId", "classify", Seq(Seq(StringType)), StringType)

  /** Column form: `langIdModel(col("text"), model)` — one codegen'd
    * in-row pass, model shipped once per executor with the plan.
    * `undMargin` > 0 enables the low-evidence "und" gate (see
    * [[classify]]). */
  def langIdModel(c: Column, model: Model, undMargin: Double = 0.0): Column =
    Classify.colWith(NativeCall.Model(model), undMargin)(c)
}
