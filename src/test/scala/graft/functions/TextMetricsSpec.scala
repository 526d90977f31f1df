package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Each native metric must equal the regex Column formulation it
  * replaced, bit-for-bit, on adversarial inputs: tab/VT/CR whitespace
  * (which Spark's space-only trim does NOT strip), leading/trailing
  * runs, unicode text, surrogate-pair emoji, empty strings.
  */
class TextMetricsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    "the quick brown fox, and the lazy dog.",
    "  leading and trailing  ",
    "\tTab\tseparated\tthings\r\n",
    "a_b_c camelCase x9 !!??;; ::",
    "über naïve café — em—dash",
    "汉字文本 mixed with english",
    "emoji 😀😀 pair",
    " the the the ",
    "",
    "   ",
    "\u000Bvtab formfeed\u000C"
  ).toDF("text")

  test("wsTokenCount ≡ split-based formulation") {
    val old = when(trim($"text") === "", 0)
      .otherwise(size(split(trim($"text"), "\\s+")))
    val rows = docs.select(TextMetrics.wsTokenCountCol($"text"), old).collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1), r))
  }

  test("bpeTokenCount ≡ regexp_count formulation (incl. surrogate pairs)") {
    val old = regexp_count($"text", lit(TextFunctions.bpePattern))
    val rows = docs.select(TextMetrics.bpeTokenCountCol($"text"), old).collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1).toInt, r))
  }

  test("punctCount ≡ regexp_count of the punct class") {
    val old = regexp_count($"text", lit("[.,;:!?]"))
    val rows = docs.select(TextMetrics.punctCountCol($"text"), old).collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1).toInt, r))
  }

  test("collapseWs ≡ trim(regexp_replace(lower, \\s+, ' '))") {
    val old = trim(regexp_replace(lower($"text"), "\\s+", " "))
    val rows = docs.select(TextMetrics.collapseWsCol(lower($"text")), old).collect()
    rows.foreach(r => assert(r.getString(0) == r.getString(1), r))
  }

  test("stopwordHits ≡ replace-length-diff formulation") {
    val padded = concat(lit(" "), lower($"text"), lit(" "))
    val old = TextFunctions.stopwords.map { w =>
      val pat = s" $w "
      (length(padded) - length(regexp_replace(padded,
        java.util.regex.Pattern.quote(pat), ""))).cast("double") / pat.length
    }.reduce(_ + _)
    val rows = docs.select(TextMetrics.stopwordHitsCol($"text"), old).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r))
  }

  test("hasHan ≡ regexp_count of the Han range") {
    val old = regexp_count($"text", lit(TextFunctions.cjkPattern)) > 0
    val rows = docs.select(TextMetrics.hasHanCol($"text"), old).collect()
    rows.foreach(r => assert(r.getBoolean(0) == r.getBoolean(1), r))
  }

  test("null text → null metrics") {
    val r = Seq[Option[String]](None).toDF("text")
      .select(TextMetrics.wsTokenCountCol($"text"),
        TextMetrics.collapseWsCol($"text")).collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("SQL registration surface") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_ws_token_count('a b'), graft_punct_count('a,b.'), " +
        "graft_has_han('汉'), graft_bpe_token_count('a!b'), " +
        "graft_stopword_hits(' the cat '), graft_collapse_ws('a  b')").head
    assert(r.getInt(0) == 2 && r.getInt(1) == 2 && r.getBoolean(2))
    assert(r.getInt(3) == 3 && r.getDouble(4) == 1.0 && r.getString(5) == "a b")
  }

  test("graft_nfc composes decomposed sequences, identity elsewhere, null-safe") {
    val decomposed = "cafe\u0301" // e + combining acute, 5 chars
    val composed = "caf\u00e9"    // precomposed e-acute, 4 chars
    val rows = Seq(Some(decomposed), Some(composed), Some("plain ascii"), None)
      .toDF("t")
      .select(NfcNormalize.nfcNormalize(col("t")).as("n"),
        length(col("t")).as("lin"))
      .collect()
    assert(rows(0).getString(0) == composed && rows(0).getInt(1) == 5)
    assert(rows(1).getString(0) == composed) // already NFC: identity
    assert(rows(2).getString(0) == "plain ascii")
    assert(rows(3).isNullAt(0))
    // SQL surface (extensions-injected name)
    val viaSql = spark.sql(s"SELECT graft_nfc('$decomposed')").head.getString(0)
    assert(viaSql == composed)
  }

}
