package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Unigram-LM tokenizer (Kudo 2018) on a compound-word fixture: the
  * EM fit must discover the productive stems/suffixes as pieces, the
  * Viterbi encode must be lossless and deterministic, and the
  * count-only twin must match the full encode bit-for-bit.
  */
class UnigramLmSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // a corpus where subword structure is real: 'work/play/read' stems ×
  // 'ing/er/ed/s' suffixes, so good pieces beat characters clearly
  private val docs = Seq(
    "working worker worked works playing player played plays",
    "reading reader readed reads working playing reading",
    "worker player reader working playing reading worked played",
    "works plays reads worker player reader working reading",
    "the working player reads the played reader works")
  private def corpus() = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    .toDF("id", "text")

  private def model(v: Int = 40) =
    UnigramLm.train(corpus(), "text", vocabSize = v, maxPieceLen = 6)

  test("EM discovers multi-char pieces covering the productive morphology") {
    val m = model()
    val multi = m.logProb.keys.filter(_.length > 1).toSet
    // the stems/suffixes (or near-variants) must be in-vocabulary:
    // at least one 'work'-ish, one 'play'-ish and one 'ing'-ish piece
    assert(multi.exists(p => p.contains("work") || "working".contains(p) && p.length >= 3),
      s"no work-ish piece in $multi")
    assert(multi.exists(p => p.contains("ing")), s"no ing-ish piece in $multi")
  }

  test("Viterbi encode is lossless (pieces concatenate back to the word) and deterministic") {
    val m = model()
    val words = docs.flatMap(_.split(" ")).distinct
    words.foreach { w =>
      val enc = UnigramLm.encodeWord(w, m)
      assert(enc.mkString == w, s"lossy: $w -> $enc")
      assert(enc == UnigramLm.encodeWord(w, m))
    }
  }

  test("subword pieces compress: fewer tokens than characters, more than words") {
    val m = model()
    val enc = UnigramLm.encode(corpus(), "text", m)
    val totals = enc.agg(
      sum(col("unigram_n_tokens")).as("toks"),
      sum(length(regexp_replace(col("text"), "\\s+", ""))).as("chars"),
      sum(size(split(col("text"), "\\s+"))).as("words")).head()
    val (toks, chars, words) =
      (totals.getLong(0), totals.getLong(1), totals.getLong(2))
    assert(toks < chars / 2, s"no compression: $toks tokens vs $chars chars")
    assert(toks >= words, s"$toks tokens vs $words words")
  }

  test("countTokens ≡ size(encode(...).unigram_tokens), array never materialized") {
    val m = model()
    val full = UnigramLm.encode(corpus(), "text", m)
      .select(col("id"), col("unigram_n_tokens").as("a"))
    val counted = UnigramLm.countTokens(corpus(), "text", m, "b")
      .select(col("id"), col("b"))
    val joined = full.join(counted, "id").collect()
    assert(joined.forall(r => r.getInt(1) == r.getInt(2)))
  }

  test("unknown characters segment as UNK single chars instead of failing") {
    val m = model()
    val enc = UnigramLm.encodeWord("работа", m) // script never seen in training
    assert(enc.mkString == "работа")
    assert(enc.forall(_.length == 1))
    // and a mixed word still recovers the known stem
    val mixed = UnigramLm.encodeWord("работаworking", m)
    assert(mixed.mkString == "работаworking")
  }

  test("train is deterministic and the maxWords guard raises actionably") {
    val a = model(); val b = model()
    assert(a.logProb == b.logProb && a.unkLogProb == b.unkLogProb)
    val e = intercept[IllegalArgumentException] {
      UnigramLm.train(corpus(), "text", vocabSize = 20, maxWords = 3)
    }
    assert(e.getMessage.contains("minCount"))
  }

  test("save/load roundtrip preserves encode behavior exactly") {
    val m = model()
    val path = graft.TestDirs.create("graft_uni").toString + "/m"
    UnigramLm.save(spark, m, path)
    val loaded = UnigramLm.load(spark, path)
    val words = docs.flatMap(_.split(" ")).distinct
    words.foreach { w =>
      assert(UnigramLm.encodeWord(w, loaded) == UnigramLm.encodeWord(w, m))
    }
  }

  test("end-of-word sentinel in raw text is stripped at encode time, like training") {
    val m = model()
    val spark0 = spark
    import spark0.implicits._
    val clean = Seq("working the works").toDF("text")
    val dirty = Seq("working the" + BpeTrain.EndOfWord + " works").toDF("text")
    val encClean = UnigramLm.encode(clean, "text", m)
      .select("unigram_tokens").head().getSeq[String](0)
    val encDirty = UnigramLm.encode(dirty, "text", m)
      .select("unigram_tokens").head().getSeq[String](0)
    assert(encClean == encDirty,
      s"sentinel leaked into segmentation: $encDirty vs $encClean")
    val nDirty = UnigramLm.countTokens(dirty, "text", m)
      .select("unigram_n_tokens").head().getInt(0)
    assert(nDirty == encClean.size)
  }

  test("fewer-pieces tie-break: a word that IS a vocab piece encodes as itself") {
    val m = model()
    // 'working' appears often enough that EM keeps it whole (or keeps a
    // segmentation of ≤ 3 pieces) — assert the Viterbi result is minimal
    // among equal-probability paths by checking piece count monotonicity
    val enc = UnigramLm.encodeWord("working", m)
    assert(enc.length <= 3, s"working -> $enc")
  }
}
