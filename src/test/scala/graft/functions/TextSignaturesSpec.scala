package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The native signature expressions must compute EXACTLY what the
  * higher-order-function formulations they replaced computed — these
  * specs pin that equivalence on awkward inputs (multi-space runs,
  * leading/trailing whitespace incl. non-space chars, repeated tokens,
  * docs shorter than the shingle width).
  */
class TextSignaturesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    "the quick brown fox jumps over the lazy dog",
    "  leading and trailing  ",
    "\tstarts with a tab then words follow here",
    "one two",
    "repeat repeat repeat repeat repeat",
    "a b c d e f g h i j k l m n o p q r s t",
    ""
  ).toDF("text")

  // the r2 Column formulation of the shingle hash, kept verbatim as the
  // equivalence oracle
  private def hofShingleHashes(n: Int) = {
    val sh = graft.operators.Dedup.shingles(col("text"), n)
    transform(sh, s => xxhash64(s))
  }

  test("shingleHashes: same count + same distinctness as the HOF pipeline") {
    // chained token hashes differ from string hashes by design, so
    // compare structure: same number of distinct shingles per doc, and
    // equal docs yield equal hash arrays.
    val native = docs.select(
      TextSignatures.shingleHashesCol(col("text"), 3).as("h")).collect()
    val hof = docs.select(hofShingleHashes(3).as("h")).collect()
    native.zip(hof).foreach { case (n, h) =>
      assert(n.getSeq[Long](0).length == h.getSeq[Long](0).length)
      assert(n.getSeq[Long](0).distinct.length == n.getSeq[Long](0).length)
    }
  }

  test("shingleHashes: identical texts → identical arrays; different → different") {
    val two = Seq("same text here for all three words", "same text here for all three words",
      "another doc entirely with other words").toDF("text")
    val rows = two.select(
      TextSignatures.shingleHashesCol(col("text"), 3).as("h"))
      .collect().map(_.getSeq[Long](0))
    assert(rows(0) == rows(1))
    assert(rows(0) != rows(2))
  }

  test("minHashSig is bit-identical to the xxhash64(k, h) HOF formulation") {
    val hashed = docs.select(
      TextSignatures.shingleHashesCol(col("text"), 3).as("_hsh"))
      .filter(size(col("_hsh")) > 0)
    val k = 16
    val native = hashed.select(
      TextSignatures.minHashSigCol(col("_hsh"), k).as("sig")).collect()
    val hof = hashed.select(
      transform(sequence(lit(0), lit(k - 1)),
        s => array_min(transform(col("_hsh"), h => xxhash64(s, h)))).as("sig"))
      .collect()
    native.zip(hof).foreach { case (n, h) =>
      assert(n.getSeq[Long](0) == h.getSeq[Long](0))
    }
  }

  test("simHash64 is bit-identical to the 64-fold aggregate HOF formulation") {
    val hashed = docs.select(col("text"),
      transform(split(lower(trim(col("text"))), "\\s+"), t => xxhash64(t)).as("_hs"))
    val bitSums = (0 until 64).map { i =>
      aggregate(col("_hs"), lit(0L), (acc, h) =>
        acc + when(shiftright(h, i).bitwiseAND(lit(1L)) === 1L, lit(1L))
          .otherwise(lit(-1L)))
    }
    val hofSig = bitSums.zipWithIndex.map { case (b, i) =>
      when(b > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    val rows = hashed.select(
      TextSignatures.simHash64Col(col("text")).as("native"),
      hofSig.as("hof")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("expressions survive a codegen round trip (no fallback crash) and SQL surface") {
    GraftFunctions.register(spark)
    val n = spark.sql(
      "SELECT graft_simhash64('hello world again'), " +
        "graft_shingle_hashes('a b c d', 2), " +
        "graft_minhash_sig(array(1L, 2L, 3L), 4)").collect()
    assert(n.length == 1)
    assert(n.head.getSeq[Long](1).length == 3)
    assert(n.head.getSeq[Long](2).length == 4)
  }

  test("null text → null signature") {
    val r = Seq[Option[String]](None).toDF("text")
      .select(TextSignatures.simHash64Col(col("text")),
        TextSignatures.shingleHashesCol(col("text"), 3))
      .collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("shingleStrings keeps multiplicity and matches tokenization") {
    val grams = Seq("  The cat AND the cat  ").toDF("text")
      .select(TextSignatures.shingleStringsCol(col("text"), 2))
      .head.getSeq[String](0)
    // lowercased, trimmed, ALL consecutive pairs incl. the repeat
    assert(grams == Seq("the cat", "cat and", "and the", "the cat"))
    // shorter than n → empty, not null; null → null
    val edge = Seq[Option[String]](Some("one two"), None).toDF("text")
      .select(TextSignatures.shingleStringsCol(col("text"), 3))
      .collect()
    assert(edge(0).getSeq[String](0).isEmpty && edge(1).isNullAt(0))
  }
}
