package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.functions.SpanScrub
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.catalyst.util.GenericArrayData

/** ExactSubstr span scrubbing (Lee et al. 2021): cut duplicated
  * ranges, keep the unique remainder — vs dropSpanDuplicates'
  * whole-doc drop.
  */
class SpanScrubSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val boiler =
    "standard legal disclaimer header used on every single page verbatim"  // 10 toks
  private val unique =
    "entirely original reporting about a local event nobody else covered"  // 10 toks

  test("boilerplate-wrapped unique text survives with the unique part intact") {
    val docs = Seq(
      (1L, boiler),                       // first owner keeps its copy
      (2L, s"$boiler $unique"),           // boilerplate + unique
      (3L, s"$boiler other fresh words entirely distinct from anything else written")
    ).toDF("doc_id", "text")
    val out = Dedup.scrubSpanDuplicates(docs, "doc_id", "text", spanTokens = 8)
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(out(0)._2 == boiler && out(0)._3 == 0L) // first owner untouched
    assert(out(1)._2 == unique && out(1)._3 == 10L)
    assert(out(2)._3 == 10L && !out(2)._2.contains("disclaimer"))
  }

  test("originally-empty docs pass through; only scrubbed-to-empty docs drop") {
    // r14 (ADVICE): 'was empty to begin with' (n_cut = 0) must not be
    // conflated with 'cut to nothing' (n_cut > 0) — only the latter drops
    val docs = Seq(
      (1L, s"$unique $boiler"),
      (2L, s"$unique $boiler"), // exact clone → fully cut → dropped
      (3L, ""),                  // empty original → kept, n_cut 0
      (4L, null.asInstanceOf[String]), // null original → kept as empty
      (5L, "a genuinely distinct document with plenty of original tokens inside")
    ).toDF("doc_id", "text")
    val out = Dedup.scrubSpanDuplicates(docs, "doc_id", "text", spanTokens = 8)
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 3L, 4L, 5L))
    assert(out(1)._2 == "" && out(1)._3 == 0L)
    assert(out(2)._2 == "" && out(2)._3 == 0L)
  }

  test("routed posting aggregate (pre-shuffled past the stats threshold) is result-identical") {
    val docs = Seq(
      (1L, boiler), (2L, s"$boiler $unique"),
      (3L, "fresh words that no other document in this tiny corpus contains at all"),
      (4L, s"$boiler $unique trailing difference")
    ).toDF("doc_id", "text")
    val grams = docs.select(col("doc_id").as("_id"),
      explode(graft.functions.TextSignatures
        .shingleHashesCol(col("text"), 8)).as("_g"))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("_g").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val direct = rows(Dedup.dupSpanFirsts(grams, preShuffle = false, BigInt(0)))
    val routed = rows(Dedup.dupSpanFirsts(grams, preShuffle = true,
      BigInt(1))) // forced pre-shuffle route
    assert(direct == routed && direct.nonEmpty)
  }

  test("entirely-duplicated doc scrubs to empty and is dropped — ≡ dropSpanDuplicates") {
    val docs = Seq(
      (1L, s"$unique $boiler"),
      (2L, s"$unique $boiler"), // exact clone → fully cut
      (3L, "some thoroughly unrelated document with plenty of distinct tokens inside it")
    ).toDF("doc_id", "text")
    val scrubbed = Dedup.scrubSpanDuplicates(docs, "doc_id", "text", spanTokens = 8)
      .select("doc_id").as[Long].collect().toSet
    val dropped = Dedup.dropSpanDuplicates(docs, "doc_id", "text", spanTokens = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(scrubbed == Set(1L, 3L))
    assert(scrubbed == dropped)
  }

  test("minSpanTokens keeps merged ranges shorter than the threshold") {
    // shared run is exactly 8 tokens → one flagged window, range len 8
    val shared = "eight shared tokens appearing twice across the corpus"
    val docs = Seq(
      (1L, s"$shared then original trailing material for document one here"),
      (2L, s"$shared also different closing words in document number two")
    ).toDF("doc_id", "text")
    // minSpan 9 > range 8 → nothing cut
    val kept = Dedup.scrubSpanDuplicates(docs, "doc_id", "text",
        spanTokens = 8, minSpanTokens = 9)
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    assert(kept.forall(_._3 == 0L))
    assert(kept(1)._2.startsWith("eight shared tokens"))
    // default minSpan = spanTokens → doc 2's shared run is cut
    val cut = Dedup.scrubSpanDuplicates(docs, "doc_id", "text", spanTokens = 8)
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    assert(cut(1)._3 == 8L && cut(1)._2.startsWith("also different"))
  }

  test("overlapping and adjacent flagged windows merge into one maximal range") {
    // kernel-level: windows k=4 at starts 0,2 (overlap) and 6 (adjacent
    // to merged end 6) → one range [0,10) over 12 tokens
    val txt = UTF8String.fromString("t0 t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11")
    val starts = new GenericArrayData(Array[Any](0, 2, 6))
    val row = SpanScrub.scrub(txt, starts, 4, 1)
    assert(row.getUTF8String(0).toString == "t10 t11")
    assert(row.getLong(1) == 10L)
    // minSpan 11 > merged range 10 → survives whole
    val row2 = SpanScrub.scrub(txt, starts, 4, 11)
    assert(row2.getLong(1) == 0L)
    // window overrunning the end is clamped
    val row3 = SpanScrub.scrub(txt, new GenericArrayData(Array[Any](10)), 4, 1)
    assert(row3.getUTF8String(0).toString.endsWith("t9") && row3.getLong(1) == 2L)
  }

  test("positioned shingles align with token positions and keep multiplicity") {
    val h = SpanScrub.positionedShingleHashes(
      UTF8String.fromString("a b a b a b"), 2).toLongArray()
    assert(h.length == 5)
    assert(h(0) == h(2) && h(0) == h(4)) // "a b" at 0,2,4
    assert(h(1) == h(3))                 // "b a" at 1,3
    assert(h(0) != h(1))
    // case-insensitive matching, short doc → empty
    val hc = SpanScrub.positionedShingleHashes(
      UTF8String.fromString("A B"), 2).toLongArray()
    assert(hc(0) == h(0))
    assert(SpanScrub.positionedShingleHashes(
      UTF8String.fromString("one"), 2).numElements() == 0)
  }

  test("case is preserved in output while matching is case-insensitive") {
    val docs = Seq(
      (1L, "The Quick Brown Fox Jumps Over The Lazy Dog Today"),
      (2L, "the quick brown fox jumps over the lazy dog today Plus Unique Trailing Material Nobody Else Wrote Here")
    ).toDF("doc_id", "text")
    val out = Dedup.scrubSpanDuplicates(docs, "doc_id", "text", spanTokens = 8)
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    assert(out(0)._2 == "The Quick Brown Fox Jumps Over The Lazy Dog Today")
    assert(out(1)._2 == "Plus Unique Trailing Material Nobody Else Wrote Here")
    assert(out(1)._3 == 10L)
  }

  test("within-doc repetition alone does not flag; whitespace is normalized") {
    val rep = "repeat me again and again and again once more " * 2
    val docs = Seq(
      (1L, rep),
      (2L, "unrelated  doc   with    irregular whitespace between these many tokens")
    ).toDF("doc_id", "text")
    val out = Dedup.scrubSpanDuplicates(docs, "doc_id", "text", spanTokens = 8)
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    assert(out.length == 2 && out.forall(_._3 == 0L))
    assert(out(1)._2 ==
      "unrelated doc with irregular whitespace between these many tokens")
  }

  test("scrub plan stays codegen'd — no CodegenFallback in the kernel") {
    val docs = Seq((1L, s"$boiler $unique"), (2L, boiler)).toDF("doc_id", "text")
    val out = Dedup.scrubSpanDuplicates(docs, "doc_id", "text", spanTokens = 8)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CodegenFallback"))
    out.collect() // and it executes
  }
}
