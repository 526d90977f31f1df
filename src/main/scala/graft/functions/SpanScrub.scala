package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for exact-substring span SCRUBBING (Lee et al.
  * 2021, "Deduplicating Training Data Makes Language Models Better" —
  * the ExactSubstr tool's actual behavior): instead of dropping a
  * whole document that shares a duplicated span
  * ([[graft.operators.Dedup.dropSpanDuplicates]]), cut the maximal
  * duplicated ranges OUT of the text and keep the unique remainder.
  * On crawl corpora where shared boilerplate wraps unique text,
  * whole-doc drop throws away good data; scrubbing keeps it.
  *
  * Reference anchor: the reference platform has no dedup at all
  * (its data plane is backend/services/duckdb_engine.py); this is
  * part of the beyond-reference LLM-pipeline mandate.
  *
  * Two kernels, both whole-stage-codegen'd (no CodegenFallback —
  * the ScanHof sweep stays clean):
  *
  *  - [[SpanScrub.PositionedShingles]] `(text, n)` → `array<long>`: hash
  *    of EVERY n-token shingle, position-aligned (slot i = tokens
  *    i..i+n-1, 0-based), multiplicity kept — the positional variant
  *    of [[TextSignatures.shingleHashes]] (which dedups and so loses
  *    positions). Token hash and chain are bit-identical to
  *    `shingleHashes` (xxhash64 seed 42 over the lowercased token,
  *    then hashLong-chained), so a span flagged here is exactly a
  *    span [[graft.operators.Dedup.spanDuplicateIds]] would flag.
  *    Tokenization splits the CASE-PRESERVED trimmed text and
  *    lowercases per token: positions must align with the tokens the
  *    scrub re-emits, and the re-emitted text preserves case.
  *
  *  - [[SpanScrub.ScrubSpans]] `(text, starts, k, minSpan)` →
  *    `struct<text, n_cut>`: merge the sorted flagged window starts
  *    into maximal ranges (windows are k tokens wide; a window
  *    starting at or before the current range's end extends it), drop
  *    ranges shorter than `minSpan` tokens (Lee et al. scrub at a
  *    minimum match length — 50 tokens in the paper — so incidental
  *    short collisions don't shred text), cut the surviving ranges,
  *    and re-join the kept tokens with single spaces. One pass per
  *    doc; O(tokens) — the "one scan past the posting agg" shape.
  */
object SpanScrub {

  private val WS = java.util.regex.Pattern.compile("\\s+")
  private val XxSeed = 42L // Spark's xxhash64 default seed

  /** Position-aligned hashes of ALL n-token shingles; empty when the
    * doc has fewer than n tokens. Slot i = chained xxhash64 of the
    * lowercased tokens i..i+n-1 of the case-preserved trimmed stream.
    */
  def positionedShingleHashes(s: UTF8String, n: Int): ArrayData = {
    if (s == null) return new GenericArrayData(Array.emptyLongArray)
    val toks = WS.split(s.trim().toString, -1)
    if (toks.length < n) return new GenericArrayData(Array.emptyLongArray)
    val th = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      val b = UTF8String.fromString(toks(i)).toLowerCase.getBytes
      th(i) = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, XxSeed)
      i += 1
    }
    val m = toks.length - n + 1
    val out = new Array[Long](m)
    i = 0
    while (i < m) {
      var h = th(i)
      var j = 1
      while (j < n) { h = XXH64.hashLong(th(i + j), h); j += 1 }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Cut merged duplicated ranges out of the token stream.
    *
    * @param starts  SORTED 0-based flagged window starts (int or long
    *                elements; null ⇒ no flags, text passes through
    *                re-joined). Callers produce it with
    *                `sort_array(collect_list(pos))`.
    * @param k       window width in tokens (the shingle width the
    *                starts were flagged at)
    * @param minSpan merged ranges shorter than this many tokens are
    *                KEPT (not cut)
    * @return struct(text = kept tokens space-joined — whitespace
    *         normalized, case preserved; n_cut = tokens removed)
    */
  def scrub(s: UTF8String, starts: ArrayData, k: Int, minSpan: Int): InternalRow = {
    if (s == null)
      return new GenericInternalRow(Array[Any](UTF8String.fromString(""), 0L))
    val toks = WS.split(s.trim().toString, -1)
    val n = toks.length
    val ns = if (starts == null) 0 else starts.numElements()
    val cut = new Array[Boolean](n)
    var nCut = 0L
    def start(i: Int): Int = startAt(starts, i)
    var i = 0
    while (i < ns) {
      var a = start(i)
      var b = a + k
      while (i + 1 < ns && start(i + 1) <= b) { i += 1; b = start(i) + k }
      val end = math.min(b, n)
      if (end - a >= minSpan) {
        var j = math.max(a, 0)
        while (j < end) {
          if (!cut(j)) { cut(j) = true; nCut += 1 }
          j += 1
        }
      }
      i += 1
    }
    val sb = new java.lang.StringBuilder
    var firstTok = true
    var j = 0
    while (j < n) {
      if (!cut(j)) {
        if (!firstTok) sb.append(' ')
        sb.append(toks(j))
        firstTok = false
      }
      j += 1
    }
    new GenericInternalRow(Array[Any](UTF8String.fromString(sb.toString), nCut))
  }

  /** Element accessor tolerant of int- and long-typed starts arrays
    * (`posexplode` yields int positions; callers may cast to long).
    */
  private def startAt(a: ArrayData, i: Int): Int = a match {
    case g: GenericArrayData => g.array(i) match {
      case l: java.lang.Long    => l.intValue
      case n: java.lang.Integer => n.intValue
      case other => other.asInstanceOf[Number].intValue
    }
    case _ => throw new IllegalStateException(
      "scrub starts must arrive as GenericArrayData") // see scrubAny
  }

  /** Unsafe-format-safe entry: copies the starts array into generic
    * form once per row before the merge walk (arrays arrive as
    * UnsafeArrayData from shuffles).
    */
  def scrubAny(s: UTF8String, starts: ArrayData, elem: DataType,
      k: Int, minSpan: Int): InternalRow = {
    if (starts == null || starts.numElements() == 0) return scrub(s, null, k, minSpan)
    val n = starts.numElements()
    val copy = new Array[Any](n)
    var i = 0
    if (elem == LongType) while (i < n) { copy(i) = java.lang.Long.valueOf(starts.getLong(i)); i += 1 }
    else while (i < n) { copy(i) = java.lang.Integer.valueOf(starts.getInt(i)); i += 1 }
    scrub(s, new GenericArrayData(copy), k, minSpan)
  }

  /** `(text, n)` → position-aligned shingle hashes; null text → empty array. */
  val PositionedShingles: NativeKernel = NativeKernel("graft_positioned_shingles",
    "graft.functions.SpanScrub", "positionedShingleHashes", Seq(Seq(StringType)),
    ArrayType(LongType, containsNull = false), propagateNull = false)

  def positionedShinglesCol(text: Column, n: Int): Column = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    PositionedShingles.colWith(n)(text)
  }

  /** `(text, starts)` with embedded (k, minSpan) → struct(text, n_cut):
    * see [[scrub]]. Null starts (left-join miss: the doc has no flagged
    * spans) passes the text through re-joined, n_cut = 0. */
  val ScrubSpans: NativeKernel = NativeKernel("graft_scrub_spans",
    "graft.functions.SpanScrub", "scrubAny",
    Seq(Seq(StringType), Seq(ArrayType(IntegerType), ArrayType(LongType))),
    StructType(Seq(
      StructField("text", StringType, nullable = false),
      StructField("n_cut", LongType, nullable = false))),
    propagateNull = false)

  def scrubCol(text: Column, starts: Column, k: Int, minSpan: Int): Column = {
    require(k >= 1, s"span width must be >= 1, got $k")
    require(minSpan >= 1, s"minSpan must be >= 1, got $minSpan")
    ScrubSpans.colWith(NativeCall.ElementType(1), k, minSpan)(text, starts)
  }
}
