package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the near-dup signature math
  * (SURVEY.md §2.5): word-shingle hashing, MinHash signatures, SimHash.
  *
  * Why native expressions and not `functions._` compositions: the
  * textbook formulations (`transform`/`aggregate` higher-order
  * functions) are CodegenFallback in Spark — every lambda application
  * is an interpreted expression-tree walk, and a 64-wide signature
  * means 64 interpreted folds PER ROW. Measured on the r2 bench these
  * dominated the dedup family (6-8 s/query at sf0.1 for ~5k docs).
  * Each kernel here is one tight JVM loop per row, called from
  * whole-stage codegen through [[NativeCall]] (like [[RollingHash]]) —
  * the per-row work drops from thousands of interpreted evals to one
  * method call.
  *
  * Semantics are pinned to the Column formulations they replace:
  *  - tokenization is `split(lower(trim(text)), "\\s+")` — Java regex,
  *    limit -1 (trailing empties kept), trim of ASCII spaces only —
  *    matching the DuckDB oracle's `regexp_split_to_array(lower(trim(
  *    text)), '\s+')` exactly;
  *  - token hash = Spark's `xxhash64(token)` (XXH64 over UTF-8 bytes,
  *    seed 42);
  *  - [[MinHashSig]]'s k-th hash = Spark's `xxhash64(k, h)` =
  *    `XXH64.hashLong(h, XXH64.hashInt(k, 42))`, bit-identical to the
  *    HOF version it replaces; [[MinHashBands]] hashes its band slices
  *    the way `xxhash64(b, slice…)` does;
  *  - [[SimHash64]] bit i = sign of Σ_tokens ±1 by bit i of the
  *    token hash (multiplicity included), identical to the 64-fold
  *    `aggregate` formulation.
  */
object TextSignatures {

  private val WS = java.util.regex.Pattern.compile("\\s+")
  private val XxSeed = 42L // Spark's xxhash64 default seed

  /** JVM-side twin of the Column tokenization `split(lower(trim(c)),
    * "\s+")` — routed through UTF8String so trim (ASCII space only,
    * NOT Java's <= U+0020 sweep) and toLowerCase (locale-free) are
    * BIT-IDENTICAL to what Spark executes: a JVM-side operator half
    * (e.g. BPE encode) must segment exactly like its Column-side
    * training half, on any default locale.
    */
  private[graft] def jvmTokens(s: String): Array[String] =
    WS.split(UTF8String.fromString(s).trim().toLowerCase.toString, -1)

  /** Per-token xxhash64 values of `split(lower(trim(s)), "\s+")`. */
  def tokenHashes(s: UTF8String): Array[Long] = {
    val str = s.trim().toLowerCase.toString
    val toks = WS.split(str, -1)
    val out = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      val b = toks(i).getBytes(StandardCharsets.UTF_8)
      out(i) = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, XxSeed)
      i += 1
    }
    out
  }

  /** Distinct hashes of the n-token shingles; empty when the doc has
    * fewer than n tokens. The shingle hash chains the n token hashes
    * (first-occurrence order preserved, like `array_distinct`). The
    * dedup set is open addressing over a primitive table (linear
    * probing, load at most 1/2): no boxed Long per shingle.
    */
  def shingleHashes(s: UTF8String, n: Int): ArrayData = {
    val th = tokenHashes(s)
    if (th.length < n) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val m = th.length - n + 1
    val mask = Integer.highestOneBit(m) * 4 - 1
    val slots = new Array[Long](mask + 1)
    val used = new Array[Boolean](mask + 1)
    val buf = new Array[Long](m)
    var cnt = 0
    var i = 0
    while (i < m) {
      var h = th(i)
      var j = 1
      while (j < n) { h = XXH64.hashLong(th(i + j), h); j += 1 }
      var p = (h ^ (h >>> 32)).toInt & mask
      while (used(p) && slots(p) != h) p = (p + 1) & mask
      if (!used(p)) { used(p) = true; slots(p) = h; buf(cnt) = h; cnt += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(buf, cnt))
  }

  /** ALL n-token shingles as strings (space-joined lowercase tokens),
    * multiplicity KEPT — the corpus-frequency variant of
    * [[shingleHashes]] (which dedups within the doc for set
    * signatures). Same tokenization, so the DuckDB list-comprehension
    * twin is exact.
    */
  def shingleStrings(s: UTF8String, n: Int): ArrayData = {
    val str = s.trim().toLowerCase.toString
    val toks = WS.split(str, -1)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val m = toks.length - n + 1
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** k-wide MinHash signature over a doc's shingle-hash array.
    * Values are bit-identical to `transform(sequence(0, k-1), s =>
    * array_min(transform(hs, h => xxhash64(s, h))))`. An empty input
    * yields Long.MaxValue entries (callers filter empty docs first).
    */
  def minHashSig(hashes: ArrayData, k: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(signature(hashes, k))

  /** The `bands` LSH bucket keys of a doc: key b is Spark's
    * `xxhash64(b, sig[b·r], …, sig[b·r + r − 1])` over the
    * (bands·r)-wide [[minHashSig]] `sig` — the band index (an INT,
    * folded with hashInt) mixed in first, so equal slices in different
    * bands get different keys.
    */
  def minHashBands(hashes: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val sig = signature(hashes, bands * rowsPerBand)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = XXH64.hashInt(b, XxSeed)
      var r = b * rowsPerBand
      val end = r + rowsPerBand
      while (r < end) { h = XXH64.hashLong(sig(r), h); r += 1 }
      out(b) = h
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** The signature loop shared by [[minHashSig]] and [[minHashBands]]. */
  private def signature(hashes: ArrayData, k: Int): Array[Long] = {
    val hs = hashes.toLongArray()
    val out = new Array[Long](k)
    var s = 0
    while (s < k) {
      // xxhash64(s, h) folds left-to-right from the fixed seed:
      // seed_s = XXH64(s, 42) is per-signature-slot constant. The slot
      // index is an INT in the HOF formulation (`sequence(0, k-1)`),
      // so Spark folds it with hashInt — hashLong would change every
      // signature.
      val seed = XXH64.hashInt(s, XxSeed)
      var mn = Long.MaxValue
      var i = 0
      while (i < hs.length) {
        val v = XXH64.hashLong(hs(i), seed)
        if (v < mn) mn = v
        i += 1
      }
      out(s) = mn
      s += 1
    }
    out
  }

  /** 64-bit SimHash over whitespace tokens (multiplicity included). */
  def simHash64(s: UTF8String): Long = {
    val th = tokenHashes(s)
    val counts = new Array[Int](64)
    var i = 0
    while (i < th.length) {
      val h = th(i)
      var b = 0
      while (b < 64) {
        counts(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  // ---------------------------------------------------------------- //
  // Declarations: the Column builders here and the SQL function table
  // ([[GraftFunctions]]) both build through the checked builders.
  // ---------------------------------------------------------------- //

  private val T = "graft.functions.TextSignatures"
  private val Longs = ArrayType(LongType, containsNull = false)
  val ShingleHashes: NativeKernel =
    NativeKernel("graft_shingle_hashes", T, "shingleHashes", Seq(Seq(StringType)), Longs)
  val ShingleStrings: NativeKernel = NativeKernel("graft_shingle_strings", T, "shingleStrings",
    Seq(Seq(StringType)), ArrayType(StringType, containsNull = false))
  val MinHashSig: NativeKernel =
    NativeKernel("graft_minhash_sig", T, "minHashSig", Seq(Seq(Longs)), Longs)
  val MinHashBands: NativeKernel =
    NativeKernel("graft_minhash_bands", T, "minHashBands", Seq(Seq(Longs)), Longs)
  val SimHash64: NativeKernel =
    NativeKernel("graft_simhash64", T, "simHash64", Seq(Seq(StringType)), LongType)

  /** `graft_shingle_hashes(text, n)` → array<bigint>: distinct hashed
    * word n-gram shingles. */
  def shingleHashesExpr(text: Expression, n: Int): Expression = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    ShingleHashes.withConsts(n)(text)
  }

  /** `graft_shingle_strings(text, n)` → array<string>: ALL word n-grams
    * as strings, multiplicity kept. */
  def shingleStringsExpr(text: Expression, n: Int): Expression = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    ShingleStrings.withConsts(n)(text)
  }

  /** `graft_minhash_sig(hashes, k)` → array<bigint>: k MinHash minima. */
  def minHashSigExpr(hashes: Expression, k: Int): Expression = {
    require(k >= 1, s"signature width must be >= 1, got $k")
    MinHashSig.withConsts(k)(hashes)
  }

  /** `graft_minhash_bands(hashes, bands, rows_per_band)` →
    * array<bigint>: the `bands` LSH bucket keys of the
    * (bands·rows_per_band)-wide MinHash signature. */
  def minHashBandsExpr(hashes: Expression, bands: Int, rowsPerBand: Int): Expression = {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    require(rowsPerBand >= 1, s"rowsPerBand must be >= 1, got $rowsPerBand")
    require(bands.toLong * rowsPerBand <= Int.MaxValue,
      s"bands × rowsPerBand = ${bands.toLong * rowsPerBand} is past Int.MaxValue")
    MinHashBands.withConsts(bands, rowsPerBand)(hashes)
  }

  import org.apache.spark.sql.graftbridge.ColumnBridge.{column => ncol, expression => ex}

  def shingleHashesCol(text: Column, n: Int): Column = ncol(shingleHashesExpr(ex(text), n))

  def minHashSigCol(hashes: Column, k: Int): Column = ncol(minHashSigExpr(ex(hashes), k))

  def minHashBandsCol(hashes: Column, bands: Int, rowsPerBand: Int): Column =
    ncol(minHashBandsExpr(ex(hashes), bands, rowsPerBand))

  def simHash64Col(text: Column): Column = SimHash64.col(text)

  def shingleStringsCol(text: Column, n: Int): Column = ncol(shingleStringsExpr(ex(text), n))
}
