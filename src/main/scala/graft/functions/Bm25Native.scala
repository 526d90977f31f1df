package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd BM25 kernels — replace the interpreted
  * higher-order-function chain in [[graft.operators.Bm25]]
  * (`transform`/`filter`/`zip_with`/`aggregate` are all
  * CodegenFallback in Spark: the per-doc contribution walked an
  * interpreted expression tree O(terms × doc_len) times PER ROW).
  * Same eviction as [[DsirScore]]/[[TextSignatures]]: one tight JVM
  * loop per row, inlined into whole-stage codegen; the corpus-scale
  * scan is where 100 TB goes.
  *
  * FP determinism is pinned to the Column chain these replace: the
  * per-term IEEE op order is IDENTICAL
  * (`idf = ln(1 + ((n - df) + 0.5) / (df + 0.5))`,
  * `contrib = (idf * (tf * (k1+1))) / (tf + k1 * ((1-b) + (b*dl)/avgdl))`,
  * all left-associated exactly as Catalyst's Add/Multiply/Divide
  * nodes evaluated them), term order is the caller's terms order, and
  * per-doc sums fold left in array order — so the DuckDB oracle's
  * hash-exact agreement is preserved bit-for-bit.
  */
object Bm25Native {

  /** term → position map on UTF8String bytes (same equality as the
    * `===`/`array_contains` comparisons replaced).
    */
  private[graft] def indexOf(terms: Array[UTF8String]): java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](terms.length * 2)
    var i = 0
    while (i < terms.length) { m.putIfAbsent(terms(i), Integer.valueOf(i)); i += 1 }
    m
  }

  /** 0/1 match vector aligned with `terms` (null token array → zero
    * vector, mirroring the coalesce-to-false the transform carried).
    */
  def matchVec(toks: ArrayData, idx: java.util.HashMap[UTF8String, Integer],
      nTerms: Int): ArrayData = {
    val out = new Array[Double](nTerms)
    if (toks != null) {
      var i = 0
      val n = toks.numElements()
      while (i < n) {
        if (!toks.isNullAt(i)) {
          val p = idx.get(toks.getUTF8String(i))
          if (p != null) out(p.intValue()) = 1.0
        }
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  /** Per-term BM25 contribution array for one doc: one pass over the
    * tokens for tf counts, then the per-term arithmetic in the exact
    * replaced op order. `n` is the corpus doc count, `dfs` the
    * per-term document frequencies (aligned with terms).
    */
  def contribs(toks: ArrayData, dfs: ArrayData, n: Long, avgdl: Double,
      idx: java.util.HashMap[UTF8String, Integer], nTerms: Int,
      k1: Double, b: Double): ArrayData = {
    val tf = new Array[Double](nTerms)
    val nToks = toks.numElements()
    var i = 0
    while (i < nToks) {
      if (!toks.isNullAt(i)) {
        val p = idx.get(toks.getUTF8String(i))
        if (p != null) tf(p.intValue()) += 1.0
      }
      i += 1
    }
    val dl = nToks.toDouble
    val lenNorm = (1.0 - b) + (b * dl) / avgdl
    val nD = n.toDouble
    val out = new Array[Double](nTerms)
    var t = 0
    while (t < nTerms) {
      val df = dfs.getDouble(t)
      val idf = Math.log(1.0 + ((nD - df) + 0.5) / (df + 0.5))
      out(t) = (idf * (tf(t) * (k1 + 1.0))) / (tf(t) + k1 * lenNorm)
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Left-fold sum in array order (the `aggregate(_, 0.0, _+_)` it
    * replaces; elements are never null upstream).
    */
  def sumOrdered(arr: ArrayData): Double = {
    var s = 0.0
    var i = 0
    val n = arr.numElements()
    while (i < n) { s += arr.getDouble(i); i += 1 }
    s
  }

  /** Fold `sum += values[idx[i]-1]` in idx order, skipping idx 0 /
    * null (array_position's "missing" value — the replaced
    * `coalesce(element_at(map, t), 0.0)` added 0 there). An
    * out-of-range position also adds 0 rather than crashing the
    * executor: the only producer is array_position over the same
    * terms list that sized `values`, so the branch is defensive.
    */
  def pickSum(values: ArrayData, idx: ArrayData): Double = {
    var s = 0.0
    var i = 0
    val n = idx.numElements()
    val nv = values.numElements()
    while (i < n) {
      if (!idx.isNullAt(i)) {
        val p = idx.getLong(i)
        if (p > 0 && p <= nv) s += values.getDouble((p - 1).toInt)
      }
      i += 1
    }
    s
  }

  private val BN = "graft.functions.Bm25Native"
  private val Doubles = ArrayType(DoubleType, containsNull = false)
  private val Tokens = Seq(ArrayType(StringType))

  /** `graft_bm25_matchvec(tokens)` → array<double> of 0/1 aligned with
    * the embedded terms; null/absent tokens give the zero vector (it
    * feeds `array_to_vector`, which asserts non-null). */
  val MatchVec: NativeKernel = NativeKernel("graft_bm25_matchvec", BN, "matchVec",
    Seq(Tokens), Doubles, propagateNull = false)
  /** `graft_bm25_contribs(tokens, dfs, n, avgdl)` with embedded
    * (terms, k1, b): per-term contribution array for one doc. Null on
    * any null input (a null-text doc's chain nulled out in the replaced
    * formulation too; callers guard with `_tnull`). */
  val Contribs: NativeKernel = NativeKernel("graft_bm25_contribs", BN, "contribs",
    Seq(Tokens, Seq(ArrayType(DoubleType)), Seq(LongType), Seq(DoubleType)), Doubles)

  def matchVecCol(toks: Column, terms: Seq[String]): Column =
    MatchVec.colWith(termIndex(terms), terms.length)(toks)

  def contribsCol(toks: Column, dfs: Column, n: Column, avgdl: Column,
      terms: Seq[String], k1: Double, b: Double): Column =
    Contribs.colWith(termIndex(terms), terms.length, k1, b)(toks, dfs, n, avgdl)

  /** The terms' position index as a model. Distinctness is the contract
    * that keeps these kernels equivalent to the per-term array_contains
    * chain they replaced: [[indexOf]] keeps only the FIRST slot of a
    * repeated term, so a duplicate would silently score 0 where the
    * chain scored it again. */
  private def termIndex(terms: Seq[String]): NativeCall.Model = {
    require(terms.distinct.size == terms.size, s"BM25 terms must be distinct, got $terms")
    NativeCall.Model(indexOf(terms.map(UTF8String.fromString).toArray))
  }

  /** `graft_array_fsum(arr)` — ordered left-fold sum of array<double>. */
  val SumOrdered: NativeKernel = NativeKernel("graft_array_fsum",
    BN, "sumOrdered", Seq(Seq(Doubles)), DoubleType)
  /** `graft_array_picksum(values, idx)` — sum of `values[idx[i]-1]` in
    * idx order; idx is 1-based (array_position), 0/null adds 0.0. */
  val PickSum: NativeKernel = NativeKernel("graft_array_picksum", BN, "pickSum",
    Seq(Seq(Doubles), Seq(ArrayType(LongType, containsNull = false))), DoubleType)

  def sumOrderedCol(arr: Column): Column = SumOrdered.col(arr)

  def pickSumCol(values: Column, idx: Column): Column = PickSum.col(values, idx)
}
