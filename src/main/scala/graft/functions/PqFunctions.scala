package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, IntegerType}

/** Product-quantization kernels (Jégou et al., "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011): a vector splits into
  * `nsub` subvectors, each quantized to its nearest per-subspace
  * centroid, leaving an `nsub`-BYTE code in place of a `dim`-float
  * vector (64 floats → 8 bytes at nsub=8). Query-time ADC (asymmetric
  * distance computation) scores a code against a query with `nsub`
  * table lookups — no vector arithmetic at all on the scan.
  *
  * Both stages are native codegen'd kernels for the same reason as
  * [[VectorFunctions.Dot]]: they run once per corpus row, and a
  * CodegenFallback or UDF there would break the whole-stage pipeline
  * around the scan. The model rides into generated code as
  * [[NativeCall.Model]] reference objects, so the hot loop is a plain
  * JVM loop over primitive arrays.
  */
object PqFunctions {

  import NativeCall.{ElementType, Model}

  private val P = "graft.functions.PqFunctions"
  /** `graft_pq_encode(vec)` → binary: the vector's `nsub`-byte PQ code. */
  val Encode: NativeKernel = NativeKernel("graft_pq_encode", P, "encode",
    Seq(NativeKernel.NumericArrays), BinaryType, returnNullable = true)
  /** `graft_pq_adc(code)` → double: table-lookup distance of a PQ code
    * against one query's distance table (lower = closer). */
  val Adc: NativeKernel =
    NativeKernel("graft_pq_adc", P, "adc", Seq(Seq(BinaryType)), DoubleType)
  /** `graft_pq_adc_batch(code, qIdx)` → double: [[Adc]] against query
    * `qIdx`'s table from a batch — the k-NN-join form. */
  val AdcBatch: NativeKernel = NativeKernel("graft_pq_adc_batch", P, "adcBatch",
    Seq(Seq(BinaryType), Seq(IntegerType)), DoubleType)

  /** Encode a vector column to its `nsub`-byte PQ code. `rotation`
    * (null = none) is an OPQ rotation applied FUSED after the
    * normalize and before codebook assignment — one in-row pass, no
    * intermediate rotated-vector column ever materializes.
    */
  def pqEncode(v: Column, codebooks: Array[Array[Array[Double]]],
      normalize: Boolean,
      rotation: Array[Array[Double]] = null): Column =
    Encode.colWith(ElementType(0), Model(codebooks), normalize, Model(rotation))(v)

  /** ADC score of a code column against a flattened `nsub`×`k` query
    * distance table (lower = closer).
    */
  def pqAdc(code: Column, table: Array[Double], nsub: Int, k: Int): Column =
    Adc.colWith(Model(table), nsub, k)(code)

  /** ADC score of a code column against the `qIdx`-th of a BATCH of
    * query distance tables (k-NN join: one scan of the code table
    * scores every query).
    */
  def pqAdcBatch(code: Column, qIdx: Column, tables: Array[Array[Double]],
      nsub: Int, k: Int): Column =
    AdcBatch.colWith(Model(tables), nsub, k)(code, qIdx)

  /** JVM kernel behind [[AdcBatch]]. */
  def adcBatch(code: Array[Byte], qIdx: Int, tables: Array[Array[Double]],
      nsub: Int, k: Int): Double = {
    if (qIdx < 0 || qIdx >= tables.length) throw new IllegalArgumentException(
      s"graft_pq_adc_batch: query index $qIdx out of range (${tables.length} tables)")
    adc(code, tables(qIdx), nsub, k)
  }

  /** JVM kernel behind [[Encode]]: argmin ‖subvector − c‖² per
    * subspace, first-index tie-break (the same rule as
    * Similarity.localLloyd). Null element → boxed null; a wrong-width
    * vector RAISES — silently emitting a null code would let a
    * mis-dimensioned corpus dedup/search as "no neighbors" without
    * anyone noticing.
    */
  def encode(arr: ArrayData, elem: DataType,
      codebooks: Array[Array[Array[Double]]],
      normalize: Boolean,
      rotation: Array[Array[Double]]): Array[Byte] = {
    val nsub = codebooks.length
    val subdim = codebooks(0)(0).length
    val dim = nsub * subdim
    val n = arr.numElements()
    if (n != dim) throw new IllegalArgumentException(
      s"graft_pq_encode: vector has $n elements, model expects $dim " +
        s"($nsub subspaces × $subdim)")
    var v = VectorFunctions.toDoubles(arr, elem, normalize)
    if (v == null) return null
    if (rotation != null) {
      // y = R v — OPQ's learned basis change (orthogonal, so the
      // normalize above is unaffected); codebooks were fit in y-space
      val y = new Array[Double](dim)
      var a = 0
      while (a < dim) {
        val row = rotation(a)
        var b = 0
        var acc = 0.0
        while (b < dim) { acc += row(b) * v(b); b += 1 }
        y(a) = acc
        a += 1
      }
      v = y
    }
    val code = new Array[Byte](nsub)
    var s = 0
    while (s < nsub) {
      val cb = codebooks(s)
      val off = s * subdim
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        val cent = cb(c)
        var d = 0.0
        var j = 0
        while (j < subdim) { val t = v(off + j) - cent(j); d += t * t; j += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      code(s) = best.toByte
      s += 1
    }
    code
  }

  /** JVM kernel behind [[Adc]]: Σₛ table[s·k + code[s]]. Raises
    * on a code whose width or byte range disagrees with the table —
    * that is a code column from a DIFFERENT model, and scoring it
    * would be silent garbage.
    */
  def adc(code: Array[Byte], table: Array[Double], nsub: Int,
      k: Int): Double = {
    if (code.length != nsub) throw new IllegalArgumentException(
      s"graft_pq_adc: code is ${code.length} bytes, query table expects " +
        s"$nsub — codes from a different PQ model?")
    var s = 0
    var d = 0.0
    while (s < nsub) {
      val cid = code(s) & 0xff
      if (cid >= k) throw new IllegalArgumentException(
        s"graft_pq_adc: code byte $cid out of range (k=$k) — codes from " +
          "a different PQ model?")
      d += table(s * k + cid)
      s += 1
    }
    d
  }
}
