package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType}

/** Binary-quantization kernels (1 bit per dimension — the extreme
  * compression point of the ANN family; sign-bit codes over random or
  * identity projections are the classic SRP-LSH construction, Charikar
  * STOC'02, and "binary quantization" in today's vector stores): bit i
  * of the code = [v_i > threshold_i], packed 8 bits per byte. A
  * 64-float vector becomes 8 bytes — the same byte budget as PQ's
  * default, but with a trivially cheap scan metric: Hamming distance
  * via XOR + popcount, no table lookups at all.
  *
  * Codegen'd kernels for the usual reason: both run once per
  * corpus row around the scan, and a UDF there breaks whole-stage
  * codegen.
  */
object BqFunctions {

  import NativeCall.{ElementType, Model}

  private val B = "graft.functions.BqFunctions"
  /** `graft_bq_encode(vec)` → binary: packed sign-bit code. */
  val Encode: NativeKernel = NativeKernel("graft_bq_encode", B, "encode",
    Seq(NativeKernel.NumericArrays), BinaryType, returnNullable = true)
  /** `graft_bq_hamming(code)` → int: Hamming distance to the query's
    * code (lower = closer in angle). */
  val Hamming: NativeKernel =
    NativeKernel("graft_bq_hamming", B, "hamming", Seq(Seq(BinaryType)), IntegerType)
  /** `graft_bq_hamming_batch(code, qIdx)` → int: [[Hamming]] against
    * query `qIdx`'s code from a batch — the k-NN-join form. */
  val HammingBatch: NativeKernel = NativeKernel("graft_bq_hamming_batch", B, "hammingBatch",
    Seq(Seq(BinaryType), Seq(IntegerType)), IntegerType)

  /** Encode a numeric-array column to its packed sign-bit code. */
  def bqEncode(v: Column, thresholds: Array[Double], normalize: Boolean): Column =
    Encode.colWith(ElementType(0), Model(thresholds), normalize)(v)

  /** Hamming distance of a code column against one query's code. */
  def bqHamming(code: Column, queryCode: Array[Byte]): Column =
    Hamming.colWith(Model(queryCode))(code)

  /** Hamming distance of a code column against the `qIdx`-th of a
    * batch of query codes (k-NN join: one scan scores every query). */
  def bqHammingBatch(code: Column, qIdx: Column, queryCodes: Array[Array[Byte]]): Column =
    HammingBatch.colWith(Model(queryCodes))(code, qIdx)

  /** JVM kernel behind [[Encode]]. Same contracts as the PQ/SQ
    * encoders: null element → boxed null, wrong width raises.
    */
  def encode(arr: ArrayData, elem: DataType,
      thresholds: Array[Double], normalize: Boolean): Array[Byte] = {
    val dim = thresholds.length
    val n = arr.numElements()
    if (n != dim) throw new IllegalArgumentException(
      s"graft_bq_encode: vector has $n elements, model expects $dim")
    val v = VectorFunctions.toDoubles(arr, elem, normalize)
    if (v == null) return null
    val code = new Array[Byte]((dim + 7) / 8)
    var i = 0
    while (i < dim) {
      if (v(i) > thresholds(i)) code(i >> 3) = (code(i >> 3) | (1 << (i & 7))).toByte
      i += 1
    }
    code
  }

  /** JVM kernel behind [[HammingBatch]]. */
  def hammingBatch(code: Array[Byte], qIdx: Int, queries: Array[Array[Byte]]): Int = {
    if (qIdx < 0 || qIdx >= queries.length) throw new IllegalArgumentException(
      s"graft_bq_hamming_batch: query index $qIdx out of range (${queries.length} codes)")
    hamming(code, queries(qIdx))
  }

  /** JVM kernel behind [[Hamming]]: Σ popcount(a XOR b). Raises
    * on a width mismatch — that is a code from a different model.
    */
  def hamming(code: Array[Byte], query: Array[Byte]): Int = {
    if (code.length != query.length) throw new IllegalArgumentException(
      s"graft_bq_hamming: code is ${code.length} bytes, query code is " +
        s"${query.length} — codes from a different BQ model?")
    var d = 0
    var i = 0
    while (i < code.length) {
      d += java.lang.Integer.bitCount((code(i) ^ query(i)) & 0xff)
      i += 1
    }
    d
  }
}
