package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{BinaryType, DataType}

/** Scalar-quantization (SQ8) encode kernel: each dimension of a float
  * vector quantizes independently to one byte on a uniform per-dim
  * grid, `b_i = round((x_i − min_i)/scale_i)` clamped to 0..255 — a
  * `dim`-float vector becomes a `dim`-byte code (4× compression, vs
  * PQ's ~32×, at much higher fidelity; this is faiss's SQ8 shape).
  *
  * Encoding to the nearest point of a UNIFORM grid is exactly the
  * argmin a PQ codebook of 256 evenly spaced 1-d centroids would
  * compute — which is why query-time scanning needs no new kernel at
  * all: [[graft.operators.Sq.adcTable]] materializes that equivalent
  * `dim`×256 lookup table and the scan reuses [[PqFunctions.adc]]
  * (codegen'd, table-lookup-only) with nsub=dim, k=256.
  *
  * Native codegen'd kernel for the same reason as [[PqFunctions.Encode]]:
  * encode runs once per corpus row inside the index build's scan, and
  * a UDF there would break the whole-stage pipeline.
  */
object SqFunctions {

  import NativeCall.{ElementType, Model}

  /** `graft_sq_encode(vec)` → binary: the vector's `dim`-byte SQ8 code. */
  val Encode: NativeKernel = NativeKernel("graft_sq_encode", "graft.functions.SqFunctions",
    "encode", Seq(NativeKernel.NumericArrays), BinaryType, returnNullable = true)

  /** Encode a numeric-array column to its `dim`-byte SQ8 code. */
  def sqEncode(v: Column, mins: Array[Double], scales: Array[Double],
      normalize: Boolean): Column =
    Encode.colWith(ElementType(0), Model(mins), Model(scales), normalize)(v)

  /** JVM kernel behind [[Encode]]: affine quantize + clamp per
    * dimension. Null element → boxed null (same contract as
    * [[PqFunctions.encode]]); a wrong-width vector RAISES — silently
    * emitting null would let a mis-dimensioned corpus search as
    * "no neighbors" unnoticed. A zero-range dimension (scale 0 from a
    * constant fit sample) encodes to byte 0 and dequantizes exactly to
    * its min — no division happens.
    */
  def encode(arr: ArrayData, elem: DataType,
      mins: Array[Double], scales: Array[Double],
      normalize: Boolean): Array[Byte] = {
    val dim = mins.length
    val n = arr.numElements()
    if (n != dim) throw new IllegalArgumentException(
      s"graft_sq_encode: vector has $n elements, model expects $dim")
    val v = VectorFunctions.toDoubles(arr, elem, normalize)
    if (v == null) return null
    val code = new Array[Byte](dim)
    var i = 0
    while (i < dim) {
      val s = scales(i)
      val b =
        if (s <= 0) 0
        else {
          val q = math.round((v(i) - mins(i)) / s).toInt
          if (q < 0) 0 else if (q > 255) 255 else q
        }
      code(i) = b.toByte
      i += 1
    }
    code
  }
}
