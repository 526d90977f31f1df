package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, ShortType}

/** Vector math over `array<float>` embedding columns.
  *
  * The dot product — the inner loop of every similarity operator
  * (cosine top-k, LSH/IVF probes, SemDeDup's cell walk) — is a native
  * Catalyst expression: the `zip_with`+`aggregate` formulation it
  * replaces is CodegenFallback in Spark (every lambda application is
  * an interpreted expression-tree walk, plus an intermediate product
  * array per pair), which priced a 5k-vector cell walk in seconds.
  * [[Dot]] is one tight JVM loop per pair, inlined into
  * whole-stage codegen — same mechanism and rationale as
  * [[TextSignatures]].
  *
  * Semantics are pinned BIT-IDENTICAL to the HOF formulation:
  * accumulation in double, left-to-right, each element cast to double
  * first; null array / length mismatch / null element → null (exactly
  * what `aggregate(zip_with(...))` yields, where a missing or null
  * element nulls the running sum).
  */
object VectorFunctions {

  import NativeCall.ElementType

  /** Σ aᵢ·bᵢ between two array columns (native codegen'd loop). */
  def dot(a: Column, b: Column): Column = Dot.colWith(ElementType(0), ElementType(1))(a, b)

  /** Σ vᵢ·cᵢ against a constant plane (literal array side). */
  def dotConst(v: Column, plane: Array[Double]): Column =
    dot(v, array(plane.toIndexedSeq.map(lit(_)): _*))

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two array columns (0 when either norm is 0). */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm(a) * norm(b)
    when(n === 0.0, 0.0).otherwise(d / n)
  }

  /** Cosine against a constant query vector. */
  def cosineConst(v: Column, q: Array[Double]): Column =
    cosine(v, array(q.toIndexedSeq.map(lit(_)): _*))

  /** `graft_dot(a, b)` → double over any two numeric arrays. */
  val Dot: NativeKernel = NativeKernel("graft_dot", "graft.functions.VectorFunctions",
    "dotProduct", Seq(NativeKernel.NumericArrays, NativeKernel.NumericArrays), DoubleType,
    returnNullable = true)

  /** JVM kernel behind [[Dot]]: boxed null on length mismatch or null
    * element, else the left-to-right double sum. */
  def dotProduct(a: ArrayData, b: ArrayData, aElem: DataType,
      bElem: DataType): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    val aKind = kind(aElem)
    val bKind = kind(bElem)
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += readDoubleAt(a, i, aKind, aElem) * readDoubleAt(b, i, bKind, bElem)
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** The vector as doubles, unit-normalized when `normalize` (a zero
    * vector stays zero); null when an element is null. Callers check
    * the width first. */
  private[functions] def toDoubles(arr: ArrayData, elem: DataType,
      normalize: Boolean): Array[Double] = {
    val k = kind(elem)
    val n = arr.numElements()
    val v = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      v(i) = readDoubleAt(arr, i, k, elem)
      i += 1
    }
    if (normalize) {
      var ss = 0.0
      i = 0
      while (i < n) { ss += v(i) * v(i); i += 1 }
      val nrm = math.sqrt(ss)
      if (nrm > 0) { i = 0; while (i < n) { v(i) /= nrm; i += 1 } }
    }
    v
  }

  /** Element kinds: 0=double, 1=float, 2=long, 3=int, 4=short, 5=byte,
    * 6=decimal (the only kind that reads through `elem`). */
  private def kind(elem: DataType): Int = elem match {
    case DoubleType => 0
    case FloatType => 1
    case LongType => 2
    case IntegerType => 3
    case ShortType => 4
    case ByteType => 5
    case _ => 6
  }

  private def readDoubleAt(a: ArrayData, i: Int, kind: Int, elem: DataType): Double =
    kind match {
      case 0 => a.getDouble(i)
      case 1 => a.getFloat(i).toDouble
      case 2 => a.getLong(i).toDouble
      case 3 => a.getInt(i).toDouble
      case 4 => a.getShort(i).toDouble
      case 5 => a.getByte(i).toDouble
      case _ => a.get(i, elem).asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble
    }
}
