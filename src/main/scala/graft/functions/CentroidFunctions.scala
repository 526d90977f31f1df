package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Nearest-centroid assignment as ONE native kernel.
  *
  * The declarative form — `array_position(array(k dot-expressions),
  * array_max(...))` — materializes a k-element score ARRAY per row
  * through k separate expression trees; at the auto-sized cell counts
  * a real corpus needs (SemDeDup at sf10: k ≈ 3000 cells) that is
  * thousands of Catalyst nodes per row, far past what whole-stage
  * codegen will fuse, and the assignment pass dwarfs every other
  * stage of the query. This kernel is the same computation as a
  * single reference-object loop: argmax (v·c − ‖c‖²/2) with
  * first-index tie-break — BIT-IDENTICAL scores and tie behavior to
  * the array formulation it replaces (same left-to-right dot
  * accumulation, same first-occurrence-of-max rule).
  *
  * Null semantics also match the old form: null vector, null element,
  * or a width mismatch → null cell (the array form nulled every score
  * and array_max of all-null is null).
  */
object CentroidFunctions {

  import NativeCall.{ElementType, Model}

  /** `graft_nearest_cell(vec)` → int: nearest-centroid index. */
  val NearestCell: NativeKernel = NativeKernel("graft_nearest_cell",
    "graft.functions.CentroidFunctions", "nearest", Seq(NativeKernel.NumericArrays),
    IntegerType, returnNullable = true)

  /** Index of the nearest centroid by L2 (int; null on null/mismatch). */
  def nearestCell(v: Column, centroids: Array[Array[Double]]): Column =
    NearestCell.colWith(ElementType(0), Model(centroids),
      Model(centroids.map(c => c.map(x => x * x).sum / 2)))(v)

  /** JVM kernel behind [[NearestCell]]. `halves(c)` = ‖c‖²/2,
    * precomputed once when the Column is built.
    */
  def nearest(arr: ArrayData, elem: DataType,
      centroids: Array[Array[Double]],
      halves: Array[Double]): java.lang.Integer = {
    val dim = centroids(0).length
    if (arr.numElements() != dim) return null
    val v = VectorFunctions.toDoubles(arr, elem, normalize = false)
    if (v == null) return null
    var best = 0
    var bestS = Double.NegativeInfinity
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      var dot = 0.0
      var j = 0
      while (j < dim) { dot += v(j) * cent(j); j += 1 }
      val s = dot - halves(c)
      if (s > bestS) { bestS = s; best = c } // strict > keeps the FIRST max
      c += 1
    }
    Integer.valueOf(best)
  }
}
