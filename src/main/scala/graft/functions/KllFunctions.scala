package graft.functions

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** Mergeable quantile sketches (KLL — Karnin, Lang & Liberty, FOCS
  * 2016; the Apache DataSketches implementation already on Spark's
  * classpath). EXACT quantiles are not algebraic — per-batch partials
  * cannot merge, which is why [[graft.operators.IncrementalAgg]]
  * could ship count/sum/min/max/avg and HLL distinct but not
  * percentiles. KLL closes that: sketch-of-batch partials union into
  * the sketch of the union within a guaranteed rank error (~1.65% at
  * the default k=200, w.h.p.), so incremental p50/p95/p99 latency
  * metrics over an append-only lake become one O(new batch) fold per
  * day — the same contract as every other IncrementalAgg metric.
  *
  * Three pieces, mirroring Spark's own hll_sketch_agg /
  * hll_union_agg / hll_sketch_estimate family:
  *  - [[KllSketchAgg]]: double column → serialized sketch (binary);
  *  - [[KllMergeAgg]]: binary sketch column → merged sketch;
  *  - [[KllFunctions.Quantile]]: (sketch, q) → estimated quantile.
  *
  * Unlike HLL's register max-lattice, KLL compaction flips random
  * coins — two different batch splits can produce byte-different
  * sketches whose estimates agree only within the rank-error bound,
  * so specs assert RANK tolerance, never byte equality, and the
  * metric is documented approximate.
  */
object KllFunctions {

  /** DataSketches' supported k range (error dial): 8..65535. */
  val MinK = 8
  val MaxK = 65535

  import org.apache.spark.sql.graftbridge.ColumnBridge.{column => ncol, expression => ex}

  // explicitly wrapped as AggregateExpression so the aggregate can
  // nest under a scalar (kllQuantile(kllAgg(x))) like Spark's own
  // hll_sketch_estimate(hll_sketch_agg(x))
  def kllAgg(c: Column, k: Int = 200): Column =
    ncol(KllSketchAgg(ex(c), k).toAggregateExpression())
  def kllMerge(c: Column, k: Int = 200): Column =
    ncol(KllMergeAgg(ex(c), k).toAggregateExpression())
  def kllQuantile(sketch: Column, q: Double): Column = {
    require(q >= 0.0 && q <= 1.0, s"graft_kll_quantile: q=$q outside [0, 1]")
    Quantile.colWith(q)(sketch)
  }

  private[graft] def toBytes(s: KllDoublesSketch): Array[Byte] = s.toByteArray
  private[graft] def fromBytes(b: Array[Byte]): KllDoublesSketch =
    KllDoublesSketch.heapify(Memory.wrap(b))

  /** `graft_kll_quantile(sketch, q)` — the estimated q-quantile
    * (INCLUSIVE rule, DataSketches' default) of a serialized sketch;
    * null for an empty sketch (no updates ever — the "no non-null rows
    * in any batch" group). */
  val Quantile: NativeKernel = NativeKernel("graft_kll_quantile",
    "graft.functions.KllFunctions", "quantile", Seq(Seq(BinaryType)), DoubleType,
    returnNullable = true)

  /** The kernel (boxed: an empty sketch has no quantile). */
  def quantile(bytes: Array[Byte], q: Double): java.lang.Double = {
    val s = fromBytes(bytes)
    if (s.isEmpty) null
    else java.lang.Double.valueOf(s.getQuantile(q))
  }
}

/** Shared plumbing of the two KLL aggregates: binary sketch output,
  * byte-array serialization, offset boilerplate.
  */
abstract class KllAggBase
    extends TypedImperativeAggregate[KllDoublesSketch] {
  def k: Int
  // validated in checkInputDataTypes, NOT the constructor: Java
  // deserialization on executors instantiates through a serialization
  // constructor that sees k=0 before field restore — a constructor
  // require would kill every task (observed as InvalidClassException)
  protected def checkK(): TypeCheckResult =
    if (k >= KllFunctions.MinK && k <= KllFunctions.MaxK)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName: k must be in [${KllFunctions.MinK}, " +
        s"${KllFunctions.MaxK}], got $k")

  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): KllDoublesSketch =
    KllDoublesSketch.newHeapInstance(k)
  override def merge(a: KllDoublesSketch, b: KllDoublesSketch): KllDoublesSketch = {
    a.merge(b); a
  }
  override def eval(s: KllDoublesSketch): Any = KllFunctions.toBytes(s)
  override def serialize(s: KllDoublesSketch): Array[Byte] = KllFunctions.toBytes(s)
  override def deserialize(bytes: Array[Byte]): KllDoublesSketch = {
    // heapify returns a read-only view for some layouts; merging into
    // a fresh writable instance keeps the buffer updatable either way
    val fresh = KllDoublesSketch.newHeapInstance(k)
    fresh.merge(KllFunctions.fromBytes(bytes))
    fresh
  }
}

/** `graft_kll_agg(x[, k])` — KLL sketch of a numeric column. */
case class KllSketchAgg(
    child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends KllAggBase {

  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "graft_kll_agg"

  override def checkInputDataTypes(): TypeCheckResult = {
    val kOk = checkK()
    if (kOk != TypeCheckResult.TypeCheckSuccess) kOk
    else if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_kll_agg requires DOUBLE, got ${child.dataType.sql} — cast first")
  }

  override def update(s: KllDoublesSketch, input: InternalRow): KllDoublesSketch = {
    val v = child.eval(input)
    if (v != null) s.update(v.asInstanceOf[Double])
    s
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KllSketchAgg =
    copy(child = newChildren.head)
}

/** `graft_kll_merge(sketch[, k])` — union of serialized KLL sketches. */
case class KllMergeAgg(
    child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends KllAggBase {

  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "graft_kll_merge"

  override def checkInputDataTypes(): TypeCheckResult = {
    val kOk = checkK()
    if (kOk != TypeCheckResult.TypeCheckSuccess) kOk
    else if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_kll_merge requires BINARY (a serialized sketch), got ${child.dataType.sql}")
  }

  override def update(s: KllDoublesSketch, input: InternalRow): KllDoublesSketch = {
    val v = child.eval(input)
    if (v != null) s.merge(KllFunctions.fromBytes(v.asInstanceOf[Array[Byte]]))
    s
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KllMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KllMergeAgg =
    copy(child = newChildren.head)
}
