package graft.functions

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable HEAVY-HITTERS sketches (Misra–Gries-family frequent
  * items; Anderson et al. / the Apache DataSketches `ItemsSketch`).
  * Completes the mergeable-summary trio the incremental-agg family
  * ships — HLL for distincts, KLL for quantiles, and this for "top
  * domains / languages / tokens across the whole lake": exact top-k
  * needs a full groupBy of unbounded cardinality (per-URL counts at
  * 100 TB), while the sketch holds a BOUNDED map (`maxMapSize`
  * entries) per group and unions across batches with deterministic
  * error bounds — any item with true count > N/maxMapSize is
  * guaranteed present, and reported (estimate, upper, lower) bounds
  * bracket the truth.
  *
  *  - [[FreqItemsAgg]]: string column → serialized sketch (binary);
  *  - [[FreqMergeAgg]]: binary sketch column → merged sketch;
  *  - [[FreqFunctions.TopItems]]: sketch → array<struct<item, estimate,
  *    lower, upper>> of NO_FALSE_POSITIVES frequent items, ordered by
  *    estimate desc then item asc (a total order — the array is
  *    deterministic FOR A GIVEN sketch; sketch contents themselves
  *    depend on merge order within the documented bounds).
  */
object FreqFunctions {

  private val serde = new ArrayOfStringsSerDe()

  /** maxMapSize must be a power of 2 in DataSketches; 256 tracks
    * anything above ~0.4% of the stream. */
  val DefaultMapSize = 256

  import org.apache.spark.sql.graftbridge.ColumnBridge.{column => ncol, expression => ex}

  def freqAgg(c: Column, maxMapSize: Int = DefaultMapSize): Column =
    ncol(FreqItemsAgg(ex(c), maxMapSize).toAggregateExpression())
  def freqMerge(c: Column, maxMapSize: Int = DefaultMapSize): Column =
    ncol(FreqMergeAgg(ex(c), maxMapSize).toAggregateExpression())
  def freqTopItems(sketch: Column, limit: Int = Int.MaxValue): Column = {
    require(limit >= 1, s"graft_freq_top: limit=$limit must be ≥ 1")
    TopItems.colWith(limit)(sketch)
  }

  private[graft] def toBytes(s: ItemsSketch[String]): Array[Byte] =
    s.toByteArray(serde)
  private[graft] def fromBytes(b: Array[Byte]): ItemsSketch[String] =
    ItemsSketch.getInstance(Memory.wrap(b), serde)

  private[graft] def checkMapSize(m: Int, name: String): TypeCheckResult =
    if (m >= 8 && Integer.bitCount(m) == 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name: maxMapSize must be a power of 2 ≥ 8, got $m")

  val entryType: StructType = StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("estimate", LongType, nullable = false),
    StructField("lower", LongType, nullable = false),
    StructField("upper", LongType, nullable = false)))

  /** `graft_freq_top(sketch[, limit])` — the sketch's frequent items
    * under the NO_FALSE_POSITIVES rule, as `array<struct<item string,
    * estimate long, lower long, upper long>>` ordered (estimate desc,
    * item asc), truncated to `limit`. A null sketch is the empty one. */
  val TopItems: NativeKernel = NativeKernel("graft_freq_top", "graft.functions.FreqFunctions",
    "topItems", Seq(Seq(BinaryType)), ArrayType(entryType, containsNull = false),
    propagateNull = false)

  def topItems(bytes: Array[Byte], limit: Int): ArrayData =
    if (bytes == null) new GenericArrayData(Array.empty[Any])
    else {
      val rows = fromBytes(bytes).getFrequentItems(ErrorType.NO_FALSE_POSITIVES)
      val ordered = rows.sortBy(r => (-r.getEstimate, r.getItem)).take(limit)
      new GenericArrayData(ordered.map { r =>
        org.apache.spark.sql.catalyst.InternalRow(
          UTF8String.fromString(r.getItem), r.getEstimate,
          r.getLowerBound, r.getUpperBound)
      })
    }
}

abstract class FreqAggBase
    extends TypedImperativeAggregate[ItemsSketch[String]] {
  def maxMapSize: Int

  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): ItemsSketch[String] =
    new ItemsSketch[String](maxMapSize)
  override def merge(a: ItemsSketch[String],
      b: ItemsSketch[String]): ItemsSketch[String] = { a.merge(b); a }
  override def eval(s: ItemsSketch[String]): Any = FreqFunctions.toBytes(s)
  override def serialize(s: ItemsSketch[String]): Array[Byte] =
    FreqFunctions.toBytes(s)
  override def deserialize(bytes: Array[Byte]): ItemsSketch[String] =
    FreqFunctions.fromBytes(bytes)
}

/** `graft_freq_agg(s[, maxMapSize])` — frequent-items sketch of a
  * string column. */
case class FreqItemsAgg(
    child: Expression, maxMapSize: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends FreqAggBase {

  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "graft_freq_agg"

  override def checkInputDataTypes(): TypeCheckResult = {
    val mOk = FreqFunctions.checkMapSize(maxMapSize, prettyName)
    if (mOk != TypeCheckResult.TypeCheckSuccess) mOk
    else if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_freq_agg requires STRING, got ${child.dataType.sql}")
  }

  override def update(s: ItemsSketch[String],
      input: InternalRow): ItemsSketch[String] = {
    val v = child.eval(input)
    if (v != null) s.update(v.asInstanceOf[UTF8String].toString)
    s
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqItemsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqItemsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FreqItemsAgg =
    copy(child = newChildren.head)
}

/** `graft_freq_merge(sketch[, maxMapSize])` — union of serialized
  * frequent-items sketches. */
case class FreqMergeAgg(
    child: Expression, maxMapSize: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends FreqAggBase {

  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "graft_freq_merge"

  override def checkInputDataTypes(): TypeCheckResult = {
    val mOk = FreqFunctions.checkMapSize(maxMapSize, prettyName)
    if (mOk != TypeCheckResult.TypeCheckSuccess) mOk
    else if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_freq_merge requires BINARY (a serialized sketch), got ${child.dataType.sql}")
  }

  override def update(s: ItemsSketch[String],
      input: InternalRow): ItemsSketch[String] = {
    val v = child.eval(input)
    if (v != null) s.merge(FreqFunctions.fromBytes(v.asInstanceOf[Array[Byte]]))
    s
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FreqMergeAgg =
    copy(child = newChildren.head)
}
