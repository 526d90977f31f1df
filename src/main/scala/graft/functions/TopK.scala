package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `graft_top_k_min(col, k)` — the k SMALLEST values per group, as a
  * sorted array. A bounded-heap `TypedImperativeAggregate`: each
  * group's state is a k-capped max-heap, combined map-side BEFORE the
  * shuffle.
  *
  * This is the scale-correct primitive for per-key quota sampling
  * ("keep the first N docs per domain/language"): the textbook
  * `row_number() OVER (PARTITION BY key ORDER BY id) <= N` sorts every
  * key's ENTIRE partition — with few hot keys (a language column has
  * 5 values) that is a full-corpus sort concentrated on 5 tasks. The
  * heap aggregate shuffles at most k longs per (mapper, key): the
  * full sort never happens and skew is bounded by construction.
  *
  * Long-typed (ids); k is a literal bounded by [[TopKMin.MaxK]] so a
  * typo'd k can't balloon executor memory.
  */
case class TopKMin(
    child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.PriorityQueue[java.lang.Long]] {

  require(k >= 1 && k <= TopKMin.MaxK,
    s"graft_top_k_min: k must be in [1, ${TopKMin.MaxK}], got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_top_k_min"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_top_k_min requires BIGINT, got ${child.dataType.sql}")

  // max-heap of the current k smallest: the head is the LARGEST kept
  // value, evicted when something smaller arrives
  override def createAggregationBuffer(): java.util.PriorityQueue[java.lang.Long] =
    new java.util.PriorityQueue[java.lang.Long](k + 1,
      java.util.Collections.reverseOrder[java.lang.Long]())

  private def offer(
      heap: java.util.PriorityQueue[java.lang.Long], v: Long): Unit =
    if (heap.size < k) heap.add(v)
    else if (heap.peek() > v) { heap.poll(); heap.add(v) }

  override def update(
      heap: java.util.PriorityQueue[java.lang.Long],
      input: org.apache.spark.sql.catalyst.InternalRow)
      : java.util.PriorityQueue[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) offer(heap, v.asInstanceOf[Long])
    heap
  }

  override def merge(
      a: java.util.PriorityQueue[java.lang.Long],
      b: java.util.PriorityQueue[java.lang.Long])
      : java.util.PriorityQueue[java.lang.Long] = {
    b.forEach(v => offer(a, v))
    a
  }

  override def eval(heap: java.util.PriorityQueue[java.lang.Long]): Any = {
    val arr = new Array[Long](heap.size)
    var i = 0
    val it = heap.iterator()
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    java.util.Arrays.sort(arr)
    new GenericArrayData(arr)
  }

  override def serialize(heap: java.util.PriorityQueue[java.lang.Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(8 * (heap.size + 1))
    val out = new DataOutputStream(bos)
    out.writeInt(heap.size)
    heap.forEach(v => out.writeLong(v))
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[java.lang.Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val heap = createAggregationBuffer()
    var i = 0
    while (i < n) { heap.add(in.readLong()); i += 1 }
    heap
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKMin =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKMin =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKMin =
    copy(child = newChildren.head)
}

object TopKMin {
  /** Hard cap on per-group state. The LIVE heap costs ~40-50 bytes per
    * entry (boxed Long + PriorityQueue slot + object header), so
    * MaxK=100k is ~5 MB per group on the mapper — and ObjectHash-
    * Aggregate holds one buffer per concurrent group, so the real
    * bound is k × #groups-per-mapper, not k alone. The serialized
    * shuffle form is the compact one (8 bytes/entry).
    */
  val MaxK: Int = 100000

  /** Column API (aggregate): `df.groupBy(...).agg(topKMin($"id", 50))`. */
  def topKMin(c: Column, k: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      TopKMin(org.apache.spark.sql.graftbridge.ColumnBridge.expression(c), k)
        .toAggregateExpression())
}

/** `graft_top_k_pairs(score, id, k)` — the k best `(score, id)` pairs
  * per group as a best-first-sorted `array<struct<score double,
  * id bigint>>`. "Best" = smallest score by default,
  * largest with `bestIsLargest` (Scala API); NaN ranks worst, ids
  * tie-break ascending.
  *
  * The pair-valued sibling of [[TopKMin]] and the scale-correct
  * primitive for a k-NN JOIN: `row_number() OVER (PARTITION BY query
  * ORDER BY score)` sorts every query's ENTIRE scored corpus — nQ
  * full-corpus sorts concentrated on nQ tasks — while the bounded
  * heap ships at most k pairs per (mapper, query) into the shuffle.
  */
case class TopKPairs(
    score: Expression, id: Expression, k: Int,
    bestIsLargest: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.PriorityQueue[TopKPairs.Pair]] {

  require(k >= 1 && k <= TopKMin.MaxK,
    s"graft_top_k_pairs: k must be in [1, ${TopKMin.MaxK}], got $k")

  // best-first pair ordering; with `bestIsLargest` the score is
  // carried UNNEGATED (negating a rounded 0.0 makes a -0.0 that is
  // byte-visible downstream), NaN always ranks worst, ids tie-break
  // ascending either way
  private val ordering: java.util.Comparator[TopKPairs.Pair] =
    TopKPairs.ordering(bestIsLargest)

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("id", LongType, nullable = false))),
      containsNull = false)
  override def prettyName: String = "graft_top_k_pairs"

  override def checkInputDataTypes(): TypeCheckResult =
    if (score.dataType == org.apache.spark.sql.types.DoubleType &&
        id.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_top_k_pairs requires (DOUBLE, BIGINT), got " +
        s"(${score.dataType.sql}, ${id.dataType.sql})")

  // worst-first heap of the current k best pairs: head = worst kept
  override def createAggregationBuffer(): java.util.PriorityQueue[TopKPairs.Pair] =
    new java.util.PriorityQueue[TopKPairs.Pair](k + 1, ordering.reversed())

  private def offer(
      heap: java.util.PriorityQueue[TopKPairs.Pair], p: TopKPairs.Pair): Unit =
    if (heap.size < k) heap.add(p)
    else if (ordering.compare(heap.peek(), p) > 0) {
      heap.poll(); heap.add(p)
    }

  override def update(
      heap: java.util.PriorityQueue[TopKPairs.Pair],
      input: org.apache.spark.sql.catalyst.InternalRow)
      : java.util.PriorityQueue[TopKPairs.Pair] = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      offer(heap, TopKPairs.Pair(s.asInstanceOf[Double], i.asInstanceOf[Long]))
    heap
  }

  override def merge(
      a: java.util.PriorityQueue[TopKPairs.Pair],
      b: java.util.PriorityQueue[TopKPairs.Pair])
      : java.util.PriorityQueue[TopKPairs.Pair] = {
    b.forEach(p => offer(a, p))
    a
  }

  override def eval(heap: java.util.PriorityQueue[TopKPairs.Pair]): Any = {
    val arr = new Array[TopKPairs.Pair](heap.size)
    heap.toArray(arr)
    java.util.Arrays.sort(arr, ordering)
    new GenericArrayData(arr.map(p =>
      org.apache.spark.sql.catalyst.InternalRow(p.score, p.id): Any))
  }

  override def serialize(heap: java.util.PriorityQueue[TopKPairs.Pair]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(16 * (heap.size + 1))
    val out = new DataOutputStream(bos)
    out.writeInt(heap.size)
    heap.forEach { p => out.writeDouble(p.score); out.writeLong(p.id) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[TopKPairs.Pair] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val heap = createAggregationBuffer()
    var i = 0
    while (i < n) {
      heap.add(TopKPairs.Pair(in.readDouble(), in.readLong())); i += 1
    }
    heap
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKPairs =
    copy(score = newChildren(0), id = newChildren(1))
}

object TopKPairs {
  final case class Pair(score: Double, id: Long)

  /** Best-first comparator: ascending (smallest best) or descending
    * (largest best) on score, NaN ALWAYS worst, id ascending tiebreak.
    */
  def ordering(bestIsLargest: Boolean): java.util.Comparator[Pair] =
    // Serializable: the comparator rides the expression into tasks
    new java.util.Comparator[Pair] with Serializable {
      private def norm(x: Double): Double =
        if (java.lang.Double.isNaN(x)) Double.NegativeInfinity else x
      override def compare(a: Pair, b: Pair): Int = {
        val c =
          if (bestIsLargest) java.lang.Double.compare(norm(b.score), norm(a.score))
          else java.lang.Double.compare(a.score, b.score)
        if (c != 0) c else java.lang.Long.compare(a.id, b.id)
      }
    }

  /** Column API: `df.groupBy("q").agg(topKPairs($"score", $"id", 10))`. */
  def topKPairs(score: Column, id: Column, k: Int,
      bestIsLargest: Boolean = false): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      TopKPairs(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(score),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(id), k,
        bestIsLargest)
        .toAggregateExpression())
}
