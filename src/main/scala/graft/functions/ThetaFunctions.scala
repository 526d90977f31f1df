package graft.functions

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{SetOperation, Sketch, Union}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** Mergeable SET-OPERATION sketches (Theta — the KMV/theta family of
  * Dasgupta, Lang, Rhodes & Thaler, "Theta-Sketch Framework" 2016; the
  * Apache DataSketches implementation already on Spark's classpath).
  * Completes the mergeable-summary family with the one shape the other
  * three can't express: HLL unions distincts but CANNOT intersect or
  * difference, so "how many of corpus B's documents already sit in
  * corpus A" — decontamination audits, dedup-coverage checks,
  * cross-lake overlap before a merge — needs either a full distinct
  * JOIN of both corpora (two 100 TB shuffles) or a theta sketch: one
  * O(k)-state scan per corpus, then set algebra on two kilobyte-sized
  * summaries at the driver. A theta sketch keeps the k smallest value
  * hashes; below the cap it is EXACT (the estimate is the retained
  * count — the full-pool ≡ brute-force gate this repo uses for every
  * approximate operator), above it the k-th smallest hash estimates
  * the density with relative error ~1/sqrt(k) (~1.6% at k=4096), and
  * union/intersection/difference all stay closed over the summaries.
  *
  * Four pieces, mirroring the HLL/KLL/FreqItems families here:
  *  - [[ThetaSketchAgg]]: string column → serialized sketch (binary);
  *  - [[ThetaUnionAgg]]:  binary sketch column → merged sketch;
  *  - [[ThetaFunctions.Intersect]] / [[ThetaFunctions.ANotB]]: (sketch,
  *    sketch) → serialized intersection / difference sketch;
  *  - [[ThetaFunctions.Estimate]]: sketch → estimated distinct count.
  *
  * Like HLL (and unlike KLL), the retained-hash set is a pure function
  * of the input VALUE set — no coin flips — so incremental per-batch
  * sketches union to byte-decidable results: estimate(union of batch
  * sketches) == estimate(one-shot sketch) exactly, whatever the split.
  *
  * Reference behavior target: the reference has no overlap operator at
  * all — a user diffs corpora by exporting both and joining
  * (duckdb_engine.py:286-370 `_step_to_sql` offers only per-table
  * steps), which is the shape that dies first at 100 TB.
  */
object ThetaFunctions {

  /** Nominal entries (the k dial): DataSketches requires a power of 2
    * in [16, 2^26]. 4096 ≈ 1.6% relative error at ~32 KB max. */
  val DefaultNominal = 4096
  val MinNominal = 16
  val MaxNominal = 1 << 26

  import org.apache.spark.sql.graftbridge.ColumnBridge.{column => ncol, expression => ex}

  def thetaAgg(c: Column, nominal: Int = DefaultNominal): Column =
    ncol(ThetaSketchAgg(ex(c), nominal).toAggregateExpression())
  def thetaUnion(c: Column, nominal: Int = DefaultNominal): Column =
    ncol(ThetaUnionAgg(ex(c), nominal).toAggregateExpression())
  def thetaIntersect(a: Column, b: Column): Column = Intersect.col(a, b)
  /** Scalar pairwise union — the (sketch, sketch) → sketch twin of the
    * [[ThetaUnionAgg]] aggregate, for plans that already hold both
    * sketches in one row. */
  def thetaUnionScalar(a: Column, b: Column): Column = UnionPair.col(a, b)
  def thetaAnotB(a: Column, b: Column): Column = ANotB.col(a, b)
  def thetaEstimate(sketch: Column): Column = Estimate.col(sketch)

  private def setOp(name: String, method: String): NativeKernel = NativeKernel(name,
    "graft.functions.ThetaFunctions", method, Seq(Seq(BinaryType), Seq(BinaryType)), BinaryType)
  /** `graft_theta_intersect(a, b)` — serialized intersection sketch. */
  val Intersect: NativeKernel = setOp("graft_theta_intersect", "intersect")
  /** `graft_theta_union_pair(a, b)` — serialized union sketch of two
    * sketches held in one row. */
  val UnionPair: NativeKernel = setOp("graft_theta_union_pair", "unionPair")
  /** `graft_theta_anotb(a, b)` — serialized difference sketch (values
    * of A not in B). */
  val ANotB: NativeKernel = setOp("graft_theta_anotb", "aNotB")
  /** `graft_theta_estimate(sketch)` — the estimated distinct count;
    * EXACT (the retained count) while the sketch never exceeded its
    * nominal cap. A null sketch is the empty one: 0.0. */
  val Estimate: NativeKernel = NativeKernel("graft_theta_estimate",
    "graft.functions.ThetaFunctions", "estimate", Seq(Seq(BinaryType)), DoubleType,
    propagateNull = false)

  private[graft] def newUnion(nominal: Int): Union =
    SetOperation.builder().setNominalEntries(nominal).buildUnion()
  private[graft] def toBytes(u: Union): Array[Byte] =
    u.getResult().toByteArray
  private[graft] def wrap(b: Array[Byte]): Sketch =
    Sketch.wrap(Memory.wrap(b))

  private[graft] def checkNominal(n: Int, name: String): TypeCheckResult =
    if (n >= MinNominal && n <= MaxNominal && Integer.bitCount(n) == 1)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name: nominalEntries must be a power of 2 in " +
        s"[$MinNominal, $MaxNominal], got $n")

  // ---- JVM kernels shared by codegen and interpreted paths ----------

  def intersect(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val op = SetOperation.builder().buildIntersection()
    op.intersect(wrap(a)); op.intersect(wrap(b))
    op.getResult().toByteArray
  }

  def unionPair(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    // the union must not CAP below the inputs (a default-nominal union
    // of two exact 500k-entry sketches would downsample to 4096 and
    // break the below-cap-is-exact contract), and it never needs more
    // entries than the inputs retain combined — size it to the next
    // power of 2 covering both, clamped to the library's legal range
    val sa = wrap(a); val sb = wrap(b)
    val need = sa.getRetainedEntries(true).toLong + sb.getRetainedEntries(true)
    val nominal = math.min(MaxNominal.toLong,
      math.max(MinNominal.toLong, java.lang.Long.highestOneBit(
        math.max(1L, 2 * need - 1)))).toInt
    val u = SetOperation.builder().setNominalEntries(nominal).buildUnion()
    u.union(sa); u.union(sb)
    u.getResult().toByteArray
  }

  def aNotB(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val op = SetOperation.builder().buildANotB()
    op.setA(wrap(a)); op.notB(wrap(b))
    op.getResult(true).toByteArray
  }

  def estimate(sketch: Array[Byte]): Double =
    if (sketch == null) 0.0 else wrap(sketch).getEstimate
}

/** Shared plumbing of the two theta aggregates. The buffer is a theta
  * Union (which accepts both raw values and whole sketches), so the
  * same base serves build-from-values and merge-of-sketches; the
  * serialized form is always the COMPACT result sketch.
  */
abstract class ThetaAggBase extends TypedImperativeAggregate[Union] {
  def nominal: Int
  // nominal validated in checkInputDataTypes, NOT the constructor —
  // executor-side Java deserialization instantiates through a
  // serialization constructor that sees nominal=0 before field restore
  // (the KllAggBase failure mode)
  protected def checkNom(): TypeCheckResult =
    ThetaFunctions.checkNominal(nominal, prettyName)

  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): Union = ThetaFunctions.newUnion(nominal)
  override def merge(a: Union, b: Union): Union = {
    a.union(b.getResult()); a
  }
  override def eval(u: Union): Any = ThetaFunctions.toBytes(u)
  override def serialize(u: Union): Array[Byte] = ThetaFunctions.toBytes(u)
  override def deserialize(bytes: Array[Byte]): Union = {
    val fresh = ThetaFunctions.newUnion(nominal)
    fresh.union(ThetaFunctions.wrap(bytes))
    fresh
  }
}

/** `graft_theta_agg(x[, nominal])` — theta sketch of a string column
  * (cast first; the hash identity is the UTF-8 byte string).
  */
case class ThetaSketchAgg(
    child: Expression, nominal: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends ThetaAggBase {

  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "graft_theta_agg"

  override def checkInputDataTypes(): TypeCheckResult = {
    val nOk = checkNom()
    if (nOk != TypeCheckResult.TypeCheckSuccess) nOk
    else if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_theta_agg requires STRING, got ${child.dataType.sql} — cast first")
  }

  override def update(u: Union, input: InternalRow): Union = {
    val v = child.eval(input)
    if (v != null) u.update(v.toString)
    u
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ThetaSketchAgg =
    copy(child = newChildren.head)
}

/** `graft_theta_union(sketch[, nominal])` — union of serialized theta
  * sketches (the incremental/rollup path: per-batch or per-partition
  * sketches union losslessly).
  */
case class ThetaUnionAgg(
    child: Expression, nominal: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends ThetaAggBase {

  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "graft_theta_union"

  override def checkInputDataTypes(): TypeCheckResult = {
    val nOk = checkNom()
    if (nOk != TypeCheckResult.TypeCheckSuccess) nOk
    else if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_theta_union requires BINARY (a serialized sketch), got ${child.dataType.sql}")
  }

  override def update(u: Union, input: InternalRow): Union = {
    val v = child.eval(input)
    if (v != null) u.union(ThetaFunctions.wrap(v.asInstanceOf[Array[Byte]]))
    u
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ThetaUnionAgg =
    copy(child = newChildren.head)
}
