package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{coalesce, lit, theta_sketch_agg, theta_sketch_estimate,
  theta_union, theta_union_agg}

/** Mergeable SET-OPERATION sketches (Theta — the KMV/theta family of
  * Dasgupta, Lang, Rhodes & Thaler, "Theta-Sketch Framework" 2016).
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
  * The sketches are Spark's DataSketches built-ins; the builders below
  * add what graft's contract needs to the bare calls, and intersection
  * and difference are `theta_intersection` / `theta_difference` as is.
  *
  * Like HLL (and unlike KLL), the retained-hash set is a pure function
  * of the input VALUE set — no coin flips — so incremental per-batch
  * sketches union to byte-decidable results: estimate(union of batch
  * sketches) == estimate(one-shot sketch) exactly, whatever the split.
  * [[graft.operators.Overlap]] is the operator built on them.
  */
object ThetaFunctions {

  /** Nominal entries (the k dial): DataSketches requires a power of 2
    * in [16, 2^26]. 4096 ≈ 1.6% relative error at ~32 KB max. */
  val DefaultNominal = 4096
  val MinNominal = 16
  val MaxNominal: Int = 1 << 26

  /** Theta sketch of a key column. The key is cast to STRING, so every
    * key type hashes as its text: Spark hashes an INT column as a
    * number, and a sketch of `1` would then miss the string `"1"`. */
  def thetaAgg(c: Column, nominal: Int = DefaultNominal): Column =
    theta_sketch_agg(c.cast("string"), lgNominal(nominal))

  /** Union of a column of serialized sketches (the incremental/rollup
    * path: per-batch or per-partition sketches union losslessly). */
  def thetaUnion(c: Column, nominal: Int = DefaultNominal): Column =
    theta_union_agg(c, lgNominal(nominal))

  /** Pairwise union of two sketches held in one row, sized at the
    * library's largest nominal so it never caps a result below its
    * inputs: Spark's default lg 12 would downsample two exact
    * 3000-entry sketches to 5918. The union's table grows with its
    * content, so an empty union allocates about 2.6 KB. */
  def thetaUnionScalar(a: Column, b: Column): Column = theta_union(a, b, lgNominal(MaxNominal))

  /** The estimated distinct count as DOUBLE; EXACT (the retained
    * count) while the sketch never exceeded its nominal cap. Spark
    * rounds the estimate to a BIGINT and gives null for a null sketch;
    * a null sketch is the empty one here: 0.0. */
  def thetaEstimate(sketch: Column): Column =
    coalesce(theta_sketch_estimate(sketch), lit(0L)).cast("double")

  /** log2 of a legal nominal, checked on the driver: Spark checks
    * `lgNomEntries` only inside a task, so lg 27 would fail a job. */
  private def lgNominal(n: Int): Int = {
    require(n >= MinNominal && n <= MaxNominal && Integer.bitCount(n) == 1,
      s"theta: nominalEntries must be a power of 2 in [$MinNominal, $MaxNominal], got $n")
    Integer.numberOfTrailingZeros(n)
  }
}
