package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.ThetaFunctions._

/** Corpus overlap without a join: theta-sketch set algebra over two
  * datasets' key columns. Answers "how much of B is already in A" —
  * the question behind decontamination audits (train vs benchmark),
  * dedup-coverage checks (raw vs deduped), and cross-lake merges —
  * with ONE O(sketch)-state scan per corpus instead of the
  * distinct-join both corpora would otherwise shuffle in full.
  *
  * Reference behavior target: the reference offers no set-comparison
  * step at all (duckdb_engine.py:286-370 `_step_to_sql` is strictly
  * per-table); its users export both tables and join. At 100 TB each
  * side, that join moves 200 TB through a shuffle to produce seven
  * numbers. Here each side collapses map-side to a ≤~32 KB sketch
  * (ObjectHashAggregate partials — one partial sketch per partition
  * crosses the exchange), and the set algebra runs on two kilobyte
  * summaries in a scalar projection.
  *
  * Exactness contract: a theta sketch is EXACT below its nominal-entry
  * cap (it keeps every value hash until then), so with `nominal` >
  * distinct-count the seven outputs are exact integers and the
  * operator is oracle-checkable against SQL INTERSECT/UNION — the
  * same full-pool ≡ brute-force gate the ANN family uses. Above the
  * cap the counts are ±~1.6%-relative estimates at the default
  * nominal=4096 (error ~1/sqrt(nominal)) and `jaccard` inherits the
  * ratio of the rounded estimates.
  */
object Overlap {

  /** One row: `n_a, n_b, n_intersect, n_union, n_a_only, n_b_only`
    * (distinct-count estimates, rounded to BIGINT) and `jaccard`
    * (n_intersect / n_union as DOUBLE; 0.0 when the union is empty).
    * Null keys are ignored on both sides (a null is not a value).
    */
  def corpusOverlap(a: DataFrame, aKey: Column, b: DataFrame, bKey: Column,
      nominal: Int = DefaultNominal): DataFrame = {
    val sa = a.agg(thetaAgg(aKey, nominal).as("_sa"))
    val sb = b.agg(thetaAgg(bKey, nominal).as("_sb"))
    val (x, y) = (col("_sa"), col("_sb"))
    def n(sketch: Column): Column = thetaEstimate(sketch).cast("bigint")
    // two 1-row frames; the join is a broadcast nested loop of 1×1
    sa.crossJoin(sb)
      .select(
        n(x).as("n_a"), n(y).as("n_b"),
        n(theta_intersection(x, y)).as("n_intersect"), n(thetaUnionScalar(x, y)).as("n_union"),
        n(theta_difference(x, y)).as("n_a_only"), n(theta_difference(y, x)).as("n_b_only"))
      .withColumn("jaccard",
        when(col("n_union") > 0,
          col("n_intersect").cast("double") / col("n_union").cast("double"))
          .otherwise(lit(0.0)))
  }
}
