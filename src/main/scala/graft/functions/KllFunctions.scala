package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{kll_sketch_get_n_double, kll_sketch_get_quantile_double, lit, when}

/** Mergeable quantile sketches (KLL — Karnin, Lang & Liberty, FOCS
  * 2016). EXACT quantiles are not algebraic — per-batch partials
  * cannot merge, which is why [[graft.operators.IncrementalAgg]]
  * could ship count/sum/min/max/avg and HLL distinct but not
  * percentiles. KLL closes that: sketch-of-batch partials union into
  * the sketch of the union within a guaranteed rank error (~1.65% at
  * the default k=200, w.h.p.), so incremental p50/p95/p99 latency
  * metrics over an append-only lake become one O(new batch) fold per
  * day — the same contract as every other IncrementalAgg metric.
  *
  * The sketches are Spark's built-ins `kll_sketch_agg_double(x, k)` and
  * `kll_merge_agg_double(sketch, k)` (default k=200; a k outside
  * [8, 65535] fails analysis), read by [[KllFunctions.kllQuantile]].
  * They store the DataSketches `KllDoublesSketch` form, so sketches
  * from any DataSketches KLL writer stay readable.
  *
  * Unlike HLL's register max-lattice, KLL compaction flips random
  * coins — two different batch splits can produce byte-different
  * sketches whose estimates agree only within the rank-error bound,
  * so specs assert RANK tolerance, never byte equality, and the
  * metric is documented approximate. Below k values a sketch keeps
  * every value, so its quantiles are exact.
  */
object KllFunctions {

  /** The estimated q-quantile (INCLUSIVE rule, DataSketches' default)
    * of a serialized sketch; null for a null or an empty sketch (no
    * updates ever — the "no non-null rows in any batch" group).
    *
    * Two things the bare `kll_sketch_get_quantile_double` lacks:
    *  - it raises `KLL_INVALID_INPUT_SKETCH_BUFFER` on an empty
    *    sketch, so the `kll_sketch_get_n_double` guard turns that case
    *    into null;
    *  - q is checked here, on the driver, so a bad q fails before any
    *    job instead of inside a task.
    */
  def kllQuantile(sketch: Column, q: Double): Column = {
    require(q >= 0.0 && q <= 1.0, s"kllQuantile: q=$q outside [0, 1]")
    when(kll_sketch_get_n_double(sketch) > 0, kll_sketch_get_quantile_double(sketch, lit(q)))
  }
}
