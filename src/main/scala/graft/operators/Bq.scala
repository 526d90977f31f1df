package graft.operators

import org.apache.spark.sql.DataFrame

/** Binary-quantization ANN (1 bit per dimension — sign-bit codes,
  * the SRP-LSH construction of Charikar STOC'02 used as a SCAN code
  * rather than a bucket key; "binary quantization" in today's vector
  * stores): bit i = [v_i > threshold_i], thresholds fit as per-dim
  * sample means so each bit splits the corpus ~evenly. A 64-float
  * vector becomes 8 bytes — 32× compression, the extreme end of the
  * family ([[Sq]] 4×, [[Pq]] ~32× with table metrics) — and the scan
  * metric is the cheapest possible: Hamming via XOR + popcount.
  *
  * The family relationship, precisely: the [[AnnIndex.Lsh]] coarse
  * stage uses sign bits of RANDOM projections as a bucket KEY (prune
  * which rows are read); Bq uses sign bits of the RAW dims as a scan CODE (read
  * every row, 1 bit each, rank by Hamming, exact-rerank a bounded
  * pool). Bq trades LSH's row pruning for rank-awareness: every row
  * gets a comparable score, so recall degrades smoothly with pool
  * size instead of cliff-dropping when a neighbor lands one bucket
  * over.
  *
  * Same contracts as the rest of the family: with `pool` ≥ corpus the
  * exact rerank sees every row and the result EQUALS brute force (the
  * oracle configuration); `metric="cosine"` normalizes before
  * thresholding (scale-invariant codes), rerank is always exact
  * cosine on the original vectors.
  */
object Bq {

  /** Per-dim bit thresholds (sample means — balanced bits). */
  final case class BqModel(thresholds: Array[Double], normalize: Boolean) {
    def dim: Int = thresholds.length
    def codeBytes: Int = (dim + 7) / 8
  }

  /** Fit per-dim thresholds on the deterministic md5-ordered driver
    * sample (the [[Pq.fit]] sample contract). Mean, not median: the
    * bit boundary lands where it balances mass for roughly symmetric
    * coordinates, and stays O(sample) to compute.
    */
  def fit(df: DataFrame, idCol: String, vecCol: String,
      metric: String = "cosine"): BqModel = {
    require(metric == "cosine" || metric == "l2", s"bq: unknown metric '$metric'")
    val normalize = metric == "cosine"
    val sample = Pq.prepSample(df, idCol, vecCol, normalize, nsub = 1)
    val dim = sample.head.length
    val sums = new Array[Double](dim)
    sample.foreach { v =>
      var i = 0
      while (i < dim) { sums(i) += v(i); i += 1 }
    }
    BqModel(sums.map(_ / sample.length), normalize)
  }
}
