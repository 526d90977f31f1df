package graft.operators

import org.apache.spark.sql.DataFrame

/** Scalar-quantization ANN (faiss's SQ8 shape): each dimension of a
  * vector quantizes independently to one byte on a uniform per-dim
  * grid — a `dim`-float vector becomes a `dim`-byte code. 4×
  * compression against PQ's ~32×, but near-lossless: quantization
  * error is bounded at half a grid step per dimension, so SQ8 pools
  * barely mis-rank and tiny pools already reach the recall PQ needs
  * large pools for. The recall-per-byte dial across the family:
  * SQ8 (dim bytes, highest fidelity) → OPQ/PQ (nsub bytes) → IVF×PQ
  * (nsub bytes + partition pruning).
  *
  * There is deliberately no new scan kernel: encoding to the nearest
  * point of a uniform grid IS product quantization with nsub=dim,
  * subdim=1, k=256 and evenly spaced centroids, so [[AnnIndex]]'s
  * `Sq8` codec scores through the PQ ADC kernels with a `dim`×256
  * table from [[adcTable]]. With `pool` ≥ corpus the rerank sees every
  * row and the result EQUALS brute force — the oracle-checked
  * configuration; pruned-pool fidelity is spec'd.
  *
  * `metric="cosine"` (default) normalizes vectors before encoding
  * (grid bounds fit on the unit sphere, ADC's L2² is monotone in
  * cosine there); `metric="l2"` encodes raw vectors. Rerank is always
  * exact cosine on the ORIGINAL vectors, so pool selection is the
  * only approximation — identical contract to [[Pq]].
  *
  * Reference capability anchor: the reference's engine has no ANN at
  * all — this extends the §2.7 scale family the same way
  * [[Similarity]]/[[Pq]] do, from public methods (uniform scalar
  * quantization is folklore; the SQ8+rerank pipeline shape is e.g.
  * faiss's IndexScalarQuantizer, documented publicly).
  */
object Sq {

  /** Per-dimension grid: `code b` dequantizes to `mins(i) + scales(i)·b`.
    * `scales(i) = 0` marks a constant dimension (encodes to 0, exact).
    */
  final case class SqModel(mins: Array[Double], scales: Array[Double],
      normalize: Boolean) {
    require(mins.length == scales.length, "sq: mins/scales length mismatch")
    def dim: Int = mins.length
  }

  /** Fit per-dimension grid bounds on a deterministic md5-ordered
    * sample (driver-local, model-sized — the same sample contract as
    * [[Pq.fit]]). Corpus values outside the sampled range clamp to the
    * grid edge at encode time; the exact rerank erases any ranking
    * damage for candidates that make the pool.
    */
  def fit(df: DataFrame, idCol: String, vecCol: String,
      metric: String = "cosine"): SqModel = {
    require(metric == "cosine" || metric == "l2", s"sq: unknown metric '$metric'")
    val normalize = metric == "cosine"
    val sample = Pq.prepSample(df, idCol, vecCol, normalize, nsub = 1)
    val dim = sample.head.length
    val mins = Array.fill(dim)(Double.MaxValue)
    val maxs = Array.fill(dim)(Double.MinValue)
    sample.foreach { v =>
      var i = 0
      while (i < dim) {
        if (v(i) < mins(i)) mins(i) = v(i)
        if (v(i) > maxs(i)) maxs(i) = v(i)
        i += 1
      }
    }
    SqModel(mins, Array.tabulate(dim)(i => (maxs(i) - mins(i)) / 255.0),
      normalize)
  }

  /** Flattened `dim`×256 lookup table: table[i·256+b] =
    * (q_i − dequant_i(b))² — the uniform-grid instance of
    * [[Pq.adcTable]], built driver-side per query (64 KB doubles at
    * dim=32; the scan broadcasts it as a codegen reference object).
    */
  private[operators] def adcTable(query: Array[Float], model: SqModel): Array[Double] = {
    require(query.length == model.dim,
      s"sq: query has ${query.length} elements, model expects ${model.dim}")
    var q = query.map(_.toDouble)
    if (model.normalize) {
      val n = math.sqrt(q.map(x => x * x).sum)
      if (n > 0) q = q.map(_ / n)
    }
    val table = new Array[Double](model.dim * 256)
    var i = 0
    while (i < model.dim) {
      var b = 0
      while (b < 256) {
        val d = q(i) - (model.mins(i) + model.scales(i) * b)
        table(i * 256 + b) = d * d
        b += 1
      }
      i += 1
    }
    table
  }
}
