package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product-quantization ANN (Jégou 2011): compress each `dim`-float
  * vector to an `nsub`-BYTE code, scan the codes with table-lookup
  * distances (ADC), exact-rerank only a bounded candidate pool.
  *
  * This is the memory/IO leg of the ANN family ([[Similarity]] holds
  * the partition-pruning legs): at 100 TB of embeddings the limiting
  * cost is READING vectors, and a 64-float vector is 256 bytes against
  * an 8-byte code — the candidate scan touches ~3% of the bytes, from
  * a parquet table holding only (id, code). The probes compose: an IVF
  * or LSH bucket bounds WHICH rows are scanned, PQ bounds the bytes
  * per row.
  *
  * This object holds the model: [[fit]] (sample k-means per subspace,
  * driver-local — the same sample-fit shape as SemDeDup's centroids),
  * [[fitOpq]] and the per-query ADC table. [[AnnIndex]] with its `Pq`
  * codec encodes, persists, appends and searches (ADC scan of the code
  * table → pool of candidate ids → exact cosine rerank of the pool
  * only).
  *
  * `metric="cosine"` (default) normalizes vectors before encoding, so
  * ADC's L2² on codes is monotone in cosine (‖a−b‖² = 2−2·cos on the
  * unit sphere) and a vector and its scaled copy share a code; rerank
  * is always exact cosine on the ORIGINAL vectors, so pool selection
  * is the only approximation. `metric="l2"` encodes raw vectors.
  */
object Pq {

  /** `codebooks(s)(c)` = centroid `c` of subspace `s` (length dim/nsub).
    * `rotation` (OPQ, Ge et al. 2013 "Optimized Product Quantization"):
    * an orthogonal d×d basis change applied before subspace splitting —
    * codebooks live in the rotated space, queries rotate in
    * [[adcTable]], and the exact rerank needs nothing (orthogonal maps
    * preserve cosine and L2). Same code bytes, lower quantization
    * error when the data's variance straddles subspace boundaries.
    */
  final case class PqModel(nsub: Int, k: Int, subdim: Int,
      normalize: Boolean, codebooks: Array[Array[Array[Double]]],
      rotation: Option[Array[Array[Double]]] = None) {
    def dim: Int = nsub * subdim
  }

  /** Fit per-subspace codebooks on a deterministic md5-ordered sample
    * (driver-local Lloyd, model-sized — never a corpus-sized collect).
    */
  def fit(df: DataFrame, idCol: String, vecCol: String,
      nsub: Int = 8, k: Int = 16, maxIter: Int = 10,
      metric: String = "cosine"): PqModel = {
    require(k >= 1 && k <= 256, s"pq: k=$k — codes are one byte, need 1..256")
    require(nsub >= 1, s"pq: nsub=$nsub")
    require(metric == "cosine" || metric == "l2", s"pq: unknown metric '$metric'")
    val normalize = metric == "cosine"
    val prepared = prepSample(df, idCol, vecCol, normalize, nsub)
    val subdim = prepared.head.length / nsub
    PqModel(nsub, k, subdim, normalize,
      fitCodebooks(prepared, nsub, k, maxIter))
  }

  /** Deterministic md5-ordered sample, normalized for the cosine
    * metric, dim-checked against `nsub`. Shared with [[Sq.fit]]
    * (nsub=1 there — any dim divides). */
  private[operators] def prepSample(df: DataFrame, idCol: String, vecCol: String,
      normalize: Boolean, nsub: Int): Array[Array[Double]] = {
    val sample = df
      .select(col(vecCol).cast("array<double>").as("_v"),
        md5(col(idCol).cast("string")).as("_h"))
      .filter(col("_v").isNotNull)
      .orderBy("_h").limit(Similarity.CentroidSampleSize)
      .collect()
      .map(_.getAs[scala.collection.Seq[Double]]("_v").toArray)
    require(sample.nonEmpty, "pq: no non-null vectors to fit on")
    val dim = sample.head.length
    require(dim % nsub == 0,
      s"pq: dim $dim not divisible by nsub=$nsub")
    if (!normalize) sample
    else sample.map { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n > 0) v.map(_ / n) else v
    }
  }

  private def fitCodebooks(prepared: Array[Array[Double]], nsub: Int,
      k: Int, maxIter: Int): Array[Array[Array[Double]]] = {
    val subdim = prepared.head.length / nsub
    Array.tabulate(nsub) { s =>
      val sub = prepared.map(v =>
        java.util.Arrays.copyOfRange(v, s * subdim, (s + 1) * subdim))
      Similarity.localLloyd(sub, math.min(k, sub.length), maxIter)
    }
  }

  /** OPQ sample bound: the Procrustes step is O(sample × dim²) per
    * iteration driver-side, so the rotation fits on a deterministic
    * prefix of the (already md5-shuffled) codebook sample.
    */
  val OpqSampleSize = 20000

  /** OPQ fit (Ge et al. 2013, non-parametric alternation): iterate
    * [fit codebooks in the rotated space] ⇄ [orthogonal Procrustes —
    * SVD of Xᵀ·Ŷ — re-aligns the rotation to the quantization]. Same
    * code width as [[fit]], lower quantization error whenever the
    * data's covariance straddles subspace boundaries; with isotropic
    * data it degrades gracefully to ≈ plain PQ. Driver-local on the
    * fit sample (the same shape as [[fit]] — the rotation is a MODEL,
    * corpus-sized work stays on the cluster), applied at encode time
    * fused inside [[graft.functions.PqFunctions.Encode]].
    */
  def fitOpq(df: DataFrame, idCol: String, vecCol: String,
      nsub: Int = 8, k: Int = 16, maxIter: Int = 10,
      metric: String = "cosine", opqIters: Int = 8): PqModel = {
    require(k >= 1 && k <= 256, s"pq: k=$k — codes are one byte, need 1..256")
    require(nsub >= 1, s"pq: nsub=$nsub")
    require(metric == "cosine" || metric == "l2", s"pq: unknown metric '$metric'")
    require(opqIters >= 1, s"pq: opqIters=$opqIters")
    val normalize = metric == "cosine"
    val prepared = prepSample(df, idCol, vecCol, normalize, nsub)
      .take(OpqSampleSize)
    val dim = prepared.head.length
    val subdim = dim / nsub
    var rot = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    var codebooks: Array[Array[Array[Double]]] = null
    def rotate(v: Array[Double]): Array[Double] = {
      val y = new Array[Double](dim)
      var i = 0
      while (i < dim) {
        val row = rot(i)
        var j = 0
        var acc = 0.0
        while (j < dim) { acc += row(j) * v(j); j += 1 }
        y(i) = acc
        i += 1
      }
      y
    }
    def quantized(y: Array[Double]): Array[Double] = {
      val out = new Array[Double](dim)
      var s = 0
      while (s < nsub) {
        val cb = codebooks(s)
        val off = s * subdim
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < cb.length) {
          var d = 0.0
          var j = 0
          while (j < subdim) { val t = y(off + j) - cb(c)(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        System.arraycopy(cb(best), 0, out, off, subdim)
        s += 1
      }
      out
    }
    var it = 0
    while (it < opqIters) {
      val y = prepared.map(rotate)
      codebooks = fitCodebooks(y, nsub, k, maxIter)
      // Procrustes: min_R Σ‖R·x − ŷ‖² ⇒ max tr(R·M), M = Σ x·ŷᵀ;
      // M = U·S·Vᵀ ⇒ R = V·Uᵀ (the classic closed form)
      val m = Array.ofDim[Double](dim, dim)
      prepared.zip(y).foreach { case (x, yv) =>
        val q = quantized(yv)
        var i = 0
        while (i < dim) {
          val xi = x(i)
          if (xi != 0.0) {
            val row = m(i)
            var j = 0
            while (j < dim) { row(j) += xi * q(j); j += 1 }
          }
          i += 1
        }
      }
      val mm = breeze.linalg.DenseMatrix.tabulate(dim, dim)((i, j) => m(i)(j))
      val sv = breeze.linalg.svd(mm)
      val r = sv.Vt.t * sv.U.t
      rot = Array.tabulate(dim, dim)((i, j) => r(i, j))
      it += 1
    }
    // codebooks must pair with the FINAL rotation
    codebooks = fitCodebooks(prepared.map(rotate), nsub, k, maxIter)
    PqModel(nsub, k, subdim, normalize, codebooks, Some(rot))
  }

  /** Flattened `nsub`×`k` table: table[s·k+c] = ‖q_s − codebook[s][c]‖². */
  private[graft] def adcTable(query: Array[Float], model: PqModel): Array[Double] = {
    require(query.length == model.dim,
      s"pq: query has ${query.length} elements, model expects ${model.dim}")
    var q = query.map(_.toDouble)
    if (model.normalize) {
      val n = math.sqrt(q.map(x => x * x).sum)
      if (n > 0) q = q.map(_ / n)
    }
    model.rotation.foreach { r =>
      // the codebooks live in the rotated space — the query joins them
      // there; the exact rerank stays on original vectors (orthogonal
      // maps preserve cosine/L2)
      val y = new Array[Double](q.length)
      var i = 0
      while (i < y.length) {
        val row = r(i)
        var j = 0
        var acc = 0.0
        while (j < row.length) { acc += row(j) * q(j); j += 1 }
        y(i) = acc
        i += 1
      }
      q = y
    }
    val table = new Array[Double](model.nsub * model.k)
    var s = 0
    while (s < model.nsub) {
      val cb = model.codebooks(s)
      var c = 0
      while (c < cb.length) {
        var d = 0.0
        var j = 0
        while (j < model.subdim) {
          val t = q(s * model.subdim + j) - cb(c)(j)
          d += t * t
          j += 1
        }
        table(s * model.k + c) = d
        c += 1
      }
      // unused table slots (k > trained centroids) stay 0 but are
      // unreachable: encode never emits a code ≥ cb.length
      s += 1
    }
    table
  }
}
