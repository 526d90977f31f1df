package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.PqFunctions

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
  * Pipeline: [[fit]] (sample k-means per subspace, driver-local — the
  * same sample-fit shape as SemDeDup's centroids) → [[encode]] /
  * [[savePqIndex]] (one map-only pass over the corpus) → [[topK]]
  * (ADC scan of the code table → pool of candidate ids → exact cosine
  * rerank of the pool only). With `pool` ≥ corpus size the rerank sees
  * every row and the result EQUALS brute force — the oracle-checked
  * configuration; the pruned pool's recall is spec'd on planted
  * clones.
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
    * fused inside [[graft.functions.PqEncodeExpr]].
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

  /** Map-only: add the `nsub`-byte `codeCol` to every row. */
  def encode(df: DataFrame, vecCol: String, model: PqModel,
      codeCol: String = "_code"): DataFrame =
    df.withColumn(codeCol,
      PqFunctions.pqEncode(col(vecCol), model.codebooks, model.normalize,
        model.rotation.orNull))

  /** Persist the code table — (id, `_code`) parquet, ~nsub bytes/row —
    * plus the model sidecar. Encode once on a cluster, query forever.
    */
  def savePqIndex(df: DataFrame, idCol: String, vecCol: String,
      model: PqModel, path: String): Unit = {
    encode(df, vecCol, model)
      .select(col(idCol), col("_code"))
      .write.mode("overwrite").parquet(s"$path/codes")
    saveModel(df.sparkSession, model, path)
  }

  /** Model sidecar: one driver-side text file (r15 — the previous
    * tiny-parquet write + `spark.read...collect()` cost a scheduled
    * Spark job in each direction, on the BUILD and on EVERY probe; see
    * [[ModelSidecar]]). Legacy parquet sidecars remain loadable.
    */
  def saveModel(spark: SparkSession, model: PqModel, path: String): Unit =
    ModelSidecar.write(spark, path, "_model.txt",
      Map("family" -> "pq", "normalize" -> model.normalize.toString),
      model.codebooks.indices.map(s => s"cb$s" -> model.codebooks(s)) ++
        model.rotation.map("rotation" -> _))

  def loadModel(spark: SparkSession, path: String): PqModel =
    ModelSidecar.read(spark, path, "_model.txt") match {
      case Some((props, mats)) =>
        val codebooks = Array.tabulate(
          mats.keys.count(_.startsWith("cb")))(s => mats(s"cb$s"))
        PqModel(codebooks.length, codebooks.map(_.length).max,
          codebooks(0)(0).length, props("normalize").toBoolean,
          codebooks, mats.get("rotation"))
      case None => loadModelLegacy(spark, path)
    }

  private def loadModelLegacy(spark: SparkSession, path: String): PqModel = {
    val modelPath = new org.apache.hadoop.fs.Path(s"$path/model")
    val fs = modelPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(modelPath),
      s"pq: no model sidecar under $path — not a saved PQ index")
    val rows = spark.read.parquet(s"$path/model")
      .orderBy("sub", "cid").collect()
    require(rows.nonEmpty, s"pq: no model sidecar under $path — not a saved PQ index")
    val bySub = rows.groupBy(_.getAs[Int]("sub")).toSeq.sortBy(_._1)
    val codebooks = bySub.map { case (_, rs) =>
      rs.sortBy(_.getAs[Int]("cid"))
        .map(_.getAs[scala.collection.Seq[Double]]("centroid").toArray)
    }.toArray
    val k = codebooks.map(_.length).max
    val rotPath = new org.apache.hadoop.fs.Path(s"$path/rotation")
    val rotation =
      if (!fs.exists(rotPath)) None
      else Some(spark.read.parquet(rotPath.toString).orderBy("row").collect()
        .map(_.getAs[scala.collection.Seq[Double]]("values").toArray))
    PqModel(codebooks.length, k, codebooks(0)(0).length,
      rows.head.getAs[Boolean]("normalize"), codebooks, rotation)
  }

  /** Query a saved index: ADC over the CODE table (never the vectors)
    * selects the `pool` best candidate ids — a TakeOrdered, no global
    * sort — then only those rows' true vectors are fetched (broadcast
    * join of the pool into the corpus scan) for the exact cosine
    * rerank. Same output contract as [[Similarity.cosineTopK]]:
    * `cos_sim` rounded to 4, id tiebreak, well-defined set.
    */
  def topK(spark: SparkSession, indexPath: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int, pool: Int = 1024): DataFrame = {
    val model = loadModel(spark, indexPath)
    val codes = spark.read.parquet(s"$indexPath/codes")
    topKFromCodes(codes, model, corpus, idCol, vecCol, query, k, pool)
  }

  /** One-shot twin (no saved index): encodes on the fly — same result,
    * but the scan reads full vectors, so prefer [[savePqIndex]] +
    * [[topK]] for repeated queries.
    */
  def topKOneShot(df: DataFrame, idCol: String, vecCol: String,
      model: PqModel, query: Array[Float], k: Int, pool: Int = 1024): DataFrame =
    topKFromCodes(
      encode(df, vecCol, model).select(col(idCol), col("_code")),
      model, df, idCol, vecCol, query, k, pool)

  private def topKFromCodes(codes: DataFrame, model: PqModel,
      corpus: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int, pool: Int): DataFrame =
    topKFromCodeTable(codes, adcTable(query, model), model.nsub, model.k,
      corpus, idCol, vecCol, query, k, pool)

  /** The shared candidate-pool → exact-rerank tail of every ADC index
    * (PQ, OPQ, IVF×PQ, and [[Sq]] — SQ8 is PQ with nsub=dim, k=256 and
    * a uniform grid, so one scan shape serves the whole family).
    */
  private[operators] def topKFromCodeTable(codes: DataFrame,
      table: Array[Double], nsub: Int, nCodes: Int,
      corpus: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int, pool: Int): DataFrame =
    poolRerankFromScores(
      codes.select(col(idCol),
        PqFunctions.pqAdc(col("_code"), table, nsub, nCodes).as("_adc")),
      corpus, idCol, vecCol, query, k, pool)

  /** The family-wide tail behind every compressed score ([[Bq]]'s
    * Hamming column reuses it directly): lowest-`_adc` `pool`
    * candidates → broadcast the ids into the corpus scan → exact
    * cosine rerank.
    */
  private[operators] def poolRerankFromScores(scored: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int, pool: Int): DataFrame = {
    require(pool >= k, s"pq: pool=$pool must be ≥ k=$k")
    // nulls LAST: a null code (null vector / null element upstream)
    // must never crowd real candidates out of the pool — plain asc
    // would sort the nulls first
    val cand = scored
      .filter(col("_adc").isNotNull)
      .orderBy(col("_adc").asc, col(idCol).asc)
      .limit(pool)
      .select(col(idCol).as("_cand_id"))
    val q = query.map(_.toDouble)
    corpus.join(broadcast(cand), col(idCol) === col("_cand_id"))
      .select(col(idCol),
        round(graft.functions.VectorFunctions.cosineConst(col(vecCol), q), 4)
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** IVF×PQ composed index (the faiss IVFPQ shape): vectors are
    * k-means-assigned to `nlist` cells AND PQ-encoded, and the code
    * table persists hive-partitioned by `_cell` — so a probe prunes
    * to `nprobe` partition DIRECTORIES (which rows), and inside them
    * the scan reads only `nsub`-byte codes (which bytes). At 100 TB
    * both bounds matter: IVF cuts rows ~nlist/nprobe-fold, PQ cuts
    * bytes/row ~32-fold, and they multiply.
    */
  def saveIvfPqIndex(df: DataFrame, idCol: String, vecCol: String,
      model: PqModel, path: String, nlist: Int = 16, seed: Long = 42L,
      maxIter: Int = 10, initMode: String = "k-means||"): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val idx = Similarity.ivfIndex(df, idCol, vecCol, nlist, seed, maxIter, initMode)
    encode(idx.assigned, vecCol, model)
      .select(col(idCol), col("_code"), col("_cell"))
      .repartition(Similarity.indexWriters(idx.centroids.length), col("_cell"))
      .write.mode("overwrite").partitionBy("_cell").parquet(s"$path/codes")
    Similarity.saveCentroids(spark, path, idx.centroids)
    saveModel(spark, model, path)
  }

  /** Query an IVF×PQ index: rank cells by centroid distance
    * driver-side (exactly [[Similarity.ivfTopK]]'s rule), read only
    * the `nprobe` nearest cells' code partitions, ADC-select the
    * candidate pool, exact-rerank the pool's true vectors. Exact at
    * `nprobe = nlist` with `pool` ≥ corpus (the oracle config);
    * everything below trades recall for the multiplied pruning.
    */
  def ivfPqTopK(spark: SparkSession, indexPath: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int, nprobe: Int = 4,
      pool: Int = 1024): DataFrame = {
    val model = loadModel(spark, indexPath)
    val centroids = Similarity.loadCentroids(spark, indexPath)
    val qd = query.map(_.toDouble)
    def dist2(c: Array[Double]): Double =
      c.indices.map(j => { val d = c(j) - qd(j); d * d }).sum
    val cells = centroids.zipWithIndex
      .sortBy { case (c, _) => dist2(c) }.take(nprobe).map(_._2)
    val codes = spark.read.parquet(s"$indexPath/codes")
      .filter(col("_cell").isin(cells.toSeq: _*))
      .select(col(idCol), col("_code"))
    topKFromCodes(codes, model, corpus, idCol, vecCol, query, k, pool)
  }

  /** Append a NEW batch to a saved PQ index without re-fitting:
    * encode against the SAVED codebooks (they are the index identity —
    * re-fitting would silently re-quantize nothing but the new rows)
    * and append to the code table. One map-only pass per batch, the
    * same train-once/add-forever contract as `Similarity.ivfAppend`.
    */
  def pqAppend(df: DataFrame, idCol: String, vecCol: String,
      path: String): Unit = {
    val model = loadModel(df.sparkSession, path)
    encode(df, vecCol, model)
      .select(col(idCol), col("_code"))
      .write.mode("append").parquet(s"$path/codes")
  }

  /** Append to a saved IVF×PQ index: nearest SAVED cell + SAVED
    * codebooks, landing in the cell's partition directory — probes
    * prune identically over old and new rows.
    */
  def ivfPqAppend(df: DataFrame, idCol: String, vecCol: String,
      path: String): Unit = {
    val model = loadModel(df.sparkSession, path)
    val centroids = Similarity.loadCentroids(df.sparkSession, path)
    encode(df, vecCol, model)
      .withColumn("_cell",
        graft.functions.CentroidFunctions.nearestCell(col(vecCol), centroids))
      .select(col(idCol), col("_code"), col("_cell"))
      .repartition(Similarity.indexWriters(centroids.length), col("_cell"))
      .write.mode("append").partitionBy("_cell").parquet(s"$path/codes")
  }

  /** k-NN JOIN over a saved PQ index — the batch-retrieval shape of
    * [[topK]] ([[Similarity.cosineTopKJoin]]'s compressed twin): ONE
    * scan of the byte-code table scores EVERY query via a broadcast
    * batch of ADC tables ([[graft.functions.PqAdcBatchExpr]]), so the
    * scan reads ~nsub bytes/row instead of the full vectors no matter
    * how many queries ride along. Per-query candidate pools reduce
    * through the bounded-heap pair aggregate (map-side combined, ≤
    * pool pairs per mapper×query cross the shuffle), then only pool
    * members' true vectors are fetched for the exact cosine rerank.
    * Same output contract as `cosineTopKJoin` (q_id, n_id long,
    * cos_sim rounded 4, id tiebreak); with `pool` ≥ corpus the result
    * EQUALS it exactly.
    *
    * The query batch collects to the driver (tables are the
    * broadcast) — the same small-batch contract as `cosineTopKJoin`'s
    * broadcast side, guarded at [[MaxJoinQueries]]; corpus×corpus
    * self-retrieval belongs on the IVF/LSH bucket paths.
    */
  def pqTopKJoin(spark: SparkSession, indexPath: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      corpus: DataFrame, cIdCol: String, cVecCol: String,
      k: Int, pool: Int = 1024): DataFrame = {
    import graft.functions.{PqFunctions, TopKPairs, VectorFunctions}
    require(pool >= k, s"pq: pool=$pool must be ≥ k=$k")
    val model = loadModel(spark, indexPath)
    val codes = spark.read.parquet(s"$indexPath/codes")
    val qRowsAll = graft.Conf.collectUpTo(queries
        .select(col(qIdCol).as("_qid"), col(qVecCol).cast("array<float>").as("_qv")),
        MaxJoinQueries)
      .getOrElse(throw new IllegalArgumentException(
        s"pq: query batch exceeds $MaxJoinQueries — for corpus-scale " +
          "retrieval use the IVF/LSH bucket joins instead of a broadcast batch"))
    require(qRowsAll.nonEmpty, "pq: empty query batch")
    // null-vector queries return no neighbors — the same outcome
    // cosineTopKJoin reaches (null cosine scores, skipped by the heap)
    val qRows = qRowsAll.filter(!_.isNullAt(1))
    if (qRows.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Double)].toDF("q_id", "n_id", "cos_sim")
        .withColumn("q_id", col("q_id").cast(queries.schema(qIdCol).dataType))
    }
    val tables = qRows.map(r =>
      adcTable(r.getAs[scala.collection.Seq[Float]]("_qv").toArray, model))
    import spark.implicits._
    val qIdx = qRows.zipWithIndex.map { case (r, i) => (i, r.get(0)) }
    val qMeta = spark.createDataFrame(
      spark.sparkContext.parallelize(qIdx.toSeq.map(t =>
        org.apache.spark.sql.Row(t._1, t._2)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_qidx",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("_qid",
          queries.schema(qIdCol).dataType))))
    val pooled = codes
      .crossJoin(broadcast(qMeta))
      .select(col("_qid"),
        col(cIdCol).cast("long").as("_cid"),
        PqFunctions.pqAdcBatch(col("_code"), col("_qidx"),
          tables, model.nsub, model.k).as("_adc"))
      .groupBy("_qid")
      .agg(TopKPairs.topKPairs(col("_adc"), col("_cid"), pool).as("_pool"))
      .select(col("_qid"), explode(col("_pool")).as("_p"))
      .select(col("_qid"), col("_p.id").as("_cid"))
    val qVecs = spark.createDataFrame(
      spark.sparkContext.parallelize(qRows.toSeq, 1), qRows.head.schema)
      .withColumnRenamed("_qid", "_qid2")
    corpus
      .select(col(cIdCol).cast("long").as("_cid2"), col(cVecCol).as("_cv"))
      .join(broadcast(pooled), col("_cid2") === col("_cid"))
      .join(broadcast(qVecs), col("_qid") === col("_qid2"))
      .select(col("_qid"), col("_cid"),
        round(VectorFunctions.cosine(col("_cv"), col("_qv")), 4).as("_cos"))
      .groupBy("_qid")
      .agg(TopKPairs.topKPairs(col("_cos"), col("_cid"), k,
        bestIsLargest = true).as("_top"))
      .select(col("_qid").as("q_id"), explode(col("_top")).as("_p"))
      .select(col("q_id"), col("_p.id").as("n_id"), col("_p.score").as("cos_sim"))
  }

  /** Broadcast-batch bound for [[pqTopKJoin]] (tables are ~nsub·k·8 B
    * each — 10k queries ≈ 10 MB broadcast at the defaults).
    */
  val MaxJoinQueries = 10000

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
