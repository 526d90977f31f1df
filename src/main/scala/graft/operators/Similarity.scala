package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - [[cosineTopK]]: brute-force scan — the correctness baseline and
  *    the right plan when the query batch is tiny (one distributed
  *    pass, per-partition top-k then k-merge, no shuffle of the data).
  *  - [[lshTopK]] / [[hyperplaneBuckets]]: random-hyperplane LSH — the
  *    100 TB path. Vectors land in 2^p sign-pattern buckets;
  *    candidates come from the query's bucket plus all buckets within
  *    `probeHamming` bit flips (multiprobe), then exact cosine rerank.
  *    The scan prunes to candidate buckets instead of reading the
  *    whole corpus.
  *
  * Hyperplanes are generated from a fixed seed — deterministic across
  * runs, drivers, and executors.
  */
object Similarity {

  /** The embedding width, probed from the FIRST NON-NULL vector — a
    * null in the physically-first row NPE'd the naive `head()` probe,
    * and an empty frame threw NoSuchElementException (r9 advice). An
    * all-null / empty input raises with the actual problem named.
    */
  private def probeDim(df: DataFrame, vecCol: String): Int = {
    val r = df.agg(first(size(col(vecCol)), ignoreNulls = true)).head()
    require(!r.isNullAt(0),
      s"no non-null '$vecCol' vector to infer the embedding dimension from")
    r.getInt(0)
  }

  /** Deterministic unit-free hyperplanes: planes(p)(j) ∈ [-0.5, 0.5). */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    requirePlanes(numPlanes)
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes, dim)(rnd.nextDouble() - 0.5)
  }

  /** Bucket ids are Int sign patterns: past 30 planes `1 << numPlanes`
    * overflows (31 probes nothing) or aliases bits (33 folds bit 32
    * onto bit 0).
    */
  private def requirePlanes(numPlanes: Int): Unit =
    require(1 <= numPlanes && numPlanes <= 30,
      s"LSH numPlanes=$numPlanes outside 1..30 — bucket ids are Int sign patterns")

  /** Writer parallelism for a bucket/cell-partitioned index write: one
    * shuffle partition per partition DIRECTORY (capped at 4096 — more
    * dirs than that is a layout problem, not a parallelism one). A
    * keyless `repartition(col)` lets AQE coalesce the tiny pre-write
    * exchange into ONE task, serializing the whole multi-directory
    * write (measured r16: 0.72 → 0.48 s on the 32-bucket LSH build);
    * pinning the count keeps one writer per directory at every scale.
    */
  private[operators] def indexWriters(nDirs: Int): Int =
    math.max(1, math.min(nDirs, 1 << 12))

  /** Sign-pattern bucket id of a vector column for the given planes. */
  def bucketExpr(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (plane, i) =>
      when(dotConst(vec, plane) >= 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ bitwiseOR _)

  /** Bucket id of a single vector, driver-side (for query routing). */
  def bucketOf(v: Array[Float], planes: Array[Array[Double]]): Int =
    planes.zipWithIndex.map { case (plane, i) =>
      val d = v.indices.map(j => v(j) * plane(j)).sum
      if (d >= 0) 1 << i else 0
    }.reduce(_ | _)

  /** Brute-force cosine top-k against one query vector.
    * `cos_sim` is rounded to 4 places with an id tiebreak so the
    * result is a well-defined set (stable under FP reassociation).
    */
  def cosineTopK(
      df: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int): DataFrame = {
    val q = query.map(_.toDouble)
    df.select(col(idCol),
        round(cosineConst(col(vecCol), q), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** k-NN JOIN: for EVERY query row, the corpus's top-k by cosine —
    * the batch shape of [[cosineTopK]] (one query vector at a time is
    * not how retrieval pipelines run). Output: one row per (query,
    * neighbor), `cos_sim` rounded to 4 places, id tiebreak — same
    * well-defined-set contract as [[cosineTopK]].
    *
    * Shape for scale: the query batch BROADCASTS into the corpus scan
    * (one pass, no corpus shuffle) and per-query top-k reduces through
    * [[graft.functions.TopKPairs]] — a bounded heap combined map-side,
    * so the shuffle carries ≤ k pairs per (mapper, query) instead of
    * the `row_number() OVER (PARTITION BY query)` plan's full scored
    * corpus (nQ corpus-sized sorts on nQ tasks). For corpus×corpus
    * self-joins where the "batch" IS the corpus, broadcast no longer
    * applies — bucket through [[lshIndex]]/[[ivfIndex]] probes
    * instead.
    */
  def cosineTopKJoin(
      queries: DataFrame, qIdCol: String, qVecCol: String,
      corpus: DataFrame, cIdCol: String, cVecCol: String,
      k: Int): DataFrame = {
    val q = broadcast(
      queries.select(col(qIdCol).as("_qid"), col(qVecCol).as("_qv")))
    corpus.select(col(cIdCol).as("_cid"), col(cVecCol).as("_cv"))
      .crossJoin(q)
      .select(col("_qid"), col("_cid"),
        round(cosine(col("_cv"), col("_qv")), 4).as("_cos"))
      .groupBy("_qid")
      .agg(graft.functions.TopKPairs
        .topKPairs(col("_cos"), col("_cid").cast("long"), k,
          bestIsLargest = true).as("_top"))
      .select(col("_qid").as("q_id"), explode(col("_top")).as("_p"))
      .select(col("q_id"), col("_p.id").as("n_id"), col("_p.score").as("cos_sim"))
  }

  /** LSH-bucketed top-k over a raw DataFrame: compute `_bucket` on
    * scan, filter to the query's bucket ∪ buckets within
    * `probeHamming` sign flips, exact-cosine rerank inside.
    *
    * ONE-SHOT shape: the bucket expression runs over every row, so
    * this still reads the whole corpus per query. For repeated queries
    * at scale, build an [[lshIndex]] once — its probes prune parquet
    * PARTITIONS instead of rescanning (mirroring [[IvfIndex]]).
    */
  def lshTopK(
      df: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int,
      numPlanes: Int = 8, probeHamming: Int = 1, seed: Long = 42L): DataFrame = {
    val dim = query.length
    val planes = hyperplanes(numPlanes, dim, seed)
    val qBucket = bucketOf(query, planes)
    val probes = (0 until (1 << numPlanes))
      .filter(b => Integer.bitCount(b ^ qBucket) <= probeHamming)
    val q = query.map(_.toDouble)
    df.withColumn("_bucket", bucketExpr(col(vecCol), planes))
      .filter(col("_bucket").isin(probes: _*))
      .select(col(idCol), round(cosineConst(col(vecCol), q), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** A PERSISTED hyperplane-LSH index: the corpus written to parquet
    * hive-partitioned by `_bucket`, so a probe's `_bucket IN (...)`
    * filter becomes a PARTITION filter — the scan reads only the
    * candidate buckets' files, never the corpus. This is the LSH twin
    * of [[IvfIndex.assigned]]: build once, query many times.
    */
  final case class LshIndex(
      path: String,
      planes: Array[Array[Double]]) {
    requirePlanes(planes.length)
    /** Bucket-id width — derived, so it can never disagree with the
      * planes that actually built the layout. */
    def numPlanes: Int = planes.length
  }

  /** Build the index: assign buckets (one codegen'd map-only pass —
    * the single full read the corpus ever pays), cluster rows by
    * bucket, and write partitioned by `_bucket`. The pre-write
    * `repartition` lines each parquet partition directory up with one
    * writer task instead of `numPartitions` small files per bucket.
    */
  def lshIndex(
      df: DataFrame, idCol: String, vecCol: String, path: String,
      numPlanes: Int = 8, seed: Long = 42L, dim: Option[Int] = None): LshIndex = {
    val d = dim.getOrElse(probeDim(df, vecCol))
    val planes = hyperplanes(numPlanes, d, seed)
    df.select(col(idCol), col(vecCol),
        bucketExpr(col(vecCol), planes).as("_bucket"))
      .repartition(indexWriters(1 << numPlanes), col("_bucket"))
      .write.mode("overwrite").partitionBy("_bucket").parquet(path)
    savePlanes(df.sparkSession, path, planes)
    LshIndex(path, planes)
  }

  /** Persist the hyperplanes next to the data as the driver-side
    * `_planes.txt` [[ModelSidecar]] — underscore-prefixed files are
    * invisible to Spark's data-file discovery (like `_SUCCESS`), so
    * probes reading the bucket-partitioned root never see it, while
    * [[loadLshIndex]] reads it explicitly. The planes ARE the index
    * identity: an append that re-derived them from (seed, dim) alone
    * could silently diverge from the layout on disk.
    */
  private def savePlanes(
      spark: org.apache.spark.sql.SparkSession, path: String,
      planes: Array[Array[Double]]): Unit =
    ModelSidecar.write(spark, path, "_planes.txt", Map.empty,
      Seq("planes" -> planes))

  /** Load a persisted LSH index (data + `_planes.txt` sidecar) built by
    * [[lshIndex]] — possibly by another driver: build once on the
    * cluster, append/probe from anywhere.
    */
  def loadLshIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): LshIndex =
    LshIndex(path, ModelSidecar.read(spark, path, "_planes.txt")._2("planes"))

  /** Append a NEW batch to a persisted LSH index without rebuilding:
    * assign buckets with the index's OWN persisted planes (identical
    * layout law — old and new vectors are indistinguishable to a
    * probe) and append into the bucket partition directories. A
    * growing corpus pays one map-only assignment pass per batch, not
    * a corpus-wide rewrite; partition pruning on probes is unchanged.
    */
  def lshAppend(
      df: DataFrame, idCol: String, vecCol: String, index: LshIndex): Unit = {
    val saved = df.sparkSession.read.parquet(index.path).schema
    val batch = conformToLayout(df, saved, "_bucket", vecCol,
      index.planes.head.length, "LSH")
    batch.withColumn("_bucket", bucketExpr(col(vecCol), index.planes))
      .repartition(indexWriters(1 << index.numPlanes), col("_bucket"))
      .write.mode("append").partitionBy("_bucket").parquet(index.path)
  }

  /** Layout law for index appends: an appended file must carry EXACTLY
    * the columns the saved layout carries — the index readers are
    * plain `spark.read.parquet` (no mergeSchema), which resolves the
    * schema from ONE file footer, so a batch missing or renaming a
    * build-time column would make that column silently vanish for
    * every row whenever an appended footer wins. Missing columns raise
    * up front; extras are projected away; a one-row dimension check
    * against the saved geometry (planes/centroids) catches the
    * wrong-embedding-column case before it poisons the layout.
    */
  private def conformToLayout(
      df: DataFrame, saved: org.apache.spark.sql.types.StructType,
      partCol: String, vecCol: String, dim: Int, what: String): DataFrame = {
    val expect = saved.fieldNames.filterNot(_ == partCol)
    val missing = expect.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"$what append batch is missing saved-layout column(s) " +
        s"${missing.mkString(", ")} — the persisted index carries " +
        s"(${expect.mkString(", ")}), and mixed-schema files silently drop " +
        "columns on read")
    df.select(size(col(vecCol))).take(1).foreach { r =>
      if (!r.isNullAt(0)) require(r.getInt(0) == dim,
        s"$what append batch vector dimension ${r.getInt(0)} != index dimension $dim")
    }
    df.select(expect.map(col).toIndexedSeq: _*)
  }

  /** Query a persisted LSH index: the bucket filter prunes partitions
    * at planning time (PlanSpec pins this), exact-cosine rerank on the
    * candidate slice only.
    */
  def lshTopK(
      spark: org.apache.spark.sql.SparkSession, index: LshIndex,
      idCol: String, vecCol: String,
      query: Array[Float], k: Int, probeHamming: Int): DataFrame = {
    val qBucket = bucketOf(query, index.planes)
    val probes = (0 until (1 << index.numPlanes))
      .filter(b => Integer.bitCount(b ^ qBucket) <= probeHamming)
    val q = query.map(_.toDouble)
    spark.read.parquet(index.path)
      .filter(col("_bucket").isin(probes: _*))
      .select(col(idCol), round(cosineConst(col(vecCol), q), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** IVF (inverted-file) ANN — the other classic scale path next to
    * LSH: k-means centroids partition the corpus into `nlist` cells;
    * a query scans only the `nprobe` nearest cells. Returns the
    * assigned DataFrame + centroids for reuse across queries (at scale
    * you persist the assignment — it's the index).
    */
  final case class IvfIndex(
      assigned: DataFrame, // original columns + _cell
      centroids: Array[Array[Double]])

  /** NOTE on `seed`/`initMode` scope: the default sample-fit route is
    * FULLY deterministic — sample selection is md5(id)-ordered and
    * init is the first k sample vectors — so `seed` and `initMode`
    * deliberately have NO effect there (varying the seed returns the
    * same index; there is no randomness to steer). Both apply only to
    * the distributed-ML fallback taken past [[ExprAssignMaxCells]] /
    * [[ExprAssignMaxKDim]]. Top-k correctness never depends on the
    * fit either way; only cell recall does (RECALL.md).
    */
  def ivfIndex(
      df: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, seed: Long = 42L, maxIter: Int = 20,
      initMode: String = "k-means||"): IvfIndex = {
    // Route (r12, the semanticDedup route applied here): centroid fit
    // on a bounded deterministic SAMPLE driver-side + one map-only
    // codegen'd argmax assignment pass — nobody Lloyd-iterates the
    // corpus; centroid quality only shifts WHICH cells hold which
    // vectors (recall of the pruned path), never top-k correctness,
    // and faiss IVF training is exactly this shape (train on a
    // sample, add everything). The distributed ML fit below remains
    // the fallback where the sample fit's DRIVER footprint (k×dim
    // accumulators + the collected sample) stops fitting — measured
    // crossover in RECALL.md: the ML fit pays ~2 driver-scheduled
    // jobs per Lloyd round regardless of data size, which DOMINATES
    // the build at any corpus the bench reaches.
    lazy val sampleFitFits = nlist <= 256 || {
      val dim = probeDim(df, vecCol)
      nlist.toLong * dim <= ExprAssignMaxKDim
    }
    if (nlist <= ExprAssignMaxCells && sampleFitFits) {
      val centroids = sampleCentroids(df, idCol, vecCol, nlist, maxIter)
      val assigned = df.withColumn("_cell",
        graft.functions.CentroidFunctions.nearestCell(col(vecCol), centroids))
      IvfIndex(assigned, centroids)
    } else {
      import org.apache.spark.ml.feature.{VectorAssembler => _}
      val toMl = org.apache.spark.ml.functions.array_to_vector(col(vecCol).cast("array<double>"))
      val features = df.withColumn("_features", toMl)
      // initMode "random" skips k-means||'s extra distributed init
      // passes
      val km = new org.apache.spark.ml.clustering.KMeans()
        .setK(nlist).setSeed(seed).setMaxIter(maxIter).setInitMode(initMode)
        .setFeaturesCol("_features").setPredictionCol("_cell")
      val model = km.fit(features)
      val assigned = model.transform(features).drop("_features")
      IvfIndex(assigned, model.clusterCenters.map(_.toArray))
    }
  }

  /** Persist an IVF index: the assignment parquet hive-partitioned by
    * `_cell` (so [[ivfTopK]]'s `_cell IN (...)` probe prunes partition
    * directories at planning time, like [[LshIndex]]), centroids in a
    * sidecar parquet. Build once on a cluster, query from anywhere.
    */
  def saveIvfIndex(index: IvfIndex, path: String): Unit = {
    index.assigned
      .repartition(indexWriters(index.centroids.length), col("_cell"))
      .write.mode("overwrite").partitionBy("_cell").parquet(s"$path/assigned")
    saveCentroids(index.assigned.sparkSession, path, index.centroids)
  }

  /** Centroid sidecar: one driver-side text file (r15 — shared by this
    * layout and [[AnnIndex]]'s `Ivf` coarse stage; the tiny-parquet
    * sidecar cost a scheduled Spark job per write and per probe load).
    */
  private[operators] val CentroidsFile = "_centroids.txt"

  private[operators] def saveCentroids(
      spark: org.apache.spark.sql.SparkSession, path: String,
      centroids: Array[Array[Double]]): Unit =
    ModelSidecar.write(spark, path, CentroidsFile, Map.empty,
      Seq("centroids" -> centroids))

  /** Load a persisted IVF index; `assigned` reads the bucket-partitioned
    * layout, so probes prune files.
    */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    val centroids = loadCentroids(spark, path)
    IvfIndex(spark.read.parquet(s"$path/assigned"), centroids)
  }

  /** Append a NEW batch to a persisted IVF index without re-training:
    * each vector goes to its nearest SAVED centroid — the assignment
    * is `argmin ‖v−c‖²`, computed as `argmax (v·c − ‖c‖²/2)` (the
    * `‖v‖²` term is constant per row), exactly KMeans' rule with the
    * same first-index tie-break — and lands in that cell's partition
    * directory. One map-only pass per batch; centroids stay fixed
    * (the faiss IVF shape: train once, add forever), so probes prune
    * identically over old and new vectors.
    */
  def ivfAppend(
      df: DataFrame, idCol: String, vecCol: String, path: String): Unit = {
    val centroids = loadCentroids(df.sparkSession, path)
    val saved = df.sparkSession.read.parquet(s"$path/assigned").schema
    val batch = conformToLayout(df, saved, "_cell", vecCol,
      centroids.head.length, "IVF")
    batch
      .withColumn("_cell",
        graft.functions.CentroidFunctions.nearestCell(col(vecCol), centroids))
      .repartition(indexWriters(centroids.length), col("_cell"))
      .write.mode("append").partitionBy("_cell").parquet(s"$path/assigned")
  }

  private[graft] def loadCentroids(
      spark: org.apache.spark.sql.SparkSession, path: String): Array[Array[Double]] =
    ModelSidecar.read(spark, path, CentroidsFile)._2("centroids")

  /** The `nprobe` cells whose centroids are nearest `query` (squared
    * L2, driver-side): every IVF probe list.
    */
  private[operators] def nearestCells(centroids: Array[Array[Double]],
      query: Array[Float], nprobe: Int): Array[Int] = {
    val qd = query.map(_.toDouble)
    def dist2(c: Array[Double]): Double =
      c.indices.map(j => { val d = c(j) - qd(j); d * d }).sum
    centroids.zipWithIndex.sortBy { case (c, _) => dist2(c) }.take(nprobe).map(_._2)
  }

  /** Query an IVF index: rank cells by centroid distance, brute-force
    * only the nprobe nearest cells.
    *
    * `where`: optional metadata predicate — FILTERED ANN (the
    * vector-DB "pre-filter" shape: "top-k among docs where lang='en'",
    * not "top-k, then drop non-matches", so a matching doc outside the
    * unfiltered top-k is still returned). The index persists every
    * original column alongside `_cell`, so the predicate evaluates
    * INSIDE the probe scan: on the persisted layout it rides the same
    * parquet scan the cell probe already prunes (PartitionFilters pick
    * the cell directories, PushedFilters skip row groups by the
    * predicate's min/max stats) — no join back to a metadata table, no
    * post-hoc filtering of a truncated result. Recall caveat shared
    * with every IVF search: below `nprobe = nlist` a match outside the
    * probed cells is missed; a highly selective predicate thins
    * candidates per cell, so filtered queries typically want a higher
    * nprobe.
    */
  def ivfTopK(
      index: IvfIndex, idCol: String, vecCol: String,
      query: Array[Float], k: Int, nprobe: Int = 4,
      where: Option[Column] = None): DataFrame = {
    val probed = index.assigned.filter(col("_cell")
      .isin(nearestCells(index.centroids, query, nprobe).toSeq: _*))
    where.fold(probed)(probed.filter)
      .select(col(idCol),
        round(cosineConst(col(vecCol), query.map(_.toDouble)), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** IVF-bucketed k-NN JOIN — [[cosineTopKJoin]]'s scale path for big
    * corpora: each query probes only its `nprobe` nearest cells
    * instead of scanning everything. Same recall trade as [[ivfTopK]]
    * (exact at `nprobe = nlist`, approximate below). Two broadcast
    * joins + two bounded-heap aggregates, corpus never shuffles:
    * queries × centroids (tiny, broadcast) → per-query nearest cells
    * via [[graft.functions.TopKPairs]] → (query, cell) probe list
    * broadcasts into the assignment scan (partition-pruned when the
    * index is the persisted hive-partitioned layout) → per-query
    * top-k, again heap-combined map-side.
    */
  def ivfTopKJoin(
      index: IvfIndex, queries: DataFrame, qIdCol: String, qVecCol: String,
      idCol: String, vecCol: String, k: Int, nprobe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val np = math.min(nprobe, index.centroids.length)
    val centDf = index.centroids.zipWithIndex
      .map { case (c, i) => (i.toLong, c) }.toSeq.toDF("_cellc", "_cv")
    // nearest cells per query by squared L2: |q|²+|c|²−2q·c (the |q|²
    // term is constant per query — kept so the score is a true
    // distance, which costs nothing at nlist scale)
    val qCells = queries.select(col(qIdCol).as("_qid"), col(qVecCol).as("_qv"))
      .crossJoin(broadcast(centDf))
      .select(col("_qid"), col("_qv"), col("_cellc"),
        (dot(col("_qv"), col("_qv")) + dot(col("_cv"), col("_cv"))
          - lit(2.0) * dot(col("_qv"), col("_cv"))).as("_d2"))
      .groupBy("_qid")
      .agg(first(col("_qv")).as("_qv"),
        graft.functions.TopKPairs.topKPairs(col("_d2"), col("_cellc"), np).as("_nc"))
      .select(col("_qid"), col("_qv"),
        explode(col("_nc")).as("_p"))
      .select(col("_qid"), col("_qv"), col("_p.id").as("_probe"))
    index.assigned
      .join(broadcast(qCells), col("_cell").cast("long") === col("_probe"))
      .select(col("_qid"), col(idCol).cast("long").as("_cid"),
        round(cosine(col(vecCol), col("_qv")), 4).as("_cos"))
      .groupBy("_qid")
      .agg(graft.functions.TopKPairs
        .topKPairs(col("_cos"), col("_cid"), k, bestIsLargest = true).as("_top"))
      .select(col("_qid").as("q_id"), explode(col("_top")).as("_p"))
      .select(col("q_id"), col("_p.id").as("n_id"), col("_p.score").as("cos_sim"))
  }

  /** Auto-size the hyperplane count so bucket occupancy stays CONSTANT
    * as the corpus grows: 2^planes ≈ n / targetOccupancy. With fixed
    * planes, occupancy grows with n and the in-row pair generation is
    * quadratic in it — measured ×15 per data decade in the sf1 scaling
    * audit before this rule; with buckets ∝ n the pair work is
    * n·occupancy/2, i.e. linear. Clamped to [4, 24] (16 buckets floor;
    * 16M buckets is plenty past any realistic per-executor slice).
    */
  def planesFor(n: Long, targetOccupancy: Int = 32): Int = {
    val raw = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetOccupancy)) / math.log(2.0)).toInt
    math.min(24, math.max(4, raw))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public method):
    * SEMANTIC deduplication over embeddings. K-means bounds the
    * pairwise search to within-cluster comparisons (the paper's trick
    * for web-scale corpora — clusters follow the data's density, so
    * semantically-close pairs co-locate with better recall than
    * sign-pattern orthants at the same bucket count), then any member
    * whose cluster holds a SMALLER-id member with cosine >= threshold
    * is dropped — one deterministic representative survives per
    * semantic group (the min id, mirroring Dedup.dropNearDuplicates;
    * the paper keeps an arbitrary one).
    *
    * Pair testing is cell-local and in-row: collect the guarded cell,
    * test each member against its predecessors — the same two-shuffle
    * no-all-pairs shape as [[embeddingNearDups]], with k-means instead
    * of hyperplanes choosing the buckets. Cells above `maxCellSize`
    * walk in consecutive id-ordered BLOCKS of `maxCellSize` (r15 —
    * they used to skip pair generation entirely, zero recall in
    * exactly the hottest cells): the per-block cost ceiling is the
    * same hard bound, keep-first holds within each block, and only
    * cross-block pairs are traded — at 100 TB, raise `nlist` so
    * expected occupancy stays under the cap; identical-member cells
    * that big belong to exact dedup anyway.
    *
    * Returns the KEPT rows with their original schema.
    */
  def semanticDedup(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, nlist: Int = 0,
      maxCellSize: Int = 10000, seed: Long = 42L, maxIter: Int = 5,
      initMode: String = "random", expectedRows: Option[Long] = None): DataFrame = {
    // nlist <= 0 (the default) auto-sizes via [[cellsFor]] — scale-
    // routed (r14): occupancy-constant at bench scales, PINNED past
    // ~131k rows so the default assignment path stays linear (the
    // occupancy-constant rule made assignment O(n²d/64) by
    // construction — the r13 sweep's ×45.7 row). Pass expectedRows
    // (an estimate is fine) to skip the count() job.
    val k =
      if (nlist > 0) nlist
      else cellsFor(expectedRows.getOrElse(df.count()))
    // Clustering is the faiss/SemDeDup shape: fit centroids on a
    // deterministic SAMPLE driver-side (nobody Lloyd-iterates over
    // 100 TB — the fit only decides which vectors get COMPARED, a
    // recall dial, never correctness), then assign the full corpus in
    // one map-only pass via the codegen'd argmax(v·c − ‖c‖²/2)
    // expression (KMeans' own rule, first-index tie-break — the
    // ivfAppend formula). A distributed Spark ML fit would pay ~10
    // driver-coordinated jobs per call for the same bucketing.
    // Past ExprAssignMaxCells (an EXPLICIT nlist beyond the cellsFor
    // ceiling), fall back to the distributed ML fit.
    // The sample-fit + fused-assignment path is the fast one at any
    // auto-sized k — but its DRIVER footprint is k×dim-proportional
    // (64 chunk accumulators of k×dim doubles in localLloyd, plus the
    // collected sample), so the route checks the PRODUCT, not k alone:
    // a wide-embedding corpus at the 2^16 cell ceiling belongs on the
    // distributed ML fit. k ≤ 256 skips the dim probe job (any dim is
    // safe there).
    lazy val sampleFitFits = k <= 256 || {
      val dim = probeDim(df, vecCol)
      k.toLong * dim <= ExprAssignMaxKDim
    }
    if (k <= 1)
      dropWithinCells(df, idCol, vecCol,
        df.withColumn("_cell", lit(0)), threshold, maxCellSize)
    else if (k <= ExprAssignMaxCells && sampleFitFits)
      semanticDedupWith(df, idCol, vecCol,
        sampleCentroids(df, idCol, vecCol, k, maxIter), threshold, maxCellSize)
    else
      dropWithinCells(df, idCol, vecCol,
        ivfIndex(df, idCol, vecCol, k, seed, maxIter, initMode).assigned,
        threshold, maxCellSize)
  }

  /** [[semanticDedup]] against PREFITTED centroids — the paper's own
    * steady state (cluster once, sweep thresholds): one map-only
    * argmax assignment + the cell walk, no fit in the hot path.
    */
  def semanticDedupWith(
      df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], threshold: Double = 0.95,
      maxCellSize: Int = 10000): DataFrame = {
    // one fused argmax loop per row — NOT a k-element score array
    // (bit-identical assignment; see CentroidFunctions)
    val assigned = df.withColumn("_cell",
      graft.functions.CentroidFunctions.nearestCell(col(vecCol), centroids))
    dropWithinCells(df, idCol, vecCol, assigned, threshold, maxCellSize)
  }

  /** The cell walk: norms precomputed ONCE per item so the pair test
    * inside the walk is a single dot product — the walk runs
    * O(occupancy) tests per member, so per-test cost is the constant
    * that matters.
    */
  private[graft] def dropWithinCells(
      df: DataFrame, idCol: String, vecCol: String, assigned: DataFrame,
      threshold: Double, maxCellSize: Int,
      walkRouteBytes: Long = -1L): DataFrame = {
    val prepped = assigned
      .select(col(idCol).as("_id"), col(vecCol).as("_v"), col("_cell"))
      .withColumn("_nm", norm(col("_v")))
    // The cell walk is STATS-ROUTED (r14; threshold = `walkRouteBytes`
    // when >= 0, else spark.graft.cellWalkShuffleBytes, else
    // [[CellWalkShuffleBytes]]): below the threshold the
    // collect_list + native SemanticDrops shape is cheapest (two
    // codegen'd stages, no external iteration). Above it the
    // corpus-wide collect_list becomes the cost driver — every vector
    // boxed into per-cell list buffers at once (the same object-churn
    // mechanism as the r13 minhash bucket fix; measured as the
    // variance term of the sf100 hi point) — so the routed shape
    // streams instead: exchange on _cell (serialized rows, no object
    // buffers), sort within partitions by (_cell, _id) — the same
    // order array_sort imposed — and ONE pass that buffers a single
    // cell at a time (≤ maxCellSize rows, ~MBs) replaying the
    // IDENTICAL SemanticDrops pair walk (same left-to-right double
    // dot, same round(cos,4), same zero-norm equality rule,
    // spec-pinned route-equal). Memory per task: one cell, regardless
    // of corpus size.
    val drops =
      if (graft.Conf.underBytes(df, graft.Conf.CellWalkBytesKey,
          CellWalkShuffleBytes, walkRouteBytes))
        prepped
          .groupBy("_cell")
          .agg(collect_list(struct(col("_id"), col("_v"), col("_nm"))).as("_items"))
          .filter(size(col("_items")) >= 2)
          .withColumn("_sorted", array_sort(col("_items"))) // unique _id leads
          // native cell walk (SemanticDrops — the transform/exists/slice
          // chain it replaced was interpreted glue around every pair
          // test): drop x when an EARLIER sorted member y has
          // round(cos, 4) >= threshold; zero-norm pairs have no defined
          // cosine, but an IDENTICAL zero vector is still a duplicate
          // (exact equality ⇒ cosine 1 by continuity), anything else is
          // incomparable. Over-cap relief (r15, ADVICE): blockSize =
          // maxCellSize makes cells past the cap walk in consecutive
          // id-ordered BLOCKS inside the native expression — same hard
          // per-member cost ceiling, keep-first within each block,
          // only cross-block pairs traded (strictly more recall than
          // the pre-r15 whole-cell skip); an at-or-under-cap cell is
          // one block, identical to the pre-r15 walk. In-expression,
          // not an explode(transform(slice)) — those HOFs are
          // CodegenFallback and would re-interpret per block.
          .select(explode(graft.functions.SemanticDrops.dropsCol(
            col("_sorted"), threshold, maxCellSize)).as("_drop_id"))
      else streamedCellDrops(prepped, threshold, maxCellSize)
    df.join(drops, df(idCol) === drops("_drop_id"), "left_anti")
  }

  /** Input-size threshold (Catalyst plan stats, bytes) above which
    * [[dropWithinCells]] routes the cell walk through the streamed
    * shape. 16 MB of embeddings ≈ 60k float-64 vectors — the
    * collect_list shape stays comfortably allocation-bound below it
    * (the bench/oracle scales), and both fifth-decade profile points
    * land on the streamed route so the measured class is one shape's.
    */
  val CellWalkShuffleBytes: Long = 16L << 20

  /** The streamed cell walk: one buffered cell at a time, replaying
    * [[graft.functions.SemanticDrops.drops]]' exact pair semantics on
    * external rows (float/double vectors widen element-wise to double,
    * left-to-right accumulation, `round(cos,4) >= t`, zero-norm pairs
    * drop only on bitwise-equal vectors, null vector/norm members are
    * never dropped and never drop others). Cells above `maxCellSize`
    * flush in consecutive id-ordered blocks of `maxCellSize` — the
    * same blocks the collect_list route slices, so route parity holds
    * — and singleton cells have no pairs.
    */
  private def streamedCellDrops(
      prepped: DataFrame, threshold: Double, maxCellSize: Int): DataFrame = {
    import org.apache.spark.sql.Row
    val idType = prepped.schema("_id").dataType
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_drop_id", idType, nullable = true)))
    // fixed column positions for the row reader below
    val sorted = prepped
      .select(col("_id"), col("_v"), col("_nm"), col("_cell"))
      .repartition(col("_cell"))
      .sortWithinPartitions(col("_cell"), col("_id"))
    sorted.mapPartitions { rows =>
      new Iterator[Row] {
        private val out = scala.collection.mutable.Queue.empty[Row]
        private val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
        private var curCell: Any = null
        private var haveCell = false

        private def nmOf(r: Row): java.lang.Double =
          if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2))
        // One boxed decode per ROW, primitive arithmetic per PAIR: the
        // walk runs O(occupancy) pair tests per member, so per-test
        // cost is the constant that matters (boxed Seq access measured
        // ~6× the whole walk at the 2M-row decade). A member whose
        // vector is null or carries a null element has a null norm
        // (norm = sqrt(dot(v,v)) nulls through), so the native walk
        // skips it on the nms check — decoding such rows to null
        // reproduces that exactly; float elements widen to double
        // per-element (exact), accumulation stays left-to-right.
        private def decode(r: Row): Array[Double] = {
          if (r.isNullAt(1) || r.isNullAt(2)) return null
          val s = r.getSeq[Any](1)
          val m = s.length
          val a = new Array[Double](m)
          var j = 0
          while (j < m) {
            s(j) match {
              case f: java.lang.Float => a(j) = f.toDouble
              case d: java.lang.Double => a(j) = d.doubleValue()
              case _ => return null // null element ⇒ null norm upstream
            }
            j += 1
          }
          a
        }
        private def primEqual(a: Array[Double], b: Array[Double]): Boolean = {
          val m = a.length
          if (b.length != m) return false
          var j = 0
          while (j < m) {
            if (java.lang.Double.compare(a(j), b(j)) != 0) return false
            j += 1
          }
          true
        }
        private def flushCell(): Unit = {
          if (buf.length >= 2) {
            val n = buf.length
            val vecs = buf.map(decode).toArray
            val nms = buf.map(nmOf).toArray
            var i = 1
            while (i < n) {
              if (vecs(i) != null && nms(i) != null) {
                var hit = false
                var y = 0
                while (!hit && y < i) {
                  if (vecs(y) != null && nms(y) != null) {
                    val nn = nms(y).doubleValue() * nms(i).doubleValue()
                    if (nn == 0.0) {
                      hit = primEqual(vecs(y), vecs(i)) &&
                        graft.functions.SemanticDrops.round4AtLeast(1.0, threshold)
                    } else {
                      val a = vecs(y); val b = vecs(i)
                      val m = a.length
                      if (b.length == m) {
                        var s = 0.0
                        var j = 0
                        while (j < m) { s += a(j) * b(j); j += 1 }
                        hit = graft.functions.SemanticDrops
                          .round4AtLeast(s / nn, threshold)
                      }
                    }
                  }
                  y += 1
                }
                if (hit) out += Row(buf(i).get(0))
              }
              i += 1
            }
          }
          buf.clear()
        }
        private def pump(): Unit = {
          while (out.isEmpty && rows.hasNext) {
            val r = rows.next()
            val cell = r.get(3) // _cell
            if (!haveCell || cell != curCell) {
              if (haveCell) flushCell()
              curCell = cell; haveCell = true
            }
            buf += r
            // over-cap relief (r15): a full buffer flushes as one
            // id-ordered BLOCK and the cell continues into the next —
            // identical blocks to the collect_list route's slices
            // (both orders are (_cell, _id)), memory stays one block
            if (buf.length == maxCellSize) flushCell()
          }
          if (out.isEmpty && !rows.hasNext && haveCell) {
            flushCell(); haveCell = false
          }
        }
        override def hasNext: Boolean = { pump(); out.nonEmpty }
        override def next(): Row = { pump(); out.dequeue() }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Widest centroid set the sample-fit + in-row argmax path carries.
    * Historically 256: the assignment was an `array_position(array(k
    * dot-exprs))` whose expression tree grew with k and fell out of
    * codegen around there, so the distributed ML fit took over — and
    * at sf10's auto-sized k≈3k that fallback's ~10 driver-coordinated
    * jobs per fit owned ~17 of the query's 23 s. The assignment is now
    * ONE reference-object expression ([[graft.functions.NearestCellExpr]],
    * constant codegen size at any k) and the driver Lloyd fan-outs
    * across a fixed thread grid, so the bound now equals [[cellsFor]]'s
    * 2^16 ceiling — the sample-fit path covers every auto-sized k, and
    * the ML branch remains only for an EXPLICIT larger nlist.
    */
  val ExprAssignMaxCells = 1 << 16

  /** Driver-memory guard for the sample-fit route: localLloyd holds up
    * to 64 chunk accumulators of k×dim doubles, so the route requires
    * k·dim ≤ this (8.4M ⇒ ≤ ~4 GB of accumulators at the 64-chunk
    * grid; the 2^16 ceiling passes at dim 64/128, a 768-wide corpus
    * tops out near k=10k and larger fits take the distributed path).
    */
  val ExprAssignMaxKDim: Long = 1L << 23

  /** Default sample bound for [[sampleCentroids]]. */
  val CentroidSampleSize = 100000

  /** Deterministic sample fit: take the [[CentroidSampleSize]] rows
    * with the smallest md5(id) (a seedless pseudo-random but
    * REPRODUCIBLE sample — TakeOrdered, map-side partial top-k, no full
    * sort), run Lloyd locally. Empty clusters keep their previous
    * centroid; ties assign to the first index, matching KMeans.
    */
  private[graft] def sampleCentroids(
      df: DataFrame, idCol: String, vecCol: String, k: Int,
      maxIter: Int): Array[Array[Double]] = {
    val sample = df
      .select(col(vecCol).cast("array<double>").as("_v"),
        md5(col(idCol).cast("string")).as("_h"))
      .filter(col("_v").isNotNull)
      .orderBy("_h").limit(CentroidSampleSize)
      .collect()
      .map(_.getAs[scala.collection.Seq[Double]]("_v").toArray)
    require(sample.nonEmpty, "centroid fit: no non-null vectors to fit on")
    localLloyd(sample, math.min(k, sample.length), maxIter)
  }

  /** Plain Lloyd iterations on a driver-resident sample. Deterministic:
    * init = first k sample vectors (the sample order is md5-shuffled),
    * argmin ‖v−c‖² with first-index tie-break (computed as
    * argmin (‖c‖²/2 − v·c) — the ‖v‖² term is constant per row, the
    * same identity [[ivfAppend]] uses, and it cuts the inner loop to a
    * pure dot product).
    *
    * The assignment pass — O(sample × k × dim), the dominant cost of
    * every sample-fit at scale (the sf10 audit measured SemDeDup's
    * 100k×3k-cell fit owning most of the query) — fans out over a
    * FIXED 64-chunk grid of driver threads. Fixed grid, not
    * availableProcessors: each chunk accumulates its partial sums
    * sequentially and chunks merge in index order, so every double
    * addition happens in a machine-independent order and the centroids
    * are bit-reproducible on any box.
    */
  private[graft] def localLloyd(
      sample: Array[Array[Double]], k: Int, maxIter: Int): Array[Array[Double]] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val n = sample.length
    val dim = sample.head.length
    var centroids = sample.take(k).map(_.clone)
    val chunks = math.min(64, n)
    for (_ <- 0 until maxIter) {
      // ‖c‖²/2 once per centroid per iteration
      val half = centroids.map(c => { var s = 0.0; var j = 0
        while (j < dim) { s += c(j) * c(j); j += 1 }; s / 2 })
      val cents = centroids
      val parts = (0 until chunks).map { ci =>
        Future {
          val lo = (ci.toLong * n / chunks).toInt
          val hi = ((ci + 1).toLong * n / chunks).toInt
          val sums = Array.fill(k)(new Array[Double](dim))
          val counts = new Array[Long](k)
          var r = lo
          while (r < hi) {
            val v = sample(r)
            var best = 0; var bestD = Double.MaxValue
            var c = 0
            while (c < k) {
              val cent = cents(c)
              var dot = 0.0; var j = 0
              while (j < dim) { dot += v(j) * cent(j); j += 1 }
              val d = half(c) - dot
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            counts(best) += 1
            var j = 0
            while (j < dim) { sums(best)(j) += v(j); j += 1 }
            r += 1
          }
          (sums, counts)
        }
      }
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      // merge in chunk-index order — deterministic double addition
      parts.foreach { f =>
        val (ps, pc) = Await.result(f, Duration.Inf)
        var c = 0
        while (c < k) {
          counts(c) += pc(c)
          var j = 0
          while (j < dim) { sums(c)(j) += ps(c)(j); j += 1 }
          c += 1
        }
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old
        else sums(c).map(_ / counts(c))
      }
    }
    centroids
  }

  /** Auto-size the k-means cell count — SCALE-ROUTED (r14). Two costs
    * trade against each other in [[semanticDedup]]: the per-row
    * nearest-cell argmax is O(cells × dim) and the per-member cell
    * walk is O(occupancy). The pre-r14 rule kept occupancy constant
    * (cells ≈ n/64), which makes the ASSIGNMENT O(n²·d/64) by
    * construction — measured ×45.7 per data decade at the sf100 sweep
    * (SCALING.md r13), the one remaining by-construction quadratic
    * default. The published SemDeDup runs do the opposite: a FIXED
    * cluster count (~50k at LAION scale) with occupancy growing —
    * assignment linear, walk bounded by `maxCellSize`.
    *
    * Routed rule (continuous in n):
    *  - small corpus (cells ≤ [[PinnedCells]], i.e. n ≤ ~131k at the
    *    default occupancy): occupancy-constant, cells ≈ n/64 — the
    *    recall-optimal layout, and the bench/oracle scales land here
    *    unchanged;
    *  - past that: cells PIN at [[PinnedCells]] (assignment is linear
    *    in n again; occupancy grows with n — measured ~linear at the
    *    5M-row fifth decade) with a relief valve that resumes growing
    *    cells as n/[[ReliefOccupancy]] once expected occupancy would
    *    approach the `maxCellSize` walk guard, capped at 2^16.
    * Past the cap (n ≳ 10⁸ rows in one call) occupancy grows again —
    * pass `nlist` explicitly or shard the corpus and dedup per shard,
    * as the [[semanticDedup]] scaladoc directs.
    */
  def cellsFor(n: Long, targetOccupancy: Int = 64): Int = {
    val occupancyConstant =
      math.max(2, math.ceil(n.toDouble / targetOccupancy).toInt)
    val pinnedWithRelief = // Long-side min: a huge n must not wrap toInt
      math.max(PinnedCells, math.min(1L << 16, n / ReliefOccupancy).toInt)
    math.min(1 << 16, math.min(occupancyConstant, pinnedWithRelief))
  }

  /** Cell count [[cellsFor]] pins at once occupancy-constant sizing
    * would cross it — the SemDeDup fixed-k regime. 2048 cells keeps
    * the argmax at ~2k dots/row while expected occupancy stays under
    * [[ReliefOccupancy]] up to ~4M rows.
    */
  val PinnedCells: Int = 2048

  /** Expected occupancy at which the pinned band resumes growing
    * cells (n / this), so the cell walk stays well under the default
    * `maxCellSize` guard until the 2^16 cap.
    */
  val ReliefOccupancy: Long = 2048L

  /** All-pairs near-duplicates by embedding cosine: bucket join on the
    * LSH sign pattern (identical bucket ⇒ candidate), exact rerank.
    * The 100 TB shape for embedding dedup — never all-pairs.
    *
    * `numPlanes <= 0` (the default) auto-sizes via [[planesFor]] — the
    * scale-safe choice, since a FIXED plane count quietly goes
    * quadratic as the corpus outgrows its 2^planes buckets. Recall for
    * IDENTICAL vectors is 100% at any plane count (equal vectors share
    * every sign); more planes trades recall on merely-similar pairs
    * for bounded bucket cost, the standard LSH dial. Auto-sizing needs
    * the corpus size: pass `expectedRows` (an ESTIMATE is fine — the
    * plane count only moves by one per 2× error) to skip the count()
    * job, exactly as `dim` skips the width probe; the count stays as
    * the convenience fallback.
    */
  def embeddingNearDups(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, numPlanes: Int = 0, seed: Long = 42L,
      maxBucketSize: Int = 1000, dim: Option[Int] = None,
      expectedRows: Option[Long] = None): DataFrame = {
    // callers that know the embedding width pass it and skip a driver
    // probe job; the probes stay as the convenience fallback. When
    // BOTH the width and the row count must be probed, ONE full-scan
    // aggregate answers both — the separate head() + count() pair
    // costs a second driver job per call.
    lazy val probed = {
      val r = df.agg(first(size(col(vecCol)), ignoreNulls = true),
        count(lit(1))).head()
      (r.getInt(0), r.getLong(1))
    }
    val needN = numPlanes <= 0 && expectedRows.isEmpty
    val d = dim.getOrElse(
      if (needN) probed._1 else probeDim(df, vecCol))
    val nPlanes =
      if (numPlanes > 0) numPlanes
      else planesFor(expectedRows.getOrElse(probed._2))
    val planes = hyperplanes(nPlanes, d, seed)
    val bucketed = df.select(col(idCol).as("_id"), col(vecCol).as("_v"),
      bucketExpr(col(vecCol), planes).as("_bucket"))
    // Bucket-local pair generation with the degenerate-bucket guard
    // (same rationale as Dedup.minHashNearDups: an identical-embedding
    // cluster of B rows is B²/2 pairs — exact dedup's job; as with
    // simhash chunks, an over-full sign-pattern orthant of merely
    // SIMILAR vectors is also dropped — bounded recall loss for a hard
    // per-bucket cost ceiling, sized by the caller). Each
    // bucket collects its (id, vector) structs — bounded by the
    // guard — and pairs + the exact cosine rerank happen IN-ROW: two
    // shuffles total, no join.
    bucketed.groupBy("_bucket")
      .agg(collect_list(struct(col("_id"), col("_v"))).as("_items"))
      .filter(size(col("_items")).between(2, maxBucketSize))
      .withColumn("_sorted", array_sort(col("_items"))) // unique _id leads
      // native pair walk (ArrayPairs); the cosine moves OUT of the
      // (formerly interpreted) lambda into a codegen'd projection
      .select(explode(graft.functions.ArrayPairs.orderedPairsCol(
        col("_sorted"))).as("p"))
      .select(col("p.a._id").as("id_a"), col("p.b._id").as("id_b"),
        round(cosine(col("p.a._v"), col("p.b._v")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }
}
