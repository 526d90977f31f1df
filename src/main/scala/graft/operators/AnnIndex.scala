package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{BqFunctions, PqFunctions, SqFunctions, TopKPairs, VectorFunctions}
import graft.operators.{Bq => BqFit, Pq => PqFit, Sq => SqFit}

/** The compressed-ANN index, composed faiss `index_factory`-style
  * (Johnson, Douze & Jégou 2017): a saved index is a COARSE stage ×
  * a CODEC.
  *
  *  - coarse = [[Flat]] (every code is scanned) or [[Ivf]] (k-means
  *    cells; the code table is hive-partitioned by `_cell`, so a probe
  *    reads only the `nprobe` nearest cells' directories — which rows);
  *  - codec = [[Pq]] (PQ, or OPQ when the model carries a rotation;
  *    nsub bytes/row), [[Sq8]] (one byte per dim) or [[Bq]] (one bit
  *    per dim) — which bytes per row.
  *
  * A codec only encodes a vector and scores a code against a query
  * (lower = closer); everything else is shared here: the `codes/`
  * layout (id, `_code` [, `_cell`]), the `_model.txt` and
  * `_centroids.txt` sidecars ([[ModelSidecar]] — driver-side files, so
  * loading a model schedules no Spark job), the IVF cell ranking, the
  * pool → exact-cosine rerank tail, and the dial walk (`pool`, plus
  * `nprobe` when the index has cells).
  *
  * Every search ends in the exact cosine of the ORIGINAL vectors, so
  * the code only decides which `pool` candidates are reranked: with
  * `pool` ≥ corpus (and every cell probed) the result EQUALS
  * [[Similarity.cosineTopK]] — the oracle configuration. Output
  * contract: `cos_sim` rounded to 4, id tiebreak.
  */
object AnnIndex {

  sealed trait Coarse
  case object Flat extends Coarse
  /** IVF cells, fit as [[Similarity.ivfIndex]] fits them. */
  final case class Ivf(nlist: Int = 16, maxIter: Int = 10,
      initMode: String = "k-means||", seed: Long = 42L) extends Coarse

  sealed trait Codec {
    def encode(vec: Column): Column
    /** Distance of a code column to one query (lower = closer). */
    def score(code: Column, query: Array[Float]): Column
    /** [[score]] against the `qIdx`-th of a query batch: the k-NN join
      * scores every query in one scan of the codes. */
    def scoreBatch(code: Column, qIdx: Column, queries: Array[Array[Float]]): Column
    /** The `_model.txt` sidecar content: the codec's whole identity. */
    private[operators] def props: Map[String, String]
    private[operators] def matrices: Seq[(String, Array[Array[Double]])]
  }

  /** Product quantization (Jégou 2011): ADC table lookups. */
  final case class Pq(model: PqFit.PqModel) extends Codec {
    def encode(vec: Column): Column = PqFunctions.pqEncode(vec,
      model.codebooks, model.normalize, model.rotation.orNull)
    def score(code: Column, query: Array[Float]): Column =
      PqFunctions.pqAdc(code, PqFit.adcTable(query, model), model.nsub, model.k)
    def scoreBatch(code: Column, qIdx: Column, queries: Array[Array[Float]]): Column =
      PqFunctions.pqAdcBatch(code, qIdx, queries.map(PqFit.adcTable(_, model)),
        model.nsub, model.k)
    private[operators] def props: Map[String, String] =
      Map("family" -> "pq", "normalize" -> model.normalize.toString)
    private[operators] def matrices: Seq[(String, Array[Array[Double]])] =
      model.codebooks.indices.map(s => s"cb$s" -> model.codebooks(s)) ++
        model.rotation.map("rotation" -> _)
  }

  /** SQ8: a uniform per-dim grid is PQ with nsub = dim and 256 evenly
    * spaced 1-d centroids, so it scores through the same ADC kernels. */
  final case class Sq8(model: SqFit.SqModel) extends Codec {
    def encode(vec: Column): Column =
      SqFunctions.sqEncode(vec, model.mins, model.scales, model.normalize)
    def score(code: Column, query: Array[Float]): Column =
      PqFunctions.pqAdc(code, SqFit.adcTable(query, model), model.dim, 256)
    def scoreBatch(code: Column, qIdx: Column, queries: Array[Array[Float]]): Column =
      PqFunctions.pqAdcBatch(code, qIdx, queries.map(SqFit.adcTable(_, model)),
        model.dim, 256)
    private[operators] def props: Map[String, String] =
      Map("family" -> "sq", "normalize" -> model.normalize.toString)
    private[operators] def matrices: Seq[(String, Array[Array[Double]])] =
      Seq("mins" -> Array(model.mins), "scales" -> Array(model.scales))
  }

  /** BQ: sign bits scored by XOR + popcount Hamming. */
  final case class Bq(model: BqFit.BqModel) extends Codec {
    def encode(vec: Column): Column =
      BqFunctions.bqEncode(vec, model.thresholds, model.normalize)
    def score(code: Column, query: Array[Float]): Column = {
      val q = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        query.map(_.toDouble))
      BqFunctions.bqHamming(code, BqFunctions.encode(q, 0,
        org.apache.spark.sql.types.DoubleType, model.thresholds, model.normalize))
        .cast("double")
    }
    def scoreBatch(code: Column, qIdx: Column, queries: Array[Array[Float]]): Column =
      throw new IllegalArgumentException("bq: searchJoin needs a batch " +
        "Hamming kernel, which does not exist yet — search per query, or " +
        "index the corpus with a Pq or Sq8 codec")
    private[operators] def props: Map[String, String] =
      Map("family" -> "bq", "normalize" -> model.normalize.toString)
    private[operators] def matrices: Seq[(String, Array[Array[Double]])] =
      Seq("thresholds" -> Array(model.thresholds))
  }

  private val ModelFile = "_model.txt"

  /** Encode `df` once and write the index at `path`, replacing any
    * index there. The codec's model is the index identity: appends
    * encode against it, never re-fit.
    */
  def build(df: DataFrame, idCol: String, vecCol: String, path: String,
      codec: Codec, coarse: Coarse = Flat): Unit = {
    val spark = df.sparkSession
    coarse match {
      case Flat => writeCodes(df, idCol, vecCol, codec, None, path, "overwrite")
      case Ivf(nlist, maxIter, initMode, seed) =>
        val idx = Similarity.ivfIndex(df, idCol, vecCol, nlist, seed, maxIter, initMode)
        writeCodes(idx.assigned, idCol, vecCol, codec, Some(idx.centroids.length),
          path, "overwrite")
        Similarity.saveCentroids(spark, path, idx.centroids)
    }
    ModelSidecar.write(spark, path, ModelFile, codec.props, codec.matrices)
  }

  /** Append a new batch under the SAVED model (and, with cells, the
    * saved centroids: each row lands in its nearest cell's directory),
    * one map-only pass; probes see old and new rows alike.
    */
  def append(df: DataFrame, idCol: String, vecCol: String, path: String): Unit = {
    val spark = df.sparkSession
    val codec = loadCodec(spark, path)
    cells(spark, path) match {
      case None => writeCodes(df, idCol, vecCol, codec, None, path, "append")
      case Some(c) =>
        writeCodes(df.withColumn("_cell",
            graft.functions.CentroidFunctions.nearestCell(col(vecCol), c)),
          idCol, vecCol, codec, Some(c.length), path, "append")
    }
  }

  private def writeCodes(rows: DataFrame, idCol: String, vecCol: String,
      codec: Codec, nCells: Option[Int], path: String, mode: String): Unit = {
    val coded = rows.withColumn("_code", codec.encode(col(vecCol)))
    val writer = nCells match {
      case None => coded.select(col(idCol), col("_code")).write
      case Some(n) => coded.select(col(idCol), col("_code"), col("_cell"))
        .repartition(Similarity.indexWriters(n), col("_cell"))
        .write.partitionBy("_cell")
    }
    writer.mode(mode).parquet(s"$path/codes")
  }

  /** Top-k of one query: score the codes (only the `nprobe` nearest
    * cells' when the index has cells), keep the `pool` best, rerank
    * those rows' true vectors from `corpus` by exact cosine.
    */
  def search(spark: SparkSession, path: String, corpus: DataFrame,
      idCol: String, vecCol: String, query: Array[Float], k: Int,
      pool: Int = 1024, nprobe: Int = 4): DataFrame = {
    require(pool >= k, s"ann: pool=$pool must be ≥ k=$k")
    val codec = loadCodec(spark, path)
    val all = spark.read.parquet(s"$path/codes")
    val codes = cells(spark, path).fold(all)(c => all.filter(col("_cell")
      .isin(Similarity.nearestCells(c, query, nprobe).toSeq: _*)))
    // nulls LAST: a null code (null vector upstream) must never crowd
    // real candidates out of the pool
    val cand = codes.select(col(idCol), codec.score(col("_code"), query).as("_adc"))
      .filter(col("_adc").isNotNull)
      .orderBy(col("_adc").asc, col(idCol).asc)
      .limit(pool)
      .select(col(idCol).as("_cand_id"))
    corpus.join(broadcast(cand), col(idCol) === col("_cand_id"))
      .select(col(idCol), round(VectorFunctions.cosineConst(col(vecCol),
        query.map(_.toDouble)), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** k-NN JOIN (the batch shape of [[search]]; same output contract as
    * [[Similarity.cosineTopKJoin]], which it equals at `pool` ≥
    * corpus): ONE scan of every code scores the whole query batch,
    * per-query pools reduce through the bounded-heap pair aggregate,
    * and only pool members' true vectors are fetched for the exact
    * rerank. The batch collects to the driver (its scoring tables are
    * the broadcast), capped at [[MaxJoinQueries]]; corpus-scale batches
    * belong on the IVF/LSH bucket joins.
    */
  def searchJoin(spark: SparkSession, path: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      corpus: DataFrame, cIdCol: String, cVecCol: String,
      k: Int, pool: Int = 1024): DataFrame = {
    import spark.implicits._
    require(pool >= k, s"ann: pool=$pool must be ≥ k=$k")
    val codec = loadCodec(spark, path)
    val codes = spark.read.parquet(s"$path/codes")
    val qRowsAll = graft.Conf.collectUpTo(queries
        .select(col(qIdCol).as("_qid"), col(qVecCol).cast("array<float>").as("_qv")),
        MaxJoinQueries)
      .getOrElse(throw new IllegalArgumentException(
        s"ann: query batch exceeds $MaxJoinQueries — for corpus-scale " +
          "retrieval use the IVF/LSH bucket joins instead of a broadcast batch"))
    require(qRowsAll.nonEmpty, "ann: empty query batch")
    // null-vector queries return no neighbors, as in cosineTopKJoin
    val qRows = qRowsAll.filter(!_.isNullAt(1))
    if (qRows.isEmpty)
      return Seq.empty[(Long, Long, Double)].toDF("q_id", "n_id", "cos_sim")
        .withColumn("q_id", col("q_id").cast(queries.schema(qIdCol).dataType))
    val score = codec.scoreBatch(col("_code"), col("_qidx"),
      qRows.map(_.getAs[scala.collection.Seq[Float]]("_qv").toArray))
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val qMeta = spark.createDataFrame(
      spark.sparkContext.parallelize(qRows.zipWithIndex.toSeq.map { case (r, i) =>
        org.apache.spark.sql.Row(i, r.get(0)) }, 1),
      StructType(Seq(StructField("_qidx", IntegerType, nullable = false),
        StructField("_qid", queries.schema(qIdCol).dataType))))
    val pooled = codes
      .crossJoin(broadcast(qMeta))
      .select(col("_qid"), col(cIdCol).cast("long").as("_cid"), score.as("_adc"))
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

  /** Query-batch bound for [[searchJoin]] (PQ tables are ~nsub·k·8 B
    * each — 10k queries ≈ 10 MB broadcast at the defaults).
    */
  val MaxJoinQueries = 10000

  /** [[search]] at the index's saved operating point
    * ([[AnnTune.savePoint]]); raises when there is none, or when it
    * lacks a dial this index needs.
    */
  def searchTuned(spark: SparkSession, path: String, corpus: DataFrame,
      idCol: String, vecCol: String, query: Array[Float], k: Int): DataFrame = {
    val dials = "pool" +: cells(spark, path).map(_ => "nprobe").toSeq
    val s = AnnTune.requirePoint(spark, path, AnnTune.PointSidecar, dials: _*)
    search(spark, path, corpus, idCol, vecCol, query, k, s("pool"),
      s.getOrElse("nprobe", 0))
  }

  /** [[searchJoin]] at the index's saved JOIN operating point. */
  def searchJoinTuned(spark: SparkSession, path: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      corpus: DataFrame, cIdCol: String, cVecCol: String, k: Int): DataFrame =
    searchJoin(spark, path, queries, qIdCol, qVecCol, corpus, cIdCol, cVecCol, k,
      AnnTune.requirePoint(spark, path, AnnTune.JoinPointSidecar, "pool")("pool"))

  /** The cheapest (nprobe, pool) whose [[search]] recall@k on the
    * holdout reaches `target` ([[AnnTune.tune]]). Pool candidates below
    * k are skipped; with cells, nprobe doubles up to nlist and the
    * joint grid walks in nprobe×pool cost order.
    */
  def tune(spark: SparkSession, path: String, corpus: DataFrame,
      idCol: String, vecCol: String, target: Double, k: Int = 10,
      nQueries: Int = 20,
      pools: Seq[Int] = AnnTune.doubling(8192)): AnnTune.OperatingPoint = {
    val qs = AnnTune.holdout(corpus, idCol, vecCol, nQueries)
    val truth = AnnTune.groundTruth(corpus, idCol, vecCol, qs, k)
    AnnTune.tune(dials(pools, k, cells(spark, path).map(_.length)),
        qs, truth, idCol, k, target) { s => v =>
      search(spark, path, corpus, idCol, vecCol, v, k, s("pool"),
        s.getOrElse("nprobe", 0))
    }
  }

  /** [[tune]] at join granularity: one [[searchJoin]] per pool against
    * the brute-force join ground truth. The join scans every cell, so
    * `pool` is its only dial.
    */
  def tuneJoin(spark: SparkSession, path: String, corpus: DataFrame,
      idCol: String, vecCol: String, target: Double, k: Int = 10,
      nQueries: Int = 20,
      pools: Seq[Int] = AnnTune.doubling(8192)): AnnTune.OperatingPoint = {
    val qs = AnnTune.holdoutDf(corpus, idCol, vecCol, nQueries)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val truth = AnnTune.joinTruth(qs, corpus, idCol, vecCol, k)
      AnnTune.tuneJoin(dials(pools, k, None), truth, target) { s =>
        searchJoin(spark, path, qs, "_hq_id", "_hq_v", corpus, idCol, vecCol,
          k, s("pool"))
      }
    } finally { qs.unpersist(); () }
  }

  private def dials(pools: Seq[Int], k: Int, nlist: Option[Int]): Seq[Map[String, Int]] = {
    val probes = nlist.fold(Seq(Map.empty[String, Int]))(n =>
      AnnTune.doubling(n).map(np => Map("nprobe" -> np)))
    val grid = for (np <- probes; p <- pools.sorted if p >= k) yield np + ("pool" -> p)
    val cost = (s: Map[String, Int]) => s.getOrElse("nprobe", 1)
    grid.sortBy(s => (cost(s).toLong * s("pool"), cost(s)))
  }

  private def cells(spark: SparkSession, path: String): Option[Array[Array[Double]]] =
    if (ModelSidecar.exists(spark, path, Similarity.CentroidsFile))
      Some(Similarity.loadCentroids(spark, path))
    else None

  private[operators] def loadCodec(spark: SparkSession, path: String): Codec = {
    val (props, mats) = ModelSidecar.read(spark, path, ModelFile)
    val normalize = props("normalize").toBoolean
    props("family") match {
      case "pq" =>
        val codebooks = Array.tabulate(
          mats.keys.count(_.startsWith("cb")))(s => mats(s"cb$s"))
        Pq(PqFit.PqModel(codebooks.length, codebooks.map(_.length).max,
          codebooks(0)(0).length, normalize, codebooks, mats.get("rotation")))
      case "sq" => Sq8(SqFit.SqModel(mats("mins")(0), mats("scales")(0), normalize))
      case "bq" => Bq(BqFit.BqModel(mats("thresholds")(0), normalize))
      case f => throw new IllegalArgumentException(s"$path: unknown codec family '$f'")
    }
  }
}
