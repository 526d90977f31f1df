package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}
import graft.functions.{BqFunctions, PqFunctions, SqFunctions, TopKPairs, VectorFunctions}
import graft.operators.{Bq => BqFit, Pq => PqFit, Sq => SqFit}

/** The ANN index, composed faiss `index_factory`-style (Johnson, Douze
  * & Jégou 2017): a saved index is a COARSE stage × a CODEC.
  *
  *  - coarse = [[Flat]] (every code is scanned), [[Ivf]] (k-means
  *    cells) or [[Lsh]] (random-hyperplane sign-pattern buckets, the
  *    buckets of [[Similarity.bucketExpr]]). With cells the code table
  *    is hive-partitioned by `_cell`, so a probe reads only the probed
  *    cells' directories — which rows;
  *  - codec = [[Raw]] (the code is the row itself: every build column,
  *    vectors and payload both), [[Pq]] (PQ, or OPQ when the model
  *    carries a rotation; nsub bytes/row), [[Sq8]] (one byte per dim)
  *    or [[Bq]] (one bit per dim) — which bytes per row.
  *
  * A compressed codec only encodes a vector and scores a code against
  * a query (lower = closer); everything else is shared here: the
  * `codes/` layout (id and `_code`, or every build column for [[Raw]];
  * `_cell` with cells), the `_model.txt`, `_centroids.txt` and
  * `_planes.txt` sidecars ([[ModelSidecar]] — driver-side files, so
  * loading an index schedules no Spark job), the cell probe lists,
  * the exact-cosine tail and the dial walk.
  *
  * Every search ends in the exact cosine of the ORIGINAL vectors: a
  * [[Raw]] index scores them directly; a compressed code only decides
  * which `pool` candidates are reranked. With every cell probed (and,
  * compressed, `pool` ≥ corpus) the result EQUALS
  * [[Similarity.cosineTopK]] — the oracle configuration. Output
  * contract: `cos_sim` rounded to 4, id tiebreak.
  */
object AnnIndex {

  sealed trait Coarse
  case object Flat extends Coarse
  /** IVF cells, fit as [[Similarity.ivfFit]] fits them. A probe reads
    * the `nprobe` cells whose centroids are nearest the query. */
  final case class Ivf(nlist: Int = 16, maxIter: Int = 10,
      initMode: String = "k-means||", seed: Long = 42L) extends Coarse
  /** LSH buckets: the sign pattern of `numPlanes` random hyperplanes
    * ([[Similarity.hyperplanes]]) — the planes are the index identity
    * and live in the `_planes.txt` sidecar. A probe reads every bucket
    * within Hamming radius `nprobe` of the query's bucket (0 = its own
    * bucket only; `numPlanes` = every bucket). */
  final case class Lsh(numPlanes: Int = 8, seed: Long = 42L) extends Coarse {
    Similarity.requirePlanes(numPlanes)
  }

  sealed trait Codec {
    /** The `_model.txt` sidecar content: the codec's whole identity. */
    private[operators] def props: Map[String, String]
    private[operators] def matrices: Seq[(String, Array[Array[Double]])]
  }

  /** No compression: the codes table keeps every build column, so a
    * search scores the stored vectors by exact cosine (no pool, no
    * rerank join) and a `where` predicate can read any payload column
    * (filtered ANN). */
  case object Raw extends Codec {
    private[operators] def props: Map[String, String] = Map("family" -> "raw")
    private[operators] def matrices: Seq[(String, Array[Array[Double]])] = Nil
  }

  /** A compressed codec: scans codes, reranks a `pool` of candidates. */
  sealed trait Quantizer extends Codec {
    def encode(vec: Column): Column
    /** Distance of a code column to one query (lower = closer). */
    def score(code: Column, query: Array[Float]): Column
    /** [[score]] against the `qIdx`-th of a query batch: the k-NN join
      * scores every query in one scan of the codes. */
    def scoreBatch(code: Column, qIdx: Column, queries: Array[Array[Float]]): Column
  }

  /** Product quantization (Jégou 2011): ADC table lookups. */
  final case class Pq(model: PqFit.PqModel) extends Quantizer {
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
  final case class Sq8(model: SqFit.SqModel) extends Quantizer {
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
  final case class Bq(model: BqFit.BqModel) extends Quantizer {
    def encode(vec: Column): Column =
      BqFunctions.bqEncode(vec, model.thresholds, model.normalize)
    def score(code: Column, query: Array[Float]): Column =
      BqFunctions.bqHamming(code, queryCode(query)).cast("double")
    def scoreBatch(code: Column, qIdx: Column, queries: Array[Array[Float]]): Column =
      BqFunctions.bqHammingBatch(code, qIdx, queries.map(queryCode)).cast("double")
    private def queryCode(query: Array[Float]): Array[Byte] = BqFunctions.encode(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(query.map(_.toDouble)),
      org.apache.spark.sql.types.DoubleType, model.thresholds, model.normalize)
    private[operators] def props: Map[String, String] =
      Map("family" -> "bq", "normalize" -> model.normalize.toString)
    private[operators] def matrices: Seq[(String, Array[Array[Double]])] =
      Seq("thresholds" -> Array(model.thresholds))
  }

  /** A saved coarse stage: the cell a row lands in, the cells a query
    * probes, and its sidecar. `nprobe` clamps to `full`, the width at
    * which every cell is read.
    */
  private sealed abstract class Cells(val count: Int, val full: Int,
      val file: String, name: String, geometry: Array[Array[Double]]) {
    def dim: Int = geometry.head.length
    def sidecar: Seq[(String, Array[Array[Double]])] = Seq(name -> geometry)
    def assign(vec: Column): Column
    /** `nprobe` validated (naming the dial) and clamped to `full`. */
    def width(nprobe: Int): Int
    /** The widths a tuner walks, and the cells one width reads. */
    def grid: Seq[Int]
    def cost(width: Int): Long
    /** The cells one query probes at a width below `full`. */
    def probes(q: Array[Float], width: Int): Seq[Int]
    /** (_qid, _qv) → (_qid, _qv, _probe: long) on executors: the probe
      * list of a join whose batch never reaches the driver. */
    def probeRows(qs: DataFrame, width: Int): DataFrame
  }

  private val CentroidsFile = "_centroids.txt"
  private val PlanesFile = "_planes.txt"

  private final class IvfCells(centroids: Array[Array[Double]]) extends Cells(
      centroids.length, centroids.length, CentroidsFile, "centroids", centroids) {
    def assign(vec: Column): Column =
      graft.functions.CentroidFunctions.nearestCell(vec, centroids)
    def width(nprobe: Int): Int = {
      require(nprobe >= 1, s"ann: nprobe=$nprobe must be ≥ 1 — an IVF probe " +
        "of no cells returns nothing")
      math.min(nprobe, count)
    }
    def grid: Seq[Int] = AnnTune.doubling(count)
    def cost(width: Int): Long = width
    /** The nearest cells by squared L2, driver-side. */
    def probes(q: Array[Float], width: Int): Seq[Int] = {
      def dist2(c: Array[Double]): Double =
        c.indices.map(j => { val d = c(j) - q(j); d * d }).sum
      centroids.indices.sortBy(i => dist2(centroids(i))).take(width)
    }
    /** Queries × centroids (tiny, broadcast) → the `width` nearest cells
      * per query through the bounded-heap pair aggregate. Squared L2 as
      * |q|²+|c|²−2q·c (the |q|² term is constant per query — kept so
      * the score is a true distance, which costs nothing at nlist
      * scale). */
    def probeRows(qs: DataFrame, width: Int): DataFrame = {
      import VectorFunctions.dot
      val spark = qs.sparkSession
      import spark.implicits._
      val centDf = centroids.zipWithIndex
        .map { case (c, i) => (i.toLong, c) }.toSeq.toDF("_cellc", "_cv")
      qs.crossJoin(broadcast(centDf))
        .select(col("_qid"), col("_qv"), col("_cellc"),
          (dot(col("_qv"), col("_qv")) + dot(col("_cv"), col("_cv"))
            - lit(2.0) * dot(col("_qv"), col("_cv"))).as("_d2"))
        .groupBy("_qid")
        .agg(first(col("_qv")).as("_qv"),
          TopKPairs.topKPairs(col("_d2"), col("_cellc"), width).as("_nc"))
        .select(col("_qid"), col("_qv"), explode(col("_nc")).as("_p"))
        .select(col("_qid"), col("_qv"), col("_p.id").as("_probe"))
    }
  }

  private final class LshCells(planes: Array[Array[Double]]) extends Cells(
      1 << planes.length, planes.length, PlanesFile, "planes", planes) {
    Similarity.requirePlanes(planes.length)
    def assign(vec: Column): Column = Similarity.bucketExpr(vec, planes)
    def width(nprobe: Int): Int = {
      require(nprobe >= 0, s"ann: nprobe=$nprobe must be ≥ 0 — it is the " +
        "LSH probe's Hamming radius")
      math.min(nprobe, full)
    }
    /** Every radius from 0; a radius reads Σ_{i ≤ r} C(p, i) buckets. */
    def grid: Seq[Int] = 0 to full
    def cost(width: Int): Long =
      (0 until width).scanLeft(1L)((c, i) => c * (full - i) / (i + 1)).sum
    def probes(q: Array[Float], width: Int): Seq[Int] =
      Similarity.hammingBall(Similarity.bucketOf(q, planes), full, width).toSeq
    /** Each query's bucket XOR every ≤ width-bit flip mask. */
    def probeRows(qs: DataFrame, width: Int): DataFrame = {
      val masks = array(Similarity.hammingBall(0, full, width).map(lit).toSeq: _*)
      qs.select(col("_qid"), col("_qv"), explode(masks).as("_m"))
        .select(col("_qid"), col("_qv"),
          (col("_m") bitwiseXOR Similarity.bucketExpr(col("_qv"), planes))
            .cast("long").as("_probe"))
    }
  }

  private val ModelFile = "_model.txt"

  /** Encode `df` once and write the index at `path`, replacing any
    * index there. The codec's model and the coarse geometry (centroids
    * or planes) are the index identity: appends use them, never re-fit.
    * `dim` (the embedding width) lets an [[Lsh]] build skip its
    * width-probe job.
    */
  def build(df: DataFrame, idCol: String, vecCol: String, path: String,
      codec: Codec, coarse: Coarse = Flat, dim: Option[Int] = None): Unit = {
    val spark = df.sparkSession
    val (rows, cells) = coarse match {
      case Flat => (df, None)
      case Ivf(nlist, maxIter, initMode, seed) =>
        val (assigned, centroids) =
          Similarity.ivfFit(df, idCol, vecCol, nlist, seed, maxIter, initMode)
        (assigned, Some(new IvfCells(centroids)))
      case Lsh(numPlanes, seed) =>
        val c = new LshCells(Similarity.hyperplanes(numPlanes,
          dim.getOrElse(Similarity.probeDim(df, vecCol)), seed))
        (df.withColumn("_cell", c.assign(col(vecCol))), Some(c))
    }
    val schema = writeCodes(rows, idCol, vecCol, codec, cells, path, "overwrite")
    cells.foreach(c => ModelSidecar.write(spark, path, c.file, Map.empty, c.sidecar))
    writeModel(spark, path, codec, schema)
  }

  /** `_model.txt`: the codec, the codes-table schema and a fresh
    * `stamp` — build and append both rewrite it, so [[load]] tells a
    * changed index from the one it holds. */
  private def writeModel(spark: SparkSession, path: String, codec: Codec,
      schema: StructType): Unit =
    ModelSidecar.write(spark, path, ModelFile, codec.props + ("schema" -> schema.json) +
      ("stamp" -> java.util.UUID.randomUUID.toString), codec.matrices)

  /** Append a new batch under the SAVED model and geometry (each row
    * lands in its cell's directory), one map-only pass; probes see old
    * and new rows alike. Layout law for a [[Raw]] index: a batch must
    * carry every saved column (missing ones raise — their rows would
    * read null; extras are projected away), and a one-row dimension
    * check against the saved geometry catches a wrong embedding column.
    */
  def append(df: DataFrame, idCol: String, vecCol: String, path: String): Unit = {
    val saved = load(df.sparkSession, path)
    val rows = saved.codec match {
      case Raw =>
        val expect = saved.schema.fieldNames.filterNot(_ == "_cell")
        val missing = expect.filterNot(df.columns.contains)
        require(missing.isEmpty, s"ann append batch is missing saved-layout column(s) " +
          s"${missing.mkString(", ")} — the index at $path carries (${expect.mkString(", ")})")
        saved.cells.foreach { c =>
          df.select(size(col(vecCol))).take(1).foreach { r =>
            if (!r.isNullAt(0)) require(r.getInt(0) == c.dim,
              s"ann append batch vector dimension ${r.getInt(0)} != index dimension ${c.dim}")
          }
        }
        df.select(expect.map(col).toIndexedSeq: _*)
      case _ => df
    }
    writeCodes(saved.cells.fold(rows)(c => rows.withColumn("_cell", c.assign(col(vecCol)))),
      idCol, vecCol, saved.codec, saved.cells, path, "append")
    writeModel(df.sparkSession, path, saved.codec, saved.schema)
  }

  /** Write the codes table; returns its schema (`_cell` last, as a
    * partitioned read yields it). */
  private def writeCodes(rows: DataFrame, idCol: String, vecCol: String,
      codec: Codec, cells: Option[Cells], path: String, mode: String): StructType = {
    val cell = cells.map(_ => col("_cell")).toSeq
    val stored = codec match {
      case Raw => rows.select(rows.columns.filterNot(_ == "_cell").map(col).toSeq ++ cell: _*)
      case q: Quantizer =>
        rows.select(Seq(col(idCol), q.encode(col(vecCol)).as("_code")) ++ cell: _*)
    }
    val writer = cells match {
      case None => stored.write
      case Some(c) => stored.repartition(indexWriters(c.count), col("_cell"))
        .write.partitionBy("_cell")
    }
    writer.mode(mode).parquet(s"$path/codes")
    stored.schema
  }

  /** Writer parallelism for a cell-partitioned write: one shuffle
    * partition per partition DIRECTORY (capped at 4096 — more dirs than
    * that is a layout problem, not a parallelism one). A keyless
    * `repartition(col)` lets AQE coalesce the tiny pre-write exchange
    * into ONE task, serializing the whole multi-directory write
    * (measured r16: 0.72 → 0.48 s on the 32-bucket LSH build); pinning
    * the count keeps one writer per directory at every scale.
    */
  private def indexWriters(nDirs: Int): Int = math.max(1, math.min(nDirs, 1 << 12))

  /** Top-k of one query: read the codes (only the probed cells'), keep
    * the rows passing `where`, and rank by exact cosine — directly for
    * [[Raw]] (which ignores `corpus` and `pool`); a compressed codec
    * first keeps its `pool` best codes and fetches their vectors from
    * `corpus`.
    *
    * `where` is FILTERED ANN with pre-filter semantics (top-k AMONG the
    * matches, not top-k then filter). It evaluates over the stored
    * columns — every build column for [[Raw]], the id otherwise —
    * inside the pruned probe scan, pushed to the parquet reader.
    */
  def search(spark: SparkSession, path: String, corpus: DataFrame,
      idCol: String, vecCol: String, query: Array[Float], k: Int,
      pool: Int = 1024, nprobe: Int = 4, where: Option[Column] = None): DataFrame = {
    val saved = load(spark, path)
    val all = saved.codes
    val probed = saved.cells.fold(all) { c =>
      val w = c.width(nprobe)
      if (w == c.full) all else all.filter(col("_cell").isin(c.probes(query, w): _*))
    }
    val codes = where.fold(probed)(probed.filter)
    val scored = saved.codec match {
      case Raw => codes
      case q: Quantizer =>
        require(pool >= k, s"ann: pool=$pool must be ≥ k=$k")
        // nulls LAST: a null code (null vector upstream) must never
        // crowd real candidates out of the pool
        val cand = codes.select(col(idCol), q.score(col("_code"), query).as("_adc"))
          .filter(col("_adc").isNotNull)
          .orderBy(col("_adc").asc, col(idCol).asc)
          .limit(pool)
          .select(col(idCol).as("_cand_id"))
        corpus.join(broadcast(cand), col(idCol) === col("_cand_id"))
    }
    scored.select(col(idCol), round(VectorFunctions.cosineConst(col(vecCol),
        query.map(_.toDouble)), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** k-NN JOIN (the batch shape of [[search]]; same output contract as
    * [[Similarity.cosineTopKJoin]], which it equals with every cell
    * probed and, compressed, `pool` ≥ corpus). Each query probes its
    * own `nprobe` cells; the default probes every cell.
    *
    *  - [[Raw]]: the batch broadcasts into the code scan, joined on its
    *    probe list computed on executors — no driver collect, no batch
    *    cap; per-query top-k through the bounded-heap pair aggregate.
    *  - compressed: the batch collects to the driver (its scoring
    *    tables are the broadcast), capped at [[MaxJoinQueries]]; ONE
    *    scan of the probed codes scores it, per-query pools reduce
    *    through the pair aggregate, and only pool members' vectors are
    *    fetched from `corpus` for the exact rerank.
    */
  def searchJoin(spark: SparkSession, path: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      corpus: DataFrame, cIdCol: String, cVecCol: String,
      k: Int, pool: Int = 1024, nprobe: Int = Int.MaxValue): DataFrame = {
    val saved = load(spark, path)
    val codes = saved.codes
    val probe = saved.cells.map(c => (c, c.width(nprobe))).filter { case (c, w) => w < c.full }
    saved.codec match {
      case Raw =>
        val qs = queries.select(col(qIdCol).as("_qid"), col(qVecCol).as("_qv"))
        val pairs = probe.fold(codes.crossJoin(broadcast(qs))) { case (c, w) =>
          codes.join(broadcast(c.probeRows(qs, w)),
            col("_cell").cast("long") === col("_probe"))
        }
        perQueryTopK(pairs.select(col("_qid"), col(cIdCol).cast("long").as("_cid"),
          round(VectorFunctions.cosine(col(cVecCol), col("_qv")), 4).as("_cos")), k)
      case z: Quantizer =>
        import spark.implicits._
        require(pool >= k, s"ann: pool=$pool must be ≥ k=$k")
        val qRowsAll = graft.Conf.collectUpTo(queries
            .select(col(qIdCol).as("_qid"), col(qVecCol).cast("array<float>").as("_qv")),
            MaxJoinQueries)
          .getOrElse(throw new IllegalArgumentException(
            s"ann: query batch exceeds $MaxJoinQueries — for corpus-scale " +
              "retrieval use the IVF/LSH bucket joins of a Raw-codec index, " +
              "which never collect the batch"))
        require(qRowsAll.nonEmpty, "ann: empty query batch")
        // null-vector queries return no neighbors, as in cosineTopKJoin
        val qRows = qRowsAll.filter(!_.isNullAt(1))
        if (qRows.isEmpty)
          return Seq.empty[(Long, Long, Double)].toDF("q_id", "n_id", "cos_sim")
            .withColumn("q_id", col("q_id").cast(queries.schema(qIdCol).dataType))
        val qVecs = qRows.map(_.getAs[scala.collection.Seq[Float]]("_qv").toArray)
        val score = z.scoreBatch(col("_code"), col("_qidx"), qVecs)
        // one (query index, query id[, probed cell]) row per probe
        val metaRows = qRows.indices.flatMap { i =>
          probe.fold(Seq(Row(i, qRows(i).get(0)))) { case (c, w) =>
            c.probes(qVecs(i), w).map(p => Row(i, qRows(i).get(0), p)) }
        }
        val qMeta = spark.createDataFrame(
          spark.sparkContext.parallelize(metaRows, 1),
          StructType(Seq(StructField("_qidx", IntegerType, nullable = false),
            StructField("_qid", queries.schema(qIdCol).dataType)) ++
            probe.map(_ => StructField("_probe", IntegerType, nullable = false))))
        val probed = probe.fold(codes.crossJoin(broadcast(qMeta)))(_ =>
          codes.join(broadcast(qMeta), col("_cell") === col("_probe")))
        val pooled = probed
          .select(col("_qid"), col(cIdCol).cast("long").as("_cid"), score.as("_adc"))
          .groupBy("_qid")
          .agg(TopKPairs.topKPairs(col("_adc"), col("_cid"), pool).as("_pool"))
          .select(col("_qid"), explode(col("_pool")).as("_p"))
          .select(col("_qid"), col("_p.id").as("_cid"))
        val qv = spark.createDataFrame(
          spark.sparkContext.parallelize(qRows.toSeq, 1), qRows.head.schema)
          .withColumnRenamed("_qid", "_qid2")
        perQueryTopK(corpus
          .select(col(cIdCol).cast("long").as("_cid2"), col(cVecCol).as("_cv"))
          .join(broadcast(pooled), col("_cid2") === col("_cid"))
          .join(broadcast(qv), col("_qid") === col("_qid2"))
          .select(col("_qid"), col("_cid"),
            round(VectorFunctions.cosine(col("_cv"), col("_qv")), 4).as("_cos")), k)
    }
  }

  /** (_qid, _cid, _cos) → each query's k best (q_id, n_id, cos_sim). */
  private def perQueryTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("_qid")
      .agg(TopKPairs.topKPairs(col("_cos"), col("_cid"), k,
        bestIsLargest = true).as("_top"))
      .select(col("_qid").as("q_id"), explode(col("_top")).as("_p"))
      .select(col("q_id"), col("_p.id").as("n_id"), col("_p.score").as("cos_sim"))

  /** Query-batch bound for a compressed [[searchJoin]] (PQ tables are
    * ~nsub·k·8 B each — 10k queries ≈ 10 MB broadcast at the defaults).
    */
  val MaxJoinQueries = 10000

  /** [[search]] at the index's saved operating point
    * ([[AnnTune.savePoint]]); raises when there is none, or when it
    * lacks a dial this index has ([[dialNames]]).
    */
  def searchTuned(spark: SparkSession, path: String, corpus: DataFrame,
      idCol: String, vecCol: String, query: Array[Float], k: Int): DataFrame = {
    val s = AnnTune.requirePoint(spark, path, AnnTune.PointSidecar,
      dialNames(load(spark, path)): _*)
    search(spark, path, corpus, idCol, vecCol, query, k,
      s.getOrElse("pool", k), s.getOrElse("nprobe", 0))
  }

  /** [[searchJoin]] at the index's saved JOIN operating point. */
  def searchJoinTuned(spark: SparkSession, path: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      corpus: DataFrame, cIdCol: String, cVecCol: String, k: Int): DataFrame = {
    val s = AnnTune.requirePoint(spark, path, AnnTune.JoinPointSidecar,
      dialNames(load(spark, path)): _*)
    searchJoin(spark, path, queries, qIdCol, qVecCol, corpus, cIdCol, cVecCol, k,
      s.getOrElse("pool", k), s.getOrElse("nprobe", Int.MaxValue))
  }

  /** The cheapest dial setting whose [[search]] recall@k on the holdout
    * reaches `target` ([[AnnTune.tune]]): when the index has cells,
    * `nprobe` walks the coarse stage's widths (IVF: doubling up to full
    * probe; LSH: every radius from 0); when the codec is compressed,
    * `pool` walks `pools` (from k up); the joint grid walks in order
    * of cells read × pool.
    */
  def tune(spark: SparkSession, path: String, corpus: DataFrame,
      idCol: String, vecCol: String, target: Double, k: Int = 10,
      nQueries: Int = 20,
      pools: Seq[Int] = AnnTune.doubling(8192)): AnnTune.OperatingPoint = {
    val qs = AnnTune.holdout(corpus, idCol, vecCol, nQueries)
    val truth = AnnTune.groundTruth(corpus, idCol, vecCol, qs, k)
    AnnTune.tune(dials(load(spark, path), pools, k), target) { s =>
      AnnTune.measureRecall(qs, truth, idCol, k)(v => search(spark, path, corpus,
        idCol, vecCol, v, k, s.getOrElse("pool", k), s.getOrElse("nprobe", 0)))
    }
  }

  /** [[tune]] at join granularity: one [[searchJoin]] per setting
    * against the brute-force join ground truth, over the same dials.
    */
  def tuneJoin(spark: SparkSession, path: String, corpus: DataFrame,
      idCol: String, vecCol: String, target: Double, k: Int = 10,
      nQueries: Int = 20,
      pools: Seq[Int] = AnnTune.doubling(8192)): AnnTune.OperatingPoint = {
    val qs = AnnTune.holdoutDf(corpus, idCol, vecCol, nQueries)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val truth = AnnTune.joinTruth(qs, corpus, idCol, vecCol, k)
      AnnTune.tune(dials(load(spark, path), pools, k), target) { s =>
        AnnTune.measureJoinRecall(truth, searchJoin(spark, path, qs, "_hq_id", "_hq_v",
          corpus, idCol, vecCol, k, s.getOrElse("pool", k), s.getOrElse("nprobe", Int.MaxValue)))
      }
    } finally { qs.unpersist(); () }
  }

  /** The one dial rule: `nprobe` only when the index has cells, `pool`
    * only when the codec is compressed. */
  private def dialNames(saved: Saved): Seq[String] =
    saved.cells.map(_ => "nprobe").toSeq ++
      (saved.codec match { case Raw => Nil; case _ => Seq("pool") })

  /** The dial grid in cells read × pool order (an absent dial counts 1). */
  private def dials(saved: Saved, pools: Seq[Int], k: Int): Seq[Map[String, Int]] = {
    val probes = saved.cells.fold(Seq(1 -> 1L))(c => c.grid.map(w => w -> c.cost(w)))
    val sizes = saved.codec match { case Raw => Seq(1); case _ => pools.sorted.filter(_ >= k) }
    val names = dialNames(saved).toSet
    (for ((np, c) <- probes; p <- sizes) yield (np, p, c * p)).sortBy(t => (t._3, t._1))
      .map { case (np, p, _) => Map("nprobe" -> np, "pool" -> p).filter(d => names(d._1)) }
  }

  /** A loaded index: codec, coarse geometry and codes-table schema from
    * the driver-side sidecars, and the codes table read under that
    * schema (no schema-inference job). */
  private final case class Saved(codec: Codec, cells: Option[Cells],
      schema: StructType, stamp: String, codes: DataFrame)

  /** Loaded indexes by (session, path), kept while the `_model.txt`
    * stamp is unchanged: a repeated search reads that one sidecar, not
    * the geometry sidecars and the codes table's file listing (a Spark
    * job past 32 cell directories). */
  private val loaded = new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Saved]

  private[operators] def loadCodec(spark: SparkSession, path: String) = load(spark, path).codec

  private def load(spark: SparkSession, path: String): Saved = {
    val (props, mats) = ModelSidecar.read(spark, path, ModelFile)
    require(props.contains("stamp"), s"$path: an index saved without its codes schema " +
      "(an older layout) — rebuild it with AnnIndex.build")
    def normalize = props("normalize").toBoolean
    val codec = props("family") match {
      case "raw" => Raw
      case "pq" =>
        val codebooks = Array.tabulate(
          mats.keys.count(_.startsWith("cb")))(s => mats(s"cb$s"))
        Pq(PqFit.PqModel(codebooks.length, codebooks.map(_.length).max,
          codebooks(0)(0).length, normalize, codebooks, mats.get("rotation")))
      case "sq" => Sq8(SqFit.SqModel(mats("mins")(0), mats("scales")(0), normalize))
      case "bq" => Bq(BqFit.BqModel(mats("thresholds")(0), normalize))
      case f => throw new IllegalArgumentException(s"$path: unknown codec family '$f'")
    }
    Option(loaded.get((spark, path))).filter(_.stamp == props("stamp")).getOrElse {
      def geometry(file: String, name: String) = Option.when(
        ModelSidecar.exists(spark, path, file))(ModelSidecar.read(spark, path, file)._2(name))
      val cells = geometry(CentroidsFile, "centroids").map(new IvfCells(_))
        .orElse(geometry(PlanesFile, "planes").map(new LshCells(_)))
      val schema = DataType.fromJson(props("schema")).asInstanceOf[StructType]
      val saved = Saved(codec, cells, schema, props("stamp"),
        spark.read.schema(schema).parquet(s"$path/codes"))
      loaded.put((spark, path), saved)
      saved
    }
  }
}
