package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Recall-target auto-tuning for the ANN family (r13 — RECALL.md
  * measures the curves; this picks the dial).
  *
  * The tuners ([[AnnIndex.tune]], [[AnnIndex.tuneJoin]]) choose the
  * CHEAPEST operating point (`nprobe` when the index has cells, `pool`
  * when its codec is compressed, jointly when both) whose measured
  * recall@k on a deterministic holdout reaches the requested target.
  * This object holds the shared core — holdout, ground truth, recall,
  * the cheapest-first walk, the operating-point sidecar.
  *
  * Method: holdout queries are the md5(id)-ordered first `nQueries`
  * corpus vectors (the [[Similarity.sampleCentroids]] sampling device
  * — deterministic on any partitioning, no RNG); ground truth is
  * brute-force cosine top-k ([[Similarity.cosineTopK]], self-match
  * included — the RECALL.md convention, applied equally to every
  * method); candidate settings walk cheapest-first (doubling nprobe /
  * pool; the joint family orders by the nprobe×pool cost proxy) and
  * the first setting reaching the target wins. The walk is monotone
  * in expectation but the PICK does not assume monotonicity — every
  * earlier (cheaper) setting was measured and rejected.
  *
  * At `nprobe = nlist` / `pool = corpus` every index in this library
  * is exactly brute force (recall 1.0), so any `target <= 1` is
  * reachable and the tuner never fails — it returns the exact
  * measured operating point, which callers should persist next to
  * the index.
  *
  * Cost shape: tuning runs `nQueries × (settings + 1)` DRIVER-side
  * top-k jobs against the index — a one-off per (index, target),
  * amortized over every later query exactly like the index build
  * itself. Not a per-query path.
  */
object AnnTune {

  /** One measured operating point: the chosen dial values and the
    * recall@k they achieved on the holdout.
    */
  final case class OperatingPoint(setting: Map[String, Int], recall: Double)

  /** Deterministic holdout queries: the md5(id)-ordered first n (id,
    * vector) pairs of [[holdoutDf]], collected. Ids compare as strings
    * so long/int/string id columns all work.
    */
  def holdout(df: DataFrame, idCol: String, vecCol: String,
      n: Int): Array[(String, Array[Float])] =
    holdoutDf(df, idCol, vecCol, n).collect()
      .map(r => r.getString(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)

  /** Brute-force ground truth per holdout query. */
  def groundTruth(df: DataFrame, idCol: String, vecCol: String,
      queries: Array[(String, Array[Float])], k: Int): Map[String, Set[String]] =
    queries.map { case (qid, v) =>
      qid -> Similarity.cosineTopK(df, idCol, vecCol, v, k)
        .select(col(idCol).cast("string")).collect().map(_.getString(0)).toSet
    }.toMap

  /** Mean recall@k of `run` against `truth` over the holdout. */
  def measureRecall(queries: Array[(String, Array[Float])],
      truth: Map[String, Set[String]], idCol: String, k: Int)(
      run: Array[Float] => DataFrame): Double = {
    val per = queries.map { case (qid, v) =>
      val got = run(v).select(col(idCol).cast("string"))
        .collect().map(_.getString(0)).take(k).toSet
      (got intersect truth(qid)).size.toDouble / truth(qid).size
    }
    per.sum / per.length
  }

  /** The cheapest-first walk, at probe or join granularity alike
    * (`recall` measures one setting — [[measureRecall]] over the
    * holdout probes, or [[measureJoinRecall]] of one batch join):
    * first setting reaching `target` wins; if none does, the
    * best-recall setting (ties: cheapest, i.e. earliest) is returned.
    */
  def tune(settings: Seq[Map[String, Int]], target: Double)(
      recall: Map[String, Int] => Double): OperatingPoint = {
    require(target > 0 && target <= 1, s"target recall must be in (0,1], got $target")
    require(settings.nonEmpty, "no candidate settings")
    var best: OperatingPoint = null
    val it = settings.iterator
    while (it.hasNext) {
      val s = it.next()
      val r = recall(s)
      if (best == null || r > best.recall) best = OperatingPoint(s, r)
      if (r >= target) return OperatingPoint(s, r)
    }
    best
  }

  /** 1, 2, 4, … up to and including `max`: the dial walk's candidates. */
  def doubling(max: Int): Seq[Int] = {
    val b = Seq.newBuilder[Int]
    var v = 1
    while (v < max) { b += v; v *= 2 }
    b += max
    b.result()
  }

  // ---- batch k-NN JOIN tuning (r15) ----------------------------------
  // The retrieval shape a curation pipeline actually runs is the JOIN
  // (queries table × index), not the single-vector probe — so the
  // join tuner measures the join path itself: ONE batch join per
  // candidate setting against the brute-force JOIN ground truth,
  // instead of nQueries driver probes per setting, through the same
  // [[tune]] walk.

  /** Holdout queries as a TABLE (the same deterministic md5(id)
    * device as [[holdout]]): columns (_hq_id string, _hq_v
    * array<float>).
    */
  def holdoutDf(df: DataFrame, idCol: String, vecCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"nQueries must be >= 1, got $n")
    df.select(col(idCol).cast("string").as("_hq_id"),
        col(vecCol).cast("array<float>").as("_hq_v"),
        md5(col(idCol).cast("string")).as("_h"))
      .filter(col("_hq_v").isNotNull)
      .orderBy("_h").limit(n).drop("_h")
  }

  /** Brute-force join ground truth: qid -> its exact top-k neighbor
    * ids ([[Similarity.cosineTopKJoin]] — one job for the whole
    * holdout).
    */
  def joinTruth(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): Map[String, Set[String]] =
    Similarity.cosineTopKJoin(queries, "_hq_id", "_hq_v",
        corpus, idCol, vecCol, k)
      .select(col("q_id").cast("string"), col("n_id").cast("string"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (q, rs) => q -> rs.map(_.getString(1)).toSet }

  /** Mean join recall@k of one batch-join result against `truth`. A
    * query the join returned nothing for scores 0 — silence is a
    * recall loss, not a skip.
    */
  def measureJoinRecall(truth: Map[String, Set[String]],
      result: DataFrame): Double = {
    val got = result
      .select(col("q_id").cast("string"), col("n_id").cast("string"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (q, rs) => q -> rs.map(_.getString(1)).toSet }
    truth.map { case (q, t) =>
      (got.getOrElse(q, Set.empty[String]) intersect t).size.toDouble / t.size
    }.sum / truth.size
  }

  // ---- operating-point sidecar (r14) --------------------------------

  /** Sidecar file name, stored INSIDE the index directory so the point
    * travels with the index (copy/move/version the index, the tuned
    * dials come along).
    */
  val PointSidecar = "_operating_point.txt"

  /** Join-granularity sidecar (r15): an index can carry BOTH a probe
    * point and a join point — the dial spaces are the same but the
    * tuned values legitimately differ (join recall averages a batch),
    * so they live in separate files and never clobber each other.
    */
  val JoinPointSidecar = "_join_operating_point.txt"

  /** Persist `op` as the [[ModelSidecar]] `<indexPath>/<sidecar>` (a
    * `dial.<name>` prop per dial plus `recall`). Overwrites: re-tuning
    * an index replaces its point.
    */
  def savePoint(spark: SparkSession, indexPath: String,
      op: OperatingPoint, sidecar: String = PointSidecar): Unit =
    ModelSidecar.write(spark, indexPath, sidecar,
      op.setting.map { case (n, v) => s"dial.$n" -> v.toString } +
        ("recall" -> op.recall.toString), Nil)

  /** Load the sidecar written by [[savePoint]]; None when the index
    * has no tuned point yet.
    */
  def loadPoint(spark: SparkSession, indexPath: String,
      sidecar: String = PointSidecar): Option[OperatingPoint] =
    if (!ModelSidecar.exists(spark, indexPath, sidecar)) None
    else {
      val props = ModelSidecar.read(spark, indexPath, sidecar)._1
      Some(OperatingPoint(props.collect { case (n, v) if n.startsWith("dial.") =>
        n.stripPrefix("dial.") -> v.toInt }, props("recall").toDouble))
    }

  /** The saved point's dials; raises when the index has no point, or
    * the point lacks one of `dials`.
    */
  private[operators] def requirePoint(spark: SparkSession, indexPath: String,
      sidecar: String, dials: String*): Map[String, Int] = {
    val op = loadPoint(spark, indexPath, sidecar)
      .getOrElse(throw new IllegalStateException(
        s"no tuned operating point at $indexPath/$sidecar — " +
          "run the matching tune and AnnTune.savePoint first"))
    dials.foreach(d => require(op.setting.contains(d),
      s"operating point at $indexPath lacks dial '$d' (has ${op.setting.keySet})" +
        " — it was tuned for a different index family"))
    op.setting
  }
}
