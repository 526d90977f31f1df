package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two one-shot paths:
  *  - [[cosineTopK]]: brute-force scan — the correctness baseline and
  *    the right plan when the query batch is tiny (one distributed
  *    pass, per-partition top-k then k-merge, no shuffle of the data).
  *  - [[lshTopK]]: random-hyperplane LSH over a raw DataFrame. Vectors
  *    fall in 2^p sign-pattern buckets; candidates come from the
  *    query's bucket plus all buckets within `probeHamming` bit flips
  *    (multiprobe), then exact cosine rerank.
  *
  * Persisted indexes — the LSH buckets and IVF cells a repeated query
  * prunes to, with raw or compressed rows — are [[AnnIndex]]; this
  * object keeps the geometry they are built from ([[hyperplanes]],
  * [[bucketExpr]], [[ivfFit]]) and the embedding dedup operators.
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
  private[operators] def probeDim(df: DataFrame, vecCol: String): Int = {
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
  private[operators] def requirePlanes(numPlanes: Int): Unit =
    require(1 <= numPlanes && numPlanes <= 30,
      s"LSH numPlanes=$numPlanes outside 1..30 — bucket ids are Int sign patterns")

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

  /** Every bucket id within Hamming distance `radius` of `center` over
    * `numPlanes` bits, ascending: the LSH multiprobe list. Enumerates
    * the ≤ radius-bit flip masks directly — sum of C(p, i) for i ≤ r
    * ids, 31 at p = 30, r = 1 — instead of testing all 2^p ids.
    */
  def hammingBall(center: Int, numPlanes: Int, radius: Int): Array[Int] = {
    val out = Array.newBuilder[Int]
    def flips(from: Int, left: Int, mask: Int): Unit = {
      out += center ^ mask
      if (left > 0) (from until numPlanes).foreach(b => flips(b + 1, left - 1, mask | (1 << b)))
    }
    flips(0, math.min(radius, numPlanes), 0)
    out.result().sorted
  }

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
    * applies — bucket through an [[AnnIndex]] `Raw` join's per-query
    * cell probes instead.
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
    * at scale, build an [[AnnIndex]] with the `Lsh` coarse stage once —
    * its probes prune parquet PARTITIONS instead of rescanning.
    */
  def lshTopK(
      df: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int,
      numPlanes: Int = 8, probeHamming: Int = 1, seed: Long = 42L): DataFrame = {
    require(probeHamming >= 0,
      s"lshTopK: probeHamming=$probeHamming must be ≥ 0 — it is the probe's Hamming radius")
    val planes = hyperplanes(numPlanes, query.length, seed)
    val probes = hammingBall(bucketOf(query, planes), numPlanes, probeHamming)
    val q = query.map(_.toDouble)
    df.withColumn("_bucket", bucketExpr(col(vecCol), planes))
      .filter(col("_bucket").isin(probes.toSeq: _*))
      .select(col(idCol), round(cosineConst(col(vecCol), q), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** The IVF centroid fit: k-means centroids partition the corpus into
    * `nlist` cells. Returns the input with its `_cell` column and the
    * centroids; [[AnnIndex]]'s `Ivf` coarse stage persists both.
    *
    * NOTE on `seed`/`initMode` scope: the default sample-fit route is
    * FULLY deterministic — sample selection is md5(id)-ordered and
    * init is the first k sample vectors — so `seed` and `initMode`
    * deliberately have NO effect there (varying the seed returns the
    * same index; there is no randomness to steer). Both apply only to
    * the distributed-ML fallback taken past [[ExprAssignMaxCells]] /
    * [[ExprAssignMaxKDim]]. Top-k correctness never depends on the
    * fit either way; only cell recall does (RECALL.md).
    */
  private[graft] def ivfFit(
      df: DataFrame, idCol: String, vecCol: String,
      nlist: Int, seed: Long, maxIter: Int,
      initMode: String): (DataFrame, Array[Array[Double]]) = {
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
      (df.withColumn("_cell",
        graft.functions.CentroidFunctions.nearestCell(col(vecCol), centroids)), centroids)
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
      (model.transform(features).drop("_features"), model.clusterCenters.map(_.toArray))
    }
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
    // AnnIndex Ivf append formula). A distributed Spark ML fit would pay ~10
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
        ivfFit(df, idCol, vecCol, k, seed, maxIter, initMode)._1,
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
    * ONE reference-object kernel ([[graft.functions.CentroidFunctions.NearestCell]],
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
    * same identity the IVF cell assignment uses, and it cuts the inner loop to a
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
