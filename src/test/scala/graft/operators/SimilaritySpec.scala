package graft.operators

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),   // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),   // orthogonal
    (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f)),  // opposite
    (4L, Array(1.01f, 0.0f, 0.0f, 0.0f))   // scaled clone of 0
  ).toDF("vec_id", "embedding")

  private val q = Array(1.0f, 0.0f, 0.0f, 0.0f)

  private def tmp(pfx: String): String =
    graft.TestDirs.create(pfx).resolve("idx").toString

  /** A Raw index (every build column kept) at a fresh path. */
  private def raw(df: org.apache.spark.sql.DataFrame, coarse: AnnIndex.Coarse,
      pfx: String): String = {
    val path = tmp(pfx)
    AnnIndex.build(df, "vec_id", "embedding", path, AnnIndex.Raw, coarse)
    path
  }
  private def ivf(nlist: Int) = AnnIndex.Ivf(nlist = nlist, maxIter = 20)

  private def search(path: String, df: org.apache.spark.sql.DataFrame,
      query: Array[Float], k: Int, nprobe: Int,
      where: Option[org.apache.spark.sql.Column] = None) =
    AnnIndex.search(spark, path, df, "vec_id", "embedding", query, k,
      nprobe = nprobe, where = where)

  private def partitionScan(df: org.apache.spark.sql.DataFrame): String = {
    val plan = df.queryExecution.executedPlan.toString
    plan.linesIterator.find(_.contains("PartitionFilters"))
      .getOrElse(fail("no PartitionFilters:\n" + plan.take(3000)))
  }

  test("cosineTopK ranks by cosine with id tiebreak") {
    val top = Similarity.cosineTopK(vecs, "vec_id", "embedding", q, 3)
      .select("vec_id").as[Long].collect.toSeq
    assert(top == Seq(0L, 4L, 1L)) // cos 1.0 (id 0 before 4), then 0.9939
  }

  test("cosine of scaled clone is 1.0") {
    val r = Similarity.cosineTopK(vecs, "vec_id", "embedding", q, 5)
      .filter($"vec_id" === 4).head.getAs[Double]("cos_sim")
    assert(r == 1.0)
  }

  test("lshTopK finds the same neighborhood as brute force") {
    val brute = Similarity.cosineTopK(vecs, "vec_id", "embedding", q, 2)
      .select("vec_id").as[Long].collect.toSet
    val lsh = Similarity.lshTopK(vecs, "vec_id", "embedding", q, 2,
      numPlanes = 4, probeHamming = 2)
      .select("vec_id").as[Long].collect.toSet
    assert((brute intersect lsh).nonEmpty)
  }

  test("semanticDedup drops the later member of a similar pair, keeps distinct vectors") {
    // vec 1 is cosine ~0.9939 to vec 0; vec 2 orthogonal; vec 3 opposite.
    val kept = Similarity.semanticDedup(vecs, "vec_id", "embedding",
        threshold = 0.99, nlist = 2, maxIter = 5)
      .select("vec_id").as[Long].collect.toSet
    // 4 is a scaled clone of 0 (cos 1.0) and 1 is within 0.99 of 0 —
    // both must drop whenever k-means co-locates them with 0 (with
    // k=2 on this geometry the positive-x group shares a cell);
    // 0 (min id), 2, 3 survive.
    assert(kept == Set(0L, 2L, 3L))
  }

  test("semanticDedup at threshold 1.0 drops exactly identical clones across any layout") {
    val clones = vecs.withColumn("vec_id", $"vec_id" + 100)
    val corpus = vecs.unionByName(clones)
    for (nlist <- Seq(1, 2, 4)) {
      val kept = Similarity.semanticDedup(corpus, "vec_id", "embedding",
          threshold = 1.0, nlist = nlist, maxIter = 3)
        .select("vec_id").as[Long].collect.toSet
      // identical vectors always share a cell (same nearest centroid)
      // and cosine exactly 1.0 — every clone (id+100) drops. vec 4 is
      // a SCALED clone of 0 (cos rounds to 1.0), so 4 and 104 drop
      // too whenever they share 0's cell; with these tiny cell counts
      // the positive-x group always co-locates.
      assert(kept == Set(0L, 1L, 2L, 3L))
    }
  }

  test("semanticDedup over-cap cells walk in id-ordered blocks of maxCellSize") {
    val kept = Similarity.semanticDedup(vecs, "vec_id", "embedding",
        threshold = 0.99, nlist = 1, maxCellSize = 3, maxIter = 2)
      .select("vec_id").as[Long].collect.toSet
    // the single cell holds all 5 vectors > maxCellSize=3, so the walk
    // runs per id-ordered block (r15 — the pre-r15 guard skipped the
    // whole cell, zero recall): block [0,1,2] drops 1 (cos 0.9939 to
    // 0); block [3,4] has no qualifying pair (cos(3,4) = -1). Vec 4 —
    // the scaled clone of 0 — survives as the documented cross-block
    // recall trade.
    assert(kept == Set(0L, 2L, 3L, 4L))
  }

  test("planesFor keeps bucket occupancy constant as the corpus grows") {
    assert(Similarity.planesFor(0) == 4) // floor
    assert(Similarity.planesFor(1000) == 5) // ceil(log2(31.25))
    assert(Similarity.planesFor(32000) == 10)
    assert(Similarity.planesFor(32L << 30) == 24) // clamp
    // each decade of data adds ~log2(10) ≈ 3.3 planes — occupancy,
    // and with it the per-bucket pair cost, stays bounded
    assert(Similarity.planesFor(320000) - Similarity.planesFor(32000) == 4)
  }

  test("cellsFor is occupancy-constant small, pinned past the route, relieved at scale") {
    // occupancy-constant band: cells ≈ n/64, floor 2
    assert(Similarity.cellsFor(0) == 2)
    assert(Similarity.cellsFor(6400) == 100)
    assert(Similarity.cellsFor(128000) == 2000)
    // pin band: past ~131k rows the cell count stops riding n — the
    // assignment argmax (O(cells×dim) per row) stays LINEAR in n
    assert(Similarity.cellsFor(200000) == Similarity.PinnedCells)
    assert(Similarity.cellsFor(2000000) == Similarity.PinnedCells)
    // relief band: once expected occupancy would cross ReliefOccupancy
    // the cell count resumes growing as n/ReliefOccupancy, capped 2^16
    assert(Similarity.cellsFor(8L * 1024 * 1024) ==
      (8L * 1024 * 1024 / Similarity.ReliefOccupancy).toInt)
    assert(Similarity.cellsFor(1L << 40) == (1 << 16)) // cap
    // continuity at the route: one row past the boundary moves the
    // cell count by at most 1 (no cliff in either cost term)
    val atPin = Similarity.PinnedCells.toLong * 64
    assert(math.abs(Similarity.cellsFor(atPin) - Similarity.cellsFor(atPin + 1)) <= 1)
  }

  test("streamed cell walk ≡ collect_list walk on clones, zero/null vectors, over-cap cells") {
    // exercises the r14 stats-routed walk: explicit _cell assignments
    // (bypassing k-means) isolate the pair-walk semantics — clones,
    // merely-similar, zero-norm equal/unequal, null vectors, a
    // guarded over-cap cell — and both forced routes must keep the
    // identical id set
    val rows = Seq(
      // cell 0: exact clone pair + a distinct vector
      (1L, Seq(1f, 0f, 0f), 0),
      (2L, Seq(1f, 0f, 0f), 0),   // clone of 1 → drops
      (3L, Seq(0f, 1f, 0f), 0),
      // cell 1: scaled clone (cos 1.0) and a near-but-not-over pair
      (4L, Seq(2f, 2f, 0f), 1),
      (5L, Seq(4f, 4f, 0f), 1),   // scaled clone of 4 → drops at 0.999
      (6L, Seq(1f, 0f, 1f), 1),
      // cell 2: identical zero vectors (drop) + distinct zero-norm
      (7L, Seq(0f, 0f, 0f), 2),
      (8L, Seq(0f, 0f, 0f), 2),   // bitwise-equal zero vec → drops
      (9L, Seq(0f, -0f, 0f), 2),  // -0.0 != 0.0 bitwise → incomparable, kept
      // cell 3: OVER the cap (5 identical members, maxCellSize 4) →
      // walks in id-ordered blocks [10,11,12,13] and [16] (r15): the
      // first block drops 11,12,13 behind keeper 10; 16 is alone in
      // the second block and survives (the cross-block trade)
      (10L, Seq(1f, 1f, 1f), 3), (11L, Seq(1f, 1f, 1f), 3),
      (12L, Seq(1f, 1f, 1f), 3), (13L, Seq(1f, 1f, 1f), 3),
      (16L, Seq(1f, 1f, 1f), 3),
      // cell 4: singleton
      (14L, Seq(9f, 9f, 9f), 4)
    ).toDF("vec_id", "embedding", "_cell")
    // null vector joins cell 0 (4 members, within the cap): it must
    // neither drop nor block the clone pair's drop
    val withNull = rows.unionByName(
      Seq((15L, null.asInstanceOf[Seq[Float]], 0))
        .toDF("vec_id", "embedding", "_cell"))
    val df = withNull.select("vec_id", "embedding")
    def kept(routeBytes: Long): Set[Long] =
      Similarity.dropWithinCells(df, "vec_id", "embedding", withNull,
          threshold = 0.999, maxCellSize = 4, walkRouteBytes = routeBytes)
        .select("vec_id").as[Long].collect().toSet
    val viaList = kept(Long.MaxValue) // collect_list + native SemanticDrops
    val viaStream = kept(0L)          // forced streamed route
    assert(viaList == viaStream, s"routes disagree: $viaList vs $viaStream")
    // drops: 2 (clone of 1), 5 (scaled clone of 4), 8 (zero-equal of
    // 7), 11/12/13 (over-cap cell's first block behind keeper 10)
    assert(viaList == Set(1L, 3L, 4L, 6L, 7L, 9L,
      10L, 14L, 15L, 16L))
  }

  test("auto-sized planes (numPlanes = 0 default) still find identical clones") {
    val pairs = Similarity.embeddingNearDups(vecs, "vec_id", "embedding",
        threshold = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect.toSet
    assert(pairs.contains((0L, 4L)))
  }

  test("embeddingNearDups finds the scaled clone pair only") {
    val pairs = Similarity.embeddingNearDups(vecs, "vec_id", "embedding",
        threshold = 0.999, numPlanes = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect.toSet
    assert(pairs.contains((0L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("IVF index routes the query to the right cells") {
    val many = (0 until 40).map { i =>
      // two obvious clusters around e1 and e2
      if (i % 2 == 0) (i.toLong, Array(1.0f + i * 0.001f, 0.0f, 0.0f, 0.0f))
      else (i.toLong, Array(0.0f, 1.0f + i * 0.001f, 0.0f, 0.0f))
    }.toDF("vec_id", "embedding")
    val path = raw(many, ivf(2), "graft_ivf")
    assert(new java.io.File(s"$path/codes").listFiles()
      .count(_.getName.startsWith("_cell=")) == 2)
    val top = search(path, many, Array(1.0f, 0.0f, 0.0f, 0.0f), k = 3, nprobe = 1)
      .select("vec_id").as[Long].collect()
    assert(top.length == 3)
    assert(top.forall(_ % 2 == 0)) // only the e1 cluster
  }

  test("persisted LSH index: pruned probe matches the one-shot path, files isolate by bucket") {
    // 64 vectors spread over all 16 sign-orthants of 4 planes
    val many = (0 until 64).map { i =>
      val s = Array.tabulate(4)(d => if (((i % 16) >> d & 1) == 1) 1.0f else -1.0f)
      (i.toLong, Array(s(0) * (1 + i * 0.01f), s(1), s(2), s(3)))
    }.toDF("vec_id", "embedding")
    val path = raw(many, AnnIndex.Lsh(numPlanes = 4), "graft_lshidx")

    // same planes (same seed) ⇒ the indexed probe and the on-scan
    // probe must return IDENTICAL rows at every probeHamming
    for (ph <- Seq(0, 1, 4)) {
      val indexed = search(path, many, q, 5, nprobe = ph)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val onScan = Similarity.lshTopK(many, "vec_id", "embedding", q, 5,
        numPlanes = 4, probeHamming = ph)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(indexed == onScan, s"probeHamming=$ph")
    }

    // the layout is hive-partitioned by _cell (the bucket): one
    // bucket's rows never share a file with another's, so a bucket
    // filter prunes at the FILE level (the pruning is pinned in PlanSpec)
    import org.apache.spark.sql.functions.{col, input_file_name}
    val filesPerBucket = spark.read.parquet(s"$path/codes")
      .groupBy(input_file_name().as("f"))
      .agg(org.apache.spark.sql.functions.countDistinct(col("_cell")).as("nb"))
      .collect()
    assert(filesPerBucket.nonEmpty && filesPerBucket.forall(_.getLong(1) == 1L))
  }

  test("persisted IVF index roundtrips and prunes by cell partition") {
    val many = (0 until 40).map { i =>
      if (i % 2 == 0) (i.toLong, Array(1.0f + i * 0.001f, 0.0f, 0.0f, 0.0f))
      else (i.toLong, Array(0.0f, 1.0f + i * 0.001f, 0.0f, 0.0f))
    }.toDF("vec_id", "embedding")
    val path = raw(many, ivf(2), "graft_ivfidx")
    val fit = Similarity.ivfFit(many, "vec_id", "embedding", 2, 42L, 20, "k-means||")._2
    val loaded = ModelSidecar.read(spark, path, "_centroids.txt")._2("centroids")
    assert(loaded.map(_.toSeq).toSeq == fit.map(_.toSeq).toSeq)
    val probe = search(path, many, Array(1.0f, 0.0f, 0.0f, 0.0f), k = 3, nprobe = 1)
    // pruning: the cell filter lands in PartitionFilters of the scan
    val scanLine = partitionScan(probe)
    assert(scanLine.contains("_cell"), scanLine)
    val top = probe.select("vec_id").as[Long].collect()
    assert(top.length == 3 && top.forall(_ % 2 == 0)) // only the e1 cluster
  }

  test("filtered ANN: pre-filter semantics (top-k AMONG matches), predicate " +
      "pushed into the pruned index scan") {
    // 40 vectors in two clusters; labels split so the query's own
    // cluster is mostly label 0 — the label-1 top-k must then contain
    // vectors a post-hoc filter of the unfiltered top-k would MISS
    val many = (0 until 40).map { i =>
      val v = if (i % 2 == 0) Array(1.0f + i * 0.001f, 0.0f, 0.0f, 0.0f)
        else Array(0.0f, 1.0f + i * 0.001f, 0.0f, 0.0f)
      (i.toLong, v, if (i % 10 == 0) 1 else 0)
    }.toDF("vec_id", "embedding", "label")
    val path = raw(many, ivf(2), "graft_ivf_filtered")
    val qv = Array(1.0f, 0.0f, 0.0f, 0.0f)
    // full probe: filtered result ≡ brute force over the filtered subset
    val got = search(path, many, qv, k = 4, nprobe = 2, where = Some(col("label") === 1))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Similarity.cosineTopK(many.filter(col("label") === 1),
      "vec_id", "embedding", qv, 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
    // pre-filter, not post-filter: the unfiltered top-4 holds NO
    // label-1 ids (the query cluster's nearest are all label 0 except
    // far-off multiples of 10), yet the filtered search returns 4
    val unfiltered = search(path, many, qv, k = 4, nprobe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(got.size == 4 && got.map(_._1).count(unfiltered.contains) < 4)
    // the predicate reaches the parquet scan as a pushed filter,
    // alongside the cell partition pruning
    val probe = search(path, many, qv, k = 4, nprobe = 1, where = Some(col("label") === 1))
    val plan = probe.queryExecution.executedPlan.toString
    val scanLine = partitionScan(probe)
    assert(scanLine.contains("_cell"), scanLine)
    assert(plan.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("label")), plan.take(3000))
  }

  test("LSH append: probe finds old + new vectors, planes roundtrip, pruning intact") {
    import org.apache.spark.sql.functions.col
    val old = (0 until 32).map { i =>
      val s = Array.tabulate(4)(d => if (((i % 16) >> d & 1) == 1) 1.0f else -1.0f)
      (i.toLong, Array(s(0) * (1 + i * 0.01f), s(1), s(2), s(3)))
    }
    val path = raw(old.toDF("vec_id", "embedding"), AnnIndex.Lsh(numPlanes = 4),
      "graft_lshapp")

    // append by path — the cross-driver path: planes come from the
    // _planes sidecar, not from the builder's memory
    val batch = (100 until 132).map { i =>
      val s = Array.tabulate(4)(d => if (((i % 16) >> d & 1) == 1) 1.0f else -1.0f)
      (i.toLong, Array(s(0) * (1 + i * 0.01f), s(1), s(2), s(3)))
    }
    AnnIndex.append(batch.toDF("vec_id", "embedding"), "vec_id", "embedding", path)

    // full probe over the appended index ≡ brute force over the union
    val union = (old ++ batch).toDF("vec_id", "embedding")
    val brute = Similarity.cosineTopK(union, "vec_id", "embedding", q, 64)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val indexed = search(path, union, q, 64, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(indexed == brute)
    // and the probe sees vectors from BOTH generations
    val ids = indexed.map(_._1).toSet
    assert(ids.exists(_ < 100) && ids.exists(_ >= 100), ids.toString)

    // partition pruning unchanged after the append: the 1-flip probe's
    // bucket filter still lands in PartitionFilters
    val probe = search(path, union, q, 5, nprobe = 1)
    val scanLine = partitionScan(probe)
    assert(scanLine.contains("_cell"), scanLine)
    probe.collect()
  }

  test("IVF append: nearest-saved-centroid assignment, probes span generations, pruning intact") {
    import org.apache.spark.sql.functions.col
    val old = (0 until 40).map { i =>
      if (i % 2 == 0) (i.toLong, Array(1.0f + i * 0.001f, 0.0f, 0.0f, 0.0f))
      else (i.toLong, Array(0.0f, 1.0f + i * 0.001f, 0.0f, 0.0f))
    }
    val path = raw(old.toDF("vec_id", "embedding"), ivf(2), "graft_ivfapp")

    // new batch: two vectors clearly inside each cluster
    val batch = Seq(
      (100L, Array(1.05f, 0.01f, 0.0f, 0.0f)),
      (101L, Array(0.01f, 1.05f, 0.0f, 0.0f)))
    AnnIndex.append(batch.toDF("vec_id", "embedding"), "vec_id", "embedding", path)

    val codes = spark.read.parquet(s"$path/codes")
    val centroids = ModelSidecar.read(spark, path, "_centroids.txt")._2("centroids")
    assert(codes.count() == 42)
    // each appended vector sits in the cell of its locally-nearest
    // saved centroid — KMeans' own assignment rule
    val cells = codes.filter(col("vec_id") >= 100L)
      .select("vec_id", "_cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    def nearest(v: Array[Float]): Int =
      centroids.zipWithIndex.minBy { case (c, _) =>
        c.indices.map(j => { val d = c(j) - v(j); d * d }).sum }._2
    assert(cells(100L) == nearest(batch(0)._2))
    assert(cells(101L) == nearest(batch(1)._2))

    // an nprobe=1 query near the e1 cluster finds old AND appended
    // (k=25 > the 20 old cluster members, so the appended one fits)
    val all = (old ++ batch).toDF("vec_id", "embedding")
    val top = search(path, all, Array(1.0f, 0.0f, 0.0f, 0.0f), k = 25, nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(top.contains(100L), top.toString)
    assert(top.exists(_ < 100L), top.toString)
    assert(!top.contains(101L)) // other cluster pruned
    // pruning pin survives the append
    val scanLine = partitionScan(
      search(path, all, Array(1.0f, 0.0f, 0.0f, 0.0f), k = 5, nprobe = 1))
    assert(scanLine.contains("_cell"), scanLine)
  }

  test("hammingBall enumerates exactly the ≤ r-flip neighbours the all-ids filter kept") {
    for (p <- 1 to 10; r <- 0 to p; center <- Seq(0, (1 << p) - 1, 0x2a5 & ((1 << p) - 1))) {
      val old = (0 until (1 << p)).filter(b => Integer.bitCount(b ^ center) <= r)
      assert(Similarity.hammingBall(center, p, r).toSeq == old, s"p=$p r=$r center=$center")
    }
    // 30 planes, one flip: the bucket itself + 30 neighbours, never 2^30 tests
    val ball = Similarity.hammingBall(12345, 30, 1)
    assert(ball.length == 31 && ball.forall(b => Integer.bitCount(b ^ 12345) <= 1))
  }

  test("bucketExpr and bucketOf agree (query routing = data bucketing)") {
    val planes = Similarity.hyperplanes(4, 4)
    val sparkBuckets = vecs
      .select($"vec_id", Similarity.bucketExpr($"embedding", planes).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val local = Seq(
      0L -> Array(1.0f, 0.0f, 0.0f, 0.0f),
      3L -> Array(-1.0f, 0.0f, 0.0f, 0.0f))
    local.foreach { case (id, v) =>
      assert(sparkBuckets(id) == Similarity.bucketOf(v, planes))
    }
  }

  test("index append enforces the saved layout: missing column / wrong dim raise, extras are projected away") {
    import org.apache.spark.sql.functions.col
    // IVF keeps ALL build-time columns — a batch missing one would
    // write mixed-schema files and the no-mergeSchema reader could
    // silently drop the column for every row
    val old = (0 until 20).map { i =>
      if (i % 2 == 0) (i.toLong, Array(1.0f + i * 0.001f, 0.0f, 0.0f, 0.0f), i % 5)
      else (i.toLong, Array(0.0f, 1.0f + i * 0.001f, 0.0f, 0.0f), i % 5)
    }
    val path = raw(old.toDF("vec_id", "embedding", "label"), ivf(2), "graft_appval")

    val noLabel = Seq((100L, Array(1.05f, 0.0f, 0.0f, 0.0f)))
    val e = intercept[IllegalArgumentException] {
      AnnIndex.append(noLabel.toDF("vec_id", "embedding"), "vec_id", "embedding", path)
    }
    assert(e.getMessage.contains("label"), e.getMessage)

    val wrongDim = Seq((100L, Array(1.05f, 0.0f, 0.0f), 1))
    val e2 = intercept[IllegalArgumentException] {
      AnnIndex.append(wrongDim.toDF("vec_id", "embedding", "label"),
        "vec_id", "embedding", path)
    }
    assert(e2.getMessage.contains("dimension"), e2.getMessage)

    // extra columns are projected away, and the good append lands with
    // the saved layout intact (label survives for old AND new rows)
    val withExtra = Seq((100L, Array(1.05f, 0.0f, 0.0f, 0.0f), 3, "junk"))
    AnnIndex.append(withExtra.toDF("vec_id", "embedding", "label", "extra"),
      "vec_id", "embedding", path)
    val codes = spark.read.parquet(s"$path/codes")
    assert(!codes.columns.contains("extra"))
    assert(codes.filter(col("vec_id") === 100L).select("label").head.getInt(0) == 3)
    assert(codes.filter(col("label").isNull).count() == 0)

    // LSH: same law; wrong dim raises
    val lpath = raw(old.map(r => (r._1, r._2)).toDF("vec_id", "embedding"),
      AnnIndex.Lsh(numPlanes = 4), "graft_appval")
    val e3 = intercept[IllegalArgumentException] {
      AnnIndex.append(noLabel.toDF("id", "emb"), "id", "emb", lpath)
    }
    assert(e3.getMessage.contains("vec_id"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException] {
      AnnIndex.append(
        Seq((100L, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", lpath)
    }
    assert(e4.getMessage.contains("dimension"), e4.getMessage)
  }

  test("semanticDedup treats identical zero vectors as duplicates, distinct zero-norm pairs as incomparable") {
    // cosine is undefined at zero norm; EQUAL zero vectors are still
    // duplicates (exact equality ⇒ cosine 1 by continuity) — this pins
    // the operator to the same decision an embedding-equality oracle
    // would make, instead of silently keeping both
    val z = Seq(
      (0L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 0.0f, 0.0f, 0.0f)),  // identical zero clone → drop
      (2L, Array(1.0f, 0.0f, 0.0f, 0.0f))   // zero-vs-nonzero → keep
    ).toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedup(z, "vec_id", "embedding",
        threshold = 1.0, nlist = 1)
      .select("vec_id").as[Long].collect.toSeq.sorted
    assert(kept == Seq(0L, 2L))
  }

  test("d_semantic_dedup oracle precondition: the gate-SF embeddings have no NEAR-identical distinct pair") {
    import org.apache.spark.sql.functions._
    // The driver's DuckDB oracle drops exact embedding equality, while
    // the operator drops round(cosine,4) >= 1.0 (cosine >= 0.99995).
    // Those agree only while the base table contains no DISTINCT pair
    // inside that band — a property of the data, not the code — so pin
    // it here: if a regenerated testdata ever plants a natural
    // near-twin, THIS fails with a diagnosis instead of the round's
    // correctness gate failing with a bare hash mismatch.
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val a = base.select(col("vec_id").as("ida"), col("v").as("va"))
    val b = base.select(col("vec_id").as("idb"), col("v").as("vb"))
    val distinctNearTwins = a.join(b, col("ida") < col("idb"))
      .withColumn("cos",
        aggregate(zip_with(col("va"), col("vb"), (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x) /
          (sqrt(aggregate(col("va"), lit(0.0), (acc, x) => acc + x * x)) *
           sqrt(aggregate(col("vb"), lit(0.0), (acc, x) => acc + x * x))))
      .filter(round(col("cos"), 4) >= 1.0 && !(col("va") === col("vb")))
      .count()
    assert(distinctNearTwins == 0L,
      "embeddings.parquet now contains a distinct near-identical pair " +
        "(cosine >= 0.99995): the d_semantic_dedup equality oracle no " +
        "longer matches the operator — regenerate the oracle or exclude " +
        "the pair")
  }

  test("LSH plane counts outside 1..30 raise; 8 planes is unchanged") {
    // bucket ids are Int sign patterns: at 31 planes the probe range
    // `0 until (1 << 31)` is empty, at 33 bit 32 aliases bit 0
    for (p <- Seq(0, 31, 33)) {
      intercept[IllegalArgumentException] {
        Similarity.lshTopK(vecs, "vec_id", "embedding", q, 3, numPlanes = p)
      }
      intercept[IllegalArgumentException](AnnIndex.Lsh(numPlanes = p))
    }
    // a loaded index's planes are checked as well
    val bad = raw(vecs, AnnIndex.Lsh(numPlanes = 4), "graft_lshplanes")
    ModelSidecar.write(spark, bad, "_planes.txt", Map.empty,
      Seq("planes" -> (Similarity.hyperplanes(30, 4) ++ Similarity.hyperplanes(1, 4))))
    intercept[IllegalArgumentException](search(bad, vecs, q, 3, nprobe = 1))
    // 8 planes, probing every bucket: exactly brute force, one-shot and
    // persisted alike
    val brute = Similarity.cosineTopK(vecs, "vec_id", "embedding", q, 5).collect().toSeq
    assert(Similarity.lshTopK(vecs, "vec_id", "embedding", q, 5, numPlanes = 8,
      probeHamming = 8).collect().toSeq == brute)
    val idx = raw(vecs, AnnIndex.Lsh(numPlanes = 8), "graft_lshplanes")
    assert(search(idx, vecs, q, 5, nprobe = 8).collect().toSeq == brute)
  }

  test("a directory without its sidecar raises naming it: LSH and IVF") {
    // an LSH or IVF index is an AnnIndex: probing or appending to a
    // directory without its sidecars raises naming the directory
    val empty = graft.TestDirs.create("graft_nosidecar").toString
    val probe = intercept[IllegalArgumentException](search(empty, vecs, q, 3, nprobe = 1))
    assert(probe.getMessage.contains(empty), probe.getMessage)
    val app = intercept[IllegalArgumentException](
      AnnIndex.append(vecs, "vec_id", "embedding", empty))
    assert(app.getMessage.contains(empty), app.getMessage)
  }
}
