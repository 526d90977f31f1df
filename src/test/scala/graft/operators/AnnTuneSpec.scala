package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Recall-target auto-tuning: the tuner must hit the requested
  * recall@k on the holdout and pick the cheapest dial that does.
  */
class AnnTuneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 16

  // 16 well-separated clusters × 60 points: recall curves are smooth
  // in nprobe/pool, so the walk has real work to do (random vectors
  // make every method either trivial or hopeless)
  private def clustered(nClusters: Int = 16, per: Int = 60, seed: Long = 5L) = {
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(nClusters)(Array.fill(dim)(rnd.nextDouble() * 10 - 5))
    (0 until nClusters * per).map { i =>
      val c = centers(i % nClusters)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.8).toFloat).toSeq)
    }.toDF("id", "vec")
  }

  private def tmp(pfx: String): String =
    graft.TestDirs.create(pfx).toString

  /** A Raw × Ivf(16) index of `df`: the raw-IVF layout. */
  private def rawIvf(df: org.apache.spark.sql.DataFrame, pfx: String): String = {
    val path = tmp(pfx)
    AnnIndex.build(df, "id", "vec", path, AnnIndex.Raw,
      AnnIndex.Ivf(nlist = 16, maxIter = 20))
    path
  }

  test("tuneIvf reaches the target with the smallest sufficient nprobe") {
    val df = clustered()
    val idx = rawIvf(df, "graft_tune_ivf")
    val got = AnnIndex.tune(spark, idx, df, "id", "vec", target = 0.9,
      k = 10, nQueries = 8)
    assert(got.recall >= 0.9, s"recall ${got.recall} below target at $got")
    assert(got.setting.keySet == Set("nprobe")) // a Raw codec has no pool dial
    val np = got.setting("nprobe")
    assert(np <= 16)
    // minimality: the previous doubling step misses the target
    if (np > 1) {
      val qs = AnnTune.holdout(df, "id", "vec", 8)
      val truth = AnnTune.groundTruth(df, "id", "vec", qs, 10)
      val prev = AnnTune.measureRecall(qs, truth, "id", 10)(v =>
        AnnIndex.search(spark, idx, df, "id", "vec", v, 10, nprobe = np / 2))
      assert(prev < 0.9, s"nprobe ${np / 2} already reaches target ($prev)")
    }
    // a loose target picks a dial no more expensive than a tight one
    val loose = AnnIndex.tune(spark, idx, df, "id", "vec", target = 0.2,
      k = 10, nQueries = 8)
    assert(loose.setting("nprobe") <= np)
  }

  test("tune on a Raw × Lsh index walks every Hamming radius from 0") {
    val df = clustered()
    val idx = tmp("graft_tune_lsh")
    AnnIndex.build(df, "id", "vec", idx, AnnIndex.Raw, AnnIndex.Lsh(numPlanes = 6))
    // radius 0 (the query's own bucket) is the cheapest probe: the
    // self-match alone gives recall ≥ 1/k there, so a loose target stops
    val loose = AnnIndex.tune(spark, idx, df, "id", "vec", target = 0.05,
      k = 10, nQueries = 8)
    assert(loose.setting == Map("nprobe" -> 0), loose)
    val got = AnnIndex.tune(spark, idx, df, "id", "vec", target = 0.95,
      k = 10, nQueries = 8)
    assert(got.recall >= 0.95, s"recall ${got.recall} below target at $got")
    val r = got.setting("nprobe")
    assert(r >= 0 && r <= 6)
    // minimality: the next smaller radius misses the target
    if (r > 0) {
      val qs = AnnTune.holdout(df, "id", "vec", 8)
      val truth = AnnTune.groundTruth(df, "id", "vec", qs, 10)
      val prev = AnnTune.measureRecall(qs, truth, "id", 10)(v =>
        AnnIndex.search(spark, idx, df, "id", "vec", v, 10, nprobe = r - 1))
      assert(prev < 0.95, s"radius ${r - 1} already reaches target ($prev)")
    }
  }

  test("tuneSq reaches the target; max pool is exact so any target is reachable") {
    val df = clustered(nClusters = 8, per = 40)
    val model = Sq.fit(df, "id", "vec")
    val path = tmp("graft_tune_sq")
    AnnIndex.build(df, "id", "vec", path, AnnIndex.Sq8(model))
    val got = AnnIndex.tune(spark, path, df, "id", "vec", target = 0.95,
      k = 10, nQueries = 6, pools = AnnTune.doubling(512))
    assert(got.recall >= 0.95, s"recall ${got.recall} below target at $got")
    assert(got.setting("pool") >= 10 && got.setting("pool") <= 512)
    // perfection is reachable at the exact end of the walk
    val exact = AnnIndex.tune(spark, path, df, "id", "vec", target = 1.0,
      k = 10, nQueries = 6, pools = AnnTune.doubling(512))
    assert(exact.recall == 1.0)
  }

  test("tuneIvfPq walks the joint grid cheapest-first and reaches the target") {
    val df = clustered()
    val path = tmp("graft_tune_ivfpq")
    val model = Pq.fit(df, "id", "vec", nsub = 4)
    AnnIndex.build(df, "id", "vec", path, AnnIndex.Pq(model),
      AnnIndex.Ivf(nlist = 16))
    val got = AnnIndex.tune(spark, path, df, "id", "vec", target = 0.8,
      k = 10, nQueries = 6, pools = Seq(64, 256, 1024))
    assert(got.recall >= 0.8, s"recall ${got.recall} below target at $got")
    assert(got.setting.keySet == Set("nprobe", "pool"))
  }

  test("tuneBq reaches the target; 1-bit codes just need the pool the walk finds") {
    val df = clustered(nClusters = 8, per = 40)
    val model = Bq.fit(df, "id", "vec")
    val path = tmp("graft_tune_bq")
    AnnIndex.build(df, "id", "vec", path, AnnIndex.Bq(model))
    val got = AnnIndex.tune(spark, path, df, "id", "vec", target = 0.9,
      k = 10, nQueries = 6, pools = AnnTune.doubling(512))
    assert(got.recall >= 0.9, s"recall ${got.recall} below target at $got")
    assert(got.setting.keySet == Set("pool"))
    assert(got.setting("pool") >= 10 && got.setting("pool") <= 512)
  }

  test("tuneOpq walks the rotated-code index like any PQ index") {
    val df = clustered(nClusters = 8, per = 40)
    val model = Pq.fitOpq(df, "id", "vec", nsub = 4, k = 16,
      maxIter = 3, opqIters = 2)
    val path = tmp("graft_tune_opq")
    AnnIndex.build(df, "id", "vec", path, AnnIndex.Pq(model))
    val got = AnnIndex.tune(spark, path, df, "id", "vec", target = 0.85,
      k = 10, nQueries = 6, pools = AnnTune.doubling(512))
    assert(got.recall >= 0.85, s"recall ${got.recall} below target at $got")
    assert(got.setting.keySet == Set("pool"))
  }

  test("operating point roundtrips through the index sidecar and drives tuned probes") {
    val df = clustered(nClusters = 8, per = 40)
    val model = Sq.fit(df, "id", "vec")
    val path = tmp("graft_tune_sidecar")
    AnnIndex.build(df, "id", "vec", path, AnnIndex.Sq8(model))
    assert(AnnTune.loadPoint(spark, path).isEmpty) // untuned index
    val tuned = AnnIndex.tune(spark, path, df, "id", "vec", target = 0.9,
      k = 10, nQueries = 6, pools = AnnTune.doubling(512))
    AnnTune.savePoint(spark, path, tuned)
    assert(AnnTune.loadPoint(spark, path).contains(tuned)) // exact roundtrip
    // the tuned probe runs at the saved dial: identical rows to the
    // direct call with the point's pool
    val q = AnnTune.holdout(df, "id", "vec", 1).head._2
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).toSeq
    assert(rows(AnnIndex.searchTuned(spark, path, df, "id", "vec", q, 10)) ==
      rows(AnnIndex.search(spark, path, df, "id", "vec", q, 10, tuned.setting("pool"))))
    // re-tuning overwrites
    val loose = AnnIndex.tune(spark, path, df, "id", "vec", target = 0.2,
      k = 10, nQueries = 6, pools = AnnTune.doubling(512))
    AnnTune.savePoint(spark, path, loose)
    assert(AnnTune.loadPoint(spark, path).contains(loose))
    // a joint-dial probe against a pool-only point names the missing dial
    val cells = tmp("graft_tune_cells")
    AnnIndex.build(df, "id", "vec", cells, AnnIndex.Sq8(model), AnnIndex.Ivf(nlist = 4))
    AnnTune.savePoint(spark, cells, loose)
    val e = intercept[IllegalArgumentException] {
      AnnIndex.searchTuned(spark, cells, df, "id", "vec", q, 10)
    }
    assert(e.getMessage.contains("nprobe"))
    // an untuned index raises actionably
    val bare = tmp("graft_tune_bare")
    AnnIndex.build(df, "id", "vec", bare, AnnIndex.Sq8(model))
    intercept[IllegalStateException] {
      AnnIndex.searchTuned(spark, bare, df, "id", "vec", q, 10)
    }
  }

  test("joint ivfpq point roundtrips with both dials") {
    val df = clustered()
    val path = tmp("graft_tune_ivfpq_sc")
    val model = Pq.fit(df, "id", "vec", nsub = 4)
    AnnIndex.build(df, "id", "vec", path, AnnIndex.Pq(model),
      AnnIndex.Ivf(nlist = 16))
    val got = AnnIndex.tune(spark, path, df, "id", "vec", target = 0.8,
      k = 10, nQueries = 4, pools = Seq(64, 256))
    AnnTune.savePoint(spark, path, got)
    assert(AnnTune.loadPoint(spark, path).contains(got))
    val q = AnnTune.holdout(df, "id", "vec", 1).head._2
    assert(AnnIndex.searchTuned(spark, path, df, "id", "vec", q, 10)
      .count() == 10)
  }

  test("holdout is deterministic under repartitioning") {
    val df = clustered(nClusters = 4, per = 20)
    val a = AnnTune.holdout(df, "id", "vec", 5).map(_._1).toSeq
    val b = AnnTune.holdout(df.repartition(13), "id", "vec", 5).map(_._1).toSeq
    assert(a == b && a.size == 5)
  }

  // ---- r15: join-granularity tuning — the batch-retrieval shape -----

  test("tuneIvfJoin hits the target against the brute-force JOIN ground truth") {
    val df = clustered()
    val idx = rawIvf(df, "graft_tune_ivfjoin")
    val got = AnnIndex.tuneJoin(spark, idx, df, "id", "vec", target = 0.9,
      k = 10, nQueries = 8)
    assert(got.recall >= 0.9, s"join recall ${got.recall} below target at $got")
    val np = got.setting("nprobe")
    assert(np <= 16)
    // minimality at join granularity: the previous doubling step
    // misses the target when the tuner didn't stop at nprobe = 1
    if (np > 1) {
      val qs = AnnTune.holdoutDf(df, "id", "vec", 8)
      val truth = AnnTune.joinTruth(qs, df, "id", "vec", 10)
      val prev = AnnTune.measureJoinRecall(truth, AnnIndex.searchJoin(spark, idx,
        qs, "_hq_id", "_hq_v", df, "id", "vec", 10, nprobe = np / 2))
      assert(prev < 0.9, s"nprobe ${np / 2} already reaches target ($prev)")
    }
    // full probe ⇒ the join IS brute force ⇒ recall exactly 1
    val qs = AnnTune.holdoutDf(df, "id", "vec", 4)
    val truth = AnnTune.joinTruth(qs, df, "id", "vec", 10)
    assert(AnnTune.measureJoinRecall(truth, AnnIndex.searchJoin(spark, idx,
      qs, "_hq_id", "_hq_v", df, "id", "vec", 10, nprobe = 16)) == 1.0)
  }

  test("join operating point: separate sidecar, tuned join entry points, dial checks") {
    val df = clustered()
    val path = rawIvf(df, "graft_tune_join")
    // probe point and join point coexist without clobbering
    val probePoint = AnnIndex.tune(spark, path, df, "id", "vec", target = 0.5,
      k = 10, nQueries = 4)
    AnnTune.savePoint(spark, path, probePoint)
    val joinPoint = AnnIndex.tuneJoin(spark, path, df, "id", "vec", target = 0.9,
      k = 10, nQueries = 8)
    AnnTune.savePoint(spark, path, joinPoint, AnnTune.JoinPointSidecar)
    assert(AnnTune.loadPoint(spark, path).contains(probePoint))
    assert(AnnTune.loadPoint(spark, path,
      AnnTune.JoinPointSidecar).contains(joinPoint))
    // the tuned join entry runs at the saved dial: identical rows to
    // the direct call, and its measured recall clears the target
    val qs = AnnTune.holdoutDf(df, "id", "vec", 8)
    def rows(d: org.apache.spark.sql.DataFrame) = d
      .orderBy("q_id", "n_id").collect().map(_.toSeq).toSeq
    val viaTuned = AnnIndex.searchJoinTuned(spark, path,
      qs, "_hq_id", "_hq_v", df, "id", "vec", 10)
    assert(rows(viaTuned) == rows(AnnIndex.searchJoin(spark, path,
      qs, "_hq_id", "_hq_v", df, "id", "vec", 10,
      nprobe = joinPoint.setting("nprobe"))))
    val truth = AnnTune.joinTruth(qs, df, "id", "vec", 10)
    assert(AnnTune.measureJoinRecall(truth, viaTuned) >= 0.9)
    // a join-tuned probe against an index with only a PROBE point
    // raises actionably (missing join sidecar)
    val bare = rawIvf(df, "graft_tune_join_bare")
    AnnTune.savePoint(spark, bare, probePoint)
    intercept[IllegalStateException] {
      AnnIndex.searchJoinTuned(spark, bare, qs, "_hq_id", "_hq_v", df, "id", "vec", 10)
    }
  }

  test("tunePqJoin + pqTopKJoinTuned: pool walk at join granularity, sidecar roundtrip") {
    val df = clustered(nClusters = 8, per = 40)
    val path = tmp("graft_tune_pqjoin")
    val model = Pq.fit(df, "id", "vec", nsub = 4)
    AnnIndex.build(df, "id", "vec", path, AnnIndex.Pq(model))
    val got = AnnIndex.tuneJoin(spark, path, df, "id", "vec", target = 0.9,
      k = 10, nQueries = 6, pools = AnnTune.doubling(512))
    assert(got.recall >= 0.9, s"join recall ${got.recall} below target at $got")
    AnnTune.savePoint(spark, path, got, AnnTune.JoinPointSidecar)
    val qs = AnnTune.holdoutDf(df, "id", "vec", 6)
    val truth = AnnTune.joinTruth(qs, df, "id", "vec", 10)
    val viaTuned = AnnIndex.searchJoinTuned(spark, path,
      qs, "_hq_id", "_hq_v", df, "id", "vec", 10)
    assert(AnnTune.measureJoinRecall(truth, viaTuned) >= 0.9)
  }
}
