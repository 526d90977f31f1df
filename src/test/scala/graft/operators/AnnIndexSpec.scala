package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The composed index: every coarse × codec pair through one build,
  * append and search path, with the Spark jobs each call schedules
  * pinned (a model or point sidecar load is a driver-side file read,
  * never a job).
  */
class AnnIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 16

  private def randVecs(n: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2 - 1).toSeq))
  }

  private def corpus(n: Int = 300, seed: Long = 7L) =
    randVecs(n, seed).toDF("id", "vec")

  private def tmp(): String =
    graft.TestDirs.create("graft_ann").toString

  private val query = randVecs(1, 99L).head._2.map(_.toFloat).toArray

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def cells = AnnIndex.Ivf(nlist = 6, maxIter = 3, initMode = "random")

  private def codecs(df: org.apache.spark.sql.DataFrame) = Seq(
    "pq" -> AnnIndex.Pq(Pq.fit(df, "id", "vec", nsub = 4, k = 8, maxIter = 3)),
    "sq" -> AnnIndex.Sq8(Sq.fit(df, "id", "vec")),
    "bq" -> AnnIndex.Bq(Bq.fit(df, "id", "vec")))

  /** Jobs scheduled while `f` runs. */
  private def jobs(f: => Unit): Int =
    org.apache.spark.ListenerBusDrain.jobsDuring(spark.sparkContext)(f)._1

  test("job counts: build, append and search per codec on Flat and on Ivf") {
    val df = corpus()
    val batch = randVecs(20, 8L).map { case (i, v) => (i + 1000L, v) }.toDF("id", "vec")
    // Flat: one write per build/append. Search: the candidate pool and
    // the rerank (the codes table is read under its saved schema, so
    // no schema-inference job). Ivf adds the sample fit and the
    // cell-partitioned write's exchange; its search prunes cells
    // driver-side, so it schedules what a Flat search does.
    val want = Map("flat" -> (1, 1, 2), "ivf" -> (5, 2, 2))
    for ((name, codec) <- codecs(df);
         (coarseName, coarse) <- Seq("flat" -> AnnIndex.Flat, "ivf" -> cells)) {
      val path = tmp()
      val got = (
        jobs(AnnIndex.build(df, "id", "vec", path, codec, coarse)),
        jobs(AnnIndex.append(batch, "id", "vec", path)),
        jobs(AnnIndex.search(spark, path, df, "id", "vec", query, 10,
          pool = 50, nprobe = 2).collect()))
      assert(got == want(coarseName), s"$name × $coarseName (build, append, search)")
    }
    // Raw on Ivf and on Lsh: the raw-IVF and persisted-LSH layouts
    // this index absorbed. Their own methods scheduled (5, 3, 2):
    // ivfIndex + saveIvfIndex, ivfAppend, loadIvfIndex + ivfTopK; and
    // (4, 3, 2): lshIndex, lshAppend, lshTopK. The saved schema drops
    // the schema-inference job from append and search; a Raw search
    // is one ranked scan (no pool, no rerank join).
    for ((coarseName, coarse, want) <- Seq(("ivf", cells, (5, 2, 1)),
        ("lsh", AnnIndex.Lsh(numPlanes = 4), (4, 2, 1)))) {
      val path = tmp()
      val got = (
        jobs(AnnIndex.build(df, "id", "vec", path, AnnIndex.Raw, coarse)),
        jobs(AnnIndex.append(batch, "id", "vec", path)),
        jobs(AnnIndex.search(spark, path, df, "id", "vec", query, 10,
          nprobe = 2).collect()))
      assert(got == want, s"raw × $coarseName (build, append, search)")
    }
  }

  test("a repeated search reuses the loaded index until an append changes it") {
    // 64 LSH buckets: listing more than 32 cell directories is a Spark
    // job, which only the first search of the unchanged index pays
    val df = corpus()
    val path = tmp()
    AnnIndex.build(df, "id", "vec", path, AnnIndex.Raw, AnnIndex.Lsh(numPlanes = 6))
    def search() = AnnIndex.search(spark, path, df, "id", "vec", query, 3, nprobe = 6)
      .collect().map(_.getLong(0)).toSeq
    val (first, again) = (jobs(search()), jobs(search()))
    assert(again == first - 1, s"first search $first jobs, repeated $again")
    // an appended exact match of the query ranks first at once
    AnnIndex.append(Seq((5000L, query.toSeq)).toDF("id", "vec"), "id", "vec", path)
    assert(search().head == 5000L)
  }

  test("job counts: a PQ searchJoin schedules what pqTopKJoin did") {
    val df = corpus()
    val path = tmp()
    AnnIndex.build(df, "id", "vec", path, codecs(df).head._2)
    assert(jobs(AnnIndex.searchJoin(spark, path, df.filter($"id" < 5), "id", "vec",
      df, "id", "vec", 10, pool = 50).collect()) == 6) // pqTopKJoin: 7, one a schema read
  }

  test("job counts: a Raw × Ivf searchJoin schedules no more than ivfTopKJoin did") {
    // ivfTopKJoin over a loaded index scheduled 6 at nprobe = 2 and at
    // full probe: the schema read, the query × centroid probe list and
    // the per-query top-k. The saved schema drops the read; full probe
    // skips the probe list.
    val df = corpus()
    val path = tmp()
    AnnIndex.build(df, "id", "vec", path, AnnIndex.Raw, cells)
    def join(nprobe: Int) = jobs(AnnIndex.searchJoin(spark, path,
      df.filter($"id" < 5), "id", "vec", df, "id", "vec", 10, nprobe = nprobe).collect())
    assert((join(2), join(6)) == ((5, 3)))
  }

  test("Lsh × Sq8 at full radius and full pool ≡ cosineTopK") {
    val df = corpus()
    val path = tmp()
    AnnIndex.build(df, "id", "vec", path, AnnIndex.Sq8(Sq.fit(df, "id", "vec")),
      AnnIndex.Lsh(numPlanes = 6))
    assert(rows(AnnIndex.search(spark, path, df, "id", "vec", query, 10,
        pool = 1000, nprobe = 6)) ==
      rows(Similarity.cosineTopK(df, "id", "vec", query, 10)))
  }

  test("searchJoin probes each query's own cells, for every codec") {
    val df = corpus()
    val queries = df.filter($"id" < 4)
    def triples(d: org.apache.spark.sql.DataFrame) = d
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = triples(Similarity.cosineTopKJoin(queries, "id", "vec", df, "id", "vec", k = 5))
    def cellOf(path: String) = spark.read.parquet(s"$path/codes")
      .select($"id", $"_cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    for ((codec, coarse, narrow) <- Seq(
        (AnnIndex.Sq8(Sq.fit(df, "id", "vec")), cells, 1),
        (AnnIndex.Raw, AnnIndex.Lsh(numPlanes = 3), 0))) {
      val path = tmp()
      AnnIndex.build(df, "id", "vec", path, codec, coarse)
      def join(nprobe: Int) = AnnIndex.searchJoin(spark, path, queries, "id", "vec",
        df, "id", "vec", k = 5, pool = 1000, nprobe = nprobe)
      assert(triples(join(Int.MaxValue)) == brute, s"$codec × $coarse full probe")
      // one probed cell per query: every neighbour shares it
      val cell = cellOf(path)
      join(narrow).collect().groupBy(_.getLong(0)).foreach { case (q, ns) =>
        assert(ns.map(n => cell(n.getLong(1))).toSet.size == 1, s"$codec × $coarse query $q")
      }
    }
  }

  test("dials at their bounds: nprobe 0 / −1 raise naming the dial, Int.MaxValue is full probe") {
    val df = corpus(100)
    val brute = rows(Similarity.cosineTopK(df, "id", "vec", query, 5))
    for ((coarse, lowest) <- Seq((cells, 1), (AnnIndex.Lsh(numPlanes = 4), 0))) {
      val path = tmp()
      AnnIndex.build(df, "id", "vec", path, AnnIndex.Raw, coarse)
      def search(nprobe: Int) =
        AnnIndex.search(spark, path, df, "id", "vec", query, 5, nprobe = nprobe)
      for (bad <- Seq(0, -1).filter(_ < lowest)) {
        val e = intercept[IllegalArgumentException](search(bad))
        assert(e.getMessage.contains(s"nprobe=$bad"), e.getMessage)
        intercept[IllegalArgumentException](AnnIndex.searchJoin(spark, path,
          df.filter($"id" < 2), "id", "vec", df, "id", "vec", 5, nprobe = bad))
      }
      assert(rows(search(lowest)).nonEmpty, s"$coarse at nprobe=$lowest")
      assert(rows(search(Int.MaxValue)) == brute, s"$coarse at Int.MaxValue")
    }
    // the one-shot LSH probe: the radius is probeHamming
    val e = intercept[IllegalArgumentException] {
      Similarity.lshTopK(df, "id", "vec", query, 5, numPlanes = 4, probeHamming = -1)
    }
    assert(e.getMessage.contains("probeHamming=-1"), e.getMessage)
    assert(rows(Similarity.lshTopK(df, "id", "vec", query, 5, numPlanes = 4,
      probeHamming = 0)).nonEmpty)
    assert(rows(Similarity.lshTopK(df, "id", "vec", query, 5, numPlanes = 4,
      probeHamming = Int.MaxValue)) == brute)
  }

  test("IVF×BQ: full probe and full pool ≡ cosineTopK; nprobe = 1 prunes _cell partitions") {
    val df = corpus()
    val path = tmp()
    AnnIndex.build(df, "id", "vec", path, AnnIndex.Bq(Bq.fit(df, "id", "vec")),
      cells)
    assert(rows(AnnIndex.search(spark, path, df, "id", "vec", query, 10,
        pool = 1000, nprobe = 6)) ==
      rows(Similarity.cosineTopK(df, "id", "vec", query, 10)))
    val plan = AnnIndex.search(spark, path, df, "id", "vec", query, 10,
      pool = 50, nprobe = 1).queryExecution.executedPlan.toString
    val scan = plan.linesIterator.find(_.contains("PartitionFilters"))
      .getOrElse(fail("no PartitionFilters in plan:\n" + plan.take(3000)))
    assert(scan.contains("_cell"), scan)
  }

  test("SQ8 searchJoin at full pool ≡ cosineTopKJoin") {
    val df = corpus()
    val path = tmp()
    AnnIndex.build(df, "id", "vec", path, AnnIndex.Sq8(Sq.fit(df, "id", "vec")))
    val queries = df.filter($"id" < 5)
    def triples(d: org.apache.spark.sql.DataFrame) = d
      .orderBy($"q_id", $"cos_sim".desc, $"n_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(triples(AnnIndex.searchJoin(spark, path, queries, "id", "vec",
        df, "id", "vec", k = 10, pool = 1000)) ==
      triples(Similarity.cosineTopKJoin(queries, "id", "vec", df, "id", "vec", k = 10)))
  }

  test("BQ searchJoin at full pool ≡ cosineTopKJoin") {
    val df = corpus()
    val path = tmp()
    AnnIndex.build(df, "id", "vec", path, AnnIndex.Bq(Bq.fit(df, "id", "vec")))
    val queries = df.filter($"id" < 5)
    def triples(d: org.apache.spark.sql.DataFrame) = d
      .orderBy($"q_id", $"cos_sim".desc, $"n_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(triples(AnnIndex.searchJoin(spark, path, queries, "id", "vec",
        df, "id", "vec", k = 10, pool = 1000)) ==
      triples(Similarity.cosineTopKJoin(queries, "id", "vec", df, "id", "vec", k = 10)))
  }

  test("BQ searchJoin at a pruned pool: each query's rows ≡ search for that query") {
    val df = corpus()
    val path = tmp()
    AnnIndex.build(df, "id", "vec", path, AnnIndex.Bq(Bq.fit(df, "id", "vec")))
    val queries = df.filter($"id" < 5).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val joined = AnnIndex.searchJoin(spark, path, df.filter($"id" < 5), "id", "vec",
        df, "id", "vec", k = 5, pool = 20)
      .collect().groupBy(_.getLong(0))
      .map { case (q, ns) => q -> ns.map(r => (r.getLong(1), r.getDouble(2)))
        .sortBy { case (id, cos) => (-cos, id) }.toSeq }
    assert(joined.keySet == queries.map(_._1).toSet)
    for ((q, v) <- queries)
      assert(joined(q) == rows(AnnIndex.search(spark, path, df, "id", "vec", v, 5, pool = 20)),
        s"query $q")
  }

  test("a directory without a model sidecar is not an index: raises naming it") {
    val empty = tmp()
    val e = intercept[IllegalArgumentException] {
      AnnIndex.search(spark, empty, corpus(10), "id", "vec", query, 3)
    }
    assert(e.getMessage.contains(empty), e.getMessage)
  }
}
