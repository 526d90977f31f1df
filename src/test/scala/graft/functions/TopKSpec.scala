package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class TopKSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("topKMin returns the k smallest per group, sorted — partial-merge path included") {
    val rnd = new scala.util.Random(11)
    val data = Seq.fill(5000)((rnd.nextInt(4), rnd.nextInt(100000).toLong))
    // repartition(8) forces map-side partial heaps + merge
    val df = data.toDF("g", "v").repartition(8)
    val got = df.groupBy("g").agg(TopKMin.topKMin($"v", 25).as("top"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    val expected = data.groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.take(25).toSeq).toMap
    assert(got == expected)
  }

  test("k larger than the group returns the whole group; nulls skipped") {
    val df = Seq[(Int, Option[Long])](
      (1, Some(5L)), (1, Some(3L)), (1, None), (2, Some(9L))
    ).toDF("g", "v")
    val got = df.groupBy("g").agg(TopKMin.topKMin($"v", 10).as("top"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    assert(got == Map(1 -> Seq(3L, 5L), 2 -> Seq(9L)))
  }

  test("duplicate values are kept with multiplicity") {
    val df = Seq((1, 7L), (1, 7L), (1, 8L)).toDF("g", "v")
    val got = df.groupBy("g").agg(TopKMin.topKMin($"v", 2).as("top"))
      .head.getSeq[Long](1)
    assert(got == Seq(7L, 7L))
  }

  test("topKPairs keeps the k best pairs, both orderings, merge path included") {
    val rnd = new scala.util.Random(7)
    val data = Seq.fill(4000)(
      (rnd.nextInt(3), rnd.nextInt(1000) / 10.0, rnd.nextLong() & 0xffffL))
    val df = data.toDF("g", "s", "id").repartition(8)
    def brute(largest: Boolean) = data.groupBy(_._1).view.mapValues { rows =>
      val ord = if (largest) Ordering.by[(Int, Double, Long), (Double, Long)](
        r => (-r._2, r._3)) else Ordering.by[(Int, Double, Long), (Double, Long)](
        r => (r._2, r._3))
      rows.sorted(ord).take(15).map(r => (r._2, r._3)).toSeq
    }.toMap
    for (largest <- Seq(false, true)) {
      val got = df.groupBy("g")
        .agg(TopKPairs.topKPairs($"s", $"id", 15, bestIsLargest = largest).as("top"))
        .collect().map { r =>
          r.getInt(0) -> r.getSeq[org.apache.spark.sql.Row](1)
            .map(p => (p.getDouble(0), p.getLong(1)))
        }.toMap
      assert(got == brute(largest), s"bestIsLargest=$largest")
    }
  }

  test("topKPairs ranks NaN scores worst under both orderings") {
    val df = Seq((1, Double.NaN, 1L), (1, 0.5, 2L), (1, -0.5, 3L))
      .toDF("g", "s", "id")
    def ids(largest: Boolean) = df.groupBy("g")
      .agg(TopKPairs.topKPairs($"s", $"id", 2, bestIsLargest = largest).as("top"))
      .head.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1))
    assert(ids(largest = true) == Seq(2L, 3L))
    assert(ids(largest = false) == Seq(3L, 2L))
  }

  test("cosineTopKJoin equals per-query brute-force cosineTopK") {
    import graft.operators.Similarity
    val rnd = new scala.util.Random(3)
    val vecs = (0L until 300L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val joined = Similarity.cosineTopKJoin(
        vecs.filter($"vec_id" < 4), "vec_id", "embedding",
        vecs, "vec_id", "embedding", k = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    (0L until 4L).foreach { qid =>
      val q = vecs.filter($"vec_id" === qid)
        .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
      val brute = Similarity.cosineTopK(vecs, "vec_id", "embedding", q, k = 7)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(joined(qid) == brute, s"query $qid")
    }
  }

  test("ivfTopKJoin at full probe equals the brute-force k-NN join; pruned stays in-cell") {
    import graft.operators.{AnnIndex, Similarity}
    val rnd = new scala.util.Random(5)
    val vecs = (0L until 400L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 3)
    val idx = graft.TestDirs.create("graft_ivfjoin").toString
    AnnIndex.build(vecs, "vec_id", "embedding", idx, AnnIndex.Raw,
      AnnIndex.Ivf(nlist = 4, maxIter = 3, initMode = "random"))
    def join(nprobe: Int) = AnnIndex.searchJoin(spark, idx,
      queries, "vec_id", "embedding", vecs, "vec_id", "embedding", k = 6, nprobe = nprobe)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // full probe ≡ brute force (cell layout only decides what's PRUNED)
    val full = join(4)
    val brute = Similarity.cosineTopKJoin(queries, "vec_id", "embedding",
      vecs, "vec_id", "embedding", k = 6)
    assert(rows(full) == rows(brute))

    // pruned: every neighbor comes from the query's probed cells
    val cellOf = spark.read.parquet(s"$idx/codes").select($"vec_id", $"_cell")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val pruned = join(1)
    pruned.collect().groupBy(_.getLong(0)).foreach { case (qid, ns) =>
      val probedCells = ns.map(n => cellOf(n.getLong(1))).toSet
      assert(probedCells.size == 1, s"query $qid strayed outside its probed cell")
    }
  }

  test("SQL surface via registration") {
    GraftFunctions.register(spark)
    Seq((1, 4L), (1, 2L), (1, 9L)).toDF("g", "v").createOrReplaceTempView("tk")
    val got = spark.sql(
      "SELECT graft_top_k_min(v, 2) FROM tk GROUP BY g").head.getSeq[Long](0)
    assert(got == Seq(2L, 4L))
  }

  test("k bounds are enforced") {
    intercept[IllegalArgumentException] {
      Seq((1, 1L)).toDF("g", "v").groupBy("g")
        .agg(TopKMin.topKMin($"v", 0)).collect()
    }
  }
}
