package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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
    java.nio.file.Files.createTempDirectory("graft_ann").toString

  private val query = randVecs(1, 99L).head._2.map(_.toFloat).toArray

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def cells = AnnIndex.Ivf(nlist = 6, maxIter = 3, initMode = "random")

  private def codecs(df: org.apache.spark.sql.DataFrame) = Seq(
    "pq" -> AnnIndex.Pq(Pq.fit(df, "id", "vec", nsub = 4, k = 8, maxIter = 3)),
    "sq" -> AnnIndex.Sq8(Sq.fit(df, "id", "vec")),
    "bq" -> AnnIndex.Bq(Bq.fit(df, "id", "vec")))

  /** Jobs scheduled while `f` runs. */
  private def jobs(f: => Unit): Int = {
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain.drain(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try { f; org.apache.spark.ListenerBusDrain.drain(sc) }
    finally sc.removeSparkListener(listener)
    n.get
  }

  test("job counts: build, append and search per codec on Flat and on Ivf") {
    val df = corpus()
    val batch = randVecs(20, 8L).map { case (i, v) => (i + 1000L, v) }.toDF("id", "vec")
    // Flat: one write per build/append. Search: the codes-table schema
    // read, the candidate pool, the rerank. Ivf adds the sample fit and
    // the cell-partitioned write's exchange; its search prunes cells
    // driver-side, so it schedules what a Flat search does. These are
    // the counts of the per-kind methods this index replaced (IVF×SQ
    // append and every IVF×BQ call had none; they share IVF×PQ's path).
    val want = Map("flat" -> (1, 1, 3), "ivf" -> (5, 2, 3))
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
  }

  test("job counts: a PQ searchJoin schedules what pqTopKJoin did") {
    val df = corpus()
    val path = tmp()
    AnnIndex.build(df, "id", "vec", path, codecs(df).head._2)
    assert(jobs(AnnIndex.searchJoin(spark, path, df.filter($"id" < 5), "id", "vec",
      df, "id", "vec", 10, pool = 50).collect()) == 7)
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

  test("BQ searchJoin raises naming the missing batch kernel") {
    val df = corpus(50)
    val path = tmp()
    AnnIndex.build(df, "id", "vec", path, AnnIndex.Bq(Bq.fit(df, "id", "vec")))
    val e = intercept[IllegalArgumentException] {
      AnnIndex.searchJoin(spark, path, df.filter($"id" < 2), "id", "vec",
        df, "id", "vec", k = 3)
    }
    assert(e.getMessage.contains("batch Hamming kernel"), e.getMessage)
  }

  test("a directory without a model sidecar is not an index: raises naming it") {
    val empty = tmp()
    val e = intercept[IllegalArgumentException] {
      AnnIndex.search(spark, empty, corpus(10), "id", "vec", query, 3)
    }
    assert(e.getMessage.contains(empty), e.getMessage)
  }
}
