package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class PqSpec extends AnyFunSuite {
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
    graft.TestDirs.create("graft_pq").toString

  private def index(df: org.apache.spark.sql.DataFrame, model: Pq.PqModel,
      coarse: AnnIndex.Coarse = AnnIndex.Flat): String = {
    val path = tmp()
    AnnIndex.build(df, "id", "vec", path, AnnIndex.Pq(model), coarse)
    path
  }

  private def loadModel(path: String): Pq.PqModel =
    AnnIndex.loadCodec(spark, path).asInstanceOf[AnnIndex.Pq].model

  private def encode(df: org.apache.spark.sql.DataFrame, model: Pq.PqModel) =
    df.withColumn("_code", AnnIndex.Pq(model).encode($"vec"))

  test("full-pool PQ top-k ≡ brute-force cosine top-k (pool ≥ corpus)") {
    val df = corpus()
    val model = Pq.fit(df, "id", "vec", nsub = 4, k = 8, maxIter = 4)
    val query = randVecs(1, 99L).head._2.map(_.toFloat).toArray
    val got = AnnIndex.search(spark, index(df, model), df, "id", "vec", query,
        k = 10, pool = 1000)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Similarity.cosineTopK(df, "id", "vec", query, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
  }

  test("saved index roundtrip: topK over persisted codes ≡ one-shot") {
    val df = corpus()
    val model = Pq.fit(df, "id", "vec", nsub = 4, k = 8, maxIter = 4)
    val path = index(df, model)
    val query = randVecs(1, 99L).head._2.map(_.toFloat).toArray
    val fromIndex = AnnIndex.search(spark, path, df, "id", "vec", query,
        k = 10, pool = 1000)
      .collect().toSeq
    // at pool ≥ corpus the one-shot encode-and-scan equals brute force
    val oneShot = Similarity.cosineTopK(df, "id", "vec", query, 10)
      .collect().toSeq
    assert(fromIndex == oneShot)
    val loaded = loadModel(path)
    assert(loaded.normalize == model.normalize &&
      loaded.nsub == model.nsub && loaded.subdim == model.subdim)
    assert(loaded.codebooks.map(_.toSeq.map(_.toSeq)).toSeq ==
      model.codebooks.map(_.toSeq.map(_.toSeq)).toSeq)
  }

  test("pruned pool still finds a planted exact clone of the query (cos 1.0 top)") {
    val df = corpus(500)
    val query = randVecs(1, 123L).head._2.map(_.toFloat).toArray
    val withClone = df.union(Seq((9999L, query.map(_.toDouble).toSeq))
      .toDF("id", "vec").select($"id", $"vec".cast("array<float>")))
    val model = Pq.fit(withClone, "id", "vec", nsub = 4, k = 16, maxIter = 5)
    // pool of 25 out of 501 rows — a 20× pruning — must keep the clone:
    // its code equals the query's own encoding, so its ADC distance is
    // the query's self-quantization error, at the floor of the table
    val got = AnnIndex.search(spark, index(withClone, model), withClone, "id", "vec",
        query, k = 5, pool = 25)
      .collect()
    assert(got.head.getLong(0) == 9999L && got.head.getDouble(1) == 1.0)
  }

  test("codes are nsub bytes; cosine metric makes scaled copies share a code") {
    val df = corpus(50)
    val model = Pq.fit(df, "id", "vec", nsub = 8, k = 8, maxIter = 3)
    val codes = encode(df, model).select("_code").collect()
      .map(_.getAs[Array[Byte]](0))
    assert(codes.forall(_.length == 8))
    // scale invariance on the unit sphere: v and 10·v encode equal
    val scaled = df.select($"id",
      transform($"vec", x => x * lit(10.0f)).as("vec"))
    val scaledCodes = encode(scaled, model).select("_code").collect()
      .map(_.getAs[Array[Byte]](0))
    assert(codes.zip(scaledCodes).forall { case (a, b) =>
      java.util.Arrays.equals(a, b) })
  }

  test("l2 metric skips normalization (scaled copy may differ)") {
    val df = corpus(50)
    val model = Pq.fit(df, "id", "vec", nsub = 4, k = 8, maxIter = 3, metric = "l2")
    assert(!model.normalize)
    // deterministic encode: two runs agree
    val a = encode(df, model).select("_code").collect()
      .map(_.getAs[Array[Byte]](0))
    val b = encode(df, model).select("_code").collect()
      .map(_.getAs[Array[Byte]](0))
    assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
  }

  test("mis-dimensioned vectors and foreign codes raise, never silently drop") {
    val df = corpus(20)
    val model = Pq.fit(df, "id", "vec", nsub = 4, k = 8, maxIter = 2)
    val short = Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "vec")
    val e = intercept[Exception] {
      encode(short, model).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("model expects")))
    // a code column from a wider model fails the ADC guard
    val wide = Pq.fit(corpus(20, 9L), "id", "vec", nsub = 8, k = 8, maxIter = 2)
    val wideCodes = encode(df, wide).select($"id", $"_code")
    val e2 = intercept[Exception] {
      wideCodes.select(graft.functions.PqFunctions.pqAdc(
        $"_code", new Array[Double](4 * 8), 4, 8)).collect()
    }
    assert(messages(e2).exists(_.contains("different PQ model")))
  }

  test("fit guards: k range, nsub divisibility, unknown metric") {
    val df = corpus(20)
    assert(intercept[IllegalArgumentException] {
      Pq.fit(df, "id", "vec", nsub = 4, k = 300)
    }.getMessage.contains("one byte"))
    assert(intercept[IllegalArgumentException] {
      Pq.fit(df, "id", "vec", nsub = 5)
    }.getMessage.contains("not divisible"))
    assert(intercept[IllegalArgumentException] {
      Pq.fit(df, "id", "vec", metric = "cityblock")
    }.getMessage.contains("unknown metric"))
  }

  test("IVF×PQ at full probe + full pool ≡ brute-force cosine top-k") {
    val df = corpus()
    val model = Pq.fit(df, "id", "vec", nsub = 4, k = 8, maxIter = 4)
    val path = index(df, model,
      AnnIndex.Ivf(nlist = 6, maxIter = 3, initMode = "random"))
    val query = randVecs(1, 99L).head._2.map(_.toFloat).toArray
    val got = AnnIndex.search(spark, path, df, "id", "vec", query,
        k = 10, pool = 1000, nprobe = 6)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Similarity.cosineTopK(df, "id", "vec", query, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
  }

  test("IVF×PQ pruned probe: clone of the query found at nprobe=1, small pool") {
    val df = corpus(400)
    val query = randVecs(1, 321L).head._2.map(_.toFloat).toArray
    val withClone = df.union(Seq((8888L, query.map(_.toDouble).toSeq))
      .toDF("id", "vec").select($"id", $"vec".cast("array<float>")))
    val model = Pq.fit(withClone, "id", "vec", nsub = 4, k = 16, maxIter = 4)
    val path = index(withClone, model,
      AnnIndex.Ivf(nlist = 8, maxIter = 5, initMode = "random"))
    // the clone assigns to its own nearest cell — which is also the
    // query's first probe (identical vector, same argmin)
    val got = AnnIndex.search(spark, path, withClone, "id", "vec", query,
      k = 3, pool = 20, nprobe = 1).collect()
    assert(got.head.getLong(0) == 8888L && got.head.getDouble(1) == 1.0)
  }

  test("IVF×PQ probe prunes code PARTITIONS and reads only id+code bytes") {
    val df = corpus()
    val model = Pq.fit(df, "id", "vec", nsub = 4, k = 8, maxIter = 2)
    val path = index(df, model,
      AnnIndex.Ivf(nlist = 6, maxIter = 3, initMode = "random"))
    val query = randVecs(1, 99L).head._2.map(_.toFloat).toArray
    val p = AnnIndex.search(spark, path, df, "id", "vec", query,
      k = 5, pool = 50, nprobe = 2).queryExecution.executedPlan.toString
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters"))
      .getOrElse(fail("no PartitionFilters in plan:\n" + p.take(3000)))
    assert(scanLine.contains("_cell"), scanLine)
    // the code scan's ReadSchema must be the code column only — the
    // whole point is never touching vector bytes before the pool fetch
    val codeScan = p.linesIterator.find(l =>
      l.contains("ReadSchema") && l.contains("_code"))
      .getOrElse(fail("no code-table scan in plan:\n" + p.take(3000)))
    assert(!codeScan.contains("vec"), codeScan)
  }

  test("pqAppend: new batch encoded against SAVED codebooks, visible to topK") {
    val df = corpus(200)
    val model = Pq.fit(df, "id", "vec", nsub = 4, k = 8, maxIter = 3)
    val path = index(df, model)
    val query = randVecs(1, 55L).head._2.map(_.toFloat).toArray
    val late = Seq((7777L, query.map(_.toDouble).toSeq))
      .toDF("id", "vec").select($"id", $"vec".cast("array<float>"))
    AnnIndex.append(late, "id", "vec", path)
    val all = df.union(late)
    val got = AnnIndex.search(spark, path, all, "id", "vec", query,
        k = 3, pool = 1000)
      .collect()
    assert(got.head.getLong(0) == 7777L && got.head.getDouble(1) == 1.0)
    // appended codes came from the SAVED model: full-pool result equals
    // brute force over the grown corpus
    val want = Similarity.cosineTopK(all, "id", "vec", query, 3).collect()
    assert(got.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      want.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  test("ivfPqAppend: appended rows land in their nearest saved cell's partition") {
    val df = corpus(300)
    val model = Pq.fit(df, "id", "vec", nsub = 4, k = 8, maxIter = 3)
    val path = index(df, model,
      AnnIndex.Ivf(nlist = 6, maxIter = 3, initMode = "random"))
    val query = randVecs(1, 66L).head._2.map(_.toFloat).toArray
    val late = Seq((6666L, query.map(_.toDouble).toSeq))
      .toDF("id", "vec").select($"id", $"vec".cast("array<float>"))
    AnnIndex.append(late, "id", "vec", path)
    val all = df.union(late)
    // the appended clone of the query sits in the query's own first
    // probe cell — found at nprobe = 1
    val got = AnnIndex.search(spark, path, all, "id", "vec", query,
      k = 2, pool = 50, nprobe = 1).collect()
    assert(got.head.getLong(0) == 6666L && got.head.getDouble(1) == 1.0)
    // and the partition layout stayed hive-clean (cell dirs only)
    val dirs = new java.io.File(path, "codes").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("_cell=")))
  }

  test("PQ k-NN join at full pool ≡ exact cosineTopKJoin") {
    val df = corpus()
    val model = Pq.fit(df, "id", "vec", nsub = 4, k = 8, maxIter = 4)
    val path = index(df, model)
    val queries = df.filter($"id" < 5)
    val got = AnnIndex.searchJoin(spark, path, queries, "id", "vec",
        df, "id", "vec", k = 10, pool = 1000)
      .orderBy($"q_id", $"cos_sim".desc, $"n_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val want = Similarity.cosineTopKJoin(queries, "id", "vec",
        df, "id", "vec", k = 10)
      .orderBy($"q_id", $"cos_sim".desc, $"n_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want)
  }

  test("PQ k-NN join, pruned pool: every query's planted clone comes back top-1") {
    val df = corpus(400)
    val queries = randVecs(4, 777L).map { case (i, v) => (i + 500L, v) }
    val clones = queries.map { case (qid, v) => (qid + 1000L, v) }
    val all = df.union(queries.toDF("id", "vec")).union(clones.toDF("id", "vec"))
    val model = Pq.fit(all, "id", "vec", nsub = 4, k = 16, maxIter = 4)
    val path = index(all, model)
    val got = AnnIndex.searchJoin(spark, path, queries.toDF("id", "vec"), "id", "vec",
        all, "id", "vec", k = 2, pool = 30)
      .filter($"cos_sim" === 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // each query finds BOTH itself (planted in the corpus) and its clone
    queries.foreach { case (qid, _) =>
      assert(got.contains((qid, qid)) && got.contains((qid, qid + 1000L)),
        s"query $qid missing its planted matches in $got")
    }
  }

  test("PQ k-NN join: an over-limit query batch raises toward the bucket joins") {
    val df = corpus(50)
    val model = Pq.fit(df, "id", "vec", nsub = 4, k = 8, maxIter = 2)
    val path = index(df, model)
    val big = spark.range(AnnIndex.MaxJoinQueries + 1)
      .selectExpr("id", "array_repeat(cast(0.1 as float), 16) as vec")
    val e = intercept[IllegalArgumentException] {
      AnnIndex.searchJoin(spark, path, big, "id", "vec", df, "id", "vec", k = 1)
    }
    assert(e.getMessage.contains("IVF/LSH bucket joins"))
  }

  // ---- OPQ -----------------------------------------------------------

  /** Structured-covariance corpus: z has sharply decaying per-dim
    * variance, then a fixed dense rotation Q smears that energy across
    * every coordinate — so PLAIN PQ's axis-aligned subspaces each see
    * a slice of every principal direction (the worst case Ge et al.
    * 2013 §1 motivates), while OPQ can learn ≈ Qᵀ and give each
    * subspace a coherent variance block.
    */
  private def structuredCorpus(n: Int, seed: Long): Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(seed)
    // fixed orthonormal Q via Gram-Schmidt on a seeded random matrix
    val qrnd = new scala.util.Random(4242L)
    val q = Array.fill(dim, dim)(qrnd.nextGaussian())
    for (i <- 0 until dim) {
      for (j <- 0 until i) {
        val d = (0 until dim).map(t => q(i)(t) * q(j)(t)).sum
        for (t <- 0 until dim) q(i)(t) -= d * q(j)(t)
      }
      val nrm = math.sqrt((0 until dim).map(t => q(i)(t) * q(i)(t)).sum)
      for (t <- 0 until dim) q(i)(t) /= nrm
    }
    (0 until n).map { i =>
      val z = Array.tabulate(dim)(j => rnd.nextGaussian() / (1.0 + j))
      val x = Array.tabulate(dim)(a => (0 until dim).map(b => q(b)(a) * z(b)).sum)
      (i.toLong, x.map(_.toFloat).toSeq)
    }
  }

  private def recallAt(got: Seq[Long], want: Seq[Long]): Double =
    want.count(got.contains).toDouble / want.size

  test("OPQ ≥ plain PQ recall at equal code bytes on structured covariance; rotation orthogonal") {
    val rows = structuredCorpus(1000, 31L)
    val df = rows.toDF("id", "vec")
    val pq = Pq.fit(df, "id", "vec", nsub = 4, k = 8, maxIter = 6)
    val opq = Pq.fitOpq(df, "id", "vec", nsub = 4, k = 8, maxIter = 6,
      opqIters = 6)
    // the learned rotation is orthogonal: RᵀR = I
    val r = opq.rotation.get
    for (i <- 0 until dim; j <- 0 until dim) {
      val dot = (0 until dim).map(t => r(t)(i) * r(t)(j)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-8,
        s"RtR($i,$j)=$dot")
    }
    // recall@10 with a 30-of-1000 candidate pool (33× pruning), over
    // 20 noisy-corpus-vector queries — the regime where quantization
    // quality IS the recall
    val (pqPath, opqPath) = (index(df, pq), index(df, opq))
    val qrnd = new scala.util.Random(77L)
    val recalls = (0 until 20).map { qi =>
      val base = rows(qrnd.nextInt(rows.size))._2
      val query = base.zipWithIndex
        .map { case (v, j) => (v + 0.05 * qrnd.nextGaussian()).toFloat }.toArray
      val truth = Similarity.cosineTopK(df, "id", "vec", query, 10)
        .collect().map(_.getLong(0)).toSeq
      def got(path: String) =
        AnnIndex.search(spark, path, df, "id", "vec", query, k = 10, pool = 30)
          .collect().map(_.getLong(0)).toSeq
      (recallAt(got(pqPath), truth), recallAt(got(opqPath), truth))
    }
    val pqR = recalls.map(_._1).sum / recalls.size
    val opqR = recalls.map(_._2).sum / recalls.size
    info(f"mean recall@10 pool=30: pq=$pqR%.3f opq=$opqR%.3f")
    assert(opqR >= pqR,
      f"OPQ recall $opqR%.3f fell below plain PQ $pqR%.3f")
    assert(opqR >= 0.60, f"OPQ recall $opqR%.3f below floor")
  }

  test("OPQ index roundtrip: rotation persists; full pool ≡ brute force (oracle config)") {
    val df = structuredCorpus(400, 5L).toDF("id", "vec")
    val opq = Pq.fitOpq(df, "id", "vec", nsub = 4, k = 8, maxIter = 4,
      opqIters = 3)
    val path = index(df, opq)
    val loaded = loadModel(path)
    assert(loaded.rotation.isDefined)
    assert(loaded.rotation.get.map(_.toSeq).toSeq ==
      opq.rotation.get.map(_.toSeq).toSeq)
    val query = structuredCorpus(1, 91L).head._2.map(_.toFloat).toArray
    // pool ≥ corpus: exact rerank sees everything — OPQ, PQ and brute
    // force all agree (the s_opq_topk oracle configuration)
    val got = AnnIndex.search(spark, path, df, "id", "vec", query,
        k = 10, pool = 1000)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Similarity.cosineTopK(df, "id", "vec", query, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
  }

  test("OPQ composes with IVF×PQ: full probe + full pool ≡ brute force, rotated codes under cells") {
    val df = structuredCorpus(400, 13L).toDF("id", "vec")
    val opq = Pq.fitOpq(df, "id", "vec", nsub = 4, k = 8, maxIter = 4,
      opqIters = 3)
    val path = index(df, opq,
      AnnIndex.Ivf(nlist = 4, maxIter = 3, initMode = "random"))
    val query = structuredCorpus(1, 17L).head._2.map(_.toFloat).toArray
    val got = AnnIndex.search(spark, path, df, "id", "vec", query, k = 10,
      pool = 1000, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Similarity.cosineTopK(df, "id", "vec", query, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
    // the rotation sidecar rides the composed index too
    assert(loadModel(path).rotation.isDefined)
  }

  test("candidate stage is a TakeOrdered over the codes scan, not a global sort") {
    val df = corpus()
    val model = Pq.fit(df, "id", "vec", nsub = 4, k = 8, maxIter = 2)
    val path = index(df, model)
    val query = randVecs(1, 99L).head._2.map(_.toFloat).toArray
    val plan = AnnIndex.search(spark, path, df, "id", "vec", query, k = 5, pool = 50)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
  }
}
