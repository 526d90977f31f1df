package graft.tools

import org.apache.spark.sql.SparkSession
import graft.Sessions
import graft.operators.{AnnIndex, AnnTune, Bq, Pq, Similarity, Sq}

/** Dev tool: measured ANN recall-vs-cost curves, faiss-style — the
  * dial a user actually turns (`nprobe` for IVF, candidate `pool` for
  * PQ/OPQ rerank, both for IVFPQ) swept against ground truth from the
  * brute-force scan, on the GenScale sf1 embeddings star. Writes
  * RECALL.md. Recall is spec-PINNED at single points elsewhere
  * (PqSpec/SimilaritySpec); this emits the whole curve so choosing a
  * setting is a table lookup, not a guess. Queries are corpus vectors
  * (self-match included — identical treatment for every method, so
  * curves are comparable; recall@10 therefore has a floor of 0.1).
  * Not part of the library.
  */
object ProfileRecall {
  def main(args: Array[String]): Unit = {
    val star = args.headOption.getOrElse("/tmp/graft_sf1")
    val outPath = args.lift(1).getOrElse("RECALL.md")
    val nQ = 20
    val k = 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_THREADS", "16")
    val spark = Sessions.tune(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val emb = spark.read.parquet(s"$star/embeddings.parquet")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = emb.count()
    val queries = emb.orderBy("vec_id").limit(nQ).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray))

    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSet

    // ground truth + the brute-force baseline timing
    var truth = Map.empty[Long, Set[Long]]
    val tBrute = {
      val t0 = System.nanoTime()
      queries.foreach { case (qid, q) =>
        truth += qid -> ids(Similarity.cosineTopK(emb, "vec_id", "embedding", q, k))
      }
      (System.nanoTime() - t0) / 1e9 / nQ
    }

    def sweep(name: String, param: String,
        run: Array[Float] => org.apache.spark.sql.DataFrame): (String, String, Double, Double) = {
      val t0 = System.nanoTime()
      val recalls = queries.map { case (qid, q) =>
        ids(run(q)).intersect(truth(qid)).size.toDouble / k
      }
      val sec = (System.nanoTime() - t0) / 1e9 / nQ
      val rec = recalls.sum / recalls.length
      println(f"$name%-8s $param%-18s recall@$k=$rec%.3f  $sec%.3f s/query")
      (name, param, rec, sec)
    }

    val dir = java.nio.file.Files.createTempDirectory("graft_recall").toString
    val rows = Seq.newBuilder[(String, String, Double, Double)]
    rows += (("brute", "full scan", 1.0, tBrute))

    def search(index: String, pool: Int, nprobe: Int = 4)(q: Array[Float]) =
      AnnIndex.search(spark, s"$dir/$index", emb, "vec_id", "embedding", q, k,
        pool = pool, nprobe = nprobe)

    // IVF: nlist=64 cells over the raw rows, sweep nprobe
    val tIvfBuild = {
      val t0 = System.nanoTime()
      AnnIndex.build(emb, "vec_id", "embedding", s"$dir/ivf", AnnIndex.Raw,
        AnnIndex.Ivf(nlist = 64, maxIter = 20))
      (System.nanoTime() - t0) / 1e9
    }
    Seq(1, 2, 4, 8, 16, 32, 64).foreach { np =>
      rows += sweep("ivf", s"nprobe=$np", search("ivf", k, np))
    }

    // PQ / OPQ: 8 sub-bytes per vector, sweep the rerank pool
    val pqModel = Pq.fit(emb, "vec_id", "embedding", nsub = 8, k = 16)
    val tPqBuild = {
      val t0 = System.nanoTime()
      AnnIndex.build(emb, "vec_id", "embedding", s"$dir/pq", AnnIndex.Pq(pqModel))
      (System.nanoTime() - t0) / 1e9
    }
    val opqModel = Pq.fitOpq(emb, "vec_id", "embedding", nsub = 8, k = 16)
    AnnIndex.build(emb, "vec_id", "embedding", s"$dir/opq", AnnIndex.Pq(opqModel))
    val pools = Seq(32, 64, 128, 256, 512, 1024)
    pools.foreach(p => rows += sweep("pq", s"pool=$p", search("pq", p)))
    pools.foreach(p => rows += sweep("opq", s"pool=$p", search("opq", p)))

    // SQ8: one byte per DIM (4× compression, near-lossless) — the
    // fidelity end of the family; tiny pools should already saturate
    val sq8 = AnnIndex.Sq8(Sq.fit(emb, "vec_id", "embedding"))
    val tSqBuild = {
      val t0 = System.nanoTime()
      AnnIndex.build(emb, "vec_id", "embedding", s"$dir/sq", sq8)
      (System.nanoTime() - t0) / 1e9
    }
    Seq(10, 16, 32, 64, 128).foreach(p =>
      rows += sweep("sq8", s"pool=$p", search("sq", p)))

    // BQ: 1 bit per dim (32× compression) — the coarse end; recall
    // rises with pool much more slowly than SQ8's
    AnnIndex.build(emb, "vec_id", "embedding", s"$dir/bq",
      AnnIndex.Bq(Bq.fit(emb, "vec_id", "embedding")))
    Seq(32, 128, 512, 2048, 8192).foreach(p =>
      rows += sweep("bq", s"pool=$p", search("bq", p)))

    // IVF×SQ: cell pruning × near-faithful byte ranking — nprobe is
    // the recall dial, pool stays small (SQ8's in-cell order is ~exact)
    AnnIndex.build(emb, "vec_id", "embedding", s"$dir/ivfsq", sq8,
      AnnIndex.Ivf(nlist = 64))
    Seq(1, 2, 4, 8, 16, 32, 64).foreach { np =>
      rows += sweep("ivfsq", s"nprobe=$np pool=32", search("ivfsq", 32, np))
    }

    // IVFPQ: both dials at once
    val tIvfPqBuild = {
      val t0 = System.nanoTime()
      AnnIndex.build(emb, "vec_id", "embedding", s"$dir/ivfpq",
        AnnIndex.Pq(pqModel), AnnIndex.Ivf(nlist = 64))
      (System.nanoTime() - t0) / 1e9
    }
    for ((np, p) <- Seq((1, 256), (2, 256), (4, 256), (8, 256), (16, 256),
        (4, 64), (4, 1024), (64, 1024)))
      rows += sweep("ivfpq", s"nprobe=$np pool=$p", search("ivfpq", p, np))

    val md = new StringBuilder
    md ++= "# RECALL — ANN recall@10 vs cost (generated by graft.tools.ProfileRecall)\n\n"
    md ++= f"Corpus: GenScale sf1 embeddings ($n rows x 64 dims), $nQ corpus-vector\n"
    md ++= "queries, ground truth = brute-force cosine top-10 (self-match included\n"
    md ++= "for every method equally). Seconds are warm per-query wall time on the\n"
    md ++= "profiling box — compare WITHIN this table, not across machines.\n"
    md ++= f"One-time index builds: IVF $tIvfBuild%.1f s, PQ $tPqBuild%.1f s, SQ8 $tSqBuild%.1f s, IVFPQ $tIvfPqBuild%.1f s\n"
    md ++= "(amortized over every later query — the `*_probe_only` bench twins).\n\n"
    md ++= "| method | setting | recall@10 | sec/query | vs brute |\n"
    md ++= "|---|---|---|---|---|\n"
    rows.result().foreach { case (m, p, r, s) =>
      md ++= f"| $m | $p | $r%.3f | $s%.3f | ${s / tBrute * 100}%.0f%% |\n"
    }

    // IVF build cost by FIT ROUTE (r11 verdict item 10): the (r12)
    // sample route (bounded deterministic sample → driver Lloyd → one
    // map-only codegen'd assignment) vs the distributed ML fit it
    // replaced, measured at this star and optionally a 10× one
    // (arg 3) — the ML fit pays ~2 driver-scheduled jobs per Lloyd
    // round regardless of data size, so the gap is a floor, not a
    // slope. Route decision printed is the one ivfFit makes. Each
    // route's assignment pass runs into a no-op sink, so the index
    // write is not part of either figure.
    md ++= "\n## IVF build cost by fit route (fit + assignment pass, median of 3 warm, nlist=32, maxIter=5)\n\n"
    md ++= "| star | n | route chosen | sample-route s | distributed-ML s |\n"
    md ++= "|---|---|---|---|---|\n"
    val buildStar = args.lift(2)
    for (bdir <- Seq(star) ++ buildStar) {
      val bEmb = spark.read.parquet(s"$bdir/embeddings.parquet")
      val bn = bEmb.count()
      def med3(f: => Unit): Double = {
        f
        (1 to 3).map { _ =>
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }.sorted.apply(1)
      }
      def drain(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val tS = med3 {
        drain(Similarity.ivfFit(bEmb, "vec_id", "embedding", 32, 42L, 5, "random")._1)
      }
      val tM = med3 {
        val toMl = org.apache.spark.ml.functions.array_to_vector(
          org.apache.spark.sql.functions.col("embedding").cast("array<double>"))
        val features = bEmb.withColumn("_features", toMl)
        val km = new org.apache.spark.ml.clustering.KMeans()
          .setK(32).setSeed(42L).setMaxIter(5).setInitMode("random")
          .setFeaturesCol("_features").setPredictionCol("_cell")
        drain(km.fit(features).transform(features).drop("_features"))
      }
      md ++= f"| $bdir | $bn | sample | $tS%.1f | $tM%.1f |\n"
    }
    // Tuned operating points (r13): AnnIndex.tune walks
    // the same dials cheapest-first on ITS OWN md5-ordered deterministic
    // holdout and return the first setting reaching the target — the
    // dial a user should persist next to the index instead of reading
    // the curves.
    md ++= "\n## Tuned operating points (AnnTune, recall@10 targets on a 20-query md5 holdout)\n\n"
    md ++= "| family | target | chosen | measured recall |\n"
    md ++= "|---|---|---|---|\n"
    for (target <- Seq(0.5, 0.8, 0.95)) {
      def tune(index: String, pools: Seq[Int] = AnnTune.doubling(8192)) =
        AnnIndex.tune(spark, s"$dir/$index", emb, "vec_id", "embedding",
          target, k, nQ, pools)
      val i = tune("ivf")
      md ++= f"| ivf | $target | nprobe=${i.setting("nprobe")} | ${i.recall}%.3f |\n"
      val s = tune("sq")
      md ++= f"| sq8 | $target | pool=${s.setting("pool")} | ${s.recall}%.3f |\n"
      val p = tune("pq")
      md ++= f"| pq | $target | pool=${p.setting("pool")} | ${p.recall}%.3f |\n"
      val ip = tune("ivfpq", pools = Seq(64, 256, 1024))
      md ++= f"| ivfpq | $target | nprobe=${ip.setting("nprobe")} pool=${ip.setting("pool")} | ${ip.recall}%.3f |\n"
    }

    md ++= """
## Reading the dials

- **Recall is the scale-independent signal here; wall time is not.**
  At this corpus size the brute scan is itself job-floor-bound, so
  `vs brute` mostly counts Spark jobs per query (a PQ search's ADC scan
  + broadcast rerank join are more jobs than one flat scan; a repeated
  search of a loaded index skips re-listing its cell directories), not
  the algorithms' scaling. The cost advantage is a SCALE property — cells
  bound the rows read, codes bound the bytes per row — and shows in
  SCALING.md's staged sf10 rows and the partition-pruned
  `*_probe_only` bench twins, where brute force grows with the corpus
  and the pruned paths stay put.
- **IVF `nprobe`**: fraction of the 64 cells scanned. Recall climbs
  steeply in the first probes (nearest cells hold most true
  neighbors); `nprobe=64` is exact by construction — the table's own
  sanity check.
- **PQ/OPQ `pool`**: ADC-ranked candidates exact-reranked. The byte
  scan reads every code regardless, so recall is bought almost free in
  `pool` until it saturates. OPQ ≈ PQ on THIS star by design: the
  synthetic embeddings are isotropic Gaussian, where the learned
  rotation has nothing to align (Pq.fitOpq's documented graceful
  degradation); its equal-bytes recall win on structured data is
  spec-pinned in PqSpec (0.615 → 0.705 @ 10).
- **SQ8 `pool`**: one byte per DIMENSION (4× compression vs PQ's 32×)
  with a half-grid-step error bound, so the ADC ranking is nearly
  faithful and recall saturates at pools barely above k — the pick
  when scan bytes are affordable and recall must be ~exact.
- **BQ `pool`**: one BIT per dimension (32×) scanned by XOR+popcount
  Hamming — the cheapest scan and the coarsest ranking (64 dims give
  only 65 distinct scores, so ties are broad and recall climbs slowly
  in `pool`). The first-stage filter when even byte codes are too
  big; its planted-clone guarantee (Hamming 0) is spec'd in BqSpec.
- **IVF×SQ `nprobe`**: cell pruning with a near-faithful in-cell byte
  ranking, so its recall curve should track IVF's nprobe curve almost
  exactly at a fraction of the scanned bytes — the composed index for
  recall-sensitive deployments.
- **IVFPQ**: the two prunings multiply (rows via cells, bytes via
  codes); `nprobe` dominates recall, `pool` cleans up the tail. At
  100 TB this is the shape that holds.
"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), md.toString)
    println(s"wrote $outPath")
    spark.stop()
  }
}
