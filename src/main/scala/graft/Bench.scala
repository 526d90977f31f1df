package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main: runs every SparkEntry query on
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line and also writes it to
  * `BENCH.json` (sbt's logger prefixes stdout with `[info] `, which
  * broke the driver's parse in round 1 — the file is the reliable
  * channel).
  *
  * Per-query time is the MEDIAN of `SPARK_GRAFT_BENCH_N` full-suite
  * iterations (default 5) — single-shot numbers on a contended box
  * mis-rank queries by seconds. A wall-clock budget
  * (`SPARK_GRAFT_BENCH_BUDGET_SEC`, default 420) stops starting new
  * iterations so the driver's harness never times out, but never
  * below `SPARK_GRAFT_BENCH_MIN_N` (default 3) measured iterations —
  * a lower-median of 2 is a MIN and under-reports. The JSON reports
  * how many iterations actually ran. `SPARK_GRAFT_BENCH_ONLY` (names,
  * comma-separated) restricts the suite for bisects/profiling.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Worker threads = cores/2 (floor 1): local[n] with n == ALL
    // physical cores leaves zero headroom for the DAG scheduler,
    // listener bus and GC — measured 3x the per-stage floor of n/2 on
    // a 32-core box (0.19 s vs 0.06 s per job). Cluster deployments
    // size executors the same way: never 1 task-slot per hardware
    // thread with nothing left for the runtime. SPARK_GRAFT_CPUS is
    // the CORE BUDGET (the harness passes the box's core count) and
    // gets the same halving; SPARK_GRAFT_THREADS pins the worker
    // count exactly for profiling.
    val coreBudget = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_THREADS",
      math.min(32, math.max(1, coreBudget / 2)).toString)
    // 5 full-suite iterations by default: run-to-run swings on a
    // shared box measured ±25-30%; the median of 5 is markedly more
    // stable than of 3, and the budget projection below sheds
    // iterations automatically on a slower machine.
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_N", "5").toInt.max(1)
    // 540 s (r14): the 420 s budget clipped BENCH_r13 to n=4 as the
    // suite grew — the budget exists to stay under the harness's
    // patience, not to shed protocol iterations on the usual box
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "540").toInt
    // Iteration FLOOR (default 3): the r11 round-final artifact shed
    // to n=2 — a lower-median of 2 is really a MIN and under-reports
    // genuine medians by ~10% on a contended box. The shed projection
    // still applies above the floor, so the worst-case overrun past
    // the budget is bounded by (floor-1) suite passes.
    val iterFloor = math.min(iters,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_MIN_N", "3").toInt.max(1))
    // Dev knob for bisects/profiling: run only the named queries
    // (comma-separated). Never set by the driver.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    val spark = Sessions.tune(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val wall0 = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - wall0) / 1e9

    // PROBE-ONLY ANN entries (bench-only; not SparkEntry queries, so
    // the correctness surface is unchanged): `s_lsh_indexed` /
    // `s_ivf_topk` deliberately time build + probe, but a 100×-scale
    // user builds an index ONCE and pays only the probe per query.
    // These fixtures build each index here (outside any measured
    // iteration) and the entries measure the amortized per-query cost:
    // a partition-pruned read of the candidate buckets/cells only.
    // Index dirs are deleted after the measured loop (see below); a
    // crash-path leak is bounded to one run's indexes.
    val benchTmp = Files.createTempDirectory("graft_bench_idx")
    // with SPARK_GRAFT_BENCH_ONLY set, skip building fixtures whose
    // entries aren't requested — a bisect of one query shouldn't pay
    // a minute of unrelated index builds
    def want(entry: String*): Boolean = only.forall(f => entry.exists(f))
    type Entry = (SparkSession, String) => org.apache.spark.sql.DataFrame
    // One fixture = the bench-only entries `names`, built by `build`
    // unless SPARK_GRAFT_BENCH_ONLY excludes them all. A NonFatal
    // failure is the intended degradation (e.g. no embeddings table or
    // no vec_id 0 on this dataset): the fixture's entries drop, the
    // reason goes to stderr, and the run still writes its BENCH.json.
    // Fatal errors (OOM, linkage) propagate — a bench that silently
    // dropped entries after an OOM would report a misleadingly
    // complete suite.
    def fixture(names: String*)(build: => Map[String, Entry]): Map[String, Entry] =
      if (!want(names: _*)) Map.empty else try build catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] fixture ${names.mkString(",")} skipped: " +
            s"${e.getClass.getSimpleName}: ${e.getMessage}")
          Map.empty
      }
    val probeOnly = fixture("s_lsh_probe_only", "s_ivf_probe_only") {
      import org.apache.spark.sql.functions.col
      import graft.operators.AnnIndex
      val vecs = Tables.load(spark, sfDir, "embeddings")
      val query = vecs.filter(col("vec_id") === 0)
        .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
      val lshPath = benchTmp.resolve("lsh").toString
      AnnIndex.build(vecs, "vec_id", "embedding", lshPath, AnnIndex.Raw,
        AnnIndex.Lsh(numPlanes = 5), dim = Some(query.length))
      val ivfPath = benchTmp.resolve("ivf").toString
      AnnIndex.build(vecs, "vec_id", "embedding", ivfPath, AnnIndex.Raw,
        AnnIndex.Ivf(nlist = 8, maxIter = 3, initMode = "random"))
      def probe(path: String, nprobe: Int): Entry = (s, _) =>
        AnnIndex.search(s, path, vecs, "vec_id", "embedding", query, k = 10,
          nprobe = nprobe)
      Map(
        // pruned multiprobe (1 bit flip): the realistic repeated-query path
        "s_lsh_probe_only" -> probe(lshPath, 1),
        "s_ivf_probe_only" -> probe(ivfPath, 2))
    }
    // Same amortization story for DSIR: x_dsir_score/sample fit the
    // bucket model INSIDE the measured query, but production fits once
    // and scores every batch with the prefitted table — this entry
    // measures that steady-state: one zero-shuffle scoring scan (the
    // agg forces the score column past count()'s column pruning).
    val dsirPrefit = fixture("x_dsir_prefit") {
      import org.apache.spark.sql.functions.{col, sum}
      val docs = Tables.load(spark, sfDir, "documents")
      val ratios = graft.operators.Dsir.logRatios(
        docs.filter(col("lang") === "en"), docs, "text")
      Map("x_dsir_prefit" -> ((_: SparkSession, _: String) =>
        graft.operators.Dsir.scoreWith(docs, "text", ratios)
          .agg(sum(col("dsir_logw")).as("s"))))
    }
    // SemDeDup amortization: d_semantic_dedup fits its k-means cells
    // INSIDE the measured query, but the paper's own workflow clusters
    // ONCE and sweeps thresholds against the fixed clustering — this
    // entry measures that steady-state: assignment + cell walk +
    // anti-join with PREFITTED centroids.
    val semPrefit = fixture("d_semantic_prefit") {
      import org.apache.spark.sql.functions.col
      import graft.operators.Similarity
      val vecs = Tables.load(spark, sfDir, "embeddings")
      val clones = vecs.filter(col("vec_id") < 50)
        .withColumn("vec_id", col("vec_id") + 1000000L)
      val corpus = vecs.unionByName(clones)
      val k = Similarity.cellsFor(corpus.count())
      val centroids = Similarity.sampleCentroids(corpus, "vec_id", "embedding", k, 3)
      Map("d_semantic_prefit" -> ((_: SparkSession, _: String) =>
        Similarity.semanticDedupWith(corpus, "vec_id", "embedding",
          centroids, threshold = 1.0).select("vec_id")))
    }
    // Incremental-agg amortization: e_incr_agg pays fit + 3 appends +
    // merge inside the measured query, but the steady state is
    // "state already folded — answer from partials": this entry
    // measures result() alone over a prebuilt 3-batch state.
    val incrPrefit = fixture("e_incr_result") {
      import org.apache.spark.sql.functions.col
      import graft.operators.IncrementalAgg
      val li = Tables.load(spark, sfDir, "lineitem")
        .withColumn("l_quantity", col("l_quantity").cast("decimal(18,4)"))
        .withColumn("l_discount", col("l_discount").cast("decimal(18,4)"))
      val state = benchTmp.resolve("incr").toString
      // the SAME metric set as the paired e_incr_agg entry — the twin
      // amortizes the fit/appends, it must not also lighten the query
      val ms = Seq(IncrementalAgg.Count("n_rows"),
        IncrementalAgg.Sum("l_quantity", "sum_qty"),
        IncrementalAgg.Min("l_extendedprice", "min_price"),
        IncrementalAgg.Max("l_extendedprice", "max_price"),
        IncrementalAgg.Sum("l_discount", "sum_disc"))
      IncrementalAgg.fit(li.filter(col("l_orderkey") % 3 === 0),
        Seq("l_returnflag", "l_linestatus"), ms, state, "d0")
      IncrementalAgg.append(state, li.filter(col("l_orderkey") % 3 === 1), "d1")
      IncrementalAgg.append(state, li.filter(col("l_orderkey") % 3 === 2), "d2")
      Map("e_incr_result" -> ((s: SparkSession, _: String) =>
        IncrementalAgg.result(s, state)))
    }
    // PQ amortization: s_pq_topk pays fit + encode + index write inside
    // the measured query; the steady state scans the persisted byte
    // codes and reranks a bounded pool.
    val pqProbe = fixture("s_pq_probe_only", "s_ivfpq_probe_only", "s_sq_probe_only",
      "s_ivfsq_probe_only", "s_bq_probe_only", "s_pq_knn_probe_only") {
      import org.apache.spark.sql.functions.col
      import graft.operators.{AnnIndex, Bq, Pq, Sq}
      val vecs = Tables.load(spark, sfDir, "embeddings")
      def queryOf(id: Int): Array[Float] = vecs.filter(col("vec_id") === id)
        .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
      def build(name: String, codec: AnnIndex.Codec,
          coarse: AnnIndex.Coarse = AnnIndex.Flat): String = {
        val path = benchTmp.resolve(name).toString
        AnnIndex.build(vecs, "vec_id", "embedding", path, codec, coarse)
        path
      }
      def search(path: String, query: Array[Float], pool: Int,
          nprobe: Int = 4): Entry = (s: SparkSession, _: String) =>
        AnnIndex.search(s, path, vecs, "vec_id", "embedding", query,
          k = 20, pool = pool, nprobe = nprobe)
      val query = queryOf(1)
      val pq = AnnIndex.Pq(Pq.fit(vecs, "vec_id", "embedding", nsub = 8, k = 16,
        maxIter = 4))
      val cells = AnnIndex.Ivf(nlist = 8, maxIter = 3, initMode = "random")
      val pqPath = build("pq", pq)
      val sqPath = build("sq", AnnIndex.Sq8(Sq.fit(vecs, "vec_id", "embedding")))
      val bqPath = build("bq", AnnIndex.Bq(Bq.fit(vecs, "vec_id", "embedding")))
      val ivfpqPath = build("ivfpq", pq, cells)
      val ivfsqPath = build("ivfsq",
        AnnIndex.Sq8(Sq.fit(vecs, "vec_id", "embedding")), cells)
      // k matches each paired entry; pool/nprobe are the production
      // recall dial the paired oracle config deliberately maxes out
      Map(
        "s_pq_probe_only" -> search(pqPath, query, pool = 200),
        "s_ivfpq_probe_only" -> search(ivfpqPath, query, pool = 200, nprobe = 2),
        // SQ8's fidelity means a pool barely above k already
        // reaches the recall PQ needs pool=200 for — the twin
        // measures that production dial
        "s_sq_probe_only" -> search(sqPath, queryOf(3), pool = 50),
        // SQ8's in-cell fidelity: small pool, couple of probed cells
        "s_ivfsq_probe_only" -> search(ivfsqPath, queryOf(5), pool = 50, nprobe = 2),
        // 1-bit codes are coarse — pool sized generously vs k
        "s_bq_probe_only" -> search(bqPath, queryOf(4), pool = 500),
        "s_pq_knn_probe_only" -> ((s: SparkSession, _: String) =>
          AnnIndex.searchJoin(s, pqPath,
            vecs.filter(col("vec_id") < 5), "vec_id", "embedding",
            vecs, "vec_id", "embedding", k = 10, pool = 100)))
    }
    // OPQ amortization: s_opq_topk pays fit (SVD-Procrustes rounds) +
    // encode + index write per call; the steady state probes the
    // persisted rotated-code table like any PQ index.
    val opqProbe = fixture("s_opq_probe_only") {
      import org.apache.spark.sql.functions.col
      import graft.operators.{AnnIndex, Pq}
      val vecs = Tables.load(spark, sfDir, "embeddings")
      val query = vecs.filter(col("vec_id") === 2)
        .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
      val model = Pq.fitOpq(vecs, "vec_id", "embedding",
        nsub = (8 to 1 by -1).find(query.length % _ == 0).get,
        k = 16, maxIter = 4, opqIters = 3)
      val path = benchTmp.resolve("opq").toString
      AnnIndex.build(vecs, "vec_id", "embedding", path, AnnIndex.Pq(model))
      Map("s_opq_probe_only" -> ((s: SparkSession, _: String) =>
        AnnIndex.search(s, path, vecs, "vec_id", "embedding", query, k = 20,
          pool = 1 << 20)))
    }
    // Language-ID amortization: x_lang_id_model fits the NB model per
    // call; production trains once and classifies every batch with the
    // broadcast model — one map-only scan (the agg defeats count()'s
    // column pruning so the classify actually runs).
    val langPrefit = fixture("x_lang_id_prefit", "x_quality_prefit") {
      import org.apache.spark.sql.functions.{col, count => fcount}
      import graft.operators.LangId
      val docs = Tables.load(spark, sfDir, "documents")
      val model = LangId.fit(docs, "lang", "text")
      // same amortization for the quality classifier: selfTrain once,
      // classify every batch map-only with the broadcast model
      val qModel = graft.operators.QualityClassifier.selfTrain(docs, "text")
      Map(
        "x_lang_id_prefit" -> ((_: SparkSession, _: String) =>
          docs.select(LangId.langIdModel(col("text"), model).as("p"))
            .groupBy("p").agg(fcount(org.apache.spark.sql.functions.lit(1)).as("n"))),
        "x_quality_prefit" -> ((_: SparkSession, _: String) =>
          docs.select(graft.operators.QualityClassifier
              .qualityLabel(col("text"), qModel).as("p"))
            .groupBy("p").agg(fcount(org.apache.spark.sql.functions.lit(1)).as("n"))))
    }
    // Backoff-LM amortization (r15): x_lm_score_bo trains its five
    // per-order tables INSIDE the measured query; the CCNet steady
    // state trains once on the clean reference and scores every crawl
    // batch — this entry prices that: one corpus scan against the
    // prefitted persisted tables, same dials as the lifecycle row.
    val lmBoPrefit = fixture("x_lm_bo_prefit") {
      val docs = Tables.load(spark, sfDir, "documents")
      val model = graft.operators.LmScore.fitBackoff(
        docs, "text", n = 5, minCount = 2L)
      Map("x_lm_bo_prefit" -> ((_: SparkSession, _: String) =>
        graft.operators.LmScore.scoreWithBackoff(docs, "doc_id", "text", model)))
    }
    val benchOnly = probeOnly ++ dsirPrefit ++ semPrefit ++ incrPrefit ++
      pqProbe ++ opqProbe ++ langPrefit ++ lmBoPrefit
    val allQueries = SparkEntry.queries ++ benchOnly
    val names = only.fold(allQueries.keys.toSeq)(f =>
      allQueries.keys.filter(f).toSeq).sorted
    System.err.println(f"[bench] fixtures built in $elapsedSec%.1f s")

    // Warm-up pass over the FULL suite (not recorded): each query's
    // first execution pays one-time whole-stage-codegen compilation +
    // JIT + parquet-footer costs — hundreds of ms on a sub-second
    // query. The DuckDB baseline numbers are warm medians, so the
    // measured iterations must be steady-state too, for every query,
    // not just whichever ran first.
    names.foreach { name =>
      // warm-up degrades to a subset if the box is so slow that even
      // one pass threatens the budget (a measured iteration still runs)
      if (elapsedSec < budgetSec * 0.4) {
        // a failing query is recorded by its measured iteration; a fatal
        // error (OOM, interrupt) stops the run instead of posing as a timing
        try materialise(allQueries(name)(spark, sfDir))
        catch { case scala.util.control.NonFatal(_) => () }
        spark.catalog.clearCache()
      }
    }
    System.err.println(f"[bench] warm-up done at $elapsedSec%.1f s")

    // Box-weather canary (r16, additive field): the same tiny
    // fixed-cost workload timed right before and right after the
    // measured loop. The r15 round documented >3× host-degradation
    // phases invisible to load average; the canary pair makes a
    // slow-phase window machine-detectable in BENCH.json itself
    // (canary_end >> canary_start, or both >> the ~0.1-0.2 s a
    // healthy box reads) without touching any measured entry.
    val canaryQuery = () => materialise(SparkEntry.queries("q1_agg")(spark, sfDir))
    val canaryStart = canarySec(canaryQuery)
    val iter0 = System.nanoTime()
    def iterSec: Double = (System.nanoTime() - iter0) / 1e9

    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    val failed = scala.collection.mutable.Set.empty[String]
    var ran = 0
    // Start another iteration only if it's PROJECTED to finish inside
    // the budget (estimate = average of completed MEASURED iterations,
    // warm-up excluded, but total elapsed — warm-up included — is what
    // it must fit under) — on a machine n× slower than this one, the
    // suite degrades to fewer iterations instead of overshooting the
    // harness's patience.
    while (ran < iters &&
        (ran < iterFloor || elapsedSec + iterSec / ran < budgetSec)) {
      names.foreach { name =>
        val fn = allQueries(name)
        val t0 = System.nanoTime()
        // a failed query must be VISIBLE: an analysis exception takes
        // ~ms, so swallowing it silently records a near-zero "time"
        // and the totals shrink instead of screaming — exactly how
        // round 7 under-reported four queries broken by a testdata
        // type change
        try materialise(fn(spark, sfDir)) catch { case scala.util.control.NonFatal(e) =>
          if (!failed.contains(name)) System.err.println(
            s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
          failed += name
        }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache() // persisted stages don't leak across queries
        samples(name) = dt :: samples(name)
      }
      ran += 1
    }
    // every probe iteration has run — the index files can go
    def deleteTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(p)) {
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }
    try deleteTree(benchTmp) catch { case _: Exception => () }

    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      s((s.length - 1) / 2) // lower median: min for n=2, middle for n=3
    }
    val med = names.map(n => n -> median(samples(n)))
    val qs = med.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // "total" stays like-for-like with the DuckDB baseline and earlier
    // rounds: the bench-only entries (ANN probe-only, DSIR prefit)
    // have no counterpart in either, so they report in the per-query
    // map but do not inflate the sum. A FAILED query's samples are
    // time-to-crash, not work — excluding them (on top of the visible
    // `failed` list) keeps the headline from silently understating; a
    // consumer that reads only `value` must cross-check `failed`,
    // which stays machine-readable for exactly that reason.
    val total = med.collect {
      case (k, v) if !benchOnly.contains(k) && !failed.contains(k) => v
    }.sum
    val canaryEnd = canarySec(canaryQuery)
    val failedJson = failed.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val canaries = canaryFields(canaryStart, canaryEnd)
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir","n":$ran,"cpus":$coreBudget,"threads":$cpus,$canaries}"""
    Files.writeString(Paths.get("BENCH.json"), json + "\n")
    println(json)
    // The driver captures only a ~2 KB stdout TAIL: the full line above
    // outgrew it at 71 queries (r4's record shows it truncated
    // mid-JSON, "parsed": null). The per-query map lives in BENCH.json;
    // the LAST stdout line is a compact summary that fits any tail.
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","n":$ran,$canaries}""")
    spark.stop()
  }

  /** Run every column of `df` to the end: the `noop` sink writes
    * nothing, but unlike `count()` it keeps every projected expression
    * in the plan (column pruning under `count()` drops the kernels of a
    * select-only entry, timing a bare scan). */
  private[graft] def materialise(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Times the box-weather canary: `run` twice. None when a run throws
    * — a broken canary query fails in milliseconds, and timing that
    * would read as a fast, healthy box. The failure goes to stderr.
    */
  private[graft] def canarySec(run: () => Unit): Option[Double] = {
    val t0 = System.nanoTime()
    try {
      run(); run()
      Some((System.nanoTime() - t0) / 1e9)
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(
        s"[bench] canary FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      None
    }
  }

  /** The BENCH.json canary fields: each time in seconds, `null` for a
    * failed canary, and `canary_failed` set when either one failed.
    */
  private[graft] def canaryFields(start: Option[Double], end: Option[Double]): String = {
    def sec(c: Option[Double]): String = c.fold("null")(v => f"$v%.3f")
    s""""canary_start_sec":${sec(start)},"canary_end_sec":${sec(end)},""" +
      s""""canary_failed":${start.isEmpty || end.isEmpty}"""
  }
}
