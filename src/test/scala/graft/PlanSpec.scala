package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the things that decide whether a query
  * survives a 100× scale-up. Uses sf0.001 parquet (smallest).
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("filters push down to the parquet scan") {
    val p = plan("t_filter_rows")
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(p.contains("GreaterThan(l_discount") || p.contains("LessThan(l_quantity"),
      p.take(2000))
  }

  test("projections prune the parquet read schema") {
    val p = plan("t_rename_column")
    // only 3 of lineitem's 11 columns should be read
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_shipdate"),
      readSchema)
  }

  test("dim joins broadcast instead of shuffling the fact side") {
    val p = plan("q_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("aggregations use partial (map-side) aggregation") {
    val p = plan("q1_agg")
    assert(p.contains("HashAggregate"), p.take(3000))
    // partial + final pair means map-side combine happened
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(3000))
  }

  test("top-k uses TakeOrderedAndProject, not a full sort") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("DSIR resample is a TakeOrdered over in-row scores, not a full sort") {
    // Dsir.resample = orderBy(gumbel key).limit(k): the k winners must
    // come from a TakeOrderedAndProject (per-partition heaps, k rows
    // per partition cross the wire) — a global Sort before the limit
    // would shuffle the whole scored corpus at 100 TB
    val p = plan("x_dsir_sample")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("DSIR scoring stays in whole-stage codegen — no interpreted HOF fold") {
    // the per-gram fold is the DsirScore.Sum kernel (a NativeCall); the
    // ArrayAggregate HOF it replaced was CodegenFallback — an
    // interpreted expression-tree walk per gram per row, the engine's
    // per-row cost at any scale
    for (name <- Seq("x_dsir_score", "x_dsir_sample")) {
      val p = plan(name)
      assert(!p.contains("aggregate("), s"$name still folds via the HOF:\n" + p.take(3000))
      assert(p.contains("graft_dsir_sum"), s"$name lacks the native scorer:\n" + p.take(3000))
    }
  }

  test("BM25 scoring stays in whole-stage codegen — no interpreted HOF chain") {
    // the per-doc tf/contribution work is Bm25Native (native
    // doGenCode); the transform/zip_with/aggregate lambda formulation
    // it replaced was CodegenFallback — an interpreted
    // O(terms × doc_len) tree-walk per corpus row
    val p = plan("x_bm25")
    assert(!p.contains("aggregate("), "x_bm25 still folds via the HOF:\n" + p.take(3000))
    assert(!p.contains("zip_with"), "x_bm25 still zips via the HOF:\n" + p.take(3000))
    assert(p.contains("graft_bm25_contribs") && p.contains("graft_array_fsum"),
      "x_bm25 lacks the native kernels:\n" + p.take(3000))
    // the hybrid batch leg sums per-query contributions via the native
    // picksum on the corpus-scale rows (query-side HOFs are
    // batch-sized and allowed)
    val ph = plan("s_hybrid_knn")
    assert(ph.contains("graft_array_picksum"), ph.take(3000))
    assert(!ph.contains("map_from_arrays"),
      "hybrid still builds a per-corpus-row term map:\n" + ph.take(3000))
  }

  test("r12 HOF sweep: no interpreted lambda on any corpus-scale hot path") {
    // graft.tools.ScanHof sweeps every query; these are the paths the
    // r12 evictions cleared (native ArrayPairs / SemanticDrops /
    // CharEntropy / ChunkDocs / shingleStrings kernels) — a lambda
    // reappearing here is an interpreted per-row walk at 100 TB.
    // Residual by-design sites (NOT pinned clean): d_embed_neardup's
    // clone-synthesis fixture, mm_pipeline's typed decode boundary,
    // s_hybrid_knn's batch-sized broadcast query side.
    val markers = Seq("transform(", "exists(", "zip_with(", "aggregate(",
      "map_from_arrays")
    for (name <- Seq("d_minhash_exact", "d_simhash_exact", "d_embed_exact",
        "d_semantic_dedup", "d_ngram_jaccard", "x_entropy_filter",
        "x_chunk_docs", "x_lm_score")) {
      val p = plan(name)
      val hits = markers.filter(p.contains)
      assert(hits.isEmpty, s"$name has interpreted HOFs ${hits.mkString(",")}:\n" +
        p.take(3000))
    }
  }

  test("top-1-per-key is a partial aggregate, not a sort window") {
    // q_window and keyed dedup-with-tiebreak plan max_by/min_by
    // AGGREGATES with a map-side partial phase: only one row per key
    // per partition crosses the shuffle and skewed keys are absorbed
    // before it. A row_number window instead shuffles EVERY raw row
    // and sorts whole key groups on the reducer. (The struct-typed
    // agg buffer makes Spark pick SortAggregate over HashAggregate —
    // a per-partition sort, not a post-shuffle full-data sort; the
    // shuffle-volume and skew properties are the aggregate's.)
    for (name <- Seq("q_window", "t_dedup_keyed")) {
      val p = plan(name)
      assert(!p.contains("Window"), s"$name plans a Window:\n" + p.take(3000))
      assert(p.contains("partial_max_by") || p.contains("partial_min_by"),
        s"$name has no map-side partial agg:\n" + p.take(3000))
    }
  }

  test("quota sampling combines map-side — no Window, bounded heap per mapper-key") {
    val p = plan("x_quota_sample")
    assert(!p.contains("Window"), "quota sampling planned a per-key sort window:\n" + p.take(3000))
    // TypedImperativeAggregate partials print as partial_graft_top_k_min
    // inside ObjectHashAggregate — the map-side combine that caps
    // shuffle volume at k ids per (mapper, key)
    assert(p.contains("partial_graft_top_k_min"), p.take(3000))
    assert(p.contains("ObjectHashAggregate"), p.take(3000))
  }

  test("whole-stage codegen covers the scan→filter→project pipeline") {
    // AQE finalizes the plan only on execution — run it, then inspect.
    val df = SparkEntry.queries("t_derived_column")(spark, dir)
    df.collect() // count() would plan its own agg; collect runs THIS plan
    val p = df.queryExecution.executedPlan.toString
    // codegen stages print as "*(n) Operator" in the final AQE plan
    assert(p.contains("*(1)") || p.contains("WholeStageCodegen"), p.take(3000))
  }

  test("r4 text operators are map-only: no shuffle before the output sort") {
    // PII redaction, NFC, unpivot: one scan, one projection/generate —
    // the only Exchange allowed is the final ORDER BY's range partition
    for (name <- Seq("x_pii_redact", "x_nfc", "t_unpivot")) {
      val p = plan(name)
      val exchanges = "Exchange".r.findAllIn(p).size
      val rangeParts = "rangepartitioning".r.findAllIn(p.toLowerCase).size
      assert(exchanges == rangeParts,
        s"$name shuffles beyond the output sort:\n" + p.take(3000))
    }
  }

  test("r8 text operators are map-only: no shuffle before the output sort") {
    // C4 page cleaning and HTML extraction are in-row Column math —
    // one scan; the only Exchange allowed is the ORDER BY's range part
    for (name <- Seq("x_c4_filter", "x_html_extract")) {
      val p = plan(name)
      val exchanges = "Exchange".r.findAllIn(p).size
      val rangeParts = "rangepartitioning".r.findAllIn(p.toLowerCase).size
      assert(exchanges == rangeParts,
        s"$name shuffles beyond the output sort:\n" + p.take(3000))
    }
  }

  test("semantic dedup pairs cell-locally: no self-join, no cartesian") {
    val p = plan("d_semantic_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(3000))
    // cell-local pair generation is a hash aggregate over _cell plus an
    // in-row explode — a corpus-side SortMergeJoin self-join would mean
    // the all-pairs shape leaked back in (the anti join on _drop_id and
    // the output sort are the only joins/exchanges expected)
    assert(p.contains("HashAggregate"), p.take(3000))
  }

  test("decontamination broadcasts the benchmark grams; corpus grams never shuffle") {
    val p = plan("x_decontaminate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      p.take(3000))
  }

  test("range join plans a hash join on the bucket key") {
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
    assert(p.contains("HashJoin"), p.take(3000))
  }

  test("rolling window partitions by customer — a distributed per-key sort") {
    val p = plan("q_rolling_avg")
    assert(p.contains("Window"), p.take(3000))
    assert(p.toLowerCase.contains("hashpartitioning(o_custkey"),
      "window must partition by key, not sort globally:\n" + p.take(3000))
  }

  test("ngram stats: map-side partial count + TakeOrdered, no global sort") {
    val p = plan("x_ngram_stats")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(3000))
  }

  test("funnel plans chained hash aggregates — no per-user sort window") {
    val p = plan("q_funnel")
    assert(!p.contains("Window"), "funnel planned a per-user sort window:\n" + p.take(3000))
    assert("HashAggregate".r.findAllIn(p).size >= 6, // 3 stages × partial+final
      p.take(3000))
  }

  test("span dedup joins the inverted index — no cartesian, no nested loop") {
    val p = plan("d_span_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      p.take(3000))
  }

  test("chunking is map-only: one generate, no shuffle beyond the output sort") {
    val p = plan("x_chunk_docs")
    assert(p.contains("Generate"), p.take(3000))
    val exchanges = "Exchange".r.findAllIn(p).size
    val rangeParts = "rangepartitioning".r.findAllIn(p.toLowerCase).size
    assert(exchanges == rangeParts,
      "chunking shuffles beyond the output sort:\n" + p.take(3000))
  }

  test("LSH index probe prunes parquet partitions, not a full-corpus scan") {
    import org.apache.spark.sql.functions.col
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
    val query = vecs.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    val path = graft.TestDirs.create("graft_lshplan")
      .resolve("idx").toString
    operators.AnnIndex.build(vecs, "vec_id", "embedding", path,
      operators.AnnIndex.Raw, operators.AnnIndex.Lsh(numPlanes = 8))
    val probe = operators.AnnIndex.search(spark, path, vecs, "vec_id", "embedding",
      query, k = 5, nprobe = 1)
    val p = probe.queryExecution.executedPlan.toString
    // the bucket filter must land in PartitionFilters (planning-time
    // file pruning), NOT as a data filter over a full scan
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters"))
      .getOrElse(fail("no PartitionFilters in plan:\n" + p.take(3000)))
    assert(scanLine.contains("_cell"), scanLine)
    // and the probe set (9 of 256 buckets at hamming<=1) prunes to a
    // strict subset of the partition directories on disk
    val dirs = new java.io.File(s"$path/codes").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("_cell="))
    val planes = operators.Similarity.hyperplanes(8, query.length)
    val probes = operators.Similarity.hammingBall(
      operators.Similarity.bucketOf(query, planes), 8, 1).toSet
    val dirsOnDisk = dirs.length
    val probedDirs = dirs.count(f => probes.contains(f.getName.stripPrefix("_cell=").toInt))
    assert(probedDirs < dirsOnDisk,
      s"probe covers all $dirsOnDisk partitions — nothing would be pruned")
    probe.collect() // the pruned plan actually runs
  }
}
