package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.IncrementalAgg._

class IncrementalAggSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    graft.TestDirs.create("graft_incr_spec").toString

  private def corpus: DataFrame = Seq(
    ("a", 1L, "2.50", "x"), ("a", 2L, "1.25", "m"), ("b", 3L, "9.00", "z"),
    ("a", 4L, "0.75", "k"), ("b", 5L, "3.10", "a"), ("c", 6L, "7.77", "q"),
    ("b", 7L, "2.22", "b"), ("c", 8L, "0.01", "y")
  ).toDF("g", "n", "amt", "tag")
    .withColumn("amt", col("amt").cast("decimal(12,2)"))

  private val metrics = Seq(
    Count("rows"), Sum("amt", "amt_sum"), Min("amt", "amt_min"),
    Max("amt", "amt_max"), Avg("amt", "amt_avg"), Min("tag", "tag_min"))

  private def direct(df: DataFrame) = df.groupBy("g").agg(
    count(lit(1)).as("rows"), sum("amt").as("amt_sum"), min("amt").as("amt_min"),
    max("amt").as("amt_max"), avg("amt").as("amt_avg"), min("tag").as("tag_min"))

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema,
      s"schema drift:\n  got  ${got.schema.sql}\n  want ${want.schema.sql}")
    assert(got.orderBy("g").collect().toSeq ==
      want.orderBy("g").collect().toSeq)
  }

  test("fit + appends ≡ direct one-shot aggregate (values AND schema)") {
    val state = tmp()
    fit(corpus.filter($"n" % 3 === 0), Seq("g"), metrics, state, "b0")
    append(state, corpus.filter($"n" % 3 === 1), "b1")
    append(state, corpus.filter($"n" % 3 === 2), "b2")
    assertSame(result(spark, state), direct(corpus))
  }

  test("disjoint group keys across batches merge correctly") {
    val state = tmp()
    fit(corpus.filter($"g" === "a"), Seq("g"), metrics, state, "b0")
    append(state, corpus.filter($"g" =!= "a"), "b1")
    assertSame(result(spark, state), direct(corpus))
  }

  test("an empty batch is a no-op on the result") {
    val state = tmp()
    fit(corpus, Seq("g"), metrics, state, "b0")
    append(state, corpus.filter(lit(false)), "empty")
    assertSame(result(spark, state), direct(corpus))
  }

  test("avg ignores nulls while count(*) counts them, across batches") {
    val df = Seq(("a", Some(10.0)), ("a", None), ("b", None), ("a", Some(20.0)))
      .toDF("g", "v")
    val state = tmp()
    val ms = Seq(Count("rows"), Avg("v", "v_avg"))
    fit(df.limit(2), Seq("g"), ms, state, "b0")
    append(state, df.except(df.limit(2)), "b1")
    val got = result(spark, state).orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.get(2)))).toSeq
    // 'a': 3 rows, avg of {10,20}; 'b': 1 all-null row, avg null
    assert(got == Seq(("a", 3L, Some(15.0)), ("b", 1L, None)))
  }

  private def genDirs(state: String): Seq[java.io.File] =
    new java.io.File(state).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("_gen-"))

  test("compact folds batches into one without changing the result") {
    val state = tmp()
    fit(corpus.filter($"n" <= 3), Seq("g"), metrics, state, "b0")
    append(state, corpus.filter($"n" > 3 && $"n" <= 6), "b1")
    append(state, corpus.filter($"n" > 6), "b2")
    val before = result(spark, state).orderBy("g").collect().toSeq
    compact(spark, state)
    // the live layout is the new generation, one folded batch
    assert(listBatches(spark, state) == Seq("compacted"))
    val gen0 = genDirs(state).filter(_.getName.startsWith("_gen-00000"))
    assert(gen0.size == 1 &&
      new java.io.File(gen0.head, "batch=compacted").isDirectory)
    assertSame(result(spark, state), direct(corpus))
    assert(result(spark, state).orderBy("g").collect().toSeq == before)
    // compacted state accepts further appends — into the ROOT tail
    // area (r11: live by presence, safe against a concurrent compact)
    append(state, corpus.withColumn("n", $"n" + 100), "b3")
    assert(new java.io.File(state, "batch=b3").isDirectory)
    assert(listBatches(spark, state) == Seq("b3", "compacted"))
    assert(result(spark, state).filter($"g" === "a").head().getLong(1) == 6L)
  }

  test("compact installs by manifest flip: a reader holding the previous " +
      "generation survives, layouts two generations old are retired") {
    val state = tmp()
    fit(corpus.filter($"n" <= 4), Seq("g"), metrics, state, "b0")
    append(state, corpus.filter($"n" > 4), "b1")
    def root = new java.io.File(state)
    def entries = root.listFiles().map(_.getName).toSet
    def gen(n: String) = entries.count(_.startsWith(s"_gen-$n"))

    // a reader resolves the LIVE layout (flat, pre-generation) ...
    val reader1 = result(spark, state)
    compact(spark, state) // ... then a compact flips to gen-00000
    // the consumed flat dirs are RETAINED one generation for in-flight
    // readers — nothing a reader may hold was deleted, no data byte
    // was renamed — and subtraction keeps them out of new results
    assert(entries.contains("batch=b0") && entries.contains("batch=b1"))
    assert(gen("00000") == 1 && entries.contains("_graft_gen-00000.manifest"))
    assertSame(reader1, direct(corpus)) // collect AFTER the flip
    // new readers see the folded generation; consumed dirs subtracted
    assert(listBatches(spark, state) == Seq("compacted"))
    assertSame(result(spark, state), direct(corpus))

    // a reader over gen-00000, then an append (root tail) and a second
    // compact → gen-00001; b0/b1's grace has passed (consumed at gen 0,
    // now two flips old) so they retire; b2 (consumed at gen 1) stays
    // one generation for readers still holding the gen-00000 manifest
    val reader2 = result(spark, state)
    append(state, corpus.withColumn("n", $"n" + 50), "b2")
    assert(entries.contains("batch=b2")) // tail append lands at the root
    compact(spark, state)
    assert(!entries.contains("batch=b0") && !entries.contains("batch=b1"))
    assert(entries.contains("batch=b2"))
    assert(gen("00000") == 1 && gen("00001") == 1)
    assertSame(reader2, direct(corpus)) // gen-00000 still intact
    assertSame(result(spark, state), direct(corpus.union(corpus)))

    // third compact retires gen-00000, its manifest, and b2's dir
    compact(spark, state)
    assert(gen("00000") == 0 && !entries.contains("_graft_gen-00000.manifest"))
    assert(gen("00001") == 1 && gen("00002") == 1)
    assert(!entries.exists(_.startsWith("batch=")))
    assertSame(result(spark, state), direct(corpus.union(corpus)))
  }

  test("high-cardinality groups: state lands size-bounded multi-file, not one task's file") {
    // 1M distinct groups — the cardinality where r9's hard coalesce(1)
    // serialized the whole reduce onto one task and wrote one giant
    // file. Default (AQE) path: the adaptive coalescing sizes the
    // write — multi-task, bounded file count, zero extra jobs.
    val n = 1000000L
    val df = spark.range(n).selectExpr("id as g", "id % 7 as v")
    val state = tmp()
    spark.conf.set("graft.incr.targetRowsPerFile", "200000")
    try {
      fit(df, Seq("g"), Seq(Count("rows"), Sum("v", "v_sum")), state, "b0")
      val files = new java.io.File(state, "batch=b0").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length > 1 && files.length <= 32,
        s"wanted size-bounded multi-file state, got ${files.length}")
      // non-AQE fallback: explicit count + coalesce to
      // ceil(1M / targetRowsPerFile) = 5 files exactly
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val state2 = tmp()
      fit(df, Seq("g"), Seq(Count("rows"), Sum("v", "v_sum")), state2, "b0")
      val files2 = new java.io.File(state2, "batch=b0").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      // ceil(1M/200k)=5 requested, capped by the session's shuffle
      // partition count (coalesce cannot raise partition counts)
      val want2 = math.min(5,
        spark.conf.get("spark.sql.shuffle.partitions").toInt)
      assert(files2.length == want2,
        s"non-AQE path: wanted $want2 files, got ${files2.length}")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      // merge stays correct over the multi-file layout
      val r = result(spark, state)
      assert(r.count() == n)
      val got = r.agg(sum($"g").as("gs"), sum($"v_sum").as("vs")).head()
      val want = df.agg(sum($"g"), sum($"v" )).head()
      assert(got.getLong(0) == want.getLong(0) && got.getLong(1) == want.getLong(1))
      // names/types identical; the parquet round-trip makes the GROUP
      // column nullable (metric types are pinned by the sidecar)
      assert(r.schema.map(f => (f.name, f.dataType)) ==
        df.groupBy("g").agg(count(lit(1)).as("rows"), sum("v").as("v_sum"))
          .schema.map(f => (f.name, f.dataType)))
    } finally {
      spark.conf.unset("graft.incr.targetRowsPerFile")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("append: a torn (marker-less) directory is excluded from result and repaired by retry") {
    val state = tmp()
    fit(corpus.filter($"n" <= 4), Seq("g"), metrics, state, "b0")
    val committed = result(spark, state).orderBy("g").collect().toSeq
    // plant a torn write: VALID parquet partial rows, but no _SUCCESS —
    // exactly what a crash mid-append under committer algorithm 2 leaves
    val torn = new java.io.File(state, "batch=b1")
    spark.read.parquet(s"$state/batch=b0").write.parquet(torn.toString)
    assert(new java.io.File(torn, "_SUCCESS").delete())
    // the torn rows must NOT silently enter the merge
    assert(result(spark, state).orderBy("g").collect().toSeq == committed)
    assert(listBatches(spark, state) == Seq("b0"))
    // and the retry of the crashed append overwrites instead of refusing
    append(state, corpus.filter($"n" > 4), "b1")
    assertSame(result(spark, state), direct(corpus))
  }

  test("syncFromLake: colliding sanitized partition names raise instead of dropping data") {
    val lake = tmp()
    // two distinct first-level partition names that collapse under
    // sanitization: 'day=v-x' vs 'day=v=x' (both → 'day-v-x')
    corpus.filter($"n" <= 4).write.parquet(s"$lake/day=v-x")
    corpus.filter($"n" > 4).write.parquet(s"$lake/day=v=x")
    val state = tmp()
    fit(corpus.limit(0), Seq("g"), Seq(Count("rows")), state, "bootstrap")
    val e = intercept[IllegalArgumentException] {
      syncFromLake(spark, state, lake)
    }
    assert(e.getMessage.contains("collide"))
    // non-colliding odd bytes hex-escape to DISTINCT ids and both ingest
    val lake2 = tmp()
    corpus.filter($"n" <= 4).write.parquet(s"$lake2/day=a b")
    corpus.filter($"n" > 4).write.parquet(s"$lake2/day=a+b")
    val state2 = tmp()
    fit(corpus.limit(0), Seq("g"), Seq(Count("rows")), state2, "bootstrap")
    val ids = syncFromLake(spark, state2, lake2)
    assert(ids == Seq("day-a b", "day-a+b").map(_.flatMap {
      case ch if ch.isLetterOrDigit || "._-".contains(ch) => ch.toString
      case '=' => "-"
      case ch => f"~${ch.toInt}%04x"
    }).sorted)
    assert(result(spark, state2).agg(sum("rows")).head().getLong(0) == 8L)
    // escapes are FIXED four-hex-digit width (r10 advice): ';' + 'b'
    // now maps to '~003b' + literal 'b', which no single escaped char
    // can also produce ('λ' U+03BB → '~03bb'; under r10's
    // variable-width '~hh' both collapsed to '~3bb'). The local FS
    // can't store non-Latin1 names, so the width itself is the
    // observable: prefix-freedom follows by construction.
    val lake3 = tmp()
    corpus.filter($"n" <= 4).write.parquet(s"$lake3/day=;b")
    val state3 = tmp()
    fit(corpus.limit(0), Seq("g"), Seq(Count("rows")), state3, "bootstrap")
    assert(syncFromLake(spark, state3, lake3) == Seq("day-~003bb"))
    assert(result(spark, state3).agg(sum("rows")).head().getLong(0) == 4L)
  }

  test("re-committing a batch id raises (no double counting)") {
    val state = tmp()
    fit(corpus, Seq("g"), metrics, state, "b0")
    val e = intercept[IllegalArgumentException] {
      append(state, corpus, "b0")
    }
    assert(e.getMessage.contains("already committed"))
  }

  test("input type drift since fit raises naming the partial column") {
    val state = tmp()
    fit(corpus, Seq("g"), metrics, state, "b0")
    val drifted = corpus.withColumn("amt", col("amt").cast("double"))
    val e = intercept[IllegalArgumentException] {
      append(state, drifted, "b1")
    }
    assert(e.getMessage.contains("column types changed since fit"))
    // the streaming path enforces the same gate — a drifted microbatch
    // must not silently poison the state
    val e2 = intercept[IllegalArgumentException] {
      appendCommitted(state, drifted, "b2")
    }
    assert(e2.getMessage.contains("column types changed since fit"))
  }

  test("syncFromLake: only NEW partitions are read; idempotent; partition col groups") {
    val lake = tmp()
    val df = corpus.withColumn("day",
      concat(lit("d"), ($"n" % 3).cast("string")))
    df.filter($"day" =!= "d2").write.mode("overwrite")
      .partitionBy("day").parquet(lake)
    val state = tmp()
    val ms = Seq(Count("rows"), Sum("n", "n_sum"))
    // fit pins the contract from one partition's shape (day included
    // via basePath), then sync commits every lake partition
    fit(spark.read.option("basePath", lake).parquet(s"$lake/day=d0").limit(0),
      Seq("day"), ms, state, "bootstrap")
    // the lake is read through a scheme that counts the files it opens
    graft.OpenCountingFs.install(spark.sparkContext.hadoopConfiguration)
    val counted = s"${graft.OpenCountingFs.Scheme}://$lake"
    val first = syncFromLake(spark, state, counted)
    assert(first == Seq("day-d0", "day-d1"))
    // a new day lands in the lake: sync reads ONLY it
    df.filter($"day" === "d2").write.mode("append").partitionBy("day").parquet(lake)
    val opensBefore = graft.OpenCountingFs.readOps
    assert(syncFromLake(spark, state, counted) == Seq("day-d2"))
    assert(graft.OpenCountingFs.readOps > opensBefore)
    // and a third sync is a no-op: no job, no partition file opened
    val opensBeforeNoOp = graft.OpenCountingFs.readOps
    val (jobs, third) = org.apache.spark.ListenerBusDrain.jobsDuring(spark.sparkContext)(
      syncFromLake(spark, state, counted))
    assert(third.isEmpty)
    assert(jobs == 0, s"no-op sync: $jobs jobs")
    assert(graft.OpenCountingFs.readOps == opensBeforeNoOp)
    val got = result(spark, state).orderBy("day").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val want = df.groupBy("day").agg(count(lit(1)), sum("n")).orderBy("day")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
  }

  test("dropBatch retracts exactly one batch's contribution in O(1)") {
    val state = tmp()
    fit(corpus.filter($"n" % 3 === 0), Seq("g"), metrics, state, "day0")
    append(state, corpus.filter($"n" % 3 === 1), "day1")
    append(state, corpus.filter($"n" % 3 === 2), "day2")
    assert(listBatches(spark, state) == Seq("day0", "day1", "day2"))
    dropBatch(spark, state, "day1")
    assert(listBatches(spark, state) == Seq("day0", "day2"))
    // result == direct aggregate over the surviving batches only —
    // min/max included (batch partials are independent, no cross-batch
    // subtraction)
    assertSame(result(spark, state), direct(corpus.filter($"n" % 3 =!= 1)))
    // retracting a non-existent batch raises instead of lying
    assert(intercept[IllegalArgumentException] {
      dropBatch(spark, state, "day9")
    }.getMessage.contains("no batch"))
  }

  test("'batch' is reserved (it is the state's hive partition key)") {
    val df = corpus.withColumnRenamed("g", "batch")
    val e = intercept[IllegalArgumentException] {
      fit(df, Seq("batch"), Seq(Count("rows")), tmp(), "b0")
    }
    assert(e.getMessage.contains("reserved"))
  }

  test("fit refuses an already-fitted path; result refuses an unfitted one") {
    val state = tmp()
    fit(corpus, Seq("g"), metrics, state, "b0")
    assert(intercept[IllegalArgumentException] {
      fit(corpus, Seq("g"), metrics, state, "again")
    }.getMessage.contains("already holds state"))
    assert(intercept[IllegalArgumentException] {
      result(spark, tmp())
    }.getMessage.contains("fit() first"))
  }

  test("duplicate output names and malformed batch ids raise") {
    assert(intercept[IllegalArgumentException] {
      fit(corpus, Seq("g"), Seq(Count("x"), Sum("amt", "x")), tmp(), "b0")
    }.getMessage.contains("duplicate output names"))
    assert(intercept[IllegalArgumentException] {
      fit(corpus, Seq("g"), metrics, tmp(), "a/b")
    }.getMessage.contains("batch id"))
  }

  test("state is partial-sized: one row per (batch, group), not per input row") {
    val state = tmp()
    fit(corpus, Seq("g"), metrics, state, "b0")
    append(state, corpus, "b1")
    val stateRows = spark.read.parquet(state).count()
    assert(stateRows == 6L) // 3 groups × 2 batches, vs 16 input rows
  }

  test("approx-distinct sketches: incremental union ≡ one-shot sketch, estimate near exact") {
    val n = 5000
    val df = spark.range(n).selectExpr("id % 3 as g", "cast(id % 997 as string) as v",
      "id as n")
    val ms = Seq(Count("rows"), ApproxDistinct("v", "v_nd"))
    val state = tmp()
    fit(df.filter($"n" % 4 === 0), Seq("g"), ms, state, "b0")
    (1 to 3).foreach(r => append(state, df.filter($"n" % 4 === r), s"b$r"))
    val got = result(spark, state)
    val want = df.groupBy("g").agg(count(lit(1)).as("rows"),
      hll_sketch_estimate(hll_sketch_agg($"v")).as("v_nd"))
    // HLL registers are a max-lattice: the 4-batch union must equal the
    // single-pass sketch EXACTLY, not approximately
    assert(got.schema("v_nd").dataType == want.schema("v_nd").dataType)
    assert(got.orderBy("g").select("g", "v_nd").collect().toSeq ==
      want.orderBy("g").select("g", "v_nd").collect().toSeq)
    // and the estimate lands within HLL tolerance of the exact count
    val exact = df.groupBy("g").agg(countDistinct($"v").as("x"))
      .orderBy("g").collect().map(_.getLong(1))
    val est = got.orderBy("g").collect().map(_.getLong(2))
    exact.zip(est).foreach { case (x, e) =>
      assert(math.abs(e - x).toDouble / x < 0.05, s"estimate $e vs exact $x") }
  }

  test("appendCommitted: re-delivery skips, torn (marker-less) writes are repaired") {
    val state = tmp()
    fit(corpus.filter($"n" <= 4), Seq("g"), metrics, state, "b0")
    assert(appendCommitted(state, corpus.filter($"n" > 4), "b1"))
    val once = result(spark, state).orderBy("g").collect().toSeq
    // re-delivery of a committed batch: no-op, no double counting
    assert(!appendCommitted(state, corpus.filter($"n" > 4), "b1"))
    assert(result(spark, state).orderBy("g").collect().toSeq == once)
    // a torn write (directory exists, no _SUCCESS) is overwritten
    val torn = new java.io.File(state, "batch=b2")
    assert(torn.mkdir())
    java.nio.file.Files.write(torn.toPath.resolve("part-junk.parquet"),
      Array[Byte](1, 2, 3))
    assert(appendCommitted(state, corpus.filter($"n" <= 2), "b2"))
    val a = result(spark, state).filter($"g" === "a").head()
    assert(a.getLong(1) == 5L) // 3 'a' rows from b0 + 2 from the repaired b2
  }

  test("streamAgg: microbatches fold into state, result serves the running aggregate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val state = tmp()
    val ckpt = tmp()
    val input = MemoryStream[(String, Long)]
    val q = streamAgg(input.toDF().toDF("g", "n"), Seq("g"),
      Seq(Count("rows"), Sum("n", "n_sum"), Avg("n", "n_avg")),
      state, ckpt)
    try {
      input.addData(("a", 1L), ("b", 2L)); q.processAllAvailable()
      input.addData(("a", 3L)); q.processAllAvailable()
      val got = result(spark, state).orderBy("g").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(got == Seq(("a", 2L, 4L, 2.0), ("b", 1L, 2L, 2.0)))
    } finally q.stop()
  }

  test("property: random corpora under random batch splits ≡ direct aggregate") {
    for (seed <- Seq(11L, 222L, 3333L)) {
      val rnd = new scala.util.Random(seed)
      val n = 200 + rnd.nextInt(300)
      val nBatches = 1 + rnd.nextInt(5)
      val rows = (0 until n).map { i =>
        val g = s"g${rnd.nextInt(6)}"
        val v = if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(10000) / 100.0)
        val w = BigDecimal(rnd.nextInt(100000), 2)
        (i.toLong, g, v, w, rnd.nextInt(nBatches))
      }
      val df = rows.toDF("id", "g", "v", "w", "b")
        .withColumn("w", col("w").cast("decimal(10,2)"))
      val ms = Seq(Count("rows"), Sum("w", "w_sum"), Min("v", "v_min"),
        Max("v", "v_max"), Avg("w", "w_avg"), ApproxDistinct("g", "g_nd"))
      val state = tmp()
      fit(df.filter($"b" === 0).drop("b"), Seq("g"), ms, state, "b0")
      (1 until nBatches).foreach(b =>
        append(state, df.filter($"b" === b).drop("b"), s"b$b"))
      val got = result(spark, state).orderBy("g").collect().toSeq
      val want = df.groupBy("g").agg(
        count(lit(1)).as("rows"), sum("w").as("w_sum"), min("v").as("v_min"),
        max("v").as("v_max"), avg("w").as("w_avg"),
        hll_sketch_estimate(hll_sketch_agg($"g")).as("g_nd"))
        .orderBy("g").collect().toSeq
      assert(got == want, s"seed=$seed nBatches=$nBatches")
    }
  }

  test("approx-quantile sketches: incremental p50/p95 within rank tolerance of exact") {
    val rnd = new scala.util.Random(3L)
    val rows = (0 until 20000).map { i =>
      val g = s"g${i % 3}"
      (i.toLong, g, math.exp(rnd.nextGaussian()) * 100.0)
    }
    val df = rows.toDF("id", "g", "latency")
    val ms = Seq(Count("rows"), ApproxQuantile("latency", 0.5, "p50"),
      ApproxQuantile("latency", 0.95, "p95"))
    val state = tmp()
    fit(df.filter($"id" % 4 === 0), Seq("g"), ms, state, "b0")
    (1 to 3).foreach(r => append(state, df.filter($"id" % 4 === r), s"b$r"))
    val got = result(spark, state).orderBy("g").collect()
    // exact per-group quantiles for the rank check
    val exact = rows.groupBy(_._2).view.mapValues(_.map(_._3).sorted.toArray).toMap
    def rank(g: String, v: Double) =
      exact(g).count(_ <= v).toDouble / exact(g).length
    got.foreach { r =>
      val g = r.getString(0)
      assert(math.abs(rank(g, r.getDouble(2)) - 0.5) < 0.05, s"$g p50")
      assert(math.abs(rank(g, r.getDouble(3)) - 0.95) < 0.05, s"$g p95")
    }
    // schema: estimates are DOUBLE, named as declared
    assert(result(spark, state).schema.fieldNames.toSeq ==
      Seq("g", "rows", "p50", "p95"))
    // the q parameter survives the meta sidecar: a fresh JVM-read of
    // state (readMeta path) finalizes with the SAME q values — and
    // compaction merges sketch partials losslessly enough to stay in
    // tolerance
    compact(spark, state)
    result(spark, state).orderBy("g").collect().foreach { r =>
      val g = r.getString(0)
      assert(math.abs(rank(g, r.getDouble(2)) - 0.5) < 0.05, s"$g p50 post-compact")
      assert(math.abs(rank(g, r.getDouble(3)) - 0.95) < 0.05, s"$g p95 post-compact")
    }
  }

  test("commit ledger survives compaction: pre-compact batch ids replay as no-ops") {
    val state = tmp()
    fit(corpus.filter($"n" <= 4), Seq("g"), metrics, state, "b0")
    assert(appendCommitted(state, corpus.filter($"n" > 4), "b1"))
    val before = result(spark, state).orderBy("g").collect().toSeq
    compact(spark, state)
    // the r10 bug: after the fold, batch=b1 no longer exists in the
    // live generation, so the old dir-only committed check re-appended
    // a replayed id and silently double-counted it. The root _commits/
    // ledger (which compaction never touches) now recognizes it.
    assert(!appendCommitted(state, corpus.filter($"n" > 4), "b1"))
    assert(!appendCommitted(state, corpus.filter($"n" <= 4), "b0"))
    assert(result(spark, state).orderBy("g").collect().toSeq == before)
    // the strict path refuses the replay instead of double-counting
    assert(intercept[IllegalArgumentException] {
      append(state, corpus, "b1")
    }.getMessage.contains("already committed"))
    // a crash BETWEEN the data write and the ledger record (committed
    // dir, missing marker) is backfilled on the next probe, so the id
    // still survives the following compaction
    append(state, corpus, "b2")
    assert(new java.io.File(state, "_graft_commits/b2").delete())
    assert(!appendCommitted(state, corpus, "b2")) // recognized via _SUCCESS
    assert(new java.io.File(state, "_graft_commits/b2").isFile) // backfilled
    compact(spark, state)
    assert(!appendCommitted(state, corpus, "b2"))
    // dropBatch clears the ledger entry too: a post-compact batch can
    // be retracted and legitimately re-appended under its id
    append(state, corpus.filter($"n" <= 2), "b3")
    dropBatch(spark, state, "b3")
    assert(!new java.io.File(state, "_graft_commits/b3").exists)
    append(state, corpus.filter($"n" <= 2), "b3") // no raise
  }

  test("syncFromLake after a compaction does not re-ingest synced partitions") {
    val lake = tmp()
    val df = corpus.withColumn("day",
      concat(lit("d"), ($"n" % 2).cast("string")))
    df.write.mode("overwrite").partitionBy("day").parquet(lake)
    val state = tmp()
    val ms = Seq(Count("rows"), Sum("n", "n_sum"))
    fit(spark.read.option("basePath", lake).parquet(s"$lake/day=d0").limit(0),
      Seq("day"), ms, state, "bootstrap")
    assert(syncFromLake(spark, state, lake) == Seq("day-d0", "day-d1"))
    val before = result(spark, state).orderBy("day").collect().toSeq
    compact(spark, state)
    // the r10 bug made every already-synced partition look NEW after a
    // compact — a nightly sync following a weekly compact would have
    // double-counted the whole lake
    assert(syncFromLake(spark, state, lake).isEmpty)
    assert(result(spark, state).orderBy("day").collect().toSeq == before)
  }

  test("online writers: an append landing mid-compact survives the flip") {
    val state = tmp()
    fit(corpus.filter($"n" <= 4), Seq("g"), metrics, state, "b0")
    // flat-layout compact with an append landing after the pin: the
    // compactor can't have listed it, so it must stay live by presence
    compactImpl(spark, state, "compacted",
      () => append(state, corpus.filter($"n" > 4), "late"))
    assert(listBatches(spark, state) == Seq("compacted", "late"))
    assertSame(result(spark, state), direct(corpus))
    // generation-layout compact with a mid-compact append
    compactImpl(spark, state, "compacted",
      () => append(state, corpus.withColumn("n", $"n" + 100), "late2"))
    assert(listBatches(spark, state) == Seq("compacted", "late2"))
    assertSame(result(spark, state), direct(corpus.union(corpus)))
    // the NEXT compact folds the late batch in; result is stable
    compact(spark, state)
    assert(listBatches(spark, state) == Seq("compacted"))
    assertSame(result(spark, state), direct(corpus.union(corpus)))
  }

  test("rival compactors: exclusive manifest create — one wins, the loser " +
      "raises, zero rows lost or doubled, debris swept two flips later") {
    val state = tmp()
    fit(corpus.filter($"n" <= 4), Seq("g"), metrics, state, "b0")
    append(state, corpus.filter($"n" > 4), "b1")
    // a rival completes an entire compact inside the loser's window
    intercept[java.io.IOException] {
      compactImpl(spark, state, "compacted", () => compact(spark, state))
    }
    // the rival's commit stands; nothing lost, nothing doubled
    assert(listBatches(spark, state) == Seq("compacted"))
    assertSame(result(spark, state), direct(corpus))
    // the loser's uniquely-named data dir is unreferenced debris...
    assert(genDirs(state).count(_.getName.startsWith("_gen-00000")) == 2)
    append(state, corpus.withColumn("n", $"n" + 10), "b2")
    compact(spark, state) // → gen-00001
    compact(spark, state) // → gen-00002: retires every gen-00000*, debris included
    assert(genDirs(state).count(_.getName.startsWith("_gen-00000")) == 0)
    assertSame(result(spark, state), direct(corpus.union(corpus)))
  }

  test("dropBatch refuses a consumed-but-not-yet-retired batch (data already folded)") {
    val state = tmp()
    fit(corpus.filter($"n" <= 4), Seq("g"), metrics, state, "b0")
    append(state, corpus.filter($"n" > 4), "b1")
    compact(spark, state)
    // b1's dir still exists at the root (one-generation reader grace)
    // but its data is folded — deleting the dir would retract nothing
    assert(new java.io.File(state, "batch=b1").isDirectory)
    assert(intercept[IllegalArgumentException] {
      dropBatch(spark, state, "b1")
    }.getMessage.contains("folded by a compaction"))
    assertSame(result(spark, state), direct(corpus))
  }

  test("a torn v2 manifest is never trusted: readers fall back, the retry " +
      "burns the generation number instead of colliding forever") {
    val state = tmp()
    fit(corpus.filter($"n" <= 4), Seq("g"), metrics, state, "b0")
    compact(spark, state) // gen 0
    append(state, corpus.filter($"n" > 4), "b1")
    // crash mid-manifest-create: v2 body without its end terminator
    java.nio.file.Files.write(
      java.nio.file.Paths.get(state, "_graft_gen-00001.manifest"),
      "#graft-manifest v2\ndata=_gen-00001-dead\nconsumed=1:batch=b1\n"
        .getBytes("UTF-8"))
    // readers resolve the highest COMPLETE manifest (gen 0) + live tail
    assert(listBatches(spark, state) == Seq("b1", "compacted"))
    assertSame(result(spark, state), direct(corpus))
    // the compact retry takes the NEXT number — create-exclusive would
    // refuse generation 1 forever — and the state stays correct
    compact(spark, state)
    val names = new java.io.File(state).listFiles().map(_.getName).toSet
    assert(names.contains("_graft_gen-00002.manifest"), names)
    assert(listBatches(spark, state) == Seq("compacted"))
    assertSame(result(spark, state), direct(corpus))
  }

  test("property: random append/replay/compact interleavings (incl. " +
      "mid-compact appends) ≡ direct aggregate at every step") {
    for (seed <- Seq(7L, 77L)) {
      val rnd = new scala.util.Random(seed)
      val state = tmp()
      def slice(b: Int) = corpus.withColumn("n", $"n" + lit(b * 100))
      fit(slice(0), Seq("g"), metrics, state, "s0")
      var appended = Vector(0)
      var next = 1
      (0 until 8).foreach { step =>
        rnd.nextInt(3) match {
          case 0 =>
            append(state, slice(next), s"s$next")
            appended :+= next; next += 1
          case 1 => // replay of a committed batch id: skipped, not doubled
            val b = appended(rnd.nextInt(appended.size))
            assert(!appendCommitted(state, slice(b), s"s$b"))
          case 2 =>
            if (rnd.nextBoolean()) {
              val b = next; next += 1
              compactImpl(spark, state, "compacted",
                () => { append(state, slice(b), s"s$b"); appended :+= b })
            } else compact(spark, state)
        }
        // every slice aggregates like the corpus itself (n shifts touch
        // no metric), so expected = direct over |appended| corpora
        val want = direct((1 until appended.size)
          .foldLeft(corpus)((d, _) => d.union(corpus)))
        assertSame(result(spark, state), want)
      }
    }
  }

  test("global (no group columns) aggregate works across batches") {
    val state = tmp()
    val ms = Seq(Count("rows"), Sum("n", "n_sum"))
    fit(corpus.filter($"n" <= 4), Nil, ms, state, "b0")
    append(state, corpus.filter($"n" > 4), "b1")
    val r = result(spark, state).head()
    assert(r.getLong(0) == 8L && r.getLong(1) == 36L)
  }

  test("a KLL state written by the hand-written aggregates stays readable and foldable") {
    // src/test/resources/graft/operators/incr_kll_state: fit "b0" =
    // kllRows(0, 120), append "b1" = kllRows(120, 180), written by the
    // graft-owned KLL aggregate that Spark's kll_*_double built-ins
    // replaced; below k=200 values per group a KLL sketch keeps every
    // value, so the quantiles are exact and must read back unchanged
    def kllRows(from: Int, until: Int) = (from until until).map { i =>
      val g = Seq("a", "b", "c")(i % 3)
      (g, if (g == "c") None else Some(((i * 37) % 101) + 0.5), s"u${i % 17}")
    }.toDF("g", "latency", "user")
    import java.nio.file.{Files, Paths}
    val fixture = Paths.get(
      getClass.getResource("/graft/operators/incr_kll_state/_meta.json").toURI).getParent
    val state = Paths.get(tmp(), "state")
    Files.walk(fixture).forEach { f =>
      val to = state.resolve(fixture.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(to) else Files.copy(f, to)
    }
    // the values the hand-written aggregates' result() gave on this state
    assert(result(spark, state.toString).orderBy("g").collect().toSeq == Seq(
      Row("a", 49.5, 97.5, 17L), Row("b", 47.5, 94.5, 17L), Row("c", null, null, 17L)))
    append(state.toString, kllRows(180, 210), "b2")
    compact(spark, state.toString)
    val oneShot = tmp()
    fit(kllRows(0, 210), Seq("g"), Seq(ApproxQuantile("latency", 0.5, "p50"),
      ApproxQuantile("latency", 0.95, "p95"), ApproxDistinct("user", "users")), oneShot)
    assertSame(result(spark, state.toString), result(spark, oneShot))
  }
}
