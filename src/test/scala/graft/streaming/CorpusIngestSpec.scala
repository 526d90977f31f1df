package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.functions.TextFunctions

class CorpusIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // relaxed gate for short fixture docs: min 3 tokens, no dup-ratio cap
  private val gate = (c: org.apache.spark.sql.Column) =>
    TextFunctions.gopherFailReason(c, minTokens = 3, maxDupWordRatio = 1.0)

  test("cleanBatch: gate → within-batch dedup → lake dedup, in that order") {
    val lake = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "too short"),                      // gated: 2 tokens
      (11L, "delta gamma beta alpha"),         // bag-dup of lake doc 1
      (12L, "epsilon zeta eta theta"),         // fresh
      (13L, "theta eta zeta epsilon"),         // within-batch dup of 12
      (14L, "iota kappa lambda mu")            // fresh
    ).toDF("doc_id", "text")
    val kept = CorpusIngest.cleanBatch(batch, lake, failReason = gate)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(12L, 14L))
  }

  test("null-text documents are rejected by the gate, not admitted") {
    val lake = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val batch = Seq((1L, "alpha beta gamma delta"), (2L, null))
      .toDF("doc_id", "text")
    val kept = CorpusIngest.cleanBatch(batch, lake, failReason = gate)
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(1L))
  }

  test("an unreadable (corrupt) lake PROPAGATES instead of silently re-admitting dups") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = graft.TestDirs.create("graft_ingest_bad")
    val lakeDir = dir.resolve("lake")
    java.nio.file.Files.createDirectories(lakeDir)
    java.nio.file.Files.writeString(lakeDir.resolve("junk.parquet"), "not parquet")

    val input = MemoryStream[(Long, String)]
    val q = CorpusIngest.ingestStream(
      input.toDF().toDF("doc_id", "text"), lakeDir.toString,
      dir.resolve("ckpt").toString, failReason = gate)
    try {
      input.addData((1L, "alpha beta gamma delta"))
      intercept[Exception] { q.processAllAvailable() }
    } finally q.stop()
  }

  test("cleanBatch works against an empty lake and keeps all batch columns") {
    val lake = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val batch = Seq((5L, "one two three four five")).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
    val out = CorpusIngest.cleanBatch(batch, lake, failReason = gate)
    assert(out.columns.toSeq == Seq("doc_id", "text", "lang"))
    assert(out.count() == 1)
  }

  test("lake probe reads ONLY the materialized _fp column (schema-pruned)") {
    val dir = graft.TestDirs.create("graft_ingest_fp")
    val lakeDir = dir.resolve("lake").toString
    Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta"))
      .toDF("doc_id", "text")
      .withColumn(CorpusIngest.FingerprintCol,
        TextFunctions.bagFingerprint(col("text")))
      .write.parquet(lakeDir)

    val lake = spark.read.parquet(lakeDir)
    val batch = Seq((10L, "delta gamma beta alpha"), (11L, "nu xi omicron pi"))
      .toDF("doc_id", "text")
    val cleaned = CorpusIngest.cleanBatch(batch, lake, failReason = gate)
    assert(cleaned.select("doc_id").as[Long].collect().toSeq.sorted == Seq(11L))
    // the lake-side scan must be pruned to the one fingerprint column —
    // at a 100 TB lake this is the difference between a ~1 % column
    // read and re-hashing the full text column every batch
    val plan = cleaned.queryExecution.executedPlan.toString
    val lakeScan = plan.linesIterator
      .find(l => l.contains("ReadSchema") && l.contains("lake"))
      .getOrElse(fail("no lake scan in plan:\n" + plan.take(3000)))
    assert(lakeScan.contains("struct<_fp:string>"), lakeScan)
    assert(!lakeScan.contains("text"), lakeScan)
  }

  test("a legacy lake without _fp stays unstamped (no mixed schema) and still dedups") {
    val dir = graft.TestDirs.create("graft_ingest_legacy")
    val lakeDir = dir.resolve("lake").toString
    Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text").write.parquet(lakeDir)

    val batch = Seq((10L, "delta gamma beta alpha"), (11L, "nu xi omicron pi"))
      .toDF("doc_id", "text")
    CorpusIngest.ingestBatch(batch, 0L, lakeDir, failReason = gate,
      scope = "legacy-backfill")
    val lake = spark.read.parquet(lakeDir)
    // appended via the recompute fallback; schema stays homogeneous —
    // a mixed lake would read _fp = null for legacy rows and silently
    // re-admit their duplicates
    assert(lake.columns.toSeq == Seq("doc_id", "text"))
    assert(lake.select("doc_id").as[Long].collect().toSeq.sorted == Seq(1L, 11L))
  }

  test("exactly-once: a replayed batch id is skipped and the lake does not grow") {
    val dir = graft.TestDirs.create("graft_ingest_eo")
    val lakeDir = dir.resolve("lake").toString
    val batch = Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    CorpusIngest.ingestBatch(batch, 7L, lakeDir, failReason = gate,
      scope = "batch")
    val after1 = spark.read.parquet(lakeDir).count()
    assert(after1 == 2)
    // crash-replay AFTER the marker landed: same batch id → skipped
    CorpusIngest.ingestBatch(batch, 7L, lakeDir, failReason = gate,
      scope = "batch")
    assert(spark.read.parquet(lakeDir).count() == after1)
    // crash-replay BEFORE the marker landed: marker gone, batch re-runs
    // — content-level dedup against the already-appended copies still
    // keeps the lake from growing
    val fs = new org.apache.hadoop.fs.Path(lakeDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(
      lakeDir + "/" + CorpusIngest.CommitDirName + "/batch-7"), false)
    CorpusIngest.ingestBatch(batch, 7L, lakeDir, failReason = gate,
      scope = "batch")
    assert(spark.read.parquet(lakeDir).count() == after1)
  }

  test("a fresh-checkpoint stream does not skip batches that reuse old batch ids") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = graft.TestDirs.create("graft_ingest_scope")
    val lakeDir = dir.resolve("lake").toString

    // incarnation 1, checkpoint A: its batch 0 ingests doc 1
    val in1 = MemoryStream[(Long, String)]
    val q1 = CorpusIngest.ingestStream(in1.toDF().toDF("doc_id", "text"),
      lakeDir, dir.resolve("ckptA").toString, failReason = gate)
    try {
      in1.addData((1L, "alpha beta gamma delta")); q1.processAllAvailable()
    } finally q1.stop()

    // incarnation 2, checkpoint B (ops recreated it): batch ids restart
    // at 0 — its fresh docs must NOT be skipped as replays
    val in2 = MemoryStream[(Long, String)]
    val q2 = CorpusIngest.ingestStream(in2.toDF().toDF("doc_id", "text"),
      lakeDir, dir.resolve("ckptB").toString, failReason = gate)
    try {
      in2.addData((2L, "epsilon zeta eta theta")); q2.processAllAvailable()
    } finally q2.stop()

    val ids = spark.read.parquet(lakeDir)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L))
  }

  test("first-batch retry self-heals a lake dir holding only crash debris") {
    val dir = graft.TestDirs.create("graft_ingest_heal")
    val lakeDir = dir.resolve("lake")
    // a crashed first append leaves the dir with only hidden entries
    java.nio.file.Files.createDirectories(lakeDir.resolve("_temporary"))
    java.nio.file.Files.writeString(
      lakeDir.resolve("_temporary").resolve("part-00000"), "partial")

    val batch = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    CorpusIngest.ingestBatch(batch, 0L, lakeDir.toString, failReason = gate,
      scope = "heal-test")
    assert(spark.read.parquet(lakeDir.toString)
      .select("doc_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("compactLake merges microbatch small files, keeps rows, markers and dedup") {
    val dir = graft.TestDirs.create("graft_compact")
    val lakeDir = dir.resolve("lake").toString
    def batch(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    // three committed microbatches → three parquet file sets
    CorpusIngest.ingestBatch(batch((1L, "alpha beta gamma delta")), 0L,
      lakeDir, failReason = gate, scope = "s")
    CorpusIngest.ingestBatch(batch((2L, "epsilon zeta eta theta")), 1L,
      lakeDir, failReason = gate, scope = "s")
    CorpusIngest.ingestBatch(batch((3L, "iota kappa lambda mu")), 2L,
      lakeDir, failReason = gate, scope = "s")
    val before = spark.read.parquet(lakeDir)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(before.size == 3)

    val stats = CorpusIngest.compactLake(spark, lakeDir, targetBytes = 1L << 30)
    assert(stats.filesBefore >= 3 && stats.filesAfter == 1)

    // rows (incl. the materialized _fp column) survive byte-identically
    val after = CorpusIngest.readLake(spark, lakeDir)
    assert(after.columns.contains(CorpusIngest.FingerprintCol))
    assert(after.orderBy("doc_id").collect().map(_.toString).toSeq == before)

    // commit markers stayed (root-anchored): replaying a committed
    // batch id is a no-op
    CorpusIngest.ingestBatch(batch((9L, "would be fresh data here")), 1L,
      lakeDir, failReason = gate, scope = "s")
    assert(CorpusIngest.readLake(spark, lakeDir).count() == 3)

    // the compacted lake still dedups: dup drops, fresh doc lands via
    // the pruned _fp probe path
    CorpusIngest.ingestBatch(batch(
      (10L, "delta gamma beta alpha"), // bag-dup of doc 1
      (11L, "nu xi omicron pi")), 3L, lakeDir, failReason = gate, scope = "s")
    assert(CorpusIngest.readLake(spark, lakeDir).select("doc_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 11L))
  }

  test("compactLake references already-big files in place and only rewrites the small tail") {
    val dir = graft.TestDirs.create("graft_compact_big")
    val lakeDir = dir.resolve("lake").toString
    def batch(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    // one BIG batch (file tens of KB) + two tiny ones
    val bigRows = (100L until 2100L).map(i =>
      (i, s"unique document body number $i with several tokens"))
    CorpusIngest.ingestBatch(batch(bigRows: _*), 0L,
      lakeDir, failReason = gate, scope = "s")
    CorpusIngest.ingestBatch(batch((1L, "alpha beta gamma delta")), 1L,
      lakeDir, failReason = gate, scope = "s")
    CorpusIngest.ingestBatch(batch((2L, "epsilon zeta eta theta")), 2L,
      lakeDir, failReason = gate, scope = "s")
    val before = spark.read.parquet(lakeDir)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(before.size == 2002)
    // threshold between the big file and the tiny ones: the big file
    // must be RETAINED IN PLACE (zero read, zero rename — manifest
    // reference only), the two tiny ones rewritten into one
    val bigFile = new java.io.File(lakeDir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet") && f.length >= 8192L)
    assert(bigFile.length == 1)
    val bigMtime = bigFile.head.lastModified
    val stats = CorpusIngest.compactLake(spark, lakeDir,
      targetBytes = 1L << 30, minFileBytes = 8192L)
    assert(stats.bytesMoved >= 8192L && stats.bytesRewritten > 0L)
    assert(stats.filesAfter < stats.filesBefore)
    // the big file is physically untouched at its original path
    assert(bigFile.head.isFile && bigFile.head.lastModified == bigMtime)
    assert(CorpusIngest.readLake(spark, lakeDir)
      .orderBy("doc_id").collect().map(_.toString).toSeq == before)
    // second call: nothing small remains → no-op fast path
    val again = CorpusIngest.compactLake(spark, lakeDir,
      targetBytes = 1L << 30, minFileBytes = 8192L)
    assert(again.bytesMoved == 0L && again.bytesRewritten == 0L &&
      again.filesAfter == again.filesBefore)

    // a KEEP reference: cluster-compact rewrites everything into one
    // big generation file; two tiny appends + a size-only compact then
    // RETAIN that file in place by manifest reference
    CorpusIngest.compactLake(spark, lakeDir,
      targetBytes = 1L << 30, clusterBy = Seq("doc_id"))
    CorpusIngest.ingestBatch(batch((3L, "iota kappa lambda mu")), 3L,
      lakeDir, failReason = gate, scope = "s")
    CorpusIngest.ingestBatch(batch((4L, "nu xi omicron pi")), 4L,
      lakeDir, failReason = gate, scope = "s")
    val withKeep = CorpusIngest.compactLake(spark, lakeDir,
      targetBytes = 1L << 30, minFileBytes = 8192L)
    assert(withKeep.bytesMoved >= 8192L, "generation big file kept in place")
    val manifest = new java.io.File(lakeDir).listFiles()
      .filter(_.getName.endsWith(".manifest")).map(_.getName).max
    assert(java.nio.file.Files.readString(
      java.nio.file.Path.of(lakeDir, manifest)).contains("keep=_gen-"))
    val before2 = CorpusIngest.readLake(spark, lakeDir)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(before2.size == 2004)

    // the lake is RELOCATABLE even with referenced-in-place files:
    // the manifest records LAKE-RELATIVE paths (keep refs AND consumed
    // tail entries), so a copied/restored lake (different absolute
    // root) resolves wholly inside itself
    val moved = dir.resolve("lake-moved")
    java.nio.file.Files.walk(java.nio.file.Path.of(lakeDir)).forEach { p =>
      val t = moved.resolve(java.nio.file.Path.of(lakeDir).relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }
    assert(CorpusIngest.readLake(spark, moved.toString)
      .orderBy("doc_id").collect().map(_.toString).toSeq == before2)
  }

  test("compactLake clusterBy rewrites into disjoint key ranges parquet stats can prune") {
    val dir = graft.TestDirs.create("graft_compact_cluster")
    val lakeDir = dir.resolve("lake").toString
    def batch(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    // two batches with fully INTERLEAVED id ranges: before clustering,
    // every file spans (almost) the whole id domain, so a point filter
    // can never skip a file on min/max stats
    CorpusIngest.ingestBatch(
      batch((0L until 400L by 2).map(i => (i, s"even doc $i")): _*), 0L,
      lakeDir, failReason = gate, scope = "s")
    CorpusIngest.ingestBatch(
      batch((1L until 400L by 2).map(i => (i, s"odd doc $i")): _*), 1L,
      lakeDir, failReason = gate, scope = "s")
    val before = spark.read.parquet(lakeDir)
      .orderBy("doc_id").collect().map(_.toString).toSeq

    val stats = CorpusIngest.compactLake(spark, lakeDir,
      targetBytes = 8192L, clusterBy = Seq("doc_id"))
    // clustering rewrites EVERYTHING — no metadata-move shortcut
    assert(stats.bytesMoved == 0L && stats.bytesRewritten > 0L)

    // rows survive exactly
    assert(CorpusIngest.readLake(spark, lakeDir)
      .orderBy("doc_id").collect().map(_.toString).toSeq == before)

    // per-file id ranges are now DISJOINT — the property parquet
    // min/max footer skipping needs (read each data file separately;
    // a clusterBy compact rewrites everything into the generation dir)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val genDir = fs.listStatus(new org.apache.hadoop.fs.Path(lakeDir))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("_gen-00000"))
      .head.getPath
    val parts = fs.listStatus(genDir)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_")
        && !st.getPath.getName.startsWith("."))
      .map(_.getPath.toString)
    assert(parts.length > 1, "want multiple output files to prove disjointness")
    val ranges = parts.map { p =>
      val r = spark.read.parquet(p)
        .agg(org.apache.spark.sql.functions.min("doc_id"),
          org.apache.spark.sql.functions.max("doc_id")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) =>
        assert(hi < lo, s"file ranges overlap: hi=$hi lo=$lo")
      case _ =>
    }
  }

  test("compactLake installs by manifest flip: an interleaved reader survives, " +
      "ingestion continues into the live generation, stale layouts retire") {
    val dir = graft.TestDirs.create("graft_compact_manifest")
    val lakeDir = dir.resolve("lake").toString
    def batch(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    CorpusIngest.ingestBatch(batch((1L, "alpha beta gamma delta")), 0L,
      lakeDir, failReason = gate, scope = "s")
    CorpusIngest.ingestBatch(batch((2L, "epsilon zeta eta theta")), 1L,
      lakeDir, failReason = gate, scope = "s")
    def rootNames = new java.io.File(lakeDir).listFiles().map(_.getName).toSet

    // a reader resolves the LIVE (flat, pre-manifest) layout ...
    val reader1 = CorpusIngest.readLake(spark, lakeDir)
    CorpusIngest.compactLake(spark, lakeDir, targetBytes = 1L << 30)
    // ... and survives the flip: the flat files it may be scanning are
    // RETAINED (nothing was renamed or deleted), the new generation is
    // committed by one manifest object
    assert(rootNames.exists(_.startsWith("_gen-00000"))
      && rootNames.contains("_graft_gen-00000.manifest"))
    assert(rootNames.exists(_.endsWith(".parquet")), "flat layout retained")
    assert(reader1.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))

    // ingestion continues: dedup still sees doc 1, fresh doc 3 lands
    // in the root-anchored _tail append area
    CorpusIngest.ingestBatch(batch(
      (30L, "delta gamma beta alpha"), // bag-dup of doc 1
      (3L, "iota kappa lambda mu")), 2L, lakeDir, failReason = gate, scope = "s")
    assert(rootNames.contains(CorpusIngest.TailDirName))
    assert(CorpusIngest.readLake(spark, lakeDir).select("doc_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))

    // second compact → gen-00001; the flat layout (consumed one flip
    // ago, out of the reader grace window) retires, gen-00000 is kept
    // for its own in-flight readers
    val reader2 = CorpusIngest.readLake(spark, lakeDir)
    CorpusIngest.compactLake(spark, lakeDir, targetBytes = 1L << 30)
    assert(!rootNames.exists(_.endsWith(".parquet")), "flat layout retired")
    assert(rootNames.exists(_.startsWith("_gen-00000"))
      && rootNames.exists(_.startsWith("_gen-00001")))
    assert(reader2.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))

    // a TORN manifest (higher generation, no terminator line — a
    // crash mid-create on a store without atomic rename) is never
    // trusted: readers skip it and fall back to the last complete one
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(lakeDir, "_graft_gen-00009.manifest"),
      "_gen-00009/bogus.parquet\n")
    assert(CorpusIngest.readLake(spark, lakeDir).select("doc_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    java.nio.file.Files.delete(
      java.nio.file.Path.of(lakeDir, "_graft_gen-00009.manifest"))

    // third compact (after one more batch) retires gen-00000 and its
    // manifest; markers stayed root-anchored throughout (replay of
    // batch 1 is still a no-op)
    CorpusIngest.ingestBatch(batch((4L, "nu xi omicron pi")), 3L,
      lakeDir, failReason = gate, scope = "s")
    CorpusIngest.compactLake(spark, lakeDir, targetBytes = 1L << 30)
    assert(!rootNames.exists(_.startsWith("_gen-00000"))
      && !rootNames.contains("_graft_gen-00000.manifest"))
    assert(rootNames.contains(CorpusIngest.CommitDirName))
    CorpusIngest.ingestBatch(batch((9L, "would be fresh data here")), 1L,
      lakeDir, failReason = gate, scope = "s")
    assert(CorpusIngest.readLake(spark, lakeDir).select("doc_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("online compaction: appends landing DURING a compact survive the flip, " +
      "exactly-once markers intact") {
    val dir = graft.TestDirs.create("graft_compact_online")
    val lakeDir = dir.resolve("lake").toString
    def batch(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    CorpusIngest.ingestBatch(batch((1L, "alpha beta gamma delta")), 0L,
      lakeDir, failReason = gate, scope = "s")
    CorpusIngest.ingestBatch(batch((2L, "epsilon zeta eta theta")), 1L,
      lakeDir, failReason = gate, scope = "s")
    CorpusIngest.compactLake(spark, lakeDir, targetBytes = 1L << 30)
    CorpusIngest.ingestBatch(batch((3L, "iota kappa lambda mu")), 2L,
      lakeDir, failReason = gate, scope = "s")

    // a batch lands AFTER the compactor pinned its input set and
    // BEFORE the manifest flip — the exact window the old design lost;
    // a replay of a committed id in the same window must still skip
    CorpusIngest.compactLakeImpl(spark, lakeDir, targetBytes = 1L << 30,
      minFileBytes = -1L, clusterBy = Nil, zorder = false, afterPin = () => {
        CorpusIngest.ingestBatch(batch(
          (4L, "nu xi omicron pi"),
          (40L, "delta gamma beta alpha")), 3L, // 40 = bag-dup of doc 1
          lakeDir, failReason = gate, scope = "s")
        CorpusIngest.ingestBatch(batch((9L, "would be fresh data here")), 1L,
          lakeDir, failReason = gate, scope = "s") // replay: marker skips
      })
    def ids = CorpusIngest.readLake(spark, lakeDir)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 4L), s"mid-compact append lost/duped: $ids")

    // the mid-compact batch's marker landed: replaying it is a no-op
    CorpusIngest.ingestBatch(batch((9L, "would be fresh data here")), 3L,
      lakeDir, failReason = gate, scope = "s")
    assert(ids == Seq(1L, 2L, 3L, 4L))
    // the next compact folds the tail in without loss or duplication
    CorpusIngest.compactLake(spark, lakeDir, targetBytes = 1L << 30)
    assert(ids == Seq(1L, 2L, 3L, 4L))
  }

  test("online compaction: a MemoryStream microbatch mid-compact is neither " +
      "lost nor duplicated") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = graft.TestDirs.create("graft_compact_stream")
    val lakeDir = dir.resolve("lake").toString

    val input = MemoryStream[(Long, String)]
    val q = CorpusIngest.ingestStream(
      input.toDF().toDF("doc_id", "text"), lakeDir,
      dir.resolve("ckpt").toString, failReason = gate)
    try {
      input.addData((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta"))
      q.processAllAvailable()
      CorpusIngest.compactLake(spark, lakeDir, targetBytes = 1L << 30)
      // the stream keeps running THROUGH the next compact: a microbatch
      // (with a dup to prove dedup still works mid-flip) is processed
      // between the compactor's pin and its manifest flip
      CorpusIngest.compactLakeImpl(spark, lakeDir, targetBytes = 1L << 30,
        minFileBytes = -1L, clusterBy = Nil, zorder = false, afterPin = () => {
          input.addData((3L, "iota kappa lambda mu"),
            (30L, "delta gamma beta alpha")) // bag-dup of doc 1
          q.processAllAvailable()
        })
      input.addData((4L, "nu xi omicron pi"))
      q.processAllAvailable()
    } finally q.stop()

    val ids = CorpusIngest.readLake(spark, lakeDir)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 4L), s"stream batch mid-compact lost/duped: $ids")
    // one root-anchored marker per committed microbatch survived it all
    val markers = new java.io.File(lakeDir, CorpusIngest.CommitDirName).list()
      .filterNot(_.startsWith(".")) // local-FS .crc shadows
    assert(markers.length == 3, markers.mkString(", "))
  }

  test("concurrent compactors: exactly one wins the generation, the loser " +
      "raises, no data is lost") {
    val dir = graft.TestDirs.create("graft_compact_race")
    val lakeDir = dir.resolve("lake").toString
    def batch(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    CorpusIngest.ingestBatch(batch((1L, "alpha beta gamma delta")), 0L,
      lakeDir, failReason = gate, scope = "s")
    CorpusIngest.ingestBatch(batch((2L, "epsilon zeta eta theta")), 1L,
      lakeDir, failReason = gate, scope = "s")
    CorpusIngest.compactLake(spark, lakeDir, targetBytes = 1L << 30)
    CorpusIngest.ingestBatch(batch((3L, "iota kappa lambda mu")), 2L,
      lakeDir, failReason = gate, scope = "s")

    // a rival compactor completes INSIDE the outer one's window: both
    // target the same generation number; the rival's manifest installs
    // first (create-exclusive), the outer one must raise — its
    // uniquely-named data dir is unreferenced debris, never clobbering
    // the winner's committed files
    intercept[Exception] {
      CorpusIngest.compactLakeImpl(spark, lakeDir, targetBytes = 1L << 30,
        minFileBytes = -1L, clusterBy = Nil, zorder = false, afterPin = () =>
          CorpusIngest.compactLake(spark, lakeDir, targetBytes = 1L << 30))
    }
    def ids = CorpusIngest.readLake(spark, lakeDir)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
    // the lake remains fully operational: ingest + compact continue
    CorpusIngest.ingestBatch(batch((4L, "nu xi omicron pi")), 3L,
      lakeDir, failReason = gate, scope = "s")
    CorpusIngest.compactLake(spark, lakeDir, targetBytes = 1L << 30)
    assert(ids == Seq(1L, 2L, 3L, 4L))
  }

  test("property: random append/compact/replay interleavings never lose or duplicate a doc") {
    // seeded random walks over the lake's whole operation alphabet,
    // including appends INSIDE the compaction window — the model is a
    // plain Set[Long] of admitted doc ids
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val dir = graft.TestDirs.create(s"graft_prop_$seed")
      val lakeDir = dir.resolve("lake").toString
      var nextId = 0L
      var admitted = Set.empty[Long]
      var batchId = 0L
      def freshBatch(): org.apache.spark.sql.DataFrame = {
        val n = 1 + rnd.nextInt(3)
        val rows = (0 until n).map { _ =>
          val id = nextId; nextId += 1
          (id, s"zeta document body number $id with unique tokens")
        }
        admitted ++= rows.map(_._1)
        rows.toDF("doc_id", "text")
      }
      def append(): Unit = {
        CorpusIngest.ingestBatch(freshBatch(), batchId, lakeDir,
          failReason = gate, scope = "prop")
        batchId += 1
      }
      append() // lake exists before the first compact can run
      (1 to 12).foreach { _ =>
        rnd.nextInt(4) match {
          case 0 | 1 => append()
          case 2 => // compact with a mid-window append half the time
            val mid = rnd.nextBoolean()
            CorpusIngest.compactLakeImpl(spark, lakeDir,
              targetBytes = 1L << 30, minFileBytes = -1L, clusterBy = Nil,
              zorder = false, afterPin = () => if (mid) append())
          case 3 => // replay a committed batch id — must be a no-op
            CorpusIngest.ingestBatch(
              Seq((999999L, "replay decoy body tokens here")).toDF("doc_id", "text"),
              rnd.nextLong(math.max(batchId, 1L)), lakeDir,
              failReason = gate, scope = "prop")
        }
        val got = CorpusIngest.readLake(spark, lakeDir)
          .select("doc_id").as[Long].collect().toSeq
        assert(got.sorted == admitted.toSeq.sorted && got.size == got.distinct.size,
          s"seed=$seed step drift: got ${got.size} rows, want ${admitted.size}")
      }
    }
  }

  test("compactLake refuses hive-partitioned layouts instead of dropping partition columns") {
    val dir = graft.TestDirs.create("graft_compact_hive")
    val lakeDir = dir.resolve("lake").toString
    Seq((1L, "a", "en"), (2L, "b", "de")).toDF("doc_id", "text", "lang")
      .write.partitionBy("lang").parquet(lakeDir)
    val e = intercept[IllegalArgumentException] {
      CorpusIngest.compactLake(spark, lakeDir, targetBytes = 1L << 30)
    }
    assert(e.getMessage.contains("hive-partition"))
  }

  test("compactLake refuses partition-style directories NESTED below the lake root") {
    // lake/sub/lang=en/… — the root's children carry no '=', but
    // flattening would still erase the nested partition column
    val dir = graft.TestDirs.create("graft_compact_hive_nested")
    val lakeDir = dir.resolve("lake").toString
    Seq((1L, "a", "en"), (2L, "b", "de")).toDF("doc_id", "text", "lang")
      .write.partitionBy("lang").parquet(dir.resolve("lake/sub").toString)
    val e = intercept[IllegalArgumentException] {
      CorpusIngest.compactLake(spark, lakeDir, targetBytes = 1L << 30)
    }
    assert(e.getMessage.contains("hive-partition"), e.getMessage)
  }

  test("ingestStream: lake starts empty, grows, and later batches dedup against it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = graft.TestDirs.create("graft_ingest")
    val lakeDir = dir.resolve("lake").toString

    val input = MemoryStream[(Long, String)]
    val q = CorpusIngest.ingestStream(
      input.toDF().toDF("doc_id", "text"), lakeDir,
      dir.resolve("ckpt").toString, failReason = gate)
    try {
      // batch 1: fresh doc + a too-short reject; lake dir doesn't exist yet
      input.addData((1L, "alpha beta gamma delta"), (2L, "no"))
      q.processAllAvailable()
      // batch 2: bag-dup of batch 1's doc + a fresh doc
      input.addData((3L, "delta gamma beta alpha"), (4L, "epsilon zeta eta theta"))
      q.processAllAvailable()
    } finally q.stop()

    val ids = spark.read.parquet(lakeDir)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 4L))
    // the stream stamps the fingerprint so later probes are pruned
    assert(spark.read.parquet(lakeDir).columns.contains(CorpusIngest.FingerprintCol))
  }

  test("multi-writer appends: isolated per-batch write areas, flat-root " +
      "interop preserved, staged-crash debris healed") {
    val dir = graft.TestDirs.create("graft_multi_writer")
    val lakeDir = dir.resolve("lake").toString
    def batch(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    def root = new java.io.File(lakeDir)
    def rootNames = root.listFiles().map(_.getName).toSet

    // two writer jobs (distinct scopes) append pre-compaction
    CorpusIngest.ingestBatch(batch((1L, "alpha beta gamma delta")), 0L,
      lakeDir, failReason = gate, scope = "writer-a")
    CorpusIngest.ingestBatch(batch((2L, "epsilon zeta eta theta")), 0L,
      lakeDir, failReason = gate, scope = "writer-b")
    // the root stays FLAT (no nested dirs): a PLAIN parquet read — the
    // pre-compaction interop contract — sees both writers' docs, and
    // no staging debris survives a successful install
    assert(!root.listFiles().exists(f =>
      f.isDirectory && !f.getName.startsWith("_")))
    assert(!rootNames.exists(_.startsWith("_stage-")))
    assert(spark.read.parquet(lakeDir).select("doc_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L))

    // crash debris: a half-written stage dir from a died attempt — the
    // replay of that (scope, batch) reuses the dir and lands exactly-once
    val stale = new java.io.File(lakeDir, "_stage-writer-a-7")
    assert(stale.mkdir())
    java.nio.file.Files.write(stale.toPath.resolve("part-junk.parquet"),
      Array[Byte](9, 9, 9))
    CorpusIngest.ingestBatch(batch((3L, "iota kappa lambda mu")), 7L,
      lakeDir, failReason = gate, scope = "writer-a")
    assert(!rootNames.exists(_.startsWith("_stage-")))
    assert(spark.read.parquet(lakeDir).select("doc_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))

    // post-compaction: each batch gets its OWN directory under _tail —
    // no two writer jobs ever share a staging area
    CorpusIngest.compactLake(spark, lakeDir, targetBytes = 1L << 30)
    CorpusIngest.ingestBatch(batch((4L, "nu xi omicron pi")), 1L,
      lakeDir, failReason = gate, scope = "writer-a")
    CorpusIngest.ingestBatch(batch((5L, "rho sigma tau upsilon")), 1L,
      lakeDir, failReason = gate, scope = "writer-b")
    val tail = new java.io.File(lakeDir, CorpusIngest.TailDirName)
    assert(tail.listFiles().map(_.getName).toSet ==
      Set("b-writer-a-1", "b-writer-b-1"))
    assert(CorpusIngest.readLake(spark, lakeDir).select("doc_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    // replays of both writers' batches are marker-detected no-ops
    CorpusIngest.ingestBatch(batch((4L, "nu xi omicron pi")), 1L,
      lakeDir, failReason = gate, scope = "writer-a")
    CorpusIngest.ingestBatch(batch((5L, "rho sigma tau upsilon")), 1L,
      lakeDir, failReason = gate, scope = "writer-b")
    assert(CorpusIngest.readLake(spark, lakeDir).count() == 5L)

    // a filesystem-unsafe scope raises instead of aliasing
    assert(intercept[IllegalArgumentException] {
      CorpusIngest.ingestBatch(batch((9L, "a b c d")), 0L,
        lakeDir, failReason = gate, scope = "has/slash")
    }.getMessage.contains("scope"))
  }
}
