package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.functions.TextFunctions
import graft.operators.IncrementalDedup
import graft.sources.Readers

/** Streaming corpus ingestion — the full training-data intake loop as
  * one reusable operator: each microbatch of raw documents is
  *
  *  1. QUALITY-GATED (Gopher rules, [[TextFunctions.gopherFailReason]]);
  *  2. deduped WITHIN the batch (min-id per bag-of-words fingerprint —
  *     two copies co-arriving in one microbatch must not both land);
  *  3. deduped AGAINST THE LAKE via the Bloom-prefiltered incremental
  *     path ([[IncrementalDedup.dropExisting]] — the standing corpus
  *     is probed map-side and NEVER shuffles, so ingestion cost stays
  *     proportional to the batch as the lake grows to 100 TB);
  *  4. appended to the lake WITH the fingerprint materialized as a
  *     [[FingerprintCol]] column, so step 3 of every LATER batch
  *     probes a schema-pruned scan of that one short column instead of
  *     re-reading and re-hashing the lake's full text column — at a
  *     100 TB lake that turns the per-batch probe from a full-corpus
  *     read into a ~1 % column scan.
  *
  * [[cleanBatch]] is the per-batch recipe, directly usable in batch
  * backfills; [[ingestStream]] wires it into foreachBatch with a
  * checkpoint.
  *
  * EXACTLY-ONCE: [[ingestBatch]] records a commit marker per Structured
  * Streaming batch id under `lakeDir/_graft_commits/` AFTER the append
  * lands (the parquet job commit itself is atomic — task outputs stage
  * in `_temporary` until job commit). A crash-replay of a batch whose
  * marker exists skips the batch outright; a crash BEFORE the marker
  * replays the batch, whose docs then dedup against the
  * already-appended copies (same deterministic fingerprints), so the
  * lake still does not grow. Net: appended-exactly-once in both crash
  * windows.
  */
object CorpusIngest {

  /** Fingerprint column [[ingestStream]] materializes in the lake at
    * append time. When present, [[cleanBatch]] probes it directly
    * (schema-pruned) instead of recomputing the key over the lake's
    * text; lakes written before this column existed fall back to the
    * recompute path transparently — and [[ingestBatch]] keeps such
    * legacy lakes UNSTAMPED so the directory's schema stays
    * homogeneous (a mixed lake would read `_fp = null` for legacy rows
    * and silently re-admit their duplicates).
    */
  val FingerprintCol = "_fp"

  /** Directory (under the lake, underscore-prefixed so parquet readers
    * ignore it) holding one empty marker file per committed batch id:
    * the shared root-anchored [[Generations.ledger]], which compaction
    * never moves.
    */
  val CommitDirName = Generations.LedgerDir

  /** Root-anchored append area once the lake has a generation layout:
    * [[ingestBatch]] writes here, [[compactLake]] folds it in. Like the
    * lake ROOT itself (the pre-compaction flat layout), it is a TAIL
    * SOURCE: liveness there is SUBTRACTIVE — every file present is
    * live unless the live manifest records it as consumed
    * ([[Generations.liveTail]]) — so an append landing at ANY moment,
    * including mid-compaction after the compactor listed its input
    * set, is visible to the next resolve.
    */
  val TailDirName = "_tail"

  /** Read the lake's live layout. A never-compacted lake is a plain
    * parquet directory (a plain parquet read works identically); once
    * [[compactLake]] has installed a generation, the data lives in a
    * manifest-named `_gen-NNNNN-<suffix>/` directory plus
    * referenced-in-place files ([[Generations]]), so the lake MUST be
    * read through this resolver — exactly the contract table formats
    * like Delta/Iceberg impose, and for the same reason: the manifest
    * flip is what makes commits atomic on object stores.
    */
  def readLake(spark: SparkSession, lakeDir: String): DataFrame = {
    val (fs, lakePath) = fileSystem(spark, lakeDir)
    val lay = Generations.resolve(fs, lakePath)
    lay.gen match {
      case None => Readers.parquet(spark, lakeDir)
      case Some(_) =>
        val roots = lay.dataDir.toString +:
          (lay.keep ++ liveTail(fs, lakePath, lay).map(_.getPath))
            .map(_.toString)
        Readers.parquet(spark, roots: _*)
    }
  }

  private def visiblePath(p: Path): Boolean =
    !p.getName.startsWith("_") && !p.getName.startsWith(".")

  /** All visible data files under `p`, recursively and lazily: a
    * subdirectory is listed only when the walk reaches it.
    */
  private def dataFiles(fs: FileSystem, p: Path)
      : Iterator[org.apache.hadoop.fs.FileStatus] =
    if (!fs.exists(p)) Iterator.empty
    else fs.listStatus(p).iterator.filter(st => visiblePath(st.getPath)).flatMap { st =>
      if (st.isFile) Iterator(st) else dataFiles(fs, st.getPath)
    }

  private def listDataFiles(fs: FileSystem, p: Path)
      : Seq[org.apache.hadoop.fs.FileStatus] = dataFiles(fs, p).toSeq

  /** The LIVE tail-source files: those present under the lake root
    * (visible — generation dirs, `_tail` and markers are
    * underscore-hidden) and under [[TailDirName]], minus the manifest's
    * consumed entries.
    */
  private def liveTail(fs: FileSystem, lakePath: Path, lay: Generations.Layout)
      : Seq[org.apache.hadoop.fs.FileStatus] = Generations.liveTail(lay,
    listDataFiles(fs, lakePath) ++ listDataFiles(fs, new Path(lakePath, TailDirName)))

  /** The per-batch recipe: gate → within-batch dedup → lake dedup.
    * `lake` may be empty (first ingestion). If the lake carries
    * [[FingerprintCol]] (written by [[ingestStream]] with the same
    * `key` expression), the lake-side probe reads ONLY that column.
    */
  def cleanBatch(
      batch: DataFrame, lake: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      key: Column => Column = TextFunctions.bagFingerprint,
      failReason: Column => Column = c => TextFunctions.gopherFailReason(c)): DataFrame = {
    val gated = batch.filter(failReason(col(textCol)).isNull)
    val withinDeduped = gated
      .groupBy(key(col(textCol)).as("_bk"))
      .agg(min_by(struct(gated.columns.map(col): _*), col(idCol)).as("_w"))
      .select(gated.columns.map(c => col(s"_w.$c").as(c)): _*)
    val lakeKey =
      if (lake.columns.contains(FingerprintCol)) Some(col(FingerprintCol)) else None
    IncrementalDedup.dropExisting(
      withinDeduped, lake, key(col(textCol)), corpusKey = lakeKey)
  }

  private def fileSystem(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val path = new Path(dir)
    (path.getFileSystem(spark.sessionState.newHadoopConf()), path)
  }

  /** Does the lake hold any parquet DATA file? Hidden entries
    * (`_temporary` from a crashed job, `_SUCCESS`, the commit-marker
    * dir, dotfiles) don't count — a directory containing only those is
    * the "crashed during the very first append" case and must re-read
    * as empty so first-batch retries self-heal instead of wedging on
    * schema inference. Stops at the first data file.
    */
  private def hasDataFiles(fs: FileSystem, path: Path): Boolean =
    dataFiles(fs, path).hasNext

  /** Commit-marker SCOPE for a stream incarnation. Batch ids restart
    * at 0 whenever a stream gets a fresh checkpoint, so a marker keyed
    * by the bare id would make a re-checkpointed stream silently SKIP
    * its first batches (data loss dressed as dedup). The scope is a
    * UUID stored INSIDE the checkpoint dir: same checkpoint
    * (crash-retry) → same scope → replays skip correctly; deleted or
    * new checkpoint → new scope → nothing is falsely skipped.
    */
  private def streamScope(spark: SparkSession, checkpointDir: String): String = {
    val (fs, dir) = fileSystem(spark, checkpointDir)
    val f = new Path(dir, "graft-scope")
    if (fs.exists(f)) {
      val in = fs.open(f)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    } else {
      val id = java.util.UUID.randomUUID().toString
      fs.mkdirs(dir)
      val out = fs.create(f, true)
      try out.write(id.getBytes("UTF-8")) finally out.close()
      id
    }
  }

  /** One idempotent ingestion step: skip if `(scope, batchId)`'s
    * commit marker exists, else gate/dedup/append and write the
    * marker. Public so batch backfills and tests can drive the
    * exactly-once path without a streaming query.
    *
    * `scope` has NO default on purpose: replay detection is per
    * `(scope, batchId)`, so two distinct jobs appending to the same
    * lake under one shared scope would silently skip each other's
    * batch ids as replays — data loss dressed as dedup. Every caller
    * must name its own scope (a job/run id); [[ingestStream]] derives
    * a checkpoint-resident UUID.
    *
    * The lake read tolerates ONLY the not-yet-created first-batch
    * case: the empty-template fallback fires on a missing path or a
    * path with no visible data files (e.g. only a `_temporary` left by
    * a crashed first append), checked through the Hadoop FileSystem
    * (DFS-correct). Any other read failure — corrupt files, schema
    * drift, permissions — PROPAGATES: silently deduping against an
    * empty frame would re-admit the entire standing corpus, the exact
    * invariant this operator exists to enforce.
    *
    * MULTI-WRITER SAFE (r11): concurrent writer jobs (distinct scopes)
    * never share a write target. A shared `mode("append")` directory
    * stages every job under ONE `_temporary/<attempt>` — one job's
    * commit/cleanup can delete another's in-flight task outputs, and a
    * partially-robbed job commit then writes FEWER files than it
    * scored with no error, which the marker would seal as "committed"
    * (silent loss). Instead each batch gets its own isolated area:
    * post-compaction a per-batch directory under `_tail/` (tail
    * liveness is by file presence, recursively listed, so readers
    * don't care about the extra level); pre-compaction — where the
    * root must stay FLAT for plain-parquet interop — the batch stages
    * in its own underscore-hidden `_stage-<scope>-<batchId>/` and the
    * part files RENAME into the root (file renames, the same
    * installation primitive committer v1 uses, minus the shared
    * staging root). A replay of a crashed batch deletes and reuses its
    * own deterministic stage dir; rows half-installed by the crash are
    * already in the lake, so the replay's dedup excludes exactly them
    * — the documented pre-marker crash semantics, unchanged.
    */
  def ingestBatch(
      batch: DataFrame, batchId: Long, lakeDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      key: Column => Column = TextFunctions.bagFingerprint,
      failReason: Column => Column = c => TextFunctions.gopherFailReason(c),
      scope: String): Unit = {
    // the scope names marker files AND staging/tail directories — keep
    // it to a filesystem-safe charset instead of sanitizing (two
    // scopes collapsing under sanitization would alias each other's
    // replay detection, data loss dressed as dedup)
    require(scope.nonEmpty && scope.forall(ch =>
        ch.isLetterOrDigit || ch == '.' || ch == '_' || ch == '-'),
      s"ingestBatch: scope '$scope' — use letters, digits, '.', '_', '-'")
    val spark = batch.sparkSession
    val (fs, lakePath) = fileSystem(spark, lakeDir)
    val ledger = Generations.ledger(fs, lakePath)
    if (ledger.contains(s"$scope-$batchId")) return // replayed batch, append already landed
    val lay = Generations.resolve(fs, lakePath)
    val hasData = lay.gen match {
      case None => hasDataFiles(fs, lakePath)
      case Some(_) => lay.keep.nonEmpty || hasDataFiles(fs, lay.dataDir) ||
        liveTail(fs, lakePath, lay).nonEmpty
    }
    val lake =
      if (hasData) readLake(spark, lakeDir) else batch.filter(lit(false))
    val cleaned = cleanBatch(batch, lake, idCol, textCol, key, failReason)
    // Stamp _fp on fresh lakes and on lakes already carrying it; leave
    // a legacy (pre-_fp) lake unstamped to keep its schema homogeneous.
    val stamp = !hasData || lake.columns.contains(FingerprintCol)
    val out =
      if (stamp) cleaned.withColumn(FingerprintCol, key(col(textCol))) else cleaned
    // appends land in a TAIL SOURCE — the lake root until the first
    // compaction (plain-parquet interop), the root-anchored `_tail/`
    // once a generation exists. Tail liveness is presence-minus-
    // consumed, so this append is safe even if a compaction is
    // flipping generations at this very moment: a file the compactor
    // didn't list can't be in its consumed set, and both tail areas
    // are resolved by every readLake.
    lay.gen match {
      case Some(_) =>
        // per-batch directory: no shared staging with any concurrent
        // writer; Overwrite clears a crashed earlier attempt's debris
        val dir = new Path(new Path(lakePath, TailDirName), s"b-$scope-$batchId")
        out.write.mode("overwrite").parquet(dir.toString)
      case None =>
        // flat root: stage exclusively, then rename the part files in
        // (file names carry the job UUID — no cross-batch collisions)
        val stage = new Path(lakePath, s"_stage-$scope-$batchId")
        fs.delete(stage, true) // crashed earlier attempt's debris
        out.write.parquet(stage.toString)
        fs.listStatus(stage)
          .filter(st => st.isFile && visiblePath(st.getPath))
          .foreach { st =>
            require(fs.rename(st.getPath, new Path(lakePath, st.getPath.getName)),
              s"ingestBatch: failed to install ${st.getPath.getName} into $lakeDir")
          }
        fs.delete(stage, true)
    }
    ledger.record(s"$scope-$batchId")
  }

  /** What [[compactLake]] did. `bytesMoved` counts files RETAINED IN
    * PLACE by manifest reference — never read, never copied, never
    * renamed (the name survives from the pre-manifest API, when big
    * files were re-homed by rename).
    */
  final case class CompactStats(
      filesBefore: Int, filesAfter: Int,
      bytesRewritten: Long, bytesMoved: Long)

  /** Compact the lake's accumulated small files. Streaming ingestion
    * appends one parquet file set PER MICROBATCH, so a long-running
    * stream turns the lake into thousands of files whose per-file
    * open/footer cost eventually dominates every probe scan — the
    * classic small-file problem, lethal at 100 TB.
    *
    * Cost is proportional to the SMALL tail only: files already >=
    * `minFileBytes` (default `targetBytes / 2`) are RETAINED IN PLACE
    * and referenced by the new layout's manifest — never read, copied,
    * or renamed — and only the small files are read and rewritten into
    * ~`targetBytes` outputs. Commit markers are root-anchored and
    * never touched, so exactly-once replay detection survives
    * compaction, and the `_fp` fingerprint column rides along in the
    * rewrite (full-schema read).
    *
    * Install is a MANIFEST FLIP through [[Generations]]: the rewritten
    * tail lands in a fresh `_gen-NNNNN-<suffix>/` directory, and
    * committing it is ONE new small object naming it, the retained big
    * files and the consumed tail files. [[readLake]] sees exactly one
    * generation; the previous one is retained for in-flight readers
    * until the NEXT compact. WRITERS ARE ONLINE-SAFE: the ingest stream
    * may keep appending while a compact runs — appends land in tail
    * sources (the root pre-first-compact, `_tail/` after) whose
    * liveness is presence minus consumed.
    * Concurrent COMPACTORS conflict on the generation number: exactly
    * one wins, the loser raises.
    */
  /** `clusterBy`: optional sort-on-write clustering. Non-empty ⇒ EVERY
    * file is read and rewritten range-partitioned + sorted on the
    * given columns, so each output file covers a narrow value range
    * and parquet min/max footer stats let any later filtered scan skip
    * the files that can't match (the poor man's Z-order — exact for
    * one column, prefix-ordered for several). Size-only compaction
    * (`clusterBy = Nil`) moves big files by metadata rename and only
    * reads the small tail; clustering necessarily pays a full-lake
    * read+shuffle — run it at the cadence of an index rebuild, not
    * every ingest pause.
    */
  /** `zorder = true` upgrades a multi-column `clusterBy` from range
    * clustering (which only really tightens the FIRST column's
    * per-file min/max) to a Morton Z-order layout
    * ([[graft.functions.ZOrderKeyExpr]]): files sort by the
    * interleaved-bit key of ALL the columns, so footer-stat skipping
    * works for a filter on any one of them. Costs one extra tiny
    * min/max aggregate (the rank-space bounds); integral columns only —
    * the expression raises otherwise (z-order a time axis by
    * materializing `unix_micros(ts)` before ingestion).
    */
  def compactLake(
      spark: SparkSession, lakeDir: String,
      targetBytes: Long = 128L << 20,
      minFileBytes: Long = -1L,
      clusterBy: Seq[String] = Nil,
      zorder: Boolean = false): CompactStats =
    compactLakeImpl(spark, lakeDir, targetBytes, minFileBytes, clusterBy,
      zorder, () => ())

  /** Test seam: `afterPin` runs after the input file set is pinned and
    * before any rewrite/flip — where a concurrent append or compactor
    * would interleave in production.
    */
  private[graft] def compactLakeImpl(
      spark: SparkSession, lakeDir: String,
      targetBytes: Long,
      minFileBytes: Long,
      clusterBy: Seq[String],
      zorder: Boolean,
      afterPin: () => Unit): CompactStats = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val effMin = if (minFileBytes >= 0) minFileBytes else targetBytes / 2
    val (fs, lakePath) = fileSystem(spark, lakeDir)
    val lay = Generations.resolve(fs, lakePath)
    // hive-partitioned layouts carry column VALUES in their directory
    // names — flattening their files into a generation directory would
    // silently erase those columns on read. CorpusIngest lakes are
    // unpartitioned; partitioned datasets need a partition-aware
    // compactor (compact per partition directory). The sweep is
    // RECURSIVE: a partitioned layout nested one level down
    // (lake/sub/lang=en/…) loses its columns just as silently as one
    // at the root — and covers every data area (root, generation dir,
    // tail).
    def partStyleDirs(p: Path): Seq[Path] =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq
        .filter(st => st.isDirectory && visiblePath(st.getPath))
        .flatMap { st =>
          val self =
            if (st.getPath.getName.contains("=")) Seq(st.getPath) else Nil
          self ++ partStyleDirs(st.getPath)
        }
    val partDirs = partStyleDirs(lakePath) ++
      (if (lay.gen.isDefined) partStyleDirs(lay.dataDir) else Nil) ++
      partStyleDirs(new Path(lakePath, TailDirName))
    require(partDirs.isEmpty,
      s"compactLake: $lakeDir contains hive-partition-style directories " +
        s"(${partDirs.map(_.getName).take(3).mkString(", ")}…) — " +
        "flattening would drop the partition columns; compact each " +
        "partition directory instead")
    // PIN the input set: this exact file list — and nothing that lands
    // later — is what gets rewritten and recorded as consumed. Appends
    // racing this compact stay live by presence (tail subtraction).
    val keepStatuses = lay.keep.map(fs.getFileStatus)
    val tailStatuses = liveTail(fs, lakePath, lay)
    val genFiles =
      if (lay.gen.isDefined) listDataFiles(fs, lay.dataDir) else Seq.empty
    val files = genFiles ++ keepStatuses ++ tailStatuses
    if (files.isEmpty) return CompactStats(0, 0, 0L, 0L)
    val tailUris = tailStatuses.map(_.getPath.toUri).toSet
    val nextGen = Generations.claim(fs, lakePath) // part of the pin
    afterPin()
    // clustering rewrites everything (a retained file keeps its old
    // value spread — min/max stats would stay useless); size-only
    // compaction rewrites only the small tail
    val (big, small) =
      if (clusterBy.nonEmpty) (Seq.empty, files)
      else files.partition(_.getLen >= effMin)
    if (small.size <= 1 && clusterBy.isEmpty)
      return CompactStats(files.size, files.size, 0L, 0L) // already compact
    // 1. rewrite the small tail into ~targetBytes files, directly into
    //    the next generation's directory (invisible until the manifest
    //    names it; UNIQUELY named, so a racing compactor can never
    //    overwrite data a winning manifest references). mergeSchema: a
    //    lake whose files drifted (e.g. legacy pre-_fp next to stamped
    //    files) must union the columns, not silently drop whichever
    //    schema loses the footer race.
    val genDirName = Generations.dataDirName(nextGen)
    val genDir = new Path(lakePath, genDirName)
    val smallBytes = small.map(_.getLen).sum
    val nOut = math.max(1L, (smallBytes + targetBytes - 1) / targetBytes).toInt
    val toRewrite = spark.read.option("mergeSchema", "true")
      .parquet(small.map(_.getPath.toString): _*)
    val laidOut =
      if (clusterBy.isEmpty) toRewrite.repartition(nOut)
      else if (zorder && clusterBy.size >= 2) {
        import org.apache.spark.sql.functions.{col, min => fmin, max => fmax}
        val bounds = toRewrite.agg(
          clusterBy.flatMap(c => Seq(
            fmin(col(c).cast("double")), fmax(col(c).cast("double")))).head,
          clusterBy.flatMap(c => Seq(
            fmin(col(c).cast("double")), fmax(col(c).cast("double")))).tail: _*)
          .head()
        // a clusterBy column that is entirely null — or a non-numeric
        // type whose cast-to-double yields all nulls — has null min/max;
        // name the column instead of NPE-ing on getDouble (pre-commit,
        // so no data is at risk, but the bare NPE was undiagnosable)
        clusterBy.zipWithIndex.find { case (_, i) =>
          bounds.isNullAt(2 * i) || bounds.isNullAt(2 * i + 1) }
          .foreach { case (c, _) => throw new IllegalArgumentException(
            s"compactLake zorder: column '$c' has no non-null numeric " +
              "values — cluster on a column with numeric (castable) data") }
        val mins = clusterBy.indices.map(i => bounds.getDouble(2 * i))
        val maxs = clusterBy.indices.map(i => bounds.getDouble(2 * i + 1))
        val zkey = graft.functions.ZOrderKeyExpr
          .zorderKey(clusterBy.map(col), mins, maxs)
        toRewrite.repartitionByRange(nOut, zkey).sortWithinPartitions(zkey)
      } else toRewrite
        .repartitionByRange(nOut, clusterBy.map(org.apache.spark.sql.functions.col): _*)
        .sortWithinPartitions(clusterBy.map(org.apache.spark.sql.functions.col): _*)
    laidOut.write.mode("overwrite").parquet(genDir.toString)
    // 2. THE commit point (Generations.commit): keep = pinned big files
    //    living in old generation dirs or old keep refs, retained in
    //    place; consumed = pinned TAIL files this rewrite folded in
    //    (they must stop counting as live-by-presence). Keep refs only
    //    ever point into hidden generation dirs; files in the tail are
    //    presence-ruled — big ones stay where they are (live by
    //    presence), rewritten ones are consumed.
    val bigKeep = big.filterNot(st => tailUris.contains(st.getPath.toUri))
    val newlyConsumed = small.filter(st => tailUris.contains(st.getPath.toUri))
    val next = Generations.commit(fs, lakePath, lay, nextGen, genDirName,
      bigKeep.map(_.getPath), newlyConsumed.map(_.getPath))
    // 3. retire what no in-flight reader can still hold (best-effort)
    Generations.retire(fs, lakePath, lay, next)
    CompactStats(files.size, listDataFiles(fs, genDir).size + big.size,
      smallBytes, big.map(_.getLen).sum)
  }

  /** Start the ingestion stream: every microbatch runs [[ingestBatch]]
    * — exactly-once via the commit marker, with the next batch's lake
    * probe a pruned one-column scan over [[FingerprintCol]].
    */
  def ingestStream(
      docs: DataFrame, lakeDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      key: Column => Column = TextFunctions.bagFingerprint,
      failReason: Column => Column = c => TextFunctions.gopherFailReason(c)): StreamingQuery = {
    val scope = streamScope(docs.sparkSession, checkpointDir)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, batchId, lakeDir, idCol, textCol, key, failReason, scope)
      }
      .start()
  }
}
