package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import graft.streaming.Generations

/** Incremental aggregation over an append-only lake: compute each
  * batch's PARTIAL aggregates once, store them as small parquet
  * state, and answer the query by merging partials — never by
  * rescanning the corpus.
  *
  * The reference recomputes every aggregate from scratch per run
  * (duckdb_engine.py re-executes the step chain on the full file each
  * time). At 100 TB that shape is untenable: a daily metrics query
  * would rescan the whole lake. This operator is the standard
  * algebraic-aggregate decomposition instead (partial/merge/finalize,
  * the same split Spark's own hash aggregate uses between map and
  * reduce sides — see `Partial`/`Final` in Spark's
  * AggregateExpression): state size is O(groups), append cost is
  * O(new batch) with ZERO reads of existing state, and the full
  * result is a merge over O(batches × groups) partial rows.
  *
  * Layout under `statePath` (any Hadoop FS — local/HDFS/S3A):
  * {{{
  *   _meta.json            // groupCols, metrics, pinned partial/final types
  *   batch=<id>/part-....parquet   // partial rows, one directory per batch —
  *                         // the root is a TAIL AREA: appends always land
  *                         // here, live by presence unless the manifest's
  *                         // consumed list names them (online compaction)
  *   _graft_commits/<id>   // root-anchored commit ledger: one empty object
  *                         // per committed batch id — compactions never
  *                         // touch it, so replays stay recognized forever
  *   _graft_gen-00000.manifest // after a compact(): manifest naming the
  *   _gen-00000-3fa9c1/    // live generation dir (uniquely suffixed) + the
  *                         // consumed tail dirs (`batch=<id>`) — highest
  *                         // COMPLETE manifest wins; live = gen batches +
  *                         // unconsumed tail
  * }}}
  * The manifest format, generation claim, commit, retirement and
  * ledger are the protocol [[graft.streaming.Generations]] shares with
  * the corpus lake.
  * Underscore-prefixed entries are invisible to Spark's file index;
  * the `batch=` hive key records provenance for free. Only batch
  * directories bearing parquet's `_SUCCESS` marker are ever read or
  * listed — a marker-less directory is a torn write and is repaired
  * by the next append of that id.
  *
  * Supported metrics: the algebraic five (count/sum/min/max/avg — avg
  * decomposed into sum+count) plus three sketch metrics for the
  * non-algebraic quantities (HLL approx-distinct, KLL approx-quantile,
  * Misra–Gries frequent items). Types are PINNED at fit time: the
  * merge re-sum would silently widen `sum(DECIMAL(12,2))` partials
  * from DECIMAL(22,2) to DECIMAL(32,2) per fold, so merged columns are
  * cast back to the partial type recorded in the sidecar and finals to
  * the type a direct one-shot aggregate would produce — `result` is
  * schema-identical to `df.groupBy(...).agg(...)` no matter how many
  * batches the state accumulated.
  */
object IncrementalAgg {

  sealed trait Metric { def as: String }
  /** count(*) — rows per group, nulls included. */
  final case class Count(as: String) extends Metric
  final case class Sum(column: String, as: String) extends Metric
  final case class Min(column: String, as: String) extends Metric
  final case class Max(column: String, as: String) extends Metric
  /** Null-ignoring mean, decomposed as sum + non-null count. */
  final case class Avg(column: String, as: String) extends Metric
  /** Approximate COUNT(DISTINCT col) via a Datasketches HLL sketch —
    * the metric that makes sketch state worth having: exact distinct
    * is NOT algebraic (partials can't merge), but HLL registers are a
    * max-lattice, so union-of-batch-sketches equals the single-pass
    * sketch EXACTLY (same registers, same estimate) — incremental ≡
    * one-shot, not merely close. Estimate accuracy vs the true
    * distinct count is the usual HLL ±~1.6% at the default lgK=12;
    * the sketch is ~2–4 KB per group in state.
    */
  final case class ApproxDistinct(column: String, as: String) extends Metric
  /** Approximate q-quantile via Spark's KLL sketch at k=200
    * ([[graft.functions.KllFunctions]]) — the OTHER non-algebraic
    * metric worth sketch state: exact percentiles cannot merge across
    * batches, KLL sketches union within a guaranteed rank error
    * (~1.65%). KLL compaction is randomized, so past k values in a
    * group incremental and one-shot estimates agree within the rank
    * bound, not bit-exactly (spec'd by rank tolerance); below k they
    * are exact. State is ~2–5 KB per group. q ∈ [0, 1]; the estimate
    * is null for all-null groups.
    */
  final case class ApproxQuantile(column: String, q: Double, as: String)
      extends Metric
  /** Top frequent items (heavy hitters) via a Misra–Gries-family
    * sketch ([[graft.functions.FreqFunctions]]) — the third
    * non-algebraic summary: "top domains / languages / tokens across
    * the lake" without a full unbounded-cardinality groupBy. The
    * final value is `array<struct<item, estimate, lower, upper>>`
    * (estimate desc, item asc, ≤ `limit` rows) under the
    * NO_FALSE_POSITIVES rule: any item with true count >
    * N/${FreqFunctions.DefaultMapSize} is guaranteed present and its
    * [lower, upper] brackets the truth; sketch contents below that
    * threshold depend on merge order within the documented bounds.
    */
  final case class FrequentItems(column: String, limit: Int, as: String)
      extends Metric

  /** Initialize state from the first batch: write `_meta.json` (the
    * schema contract every later append is checked against) and the
    * batch's partial rows. `statePath` must not already hold state.
    */
  def fit(df: DataFrame, groupCols: Seq[String], metrics: Seq[Metric],
      statePath: String, batchId: String = "00000"): Unit = {
    require(metrics.nonEmpty, "incrementalAgg: no metrics")
    checkBatchId(batchId)
    val dups = metrics.groupBy(_.as).collect { case (a, ms) if ms.size > 1 => a }
    require(dups.isEmpty, s"incrementalAgg: duplicate output names ${dups.mkString(", ")}")
    // "batch" is the hive partition key of the state layout — a group
    // or output column of that name would be dropped (or collide) on
    // every read
    (groupCols ++ metrics.map(_.as)).find(_ == "batch").foreach(_ =>
      throw new IllegalArgumentException(
        "incrementalAgg: 'batch' is reserved (the state's partition key) — " +
          "rename the column before fitting"))
    val spark = df.sparkSession
    val metaPath = new Path(statePath, MetaFile)
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(metaPath),
      s"incrementalAgg: $statePath already holds state — append to it or choose a new path")
    // Data FIRST, meta LAST: the meta file is the "state exists"
    // marker, so a crash mid-first-write leaves a refittable path
    // instead of a meta-only husk fit() refuses to touch (overwrite
    // mode makes the retry clean).
    writeSized(partials(df, groupCols, metrics),
      batchDir(statePath, batchId).toString, SaveMode.Overwrite)
    writeMeta(fs, metaPath, buildMeta(df, groupCols, metrics))
    ledger(fs, statePath).record(batchId)
  }

  /** Append one new batch: ONE aggregation over the batch, one write,
    * zero reads of existing partial state. Raises if the batch's
    * partial schema disagrees with the fitted contract (a type drift
    * here would poison every later merge) or if `batchId` was already
    * COMMITTED (re-running a batch must not double-count) — committed
    * means the id is in the root `_graft_commits/` ledger or the live
    * directory bears parquet's `_SUCCESS` marker (see [[isCommitted]];
    * the ledger survives [[compact]], so a batch folded away by a
    * compaction still counts as committed — r10 advice: the old
    * dir-only check let an at-least-once caller replay a pre-compact
    * id after a compaction and silently double-count it). A marker-less
    * directory is a torn write from a crash mid-append; the retry
    * overwrites it (r9 advice: the old existence check refused the
    * retry while [[readPartials]] would happily merge the torn rows).
    */
  def append(statePath: String, batch: DataFrame, batchId: String): Unit = {
    checkBatchId(batchId)
    val spark = batch.sparkSession
    val (fs, meta) = readMeta(spark, statePath)
    val dir = batchDir(statePath, batchId)
    require(!isCommitted(fs, statePath, batchId),
      s"incrementalAgg: batch '$batchId' already committed under $statePath")
    if (fs.exists(dir)) fs.delete(dir, true) // torn write — safe to redo
    writeSized(checkedPartials(batch, meta), dir.toString, SaveMode.ErrorIfExists)
    ledger(fs, statePath).record(batchId)
  }

  /** Idempotent, crash-safe append for at-least-once callers
    * (Structured Streaming's foreachBatch re-runs a batch id after
    * recovery): a COMMITTED id — in the root `_graft_commits/` ledger or a
    * live batch directory bearing parquet's `_SUCCESS` marker — makes
    * re-delivery return false untouched, while a marker-less directory
    * is a torn write from a crash mid-batch and is overwritten.
    * Exactly-once state from at-least-once delivery, the same marker
    * discipline as CorpusIngest.ingestBatch — and the same shared
    * root-anchored ledger, which outlives [[compact]],
    * so a pre-compact batch id replayed after a compaction is still
    * recognized instead of double-counted (r10 advice).
    */
  def appendCommitted(statePath: String, batch: DataFrame,
      batchId: String): Boolean = {
    checkBatchId(batchId)
    val spark = batch.sparkSession
    val (fs, meta) = readMeta(spark, statePath)
    val dir = batchDir(statePath, batchId)
    if (isCommitted(fs, statePath, batchId)) return false
    fs.delete(dir, true)
    writeSized(checkedPartials(batch, meta), dir.toString, SaveMode.ErrorIfExists)
    ledger(fs, statePath).record(batchId)
    true
  }

  /** Partial rows for `batch`, with the same type-drift gate on BOTH
    * append paths — a drifted batch written by the streaming path
    * would poison every later merge just as surely as one written by
    * [[append]].
    */
  private def checkedPartials(batch: DataFrame, meta: Meta): DataFrame = {
    val part = partials(batch, meta.groupCols, meta.metrics)
    part.schema.fields.filterNot(f => meta.groupCols.contains(f.name)).foreach { f =>
      val want = meta.partialTypes(f.name)
      require(f.dataType == want,
        s"incrementalAgg: batch partial '${f.name}' is ${f.dataType.sql}, " +
          s"state expects ${want.sql} — input column types changed since fit")
    }
    part
  }

  /** Streaming metrics: every microbatch folds into the partial state
    * under `statePath` — exactly-once via [[appendCommitted]]'s marker
    * discipline — and [[result]] serves the running aggregate from
    * state alone at any moment, without touching the stream. The
    * first-ever microbatch fits the type contract; `df` must be a
    * streaming DataFrame.
    */
  def streamAgg(df: DataFrame, groupCols: Seq[String], metrics: Seq[Metric],
      statePath: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        fold(batch, groupCols, metrics, statePath, f"b$id%09d")
        ()
      }
      .start()
  }

  /** Fit-or-append fold for at-least-once callers (streaming
    * microbatches, re-runnable pipeline nodes): the first-ever batch
    * writes the type contract, every batch commits through
    * [[appendCommitted]]'s marker discipline. Returns false when the
    * batch id was already committed (re-delivery).
    */
  def fold(batch: DataFrame, groupCols: Seq[String], metrics: Seq[Metric],
      statePath: String, batchId: String): Boolean = {
    val metaPath = new Path(statePath, MetaFile)
    val fs = metaPath.getFileSystem(
      batch.sparkSession.sparkContext.hadoopConfiguration)
    if (!fs.exists(metaPath))
      writeMeta(fs, metaPath, buildMeta(batch, groupCols, metrics))
    appendCommitted(statePath, batch, batchId)
  }

  /** Sync state with an append-only hive-partitioned lake: every
    * FIRST-LEVEL partition directory (`day=2026-08-14/...`) that has
    * no batch in state yet is aggregated and committed as one batch
    * (id = the directory name, sanitized — NOTE the r11 scheme:
    * '=' → '-', any other disallowed UTF-16 unit → fixed-width
    * '~hhhh'; ids recorded by the r10 variable-width '~hh' scheme (or
    * the pre-r10 all-to-'-' scheme) differ for partition names with
    * odd bytes, so such states must re-fit or rename their batch
    * directories before syncing again, or the partition re-ingests
    * under the new id), via [[appendCommitted]]'s
    * marker discipline — so the sync is idempotent and crash-safe,
    * and a nightly `syncFromLake` is the whole ingestion loop: only
    * NEW partitions are ever read. Partition columns materialize into
    * the batch (basePath read), so they can serve as group keys.
    * Returns the batch ids committed by THIS call.
    */
  def syncFromLake(spark: SparkSession, statePath: String,
      lakePath: String): Seq[String] = {
    val (stateFs, _) = readMeta(spark, statePath) // state must be fitted (type contract)
    val lakeRoot = new Path(lakePath)
    val fs = lakeRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(lakeRoot)
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
    require(dirs.nonEmpty,
      s"incrementalAgg: no hive-partition directories under $lakePath")
    // sanitization must stay collision-safe over the listed partitions:
    // two names collapsing to one batch id would mark the second
    // partition "already committed" and silently drop it from the
    // aggregate (r9 advice). '=' keeps its pretty '-' mapping (every
    // partition name has one); any OTHER disallowed UTF-16 unit
    // hex-escapes FIXED-WIDTH (`~0025` for '%') instead of also
    // collapsing to '-'. Fixed width matters: the r10 variable-width
    // `~%02x` made escapes non-prefix-free ('λ' → ~3bb was also ';'
    // → ~3b followed by a literal 'b'), a collision class beyond the
    // one documented ambiguity. Four hex digits cover every UTF-16
    // unit ('~' itself is not in the literal set, so escapes can't
    // collide with literals), leaving exactly one residual ambiguity
    // ('=' vs a literal '-'), and even that is CHECKED below — a
    // collision raises rather than loses data.
    val withIds = dirs.toSeq.sortBy(_.getPath.getName).map { st =>
      val id = st.getPath.getName.flatMap {
        case ch if ch.isLetterOrDigit || ch == '.' || ch == '_' || ch == '-' =>
          ch.toString
        case '=' => "-"
        case ch => f"~${ch.toInt}%04x"
      }
      st -> id
    }
    withIds.groupBy(_._2).collect { case (id, ps) if ps.size > 1 => (id, ps) }
      .headOption.foreach { case (id, ps) =>
        throw new IllegalArgumentException(
          s"incrementalAgg: lake partitions ${ps.map(_._1.getPath.getName).mkString(", ")} " +
            s"collide to batch id '$id' — rename the partitions")
      }
    // a committed partition is skipped before its frame is built:
    // building one reads a footer of the partition
    withIds.filterNot { case (_, id) => isCommitted(stateFs, statePath, id) }
      .flatMap { case (st, id) =>
        val batch = graft.sources.Readers.parquet(
          spark, Map("basePath" -> lakePath), st.getPath.toString)
        if (appendCommitted(statePath, batch, id)) Some(id) else None
      }
  }

  /** Retract one batch's contribution in O(1): delete its partial
    * directory — the next [[result]] simply no longer merges it. This
    * is the retention/backfill-correction story sum-decomposed state
    * buys for free: removing a bad day from a 100 TB lake's aggregates
    * costs one directory delete, not a recompute (min/max remain
    * correct because every batch's own partials are independent — no
    * cross-batch subtraction is ever needed). Raises if the batch does
    * not exist: silently "retracting" a typo'd id would leave the
    * caller believing data was removed.
    *
    * Interaction with [[syncFromLake]]: sync derives batch ids from
    * lake partition names, so a dropped lake-derived batch is
    * RE-INGESTED by the next sync unless the partition is also removed
    * from the lake — retract in the lake first (or use a non-sync id
    * space for batches that must stay gone).
    */
  def dropBatch(spark: SparkSession, statePath: String, batchId: String): Unit = {
    checkBatchId(batchId)
    val (fs, _) = readMeta(spark, statePath)
    // a consumed tail dir may still physically exist (one-generation
    // reader grace) but its data is already folded into the live
    // generation — deleting the dir would NOT retract the contribution
    val dir = batchDir(statePath, batchId)
    if (layout(fs, statePath).consumed.exists(_._2.getName == dir.getName))
      throw new IllegalArgumentException(
        s"incrementalAgg: batch '$batchId' was folded by a compaction — " +
          "individual retention only applies to batches appended after it")
    require(fs.exists(dir),
      s"incrementalAgg: no batch '$batchId' under $statePath to drop")
    // a dropped id leaves the commit ledger too: the documented contract
    // is that the next syncFromLake RE-ingests a dropped lake partition
    // (and a corrected batch may legitimately re-append under its id).
    // Ledger FIRST: a crash between the two deletes then leaves a
    // still-committed batch (isCommitted backfills the marker from the
    // directory's _SUCCESS) and the retry drops it cleanly — dir-first
    // would leave a ghost marker blocking every re-append of the id
    ledger(fs, statePath).forget(batchId)
    require(fs.delete(dir, true),
      s"incrementalAgg: failed to delete batch '$batchId' under $statePath")
  }

  /** The COMMITTED batch ids in the live generation, sorted — torn
    * (marker-less) directories are invisible here exactly as they are
    * to [[result]]. */
  def listBatches(spark: SparkSession, statePath: String): Seq[String] = {
    val (fs, _) = readMeta(spark, statePath)
    val lay = layout(fs, statePath)
    val (genDirs, tailDirs) = liveBatchDirs(fs, statePath, lay)
    (genDirs ++ tailDirs).map(_.getName.stripPrefix("batch=")).sorted
  }

  /** The full aggregate from state alone: read every batch's partial
    * rows (O(batches × groups) — never the corpus), merge, finalize.
    * Schema-identical to the direct `groupBy(...).agg(...)` on the
    * concatenation of all appended batches.
    */
  def result(spark: SparkSession, statePath: String): DataFrame = {
    val (_, meta) = readMeta(spark, statePath)
    finalize(merge(readPartials(spark, statePath), meta), meta)
  }

  /** Fold all live batch directories into one (bounding `result`'s
    * read at O(groups) again after many appends). Merged partials are
    * cast back to the fitted partial types, so a compacted state is
    * indistinguishable from a freshly fitted one. Folded batch DATA can
    * no longer be retracted individually — retention via [[dropBatch]]
    * only applies to batches appended after the compact — but folded
    * batch IDS are NOT forgotten: they stay in the root ledger (which
    * compaction never touches), so an at-least-once caller replaying a
    * pre-compact batch id after a compaction is still refused/skipped
    * instead of double-counted.
    *
    * Install is a MANIFEST FLIP through [[graft.streaming.Generations]],
    * the protocol the corpus lake's compaction uses:
    * the fold lands in a fresh uniquely-suffixed `_gen-NNNNN-xxxxxx/`
    * directory, and committing it is ONE new small manifest object.
    * Readers see exactly one generation; the previous one is retained
    * for in-flight readers until the next compact, and no data byte is
    * ever copied or renamed. WRITERS ARE ONLINE-SAFE: appends land
    * in the state ROOT, a tail whose liveness is presence minus the
    * manifest's consumed `batch=<id>` dirs, so a batch landing after
    * the pin stays live on both sides of the flip. Rival compactors
    * conflict loudly on the exclusive manifest create.
    */
  def compact(spark: SparkSession, statePath: String,
      batchId: String = "compacted"): Unit =
    compactImpl(spark, statePath, batchId, () => ())

  /** Test seam: `afterPin` runs after the input batch set is pinned
    * and before the fold/flip — where a concurrent append or a rival
    * compactor would interleave in production.
    */
  private[graft] def compactImpl(spark: SparkSession, statePath: String,
      batchId: String, afterPin: () => Unit): Unit = {
    checkBatchId(batchId)
    val (fs, meta) = readMeta(spark, statePath)
    val root = new Path(statePath)
    val lay = layout(fs, statePath)
    // PIN the input set: exactly these directories fold into the new
    // generation, and exactly the tail ones are recorded consumed. A
    // batch landing after this list can't be in the consumed list, so
    // it stays live by presence across the flip.
    val (genDirs, tailDirs) = liveBatchDirs(fs, statePath, lay)
    require(genDirs.nonEmpty || tailDirs.nonEmpty,
      s"incrementalAgg: no committed batches under $statePath")
    val nextGen = Generations.claim(fs, root)
    afterPin()
    // a folded tail id must stay in the ledger after its dir retires;
    // this backfills ids a state written before the shared ledger kept
    // elsewhere (a no-op existence probe for every other id)
    tailDirs.foreach(d => isCommitted(fs, statePath, d.getName.stripPrefix("batch=")))
    val merged = merge(readBatchDirs(spark, statePath, lay, genDirs, tailDirs), meta)
    val dirName = Generations.dataDirName(nextGen)
    writeSized(merged,
      new Path(new Path(root, dirName), "batch=" + batchId).toString,
      SaveMode.Overwrite)
    val next = Generations.commit(fs, root, lay, nextGen, dirName, Nil, tailDirs)
    ledger(fs, statePath).record(batchId)
    Generations.retire(fs, root, lay, next)
  }

  // ---- partial / merge / finalize ----------------------------------

  /** Resolve the type contract from a representative batch: partial
    * types as the partial aggregation yields them, final types as a
    * direct one-shot aggregate would resolve them (schema-only — no
    * job runs).
    */
  private def buildMeta(df: DataFrame, groupCols: Seq[String],
      metrics: Seq[Metric]): Meta = {
    val finalTypes = df.groupBy(groupCols.map(col): _*)
      .agg(directExprs(metrics).head, directExprs(metrics).tail: _*)
      .schema.fields.map(f => f.name -> f.dataType).toMap
    val partialTypes = partials(df, groupCols, metrics).schema.fields
      .filter(f => !groupCols.contains(f.name))
      .map(f => f.name -> f.dataType)
    Meta(groupCols, metrics, partialTypes.toMap,
      metrics.map(m => m.as -> finalTypes(m.as)).toMap)
  }

  private def partials(df: DataFrame, groupCols: Seq[String],
      metrics: Seq[Metric]): DataFrame = {
    val exprs = metrics.zipWithIndex.flatMap { case (m, i) =>
      m match {
        case Count(_) => Seq(count(lit(1)).as(p(i)))
        case Sum(c, _) => Seq(sum(col(c)).as(p(i)))
        case Min(c, _) => Seq(min(col(c)).as(p(i)))
        case Max(c, _) => Seq(max(col(c)).as(p(i)))
        case Avg(c, _) => Seq(sum(col(c)).as(p(i)), count(col(c)).as(p(i) + "n"))
        case ApproxDistinct(c, _) => Seq(hll_sketch_agg(col(c)).as(p(i)))
        case ApproxQuantile(c, _, _) => Seq(
          kll_sketch_agg_double(col(c).cast("double")).as(p(i)))
        case FrequentItems(c, _, _) => Seq(
          graft.functions.FreqFunctions.freqAgg(col(c).cast("string")).as(p(i)))
      }
    }
    df.groupBy(groupCols.map(col): _*).agg(exprs.head, exprs.tail: _*)
  }

  private def merge(parts: DataFrame, meta: Meta): DataFrame = {
    val exprs = meta.metrics.zipWithIndex.flatMap { case (m, i) =>
      def re(name: String, f: Column => Column) =
        f(col(name)).cast(meta.partialTypes(name)).as(name)
      m match {
        case Count(_) => Seq(re(p(i), sum))
        case Sum(_, _) => Seq(re(p(i), sum))
        case Min(_, _) => Seq(re(p(i), min))
        case Max(_, _) => Seq(re(p(i), max))
        case Avg(_, _) => Seq(re(p(i), sum), re(p(i) + "n", sum))
        case ApproxDistinct(_, _) => Seq(re(p(i), hll_union_agg(_)))
        case ApproxQuantile(_, _, _) => Seq(re(p(i), kll_merge_agg_double(_)))
        case FrequentItems(_, _, _) => Seq(
          re(p(i), graft.functions.FreqFunctions.freqMerge(_)))
      }
    }
    parts.groupBy(meta.groupCols.map(col): _*).agg(exprs.head, exprs.tail: _*)
  }

  private def finalize(merged: DataFrame, meta: Meta): DataFrame = {
    val outs = meta.metrics.zipWithIndex.map { case (m, i) =>
      val t = meta.finalTypes(m.as)
      val v = m match {
        case Avg(_, _) =>
          when(col(p(i) + "n") > 0, col(p(i)) / col(p(i) + "n"))
        // a group in state always carries ≥1 non-null count partial, so
        // the coalesce never fires — it only restores count(*)'s
        // non-nullable type, which the merge re-sum made nullable
        case Count(_) => coalesce(col(p(i)), lit(0L))
        case ApproxDistinct(_, _) => hll_sketch_estimate(col(p(i)))
        case ApproxQuantile(_, q, _) =>
          graft.functions.KllFunctions.kllQuantile(col(p(i)), q)
        case FrequentItems(_, limit, _) =>
          graft.functions.FreqFunctions.freqTopItems(col(p(i)), limit)
        case _ => col(p(i))
      }
      v.cast(t).as(m.as)
    }
    merged.select(meta.groupCols.map(col) ++ outs: _*)
  }

  private def directExprs(metrics: Seq[Metric]): Seq[Column] = metrics.map {
    case Count(a) => count(lit(1)).as(a)
    case Sum(c, a) => sum(col(c)).as(a)
    case Min(c, a) => min(col(c)).as(a)
    case Max(c, a) => max(col(c)).as(a)
    case Avg(c, a) => avg(col(c)).as(a)
    case ApproxDistinct(c, a) => hll_sketch_estimate(hll_sketch_agg(col(c))).as(a)
    case ApproxQuantile(c, q, a) => graft.functions.KllFunctions
      .kllQuantile(kll_sketch_agg_double(col(c).cast("double")), q).as(a)
    case FrequentItems(c, limit, a) => graft.functions.FreqFunctions
      .freqTopItems(graft.functions.FreqFunctions.freqAgg(col(c).cast("string")),
        limit).as(a)
  }

  /** Partial rows of every COMMITTED batch in the live generation —
    * torn directories (no `_SUCCESS`) are excluded, so a crash
    * mid-append can never leak partial rows into the merge (r9
    * advice: the old whole-root read merged them silently).
    */
  private def readPartials(spark: SparkSession, statePath: String): DataFrame = {
    val fs = new Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lay = layout(fs, statePath)
    val (genDirs, tailDirs) = liveBatchDirs(fs, statePath, lay)
    require(genDirs.nonEmpty || tailDirs.nonEmpty,
      s"incrementalAgg: no committed batches under $statePath")
    readBatchDirs(spark, statePath, lay, genDirs, tailDirs)
  }

  private def committedBatchDirs(fs: FileSystem, root: Path): Seq[FileStatus] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .filter(st => fs.exists(new Path(st.getPath, "_SUCCESS")))

  /** Write partial rows bounded by SIZE, not a hard file count: the
    * old `coalesce(1)` made the final-aggregation stage itself a
    * single task — fine at bench group counts, a serialization
    * ceiling at the millions-of-groups cardinality a 100 TB lake
    * produces (per-URL / per-doc-key metrics). The partials are
    * persisted (they are the O(groups) thing state exists to bound),
    * counted once from cache, and land in ceil(n/targetRowsPerFile)
    * files: small states still write one file; high-cardinality
    * states keep the reduce stage parallel and the files
    * near-constant-sized. `graft.incr.targetRowsPerFile` tunes the
    * bound (~4M rows ≈ 100–200 MB parquet for typical metric rows).
    */
  private def writeSized(part: DataFrame, dir: String, mode: SaveMode): Unit = {
    val conf = part.sparkSession.conf
    // no-default get(): conf.get(key, default) would return OUR default
    // for an unset key and ignore Spark's ConfigEntry default (AQE is
    // ON by default since 3.2) — misrouting default-config sessions to
    // the extra count job (r10 review)
    val aqeSizes =
      conf.get("spark.sql.adaptive.enabled").toBoolean &&
        conf.get("spark.sql.adaptive.coalescePartitions.enabled").toBoolean
    if (aqeSizes) {
      // AQE's partition coalescing already bounds the write by SIZE:
      // a tiny batch's aggregate coalesces to one partition (the
      // minPartitionSize floor), a millions-of-groups batch keeps a
      // handful of ≥minPartitionSize tasks — exactly the bound the
      // explicit path below computes, with ZERO extra jobs (the
      // count-from-cache pass cost ~0.3 s per append at bench scale).
      part.write.mode(mode).parquet(dir)
      checkMarker(part, dir)
    } else {
      // no AQE: count the cached partials once and coalesce to
      // ceil(n / graft.incr.targetRowsPerFile) files
      val target = conf.get("graft.incr.targetRowsPerFile", "4000000").toLong
      require(target > 0, "graft.incr.targetRowsPerFile must be positive")
      val cached = part.persist()
      try {
        val n = cached.count()
        val files = math.max(1L, (n + target - 1) / target)
        cached.coalesce(files.toInt).write.mode(mode).parquet(dir)
      } finally { cached.unpersist(); () }
      checkMarker(part, dir)
    }
  }

  /** The whole commit protocol rides on parquet's `_SUCCESS` marker —
    * and `mapreduce.fileoutputcommitter.marksuccessfuljobs=false` (a
    * common object-store tuning) silently disables it, which would
    * make every batch invisible to [[result]] and deletable as "torn"
    * by a retried append. Fail LOUDLY at the first write instead
    * (r10 review).
    */
  private def checkMarker(part: DataFrame, dir: String): Unit = {
    val path = new Path(dir, "_SUCCESS")
    val fs = path.getFileSystem(part.sparkSession.sparkContext.hadoopConfiguration)
    require(fs.exists(path),
      s"incrementalAgg: $dir was written without a _SUCCESS marker — " +
        "the state's commit protocol requires it; set " +
        "mapreduce.fileoutputcommitter.marksuccessfuljobs=true (or use a " +
        "committer that writes success markers)")
  }

  // ---- generation layout (graft.streaming.Generations) -------------

  private def layout(fs: FileSystem, statePath: String): Generations.Layout =
    Generations.resolve(fs, new Path(statePath))

  /** The live batch directories: (generation dirs, tail dirs). Tail =
    * committed root `batch=` dirs minus the manifest's consumed dirs.
    */
  private def liveBatchDirs(fs: FileSystem, statePath: String,
      lay: Generations.Layout): (Seq[Path], Seq[Path]) = {
    val genDirs =
      if (lay.gen.isDefined) committedBatchDirs(fs, lay.dataDir) else Seq.empty
    val tailDirs = Generations.liveTail(lay, committedBatchDirs(fs, new Path(statePath)))
    (genDirs.map(_.getPath), tailDirs.map(_.getPath))
  }

  /** Read partial rows from generation + tail dirs (each side under
    * its own basePath; the `batch` provenance key is dropped either
    * way).
    */
  private def readBatchDirs(spark: SparkSession, statePath: String,
      lay: Generations.Layout, genDirs: Seq[Path], tailDirs: Seq[Path]): DataFrame = {
    def read(base: Path, dirs: Seq[Path]) =
      graft.sources.Readers.parquet(spark, Map("basePath" -> base.toString),
        dirs.map(_.toString): _*).drop("batch")
    Seq(
      if (genDirs.nonEmpty) Some(read(lay.dataDir, genDirs)) else None,
      if (tailDirs.nonEmpty) Some(read(new Path(statePath), tailDirs)) else None)
      .flatten.reduce(_ unionByName _)
  }

  private def p(i: Int) = s"_p$i"
  private val MetaFile = "_meta.json"

  /** The root-anchored commit ledger, shared with the
    * corpus lake: outside every generation directory, so [[compact]]'s
    * fold-and-retire never touches it and a pre-compact id stays
    * recognizable forever.
    */
  private def ledger(fs: FileSystem, statePath: String): Generations.Ledger =
    Generations.ledger(fs, new Path(statePath))
  /** COMMITTED = in the root ledger OR the live directory bears
    * `_SUCCESS`. The directory check covers two gaps the ledger alone
    * would miss — a crash between the data write and the ledger record,
    * and pre-ledger states — and in both cases the missing ledger entry
    * is backfilled here so the id survives the state's next compaction.
    */
  private def isCommitted(fs: FileSystem, statePath: String,
      batchId: String): Boolean =
    if (ledger(fs, statePath).contains(batchId)) true
    else if (fs.exists(new Path(batchDir(statePath, batchId), "_SUCCESS"))) {
      ledger(fs, statePath).record(batchId); true
    } else false

  /** Where a batch lands: the state ROOT, the tail. */
  private def batchDir(statePath: String, batchId: String): Path =
    new Path(statePath, "batch=" + batchId)
  private def checkBatchId(id: String): Unit =
    require(id.nonEmpty && id.forall(ch => ch.isLetterOrDigit ||
        ch == '.' || ch == '_' || ch == '-' || ch == '~'),
      s"incrementalAgg: batch id '$id' — use letters, digits, '.', '_', '-', '~'")

  // ---- sidecar -----------------------------------------------------

  private final case class Meta(groupCols: Seq[String], metrics: Seq[Metric],
      partialTypes: Map[String, DataType], finalTypes: Map[String, DataType])

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def writeMeta(fs: org.apache.hadoop.fs.FileSystem, at: Path,
      meta: Meta): Unit = {
    def strArr(xs: Seq[String]) = xs.map(x => s""""${esc(x)}"""").mkString("[", ",", "]")
    def typeMap(m: Map[String, DataType]) =
      m.toSeq.sortBy(_._1).map { case (k, v) =>
        s""""${esc(k)}":"${esc(v.json)}"""" }.mkString("{", ",", "}")
    val ms = meta.metrics.map { m =>
      val (kind, colName, extra) = m match {
        case Count(_) => ("count", "", "")
        case Sum(c, _) => ("sum", c, "")
        case Min(c, _) => ("min", c, "")
        case Max(c, _) => ("max", c, "")
        case Avg(c, _) => ("avg", c, "")
        case ApproxDistinct(c, _) => ("approx_distinct", c, "")
        case ApproxQuantile(c, q, _) => ("approx_quantile", c, s""","q":$q""")
        case FrequentItems(c, limit, _) =>
          ("frequent_items", c, s""","limit":$limit""")
      }
      s"""{"kind":"$kind","column":"${esc(colName)}","as":"${esc(m.as)}"$extra}"""
    }.mkString("[", ",", "]")
    val json =
      s"""{"groupCols":${strArr(meta.groupCols)},"metrics":$ms,""" +
        s""""partialTypes":${typeMap(meta.partialTypes)},""" +
        s""""finalTypes":${typeMap(meta.finalTypes)}}"""
    val out = fs.create(at, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  private def readMeta(spark: SparkSession,
      statePath: String): (org.apache.hadoop.fs.FileSystem, Meta) = {
    val at = new Path(statePath, MetaFile)
    val fs = at.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(at),
      s"incrementalAgg: no $MetaFile under $statePath — fit() first")
    val in = fs.open(at)
    val json = try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      bos.toString("UTF-8")
    } finally in.close()
    // the sidecar is machine-written with a fixed field order — parse
    // DRIVER-SIDE with Jackson (Spark's own bundled JSON library, the
    // same parser PipelineJson uses). The previous
    // `spark.read.json(Seq(json).toDS())` scheduled 2 Spark jobs
    // (schema inference + head) for a few-hundred-byte string, paid on
    // EVERY append and result call — pure DAG-scheduler overhead on
    // the state machinery's hot path (r15, guide §1/§5: the driver
    // should not run jobs for driver-sized data).
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val groupCols = root.get("groupCols").elements().asScala
      .map(_.asText()).toSeq
    val metrics = root.get("metrics").elements().asScala.map { r =>
      val as = r.get("as").asText(); val c = r.get("column").asText()
      r.get("kind").asText() match {
        case "count" => Count(as)
        case "sum" => Sum(c, as)
        case "min" => Min(c, as)
        case "max" => Max(c, as)
        case "avg" => Avg(c, as)
        case "approx_distinct" => ApproxDistinct(c, as)
        case "approx_quantile" => ApproxQuantile(c, r.get("q").asDouble(), as)
        case "frequent_items" =>
          FrequentItems(c, r.get("limit").asInt(), as)
        case other => throw new IllegalArgumentException(
          s"incrementalAgg: unknown metric kind '$other' in $at")
      }
    }.toSeq
    def types(field: String): Map[String, DataType] = {
      val node = root.get(field)
      node.fieldNames().asScala.map(n =>
        n -> DataType.fromJson(node.get(n).asText())).toMap
    }
    (fs, Meta(groupCols, metrics, types("partialTypes"), types("finalTypes")))
  }
}
