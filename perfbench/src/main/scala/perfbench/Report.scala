package perfbench

import perfbench.Main.{OpRec, TracedPhase}

/** Metrics computed from measured ops and, in traced runs, spans and
  * Spark jobs. */
object Report {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** One-line JSON of maps, sequences and scalars. */
  def json(v: Any): String = mapper.writeValueAsString(v)

  /** Every metric the run prints, with its unit. End-to-end metrics
    * come from untraced ops; the rest are the traced run's per-layer
    * metrics, normalized per traced op where the unit says `/op`. */
  val units: Map[String, String] = Map(
    "setup_s" -> "s", "op_ms_p50_gmean" -> "ms", "rows_per_s" -> "rows/s", "cpu_ms_per_op" -> "ms",
    "write_bytes_per_input_byte" -> "ratio", "peak_rss_mb" -> "MB",
    "spark.jobs" -> "count/op", "spark.stages" -> "count/op", "spark.tasks" -> "count/op",
    "spark.empty_task_ratio" -> "ratio", "spark.driver_gap_ms" -> "ms/op",
    "spark.executor_cpu_ms" -> "ms/op", "spark.executor_run_ms" -> "ms/op",
    "spark.shuffle_read_bytes" -> "B/op",
    "spark.shuffle_write_bytes" -> "B/op", "spark.spill_bytes" -> "B/op",
    "spark.input_bytes" -> "B/op", "spark.unattributed_jobs" -> "count",
    "engine.jobs" -> "count/op", "plans.execute.jobs" -> "count/op",
    "plans.sink.jobs" -> "count/op", "operators.jobs" -> "count/op",
    "streaming.jobs" -> "count/op",
    "sources.bytes_written" -> "B/op", "sources.files_written" -> "count/op",
    "fs.creates" -> "count/op", "fs.renames" -> "count/op", "fs.deletes" -> "count/op",
    "fs.mkdirs" -> "count/op", "fs.list_calls" -> "count/op", "fs.bytes_read" -> "B/op",
    "streaming.live_files" -> "count", "streaming.rewrite_bytes_ratio" -> "ratio",
    "streaming.dedup_drop_ratio" -> "ratio",
    "jvm.gc_ms" -> "ms/op", "jvm.heap_after_gc_mb" -> "MB",
    "sessions.create_ms" -> "ms", "warmup_ms" -> "ms") ++
    layerNames.map(l => s"$l.self_share" -> "ratio") ++
    Kernels.names.map(k => s"functions.$k.ns_per_row" -> "ns/row") ++
    overheadOf.map(m => s"trace.overhead.$m" -> "ratio")

  /** Layers by span-name prefix; `op` is the benchmark's own code
    * between layer calls. */
  def layerNames: Seq[String] = Seq("engine", "plans", "operators", "streaming", "op")

  def endToEndNames: Seq[String] =
    Seq("setup_s", "op_ms_p50_gmean", "rows_per_s", "cpu_ms_per_op", "write_bytes_per_input_byte",
      "peak_rss_mb")

  private def overheadOf: Seq[String] = endToEndNames.filterNot(_ == "setup_s")

  def withUnits(m: Map[String, Double]): Map[String, Map[String, Any]] =
    m.map { case (k, v) => k -> Map("value" -> v, "unit" -> units(k)) }

  private def outs(recs: Seq[OpRec]): Seq[OpOut] = recs.flatMap(_.out.toOption)

  /** End-to-end metrics of measured ops. A workload that mixes op
    * kinds (interactive requests) summarizes latency as the geometric
    * mean of each kind's median, so every kind weighs the same and the
    * figure does not jump between kinds whose latencies sit near the
    * pooled median; CPU is the process total over the ops, per op. */
  def endToEnd(recs: Seq[OpRec], setupS: Double, rss: Double): Map[String, Double] = {
    val done = recs.filter(_.out.isRight)
    val kindMedians = done.groupBy(_.out.toOption.get.kind).values.map(rs => Stats.median(rs.map(_.wallMs)))
    Map(
      "setup_s" -> setupS,
      "op_ms_p50_gmean" -> Stats.geomean(kindMedians.toSeq),
      "rows_per_s" -> outs(done).map(_.inputRows).sum / (done.map(_.wallMs).sum / 1000).max(1e-9),
      "cpu_ms_per_op" -> recs.map(_.cpuMs).sum / recs.size,
      "write_bytes_per_input_byte" ->
        done.map(_.written).sum.toDouble / outs(done).map(_.inputBytes).sum.max(1L),
      "peak_rss_mb" -> rss)
  }

  /** Latency summaries per request kind, and for ops that write then
    * query, of each part. */
  def latencies(recs: Seq[OpRec]): Map[String, Any] = {
    val byKind = recs.flatMap(r => r.out.toOption.map(o => o.kind -> r.wallMs))
      .groupBy(_._1).map { case (k, v) => k -> Stats.summary(v.map(_._2)) }
    val split = recs.flatMap(r => r.out.toOption.filter(_.queryStartNs > 0).map { o =>
      ((o.queryStartNs - r.startNs) / 1e6, (r.endNs - o.queryStartNs) / 1e6)
    })
    val parts =
      if (split.isEmpty) Map.empty
      else Map("append" -> Stats.summary(split.map(_._1)), "query" -> Stats.summary(split.map(_._2)))
    Map("op" -> Stats.summary(recs.map(_.wallMs)), "by_kind" -> byKind) ++ parts
  }

  final case class LayerReport(published: Map[String, Double], all: Map[String, Any],
      unattributed: Int)

  def layers(t: TracedPhase, plain: Seq[OpRec], e2eTraced: Map[String, Double],
      e2ePlain: Map[String, Double], createMs: Double, warmupMs: Double): LayerReport = {
    val att = Attribution.of(t.spans, t.jobs)
    val n = t.recs.size.toDouble
    val self = Tracer.selfTimes(t.spans)
    val inOps = t.spans.filter(_.opId >= 0)
    def jobsOf(ss: Seq[Span]) = ss.flatMap(s => att.bySpan.getOrElse(s.id, Nil))
    val opJobs = jobsOf(inOps)
    def perOp(x: Double) = x / n

    val opSpans = inOps.filter(_.name == "op")
    val opMs = opSpans.map(_.ms).sum
    val opOfSpan = inOps.map(s => s.id -> s.opId).toMap
    val jobsByOp = att.bySpan.toSeq
      .flatMap { case (sid, js) => opOfSpan.get(sid).toSeq.flatMap(op => js.map(op -> _)) }
      .groupBy(_._1).map { case (op, xs) => op -> xs.map(_._2) }
    // time inside an op with no Spark job running
    val gapMs = opSpans.map { op =>
      op.ms - Tracer.unionLength(jobsByOp.getOrElse(op.opId, Nil)
        .map(j => (math.max(j.start, op.start), math.min(j.end, op.end)))
        .filter(x => x._2 > x._1))
    }.sum
    val tasks = opJobs.map(_.tasks).sum
    def jobsUnder(prefix: String) = perOp(jobsOf(inOps.filter(_.name.startsWith(prefix))).size)

    val results = t.recs.flatMap(_.out.toOption).map(_.result)
      .collect { case r: IncrementalIngest.Result => r }
    val lastPlainLake = plain.flatMap(_.out.toOption).map(_.result)
      .collect { case r: IncrementalIngest.Result => r.lakeRows }.lastOption.getOrElse(0L)
    val offered = outs(t.recs).map(_.inputRows).sum
    def written(names: String*) = inOps.filter(s => names.contains(s.name)).map(_.written).sum

    val published = Map[String, Double](
      "spark.jobs" -> perOp(opJobs.size),
      "spark.stages" -> perOp(opJobs.map(_.stages).sum),
      "spark.tasks" -> perOp(tasks),
      "spark.empty_task_ratio" -> opJobs.map(_.emptyTasks).sum.toDouble / math.max(tasks, 1L),
      "spark.driver_gap_ms" -> perOp(gapMs),
      "spark.executor_cpu_ms" -> perOp(opJobs.map(_.executorCpuNs).sum / 1e6),
      "spark.executor_run_ms" -> perOp(opJobs.map(_.executorRunMs).sum),
      "spark.shuffle_read_bytes" -> perOp(opJobs.map(_.shuffleReadBytes).sum),
      "spark.shuffle_write_bytes" -> perOp(opJobs.map(_.shuffleWriteBytes).sum),
      "spark.spill_bytes" -> perOp(opJobs.map(_.spillBytes).sum),
      "spark.input_bytes" -> perOp(opJobs.map(_.inputBytes).sum),
      "spark.unattributed_jobs" -> att.unattributed.size,
      "engine.jobs" -> jobsUnder("engine."),
      "plans.execute.jobs" -> (jobsUnder("plans.execute") + jobsUnder("plans.node.")),
      "plans.sink.jobs" -> jobsUnder("plans.sink"),
      "operators.jobs" -> jobsUnder("operators."),
      "streaming.jobs" -> jobsUnder("streaming."),
      "sources.bytes_written" -> perOp(t.fsBytes._1),
      "sources.files_written" -> perOp(t.fsCalls("files_written")),
      "fs.creates" -> perOp(t.fsCalls("creates")),
      "fs.renames" -> perOp(t.fsCalls("renames")),
      "fs.deletes" -> perOp(t.fsCalls("deletes")),
      "fs.mkdirs" -> perOp(t.fsCalls("mkdirs")),
      "fs.list_calls" -> perOp(t.fsCalls("list_calls")),
      "fs.bytes_read" -> perOp(t.fsBytes._2),
      "streaming.live_files" ->
        (if (results.isEmpty) 0.0 else results.map(_.liveFiles).sum.toDouble / results.size),
      "streaming.rewrite_bytes_ratio" ->
        written("streaming.compactLake", "operators.IncrementalAgg.compact").toDouble /
          math.max(written("streaming.ingestBatch", "operators.IncrementalAgg.append"), 1L),
      "streaming.dedup_drop_ratio" ->
        (if (results.isEmpty) 0.0
         else 1.0 - (results.last.lakeRows - lastPlainLake).toDouble / math.max(offered, 1L)),
      "jvm.gc_ms" -> perOp(t.gcMs),
      "jvm.heap_after_gc_mb" -> Main.heapAfterGcMb(),
      "sessions.create_ms" -> createMs,
      "warmup_ms" -> warmupMs) ++
      layerNames.map { l =>
        s"$l.self_share" -> inOps.filter(_.layer == l).map(s => self(s.id)).sum / math.max(opMs, 1e-9)
      } ++
      overheadOf.map(m => s"trace.overhead.$m" -> (e2eTraced(m) / e2ePlain(m) - 1.0)) ++
      t.isolation.filter { case (k, _) => k.startsWith("functions.") }

    // per span name: calls, latency, self time, jobs and bytes per call
    val byName = t.spans.groupBy(_.name).map { case (name, ss) =>
      val js = jobsOf(ss)
      name -> Map("calls" -> ss.size, "ms" -> Stats.summary(ss.map(_.ms)),
        "self_ms_total" -> ss.map(s => self(s.id)).sum, "jobs_per_call" -> js.size.toDouble / ss.size,
        "shuffle_write_bytes_per_call" -> js.map(_.shuffleWriteBytes).sum.toDouble / ss.size,
        "executor_cpu_ms_per_call" -> js.map(_.executorCpuNs).sum / 1e6 / ss.size,
        "bytes_written_per_call" -> ss.map(_.written).sum.toDouble / ss.size)
    }
    val queries = t.recs.flatMap(r => r.out.toOption.collect {
      case OpOut(_, _, _, res: IncrementalIngest.Result, q) if q > 0 =>
        Map("op" -> r.index, "live_files" -> res.liveFiles, "compacted" -> res.compacted,
          "query_ms" -> (r.endNs - q) / 1e6, "append_ms" -> (q - r.startNs) / 1e6)
    })
    // task GC time is often exactly 0 on short request loops, so it is
    // reported here rather than as a published metric
    val all = Map[String, Any]("metrics" -> published, "spans" -> byName,
      "spark.gc_ms_per_op" -> perOp(opJobs.map(_.gcMs).sum),
      "isolation" -> t.isolation, "traced_ops" -> t.recs.size,
      "jobs_total" -> t.jobs.size, "jobs_attributed" -> att.attributedCount) ++
      (if (queries.isEmpty) Map.empty else Map("streaming_queries" -> queries))
    LayerReport(published, all, att.unattributed.size)
  }
}
