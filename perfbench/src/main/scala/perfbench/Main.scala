package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.BusDrain
import org.apache.spark.sql.SparkSession
import graft.Sessions
import perfbench.Workload.timed

/** One benchmark run of one workload in this JVM:
  *
  *   1. set-up: a Spark session as the engine tunes it, then the
  *      workload's warm-up ops; the generation of the seeded inputs
  *      happens in between and is not counted;
  *   2. the closed loop: one client issues ops back to back, a fixed
  *      number of whole cycles sized to the given seconds (untraced),
  *      or in a traced run half of them untraced and half traced;
  *   3. the output check, outside the timed phase.
  *
  * The last stdout line is the JSON result; the line before it is a
  * JSON object with the run's details.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --dir <scratch dir>
  *
  * Spark runs local[N] with N = min(4, available processors).
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      dir: String, threads: Int)

  /** One measured op. Times are `System.nanoTime` readings. */
  final case class OpRec(index: Int, startNs: Long, endNs: Long, cpuMs: Double, written: Long,
      out: Either[Throwable, OpOut]) {
    def wallMs: Double = (endNs - startNs) / 1e6
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workload.names.contains(w), s"unknown workload $w (${Workload.names.mkString(", ")})")
    Opts(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1", need("dir"),
      math.min(4, Runtime.getRuntime.availableProcessors))
  }

  private def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Bytes written and read through the Hadoop local filesystem. */
  def fsBytes(): (Long, Long) = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    (st.map(_.getBytesWritten).sum, st.map(_.getBytesRead).sum)
  }

  /** Peak resident set (VmHWM), MB, since the last [[resetPeakRss]]. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Restart the VmHWM count from the current resident set, so a later
    * peak covers only what ran after this call. */
  def resetPeakRss(): Unit = {
    val w = new java.io.FileWriter("/proc/self/clear_refs")
    try w.write("5") finally w.close()
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  def heapAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val dir = new java.io.File(o.dir).getAbsoluteFile
    dir.mkdirs()

    // ---- set-up
    val builder = SparkSession.builder().master(s"local[${o.threads}]").appName("perfbench")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
    if (o.trace) builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val (createMs, spark) = timed(Sessions.activate(Sessions.tune(builder, o.threads).getOrCreate()))
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val tracer = new Tracer(if (o.trace) Some(sc) else None, () => fsBytes()._1)
    tracer.on = false
    val w = Workload(o.workload, Ctx(spark, tracer, s"$dir/main", o.seed))
    // a fixed number of whole cycles of ops per loop
    def opsFor(seconds: Double) = math.max(1L, math.round(seconds / w.cycleSeconds)).toInt * w.cycle
    val plainOps = opsFor(if (o.trace) o.seconds / 2 else o.seconds)
    val tracedOps = if (o.trace) opsFor(o.seconds / 2) else 0
    val (genMs, inputs) = timed(w.generate(w.warmupOps + plainOps + tracedOps))
    val (warmupMs, _) = timed((0 until w.warmupOps).foreach(w.op))
    val setupS = (System.currentTimeMillis() - jvmStartMs - genMs) / 1000.0

    // ---- closed loop
    def loop(from: Int, n: Int): Seq[OpRec] = {
      val recs = (from until from + n).map { i =>
        tracer.opId = i
        val (c0, w0, t0) = (cpuNs(), fsBytes()._1, System.nanoTime())
        val out = try Right(tracer.span("op")(w.op(i))) catch { case NonFatal(e) => Left(e) }
        val t1 = System.nanoTime()
        OpRec(i, t0, t1, (cpuNs() - c0) / 1e6, fsBytes()._1 - w0, out)
      }
      tracer.opId = -1
      recs
    }

    resetPeakRss()
    val plain = loop(w.warmupOps, plainOps)
    val plainRss = peakRssMb()
    val traced = if (!o.trace) None else Some {
      BusDrain.drain(sc)
      val listener = new JobListener
      sc.addSparkListener(listener)
      val (gc0, fs0, cnt0) = (gcMs(), fsBytes(), CountingLocalFileSystem.snapshot())
      tracer.on = true
      resetPeakRss()
      val recs = loop(plain.last.index + 1, tracedOps)
      val rss = peakRssMb()
      val (gc1, fs1, cnt1) = (gcMs(), fsBytes(), CountingLocalFileSystem.snapshot())
      val kernels = Ctx(spark, tracer, s"$dir/kernels", o.seed)
      val iso = tracer.span("isolate")(w.isolate() ++ Kernels.isolate(kernels))
      tracer.on = false
      BusDrain.drain(sc)
      sc.removeSparkListener(listener)
      TracedPhase(recs, rss, listener.snapshot, tracer.spans, iso, gc1 - gc0,
        (fs1._1 - fs0._1, fs1._2 - fs0._2), cnt1.map { case (k, v) => k -> (v - cnt0(k)) })
    }

    // ---- output check
    val all = plain ++ traced.map(_.recs).getOrElse(Nil)
    val ok = all.collect { case r @ OpRec(_, _, _, _, _, Right(out)) => r.index -> out }
    val (checkMs, checkFailures) = timed {
      try w.check(ok)
      catch { case NonFatal(e) => ok.map(_._1 -> s"output check threw: $e").toMap }
    }
    val failures = all.collect { case OpRec(i, _, _, _, _, Left(e)) => i -> s"op threw: $e" }.toMap ++
      checkFailures

    // ---- report
    val env = Map("nproc" -> Runtime.getRuntime.availableProcessors,
      "spark_master" -> s"local[${o.threads}]", "threads" -> o.threads,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576, "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"), "loop" -> "closed", "clients" -> 1,
      "auto_broadcast_threshold_bytes" -> spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    val e2ePlain = Report.endToEnd(plain, setupS, plainRss)
    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "env" -> env,
      "inputs" -> (inputs + ("generation_s" -> genMs / 1000)),
      "setup" -> Map("setup_s" -> setupS, "session_create_ms" -> createMs,
        "warmup_ms" -> warmupMs, "warmup_ops" -> w.warmupOps),
      "check_s" -> checkMs / 1000,
      "attempted" -> all.size, "failed" -> failures.size,
      "failed_ratio" -> failures.size.toDouble / all.size,
      "failures" -> failures.toSeq.sortBy(_._1).take(5).map { case (i, m) => s"op $i: $m" },
      "end_to_end" -> e2ePlain,
      "latency_ms" -> Report.latencies(plain))
    val (metrics, traceOk) = traced match {
      case None => (e2ePlain, true)
      case Some(t) =>
        val layers = Report.layers(t, plain, Report.endToEnd(t.recs, setupS, t.rss), e2ePlain,
          createMs, warmupMs)
        detail("layers") = layers.all
        detail("trace") = Map("spans" -> t.spans.size, "jobs" -> t.jobs.size,
          "unattributed_jobs" -> layers.unattributed)
        writeSpans(new java.io.File(dir, "trace-spans.json"), t)
        (layers.published, layers.unattributed == 0)
    }
    println(Report.json(Map("detail" -> detail)))
    println(Report.json(Map(
      "correct" -> (failures.isEmpty && traceOk), "attempted" -> all.size,
      "failed" -> failures.size, "metrics" -> Report.withUnits(metrics))))
    spark.stop()
  }

  /** The traced half of a traced run. */
  final case class TracedPhase(recs: Seq[OpRec], rss: Double, jobs: Seq[JobStats],
      spans: Seq[Span], isolation: Map[String, Double], gcMs: Long,
      fsBytes: (Long, Long), fsCalls: Map[String, Long])

  private def writeSpans(f: java.io.File, t: TracedPhase): Unit = {
    val w = new java.io.PrintWriter(f)
    try w.write(Report.json(Map(
      "spans" -> t.spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.opId, "start_ms" -> s.start, "end_ms" -> s.end, "bytes_written" -> s.written)),
      "jobs" -> t.jobs.map(j => Map("job" -> j.jobId, "group" -> j.group, "start_ms" -> j.start,
        "end_ms" -> j.end, "tasks" -> j.tasks)))))
    finally w.close()
  }
}
