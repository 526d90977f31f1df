package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed call. `parent` is 0 for a root span; `opId` is the
  * workload op the span belongs to (-1 outside ops). Times are epoch
  * milliseconds with a nanosecond-precision fraction, the clock Spark's
  * listener events use; `written` is the filesystem bytes written
  * while the span was open. */
final case class Span(id: Long, name: String, parent: Long, opId: Long,
    start: Double, end: Double, written: Long = 0L) {
  def ms: Double = end - start
  def layer: String = name.takeWhile(_ != '.')
}

/** Spans recorded by the benchmark around each call into the engine.
  *
  * Off (or without a SparkContext), `span` only runs its body. On, it
  * records the span and sets a Spark job group naming it for the
  * body's duration, so [[JobListener]] can key every job to the
  * innermost open span. One client thread drives each workload, so
  * spans nest strictly; the stack is not shared across threads. Spans
  * stay in memory until the run writes its report.
  */
final class Tracer(sc: Option[SparkContext], bytesWritten: () => Long = () => 0L) {
  var on: Boolean = sc.isDefined
  def enabled: Boolean = on && sc.isDefined
  private val done = mutable.ArrayBuffer[Span]()
  private var open = List.empty[(Long, String, Double, Long)]
  private var nextId = 1L
  var opId: Long = -1L

  /** Epoch milliseconds, nanosecond resolution. */
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val ctx = sc.get
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(0L)
      val start = now()
      open = (id, name, start, bytesWritten()) :: open
      ctx.setJobGroup(Tracer.group(id), name, interruptOnCancel = false)
      try body
      finally {
        val end = now()
        val w0 = open.head._4
        open = open.tail
        done += Span(id, name, parent, opId, start, end, bytesWritten() - w0)
        open.headOption match {
          case Some((pid, pname, _, _)) =>
            ctx.setJobGroup(Tracer.group(pid), pname, interruptOnCancel = false)
          case None => ctx.clearJobGroup()
        }
      }
    }

  def spans: Seq[Span] = done.toSeq
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
  def group(spanId: Long): String = GroupPrefix + spanId
  def spanOf(group: String): Option[Long] =
    Option(group).filter(_.startsWith(GroupPrefix))
      .flatMap(g => g.stripPrefix(GroupPrefix).toLongOption)

  /** Self time of every span: its duration minus the union of the
    * intervals its direct children cover (clipped to the span). Works
    * for children that overlap each other. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionLength(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a })
      s.id -> math.max(0.0, s.ms - covered)
    }.toMap
  }

  /** Total length of a union of intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curStart = Double.NaN
    var curEnd = Double.NaN
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (curStart.isNaN || a > curEnd) {
        if (!curStart.isNaN) total += curEnd - curStart
        curStart = a
        curEnd = b
      } else curEnd = math.max(curEnd, b)
    }
    if (!curStart.isNaN) total += curEnd - curStart
    total
  }
}

/** Work one Spark job did, summed over its tasks. */
final class JobStats(val jobId: Int, val group: String, val start: Double) {
  var end: Double = Double.NaN
  var stages = 0
  var tasks = 0L
  var emptyTasks = 0L
  var executorCpuNs = 0L
  var executorRunMs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
}

/** Benchmark-owned listener: per-job stage/task counters, keyed by
  * the job group [[Tracer]] set when the job was submitted. */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobStats]()
  private val stageJob = mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val j = new JobStats(e.jobId, group, e.time.toDouble)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (m != null) {
        val records = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        if (records == 0) j.emptyTasks += 1
        j.executorCpuNs += m.executorCpuTime
        j.executorRunMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  /** Every job seen so far; call after [[org.apache.spark.BusDrain]]. */
  def snapshot: Seq[JobStats] = synchronized(jobs.values.toSeq)
}

/** Jobs keyed to spans, and the check that every job has exactly one
  * innermost span: the span its group names, open when the job
  * started. */
final case class Attribution(bySpan: Map[Long, Seq[JobStats]], unattributed: Seq[JobStats]) {
  def attributedCount: Int = bySpan.valuesIterator.map(_.size).sum
}

object Attribution {
  /** Slack for the listener's whole-millisecond wall-clock job times
    * against the spans' monotonic-clock ones. */
  private val SlackMs = 25.0

  def of(spans: Seq[Span], jobs: Seq[JobStats]): Attribution = {
    val byId = spans.map(s => s.id -> s).toMap
    val (ok, bad) = jobs.partition { j =>
      Tracer.spanOf(j.group).flatMap(byId.get).exists { s =>
        j.start >= math.floor(s.start) - SlackMs && j.start <= s.end + SlackMs
      }
    }
    Attribution(ok.groupBy(j => Tracer.spanOf(j.group).get), bad)
  }
}
