package graft.tools

import java.nio.file.{Files, Paths}

import graft.{Sessions, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Dev tool: profile named SparkEntry queries.
  *
  * Usage: Profile <sfDir> <names-csv | all> [--jobs] [--final <dir>]
  * [--plans <dir> <suffix>]
  *
  *  - `--plans`: write `.explain("formatted")` of each query to
  *    `<dir>/<name>_<suffix>.txt` (the optimization rounds' evidence
  *    files, plans/r15 and plans/r16); nothing runs but what building
  *    the returned DataFrame runs.
  *  - `--jobs`: run each query twice the way Bench times it (round 1
  *    carries codegen/JIT; read round 2) and print wall seconds, the
  *    scheduled jobs, and per job its seconds, stage count, the call
  *    site of its SQL execution (an AQE-submitted job's own stage names
  *    only name the AQE thread), its stage names and job description.
  *  - `--final`: run each query and write its FINAL adaptive plan to
  *    `<dir>/<name>_final.txt` — the only place exchange and stage
  *    reuse is visible (`explain` before execution shows
  *    isFinalPlan=false).
  *
  * Threads: `SPARK_GRAFT_THREADS` (default 16). A failing query is
  * reported and the next one runs. Not part of the library surface.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val usage = "usage: Profile <sfDir> <names-csv | all> [--jobs] [--final <dir>] " +
      "[--plans <dir> <suffix>]"
    require(args.length >= 3, usage)
    val sfDir = args(0)
    val names =
      if (args(1) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(1).split(',').toSeq.map(_.trim)
    var jobs = false
    var finalDir = Option.empty[String]
    var plans = Option.empty[(String, String)]
    var rest = args.drop(2).toList
    while (rest.nonEmpty) rest match {
      case "--jobs" :: tail => jobs = true; rest = tail
      case "--final" :: dir :: tail => finalDir = Some(dir); rest = tail
      case "--plans" :: dir :: suffix :: tail => plans = Some((dir, suffix)); rest = tail
      case _ => throw new IllegalArgumentException(usage)
    }

    val threads = sys.env.getOrElse("SPARK_GRAFT_THREADS", "16").toInt
    val spark = Sessions.local(threads)
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new JobLog
    spark.sparkContext.addSparkListener(listener)

    def each(tag: String)(f: String => Unit): Unit = names.foreach { name =>
      if (!SparkEntry.queries.contains(name)) System.err.println(s"[$tag] unknown query: $name")
      else {
        try f(name)
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[$tag] $name FAILED: ${e.getMessage}")
        }
        spark.catalog.clearCache()
      }
    }
    def query(name: String) = SparkEntry.queries(name)(spark, sfDir)

    plans.foreach { case (dir, suffix) =>
      Files.createDirectories(Paths.get(dir))
      each("plans") { name =>
        val txt = query(name).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(dir, s"${name}_$suffix.txt"), txt)
        println(s"[plans] wrote ${name}_$suffix.txt")
      }
    }
    if (jobs) for (round <- 1 to 2) each("jobs") { name =>
      listener.clear()
      val t0 = System.nanoTime()
      graft.Bench.materialise(query(name))
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // let the listener bus deliver the job ends
      val js = listener.jobs
      println(f"== r$round $name $dt%.3f s, ${js.size} jobs")
      js.foreach { j =>
        val sec = if (j.end == 0L) Double.NaN else (j.end - j.start) / 1e9
        println(f"   job ${j.id}%3d $sec%7.3f s stages=${j.stages}%2d " +
          s"[${j.callSite}] ${j.stageNames.take(160)} ${j.desc.take(60)}")
      }
    }
    finalDir.foreach { dir =>
      Files.createDirectories(Paths.get(dir))
      each("final") { name =>
        val df = query(name)
        // collect() drives THIS df's QueryExecution (count() would build
        // a separate one and leave this plan un-finalized)
        df.collect()
        val txt = df.queryExecution.executedPlan.toString
        Files.writeString(Paths.get(dir, s"${name}_final.txt"), txt)
        println(s"[final] wrote ${name}_final.txt " +
          s"(ReusedExchange=${txt.contains("ReusedExchange")}, " +
          s"reused stages=${"ReusedQueryStage".r.findAllIn(txt).size})")
      }
    }
    spark.stop()
  }

  private final case class Job(id: Int, start: Long, stages: Int, callSite: String,
      stageNames: String, desc: String, @volatile var end: Long = 0L)

  /** The jobs scheduled since the last `clear`, in start order, each
    * named by the call site of its SQL execution ("-" outside one). */
  private final class JobLog extends SparkListener {
    private val started = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    private val executionSites = new java.util.concurrent.ConcurrentHashMap[String, String]()
    def clear(): Unit = started.clear()
    def jobs: Seq[Job] = {
      import scala.jdk.CollectionConverters._
      started.asScala.toSeq
    }
    override def onJobStart(s: SparkListenerJobStart): Unit = {
      val desc = Option(s.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      val site = Option(s.properties)
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .flatMap(id => Option(executionSites.get(id))).getOrElse("-")
      started.add(Job(s.jobId, System.nanoTime(), s.stageInfos.size, site,
        s.stageInfos.map(_.name).distinct.mkString(" | "), desc))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        executionSites.put(x.executionId.toString, x.description)
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      started.forEach(j => if (j.id == e.jobId) j.end = System.nanoTime())
  }
}
