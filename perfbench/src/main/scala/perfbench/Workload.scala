package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** What one op read and returned; `result` feeds the output check.
  * An op made of a write and a read sets `queryStartNs` (a
  * `System.nanoTime` reading) where its read part began. */
final case class OpOut(kind: String, inputRows: Long, inputBytes: Long, result: Any = null,
    queryStartNs: Long = 0L)

/** Shared state of a workload run. */
final case class Ctx(spark: SparkSession, tracer: Tracer, dir: String, seed: Long) {
  def span[A](name: String)(body: => A): A = tracer.span(name)(body)
  def path(name: String): String = s"$dir/$name"
}

/** One closed-loop workload: a single client issues `op(i)` for
  * i = 0, 1, ... and waits for each to return before the next. */
trait Workload {
  def ctx: Ctx
  final lazy val spark: SparkSession = ctx.spark

  /** Write the seeded inputs for a run of `ops` ops, warm-up included;
    * returns their description (rows, bytes, duplicate share) for the
    * report. */
  def generate(ops: Int): Map[String, Any]

  /** Ops 0 until warmupOps are the warm-up, run on the generated
    * inputs before the timed loop, which continues from op warmupOps. */
  def warmupOps: Int

  /** A run measures a whole number of cycles of this many ops. */
  def cycle: Int = 1

  /** About how long one cycle takes on a 4-core box. A run of s
    * seconds measures round(s / cycleSeconds) cycles, at least one: a
    * fixed amount of work, so every run of a workload measures the same
    * ops whatever the box's speed that day. */
  def cycleSeconds: Double

  def op(i: Int): OpOut

  /** Independent check of every op's output, after the timed phase:
    * op index -> failure reason for each op that failed. */
  def check(ops: Seq[(Int, OpOut)]): Map[Int, String]

  /** Traced runs only: each layer's public functions timed in
    * isolation on materialized inputs. */
  def isolate(): Map[String, Double] = Map.empty
}

object Workload {
  val names: Seq[String] = Seq("etl_batch", "interactive", "llm_curation", "incremental_ingest")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "etl_batch" => new EtlBatch(ctx)
    case "interactive" => new Interactive(ctx)
    case "llm_curation" => new LlmCuration(ctx)
    case "incremental_ingest" => new IncrementalIngest(ctx, batchDocs = 1500, compactEvery = 4)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Order-independent content hash: row count plus the sum of
    * per-row xxhash64 values over every column rendered as a string
    * (numbers as decimal(38,4), so equal values of different decimal
    * types hash alike). */
  def contentHash(df: DataFrame): (Long, BigDecimal) = {
    val cols = df.schema.fields.toSeq.sortBy(_.name).map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case _: org.apache.spark.sql.types.NumericType =>
          coalesce(c.cast("decimal(38,4)").cast("string"), lit("\u0000"))
        case _ => coalesce(c.cast("string"), lit("\u0000"))
      }
    }
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Noop sink: runs the full plan, writes nothing. */
  def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def rowsEqual(a: Seq[Row], b: Seq[Row]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) => x == y }

  def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    ((System.nanoTime() - t0) / 1e6, a)
  }

  /** Median wall milliseconds of `reps` runs of `body`. */
  def timeMs(reps: Int)(body: => Unit): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e6
    })
}
