package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.IncrementalAgg
import graft.streaming.CorpusIngest

/** `incremental_ingest`: op i is an append of seeded batch i —
  * `CorpusIngest.ingestBatch` into a deduplicated lake plus
  * `IncrementalAgg` folding the batch into per-source partial state,
  * with `compactLake` and `IncrementalAgg.compact` every
  * `compactEvery` batches — followed by a query: the running
  * aggregate's `result().collect()` and a `readLake` count. A share of
  * each batch repeats documents offered earlier. A run generates one
  * batch per op it will issue. */
final class IncrementalIngest(val ctx: Ctx, batchDocs: Int, compactEvery: Int)
    extends Workload {
  private val repeatShare = 0.2
  private val batches = ctx.path("batches")
  private val lake = ctx.path("lake")
  private val state = ctx.path("agg_state")
  private val scope = "perfbench"
  private val metrics = Seq(IncrementalAgg.Count("docs"), IncrementalAgg.Sum("n_chars", "chars"),
    IncrementalAgg.Min("n_chars", "min_chars"), IncrementalAgg.Max("n_chars", "max_chars"))
  private var batchBytes = Map.empty[Int, Long]
  private var nBatches = 0

  def warmupOps: Int = compactEvery
  def cycleSeconds: Double = 2.5

  /** Doc `id` of batch `id / batchDocs`: a fresh long document, or with
    * probability `repeatShare` the text of an earlier fresh one. */
  def generate(ops: Int): Map[String, Any] = {
    import spark.implicits._
    nBatches = ops
    val docs = new Gen.Docs(ctx.seed, 60, 100, 0.0, 0.0)
    val (per, seed, share) = (batchDocs.toLong, ctx.seed, repeatShare)
    spark.range(per * nBatches).as[Long].map { id =>
      val r = Gen.rng(seed, id ^ 0x2545f491L)
      val textId =
        if (id >= per && r.nextDouble() < share) (r.nextLong() & Long.MaxValue) % id else id
      val text = docs.truth(textId).text
      ((id / per).toInt, id, text,
        s"src${java.lang.Math.floorMod(id * 2654435761L, 20L)}", text.length.toLong)
    }.toDF("batch", "doc_id", "text", "source", "n_chars")
      .repartition(4, col("batch")).write.partitionBy("batch").parquet(batches)
    batchBytes = (0 until nBatches).map(b => b -> Gen.sizeOf(batchPath(b))).toMap
    Map("batches" -> nBatches, "rows_per_batch" -> batchDocs,
      "rows" -> batchDocs.toLong * nBatches, "bytes" -> batchBytes.values.sum,
      "repeat_share" -> repeatShare, "compact_every" -> compactEvery)
  }

  private def batchPath(b: Int) = s"$batches/batch=$b"

  def op(i: Int): OpOut = {
    require(i < nBatches, s"incremental_ingest generated $nBatches batches, op $i needs more")
    val batch = spark.read.parquet(batchPath(i))
    val bid = f"b$i%05d"
    ctx.span("streaming.ingestBatch")(CorpusIngest.ingestBatch(batch, i.toLong, lake, scope = scope))
    ctx.span("operators.IncrementalAgg.append") {
      if (i == 0) IncrementalAgg.fit(batch, Seq("source"), metrics, state, bid)
      else IncrementalAgg.append(state, batch, bid)
    }
    val compacted = (i + 1) % compactEvery == 0
    if (compacted) {
      ctx.span("streaming.compactLake")(CorpusIngest.compactLake(spark, lake))
      ctx.span("operators.IncrementalAgg.compact")(IncrementalAgg.compact(spark, state, f"c$i%05d"))
    }
    val queryStart = System.nanoTime()
    val agg = ctx.span("operators.IncrementalAgg.result") {
      IncrementalAgg.result(spark, state).orderBy("source").collect().toSeq
    }
    val (lakeRows, liveFiles) = ctx.span("streaming.readLake") {
      val df = CorpusIngest.readLake(spark, lake)
      (df.count(), df.inputFiles.length)
    }
    OpOut("append+query", batchDocs, batchBytes(i),
      IncrementalIngest.Result(agg, lakeRows, liveFiles, compacted), queryStart)
  }

  def check(ops: Seq[(Int, OpOut)]): Map[Int, String] = {
    import spark.implicits._
    val all = spark.read.parquet(batches)
    // per-batch partial aggregates and the batch each distinct word bag
    // first appears in, folded into running totals below
    val partial = all.groupBy("batch", "source")
      .agg(count(lit(1)), sum("n_chars"), min("n_chars"), max("n_chars")).collect()
      .map(r => (r.getInt(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val bag = array_join(array_sort(array_distinct(split(lower(trim(col("text"))), "\\s+"))), " ")
    val firstSeen = all.groupBy(bag).agg(min("batch").as("b")).groupBy("b").count()
      .as[(Int, Long)].collect().toMap
    ops.flatMap { case (i, o) =>
      val r = o.result.asInstanceOf[IncrementalIngest.Result]
      val want = partial.filter(_._1._1 <= i).groupBy(_._1._2).toSeq.sortBy(_._1).map { case (src, ps) =>
        val v = ps.map(_._2)
        Row(src, v.map(_._1).sum, v.map(_._2).sum, v.map(_._3).min, v.map(_._4).max)
      }
      val distinct = (0 to i).map(b => firstSeen.getOrElse(b, 0L)).sum
      val gotRows = r.agg.map(x => Row(x.getString(0), x.getAs[Any]("docs"), x.getAs[Any]("chars"),
        x.getAs[Any]("min_chars"), x.getAs[Any]("max_chars")))
      if (!Workload.rowsEqual(gotRows, want)) Some(i -> "result() differs from groupBy over the appended batches")
      else if (r.lakeRows != distinct) Some(i -> s"lake holds ${r.lakeRows} rows, $distinct distinct offered")
      else None
    }.toMap
  }
}

object IncrementalIngest {
  final case class Result(agg: Seq[Row], lakeRows: Long, liveFiles: Int, compacted: Boolean)
}
