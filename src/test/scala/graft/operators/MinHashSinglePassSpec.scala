package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerStageCompleted}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Every minhash pair list computes its signatures and writes its
  * banded bucket shuffle ONCE per evaluation: the rerank keys both ids
  * from one scan of the candidates, and the distributed
  * connected-components path reads the pair list once.
  */
class MinHashSinglePassSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Seeded corpus: 160 random 40-word docs, then near copies (one
    * word swapped out) chained copy-of-copy so components span more
    * than one pair, plus a few exact clones.
    */
  private lazy val corpus: DataFrame = {
    val rnd = new scala.util.Random(20261017L)
    val vocab = Vector.tabulate(600)(i => s"w$i")
    def doc(): Vector[String] = Vector.fill(40)(vocab(rnd.nextInt(vocab.size)))
    def mutate(d: Vector[String]): Vector[String] =
      d.updated(rnd.nextInt(d.size), vocab(rnd.nextInt(vocab.size)))
    val base = Vector.fill(160)(doc())
    val chains = (0 until 40).flatMap { i =>
      Iterator.iterate(base(i))(mutate).slice(1, 1 + (i % 3) + 1).toSeq
    }
    val clones = (40 until 50).map(base(_))
    (base ++ chains ++ clones).zipWithIndex
      .map { case (d, i) => (i.toLong, d.mkString(" ")) }
      .toDF("doc_id", "text")
  }

  private def pairsOf(df: DataFrame): DataFrame =
    Dedup.minHashNearDups(df, "doc_id", "text")

  /** The struct formulation of the band keys that
    * `graft_minhash_bands` fuses: one (band, bucket) struct per band,
    * bucket = `xxhash64(band, signature slice)`. Kept as the reference
    * the oracle below bands with.
    */
  private def bandBuckets(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(Seq(lit(b)) ++ (0 until rowsPerBand)
          .map(r => element_at(sig, b * rowsPerBand + r + 1)): _*)
          .as("bucket"))
    }: _*)

  /** The pre-change formulation of [[Dedup.minHashNearDups]] (small-
    * corpus route): collect_list buckets, rerank keyed by a UNION of
    * two projections of the candidates. Kept as the result oracle for
    * the single-scan keying and the bucket walk.
    */
  private def unionKeyedPairs(df: DataFrame): DataFrame = {
    val hashed = df
      .select(col("doc_id").as("_id"),
        graft.functions.TextSignatures.shingleHashesCol(col("text"), 3).as("_hsh"))
      .filter(size(col("_hsh")) > 0)
    val banded = hashed
      .select(col("_id"), explode(bandBuckets(
        graft.functions.TextSignatures.minHashSigCol(col("_hsh"), 64), 16, 4)).as("bb"))
      .select(col("_id"), col("bb.band"), col("bb.bucket"))
    val candidates = banded.groupBy("band", "bucket")
      .agg(collect_list(col("_id")).as("_ids"))
      .filter(size(col("_ids")).between(2, 1000))
      .select(explode(graft.functions.ArrayPairs.orderedPairsCol(
        array_sort(col("_ids")))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
    candidates.select(col("id_a").as("_id"), col("id_a"), col("id_b"))
      .unionByName(candidates.select(col("id_b").as("_id"), col("id_a"), col("id_b")))
      .join(hashed, "_id")
      .groupBy("id_a", "id_b")
      .agg(
        first(when(col("_id") === col("id_a"), col("_hsh")), ignoreNulls = true).as("_sha"),
        first(when(col("_id") === col("id_b"), col("_hsh")), ignoreNulls = true).as("_shb"))
      .withColumn("jaccard",
        size(array_intersect(col("_sha"), col("_shb"))).cast("double") /
          size(array_union(col("_sha"), col("_shb"))).cast("double"))
      .filter(col("jaccard") >= 0.7)
      .select("id_a", "id_b", "jaccard")
  }

  /** How many distinct banded bucket exchanges — `Exchange
    * hashpartitioning(band, bucket)` — wrote shuffle bytes while `body`
    * ran. Each physical exchange owns its write-metric accumulator, so
    * a reused exchange counts once and a recomputed duplicate twice.
    */
  private def bandedShuffleWrites(body: => Unit): Int = {
    val sc = spark.sparkContext
    val banded = ConcurrentHashMap.newKeySet[Long]()
    val written = ConcurrentHashMap.newKeySet[Long]()
    val bandKey = """hashpartitioning\(band#\d+, bucket#\d+L?,""".r
    def scan(p: SparkPlanInfo): Unit = {
      if (p.nodeName == "Exchange" && bandKey.findFirstIn(p.simpleString).isDefined)
        p.metrics.filter(_.name == "shuffle bytes written")
          .foreach(m => banded.add(m.accumulatorId))
      p.children.foreach(scan)
    }
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => scan(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => scan(u.sparkPlanInfo)
        case _ => ()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        s.stageInfo.accumulables.values.foreach { a =>
          a.value match {
            case Some(v: Long) if v > 0 => written.add(a.id)
            case _ => ()
          }
        }
    }
    org.apache.spark.ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain.drain(sc)
    } finally sc.removeSparkListener(listener)
    written.retainAll(banded)
    written.size
  }

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.as[(Long, Long, Double)].collect().toSet

  test("final adaptive plan of minHashNearDups computes graft_minhash_bands exactly once") {
    val pairs = pairsOf(corpus)
    assert(pairs.collect().nonEmpty)
    val plan = pairs.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("== Final Plan =="), plan)
    assert("graft_minhash_bands\\(".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("graft_minhash_sig("), plan)
  }

  test("banded bucket shuffle is written once per probe and once per distributed resolution") {
    val probe = bandedShuffleWrites {
      Dedup.dropNearDuplicates(corpus, "doc_id", pairsOf(corpus),
        assumeCanonical = true).collect()
    }
    assert(probe == 1)
    val cc = bandedShuffleWrites {
      Dedup.connectedComponents(pairsOf(corpus), collectLimit = 0).collect()
    }
    assert(cc == 1)
    val drop = bandedShuffleWrites {
      Dedup.dropNearDuplicates(corpus, "doc_id", pairsOf(corpus),
        collectLimit = 0).collect()
    }
    assert(drop == 1)
  }

  test("pairs, components and kept ids equal the union-keyed formulation") {
    val expected = pairSet(unionKeyedPairs(corpus))
    assert(expected.size > 60) // near-dup chains + clones are found
    assert(pairSet(pairsOf(corpus)) == expected)

    def comps(df: DataFrame): Set[(Long, Long)] = df.as[(Long, Long)].collect().toSet
    val oracleComps = comps(Dedup.connectedComponents(unionKeyedPairs(corpus)))
    assert(oracleComps.map(_._2).size < oracleComps.size) // real clusters
    assert(comps(Dedup.connectedComponents(pairsOf(corpus), collectLimit = 0)) ==
      oracleComps)

    def kept(df: DataFrame): Set[Long] = df.select("doc_id").as[Long].collect().toSet
    val oracleKept = kept(Dedup.dropNearDuplicates(corpus, "doc_id", unionKeyedPairs(corpus)))
    assert(kept(Dedup.dropNearDuplicates(corpus, "doc_id", pairsOf(corpus),
      collectLimit = 0)) == oracleKept)
    assert(kept(Dedup.dropNearDuplicates(corpus, "doc_id", pairsOf(corpus),
      assumeCanonical = true)) == oracleKept)
  }
}
