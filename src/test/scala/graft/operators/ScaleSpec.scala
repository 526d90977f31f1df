package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.sources.Writers

/** Scale-mechanics specs: salted skew joins and bucketed co-located
  * joins — the two manual layout levers beyond AQE.
  */
class ScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("saltedJoin returns exactly the plain join's rows under skew") {
    // one hot key (90% of rows) + tail
    val large = ((1 to 900).map(i => (1L, i.toLong)) ++
      (1 to 100).map(i => (i.toLong + 1, i.toLong))).toDF("k", "rowid")
    val small = Seq((1L, "hot"), (2L, "a"), (3L, "b")).toDF("k2", "name")

    val plain = large.join(small, large("k") === small("k2"))
      .select("rowid", "name").collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val salted = SkewJoin.saltedJoin(large, small, "k", "k2", "rowid", salts = 8)
      .select("rowid", "name").collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(salted.toSeq == plain.toSeq)
    assert(salted.count(_._2 == "hot") == 900)
    // plan pin: NEVER a broadcast — salting is the no-broadcast regime
    // by definition, and Catalyst's explode size estimate (child's
    // bytes, salts× under reality) booked a 13.7 GiB "small" side into
    // the 8 GiB broadcast hard cap at sf100 before the merge hint
    val plan = SkewJoin.saltedJoin(large, small, "k", "k2", "rowid", salts = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin") && !plan.contains("BroadcastExchange"),
      plan.take(2000))
    assert(plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("degenerate-bucket guard bounds mass-duplicate clusters in every near-dup family") {
    // 10k identical docs = one bucket of 10k signatures = 50M pairs if
    // unguarded. With the guard, the cluster's buckets are dropped
    // whole (exact dedup's job, not pairwise enumeration) while a
    // planted pair outside the cluster is still found.
    val clones = (1 to 10000).map(i =>
      (i.toLong, "the same mass duplicated document body repeated verbatim"))
    val pairDocs = Seq(
      (20001L, "an entirely different and unique near dup candidate text body"),
      (20002L, "an entirely different and unique near dup candidate text body"))
    val docs = (clones ++ pairDocs).toDF("doc_id", "text")

    val sim = Dedup.simHashNearDups(docs, "doc_id", "text",
      maxHamming = 3, maxBucketSize = 100).collect()
    assert(sim.length == 1 && sim.head.getLong(0) == 20001L, sim.mkString(","))

    val mh = Dedup.minHashNearDups(docs, "doc_id", "text",
      shingleN = 3, threshold = 1.0, maxBucketSize = 100).collect()
    assert(mh.length == 1 && mh.head.getLong(0) == 20001L, mh.mkString(","))

    val vecs = ((1 to 10000).map(i => (i.toLong, Array(1.0f, 2.0f, 3.0f, 4.0f))) ++
      Seq((20001L, Array(-4.0f, 3.0f, -2.0f, 1.0f)),
          (20002L, Array(-4.0f, 3.0f, -2.0f, 1.0f)))).toDF("vec_id", "embedding")
    val ed = Similarity.embeddingNearDups(vecs, "vec_id", "embedding",
      threshold = 0.99, numPlanes = 6, maxBucketSize = 100).collect()
    assert(ed.length == 1 && ed.head.getLong(0) == 20001L, ed.mkString(","))
  }

  test("bucket-local pair generation plans exactly two shuffles, no joins") {
    // simhash and embedding near-dup: bucket aggregate + distinct are
    // the ONLY exchanges; the pair explode and the rerank are in-row.
    val docs = (1 to 100).map(i => (i.toLong, s"tok$i alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val simPlan = Dedup.simHashNearDups(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!simPlan.contains("Join"), simPlan.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(simPlan).size == 2, simPlan.take(3000))

    // embedding: each vector lives in exactly ONE bucket, so no pair
    // can be generated twice — no distinct, a single shuffle total.
    val vecs = (1 to 100).map(i => (i.toLong, Array(i.toFloat, 1.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val edPlan = Similarity.embeddingNearDups(vecs, "vec_id", "embedding", numPlanes = 4)
      .queryExecution.executedPlan.toString
    assert(!edPlan.contains("Join"), edPlan.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(edPlan).size == 1, edPlan.take(3000))
  }

  test("minhash signature staging to parquet matches the persist path") {
    val docs = Seq(
      (1L, "aa bb cc dd ee ff"), (2L, "aa bb cc dd ee ff"),
      (3L, "zz yy xx ww vv uu")).toDF("doc_id", "text")
    val dir = graft.TestDirs.create("graft_stage").resolve("sig").toString
    val staged = Dedup.minHashNearDups(docs, "doc_id", "text",
        threshold = 1.0, stageDir = Some(dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val persisted = Dedup.minHashNearDups(docs, "doc_id", "text", threshold = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(staged.toSeq == Seq((1L, 2L)) && persisted.toSeq == staged.toSeq)
    // the staged index is real parquet on disk
    assert(TestSpark.spark.read.parquet(dir).columns.toSet == Set("_id", "_hsh"))
  }

  test("sequence packing distributes a dominant language across bucket tasks") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.sum
    // 95% of docs in ONE language — the real-corpus shape where a
    // per-lang window would serialize the whole corpus onto one task
    val docs = (1 to 2000).map { i =>
      val lang = if (i % 20 == 0) "de" else "en"
      (i.toLong, lang, (i % 37 + 1).toLong)
    }.toDF("doc_id", "lang", "n_tokens")

    val packed = SequencePack.assignBins(docs,
      keyCol = "lang", orderCol = "doc_id", weightCol = "n_tokens",
      budget = 256, bucketWidth = 128)

    // identical output to the single-window formulation by construction
    val w = Window.partitionBy("lang").orderBy("doc_id")
    val naive = docs.withColumn("_cum", sum($"n_tokens").over(w))
      .withColumn("bin_id", org.apache.spark.sql.functions.expr("(_cum - n_tokens) DIV 256"))
      .drop("_cum")
    val got = packed.select("doc_id", "bin_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val want = naive.select("doc_id", "bin_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == want)

    // plan pin: the DATA-side window (the one ordered by doc_id)
    // partitions by (lang, _bkt) — the dominant language spreads
    // across its ~16 doc_id-range buckets. A window partitioned by
    // lang alone and ordered by doc_id would be the hot-key trap (one
    // task sorting 95% of the rows). Phase 2's window IS lang-alone
    // but runs over the per-bucket aggregate (ordered by _bkt, one row
    // per bucket) — allowed. Window prints partition/order specs as
    // `], [partCols], [orderCols]`.
    val p = packed.queryExecution.executedPlan.toString
    val dataWindowBucketed = """\[lang#\d+, _bkt#\d+L?\], \[doc_id#""".r
    val dataWindowHotKey = """\[lang#\d+\], \[doc_id#""".r
    assert(dataWindowBucketed.findFirstIn(p).isDefined,
      "no (lang, _bkt)-partitioned data window:\n" + p.take(4000))
    assert(dataWindowHotKey.findFirstIn(p).isEmpty,
      "a window partitions by lang alone over the data:\n" + p.take(4000))
  }

  test("token-shard writer: hive layout by (lang, bin), bin totals near budget") {
    val docs = (1 to 300).map(i =>
      (i.toLong, if (i % 10 == 0) "de" else "en", (i % 29 + 1).toLong))
      .toDF("doc_id", "lang", "n_tokens")
    val dir = graft.TestDirs.create("graft_shards")
      .resolve("out").toString
    Writers.writeTokenShards(docs, dir, "lang", "doc_id", "n_tokens",
      budget = 128, bucketWidth = 32)
    val back = spark.read.parquet(dir)
    assert(back.count() == 300)
    val dirs = new java.io.File(dir).listFiles.filter(_.isDirectory).map(_.getName)
    assert(dirs.toSet == Set("lang=en", "lang=de"))
    // a bin holds the docs STARTING inside its budget window, so its
    // total is < budget + the max single-doc weight
    val sums = back.groupBy("lang", "bin_id")
      .agg(org.apache.spark.sql.functions.sum("n_tokens").as("s")).collect()
    assert(sums.nonEmpty && sums.forall(_.getAs[Long]("s") <= 128 + 29))
    // and shards are pruned by partition filter when reading one bin
    val one = back.filter(col("lang") === "en" && col("bin_id") === 0)
    val p = one.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("bin_id")), p.take(3000))
  }

  test("bucketed tables join without an exchange") {
    // warehouse dir is a static conf — default ./spark-warehouse is fine
    val a = (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "av")
    val b = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "bv")
    Writers.bucketedTable(a, "graft_bucket_a", "k", 4)
    Writers.bucketedTable(b, "graft_bucket_b", "k", 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a sort-merge join so the bucket layout (not a broadcast)
      // is what avoids the shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_bucket_a")
        .join(spark.table("graft_bucket_b"), "k")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(3000))
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(3000))
      assert(joined.count() == 1000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_bucket_a")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_b")
    }
  }
}
