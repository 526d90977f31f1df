package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Property test: the two-phase distributed prefix sum must equal the
  * naive single-window cumsum for ANY key skew, weight distribution,
  * id spacing and bucket width — bucketWidth is a pure parallelism
  * knob, never a semantics knob. Bucket boundaries (ids straddling
  * multiples of the width, empty buckets from sparse ids, single-row
  * buckets) are exactly where prefix-sum implementations break, and
  * random data hits them far more often than hand-picked cases.
  */
class SequencePackPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("assignBins == single-window cumsum for arbitrary data (60 cases)") {
    val genCase = for {
      bucketWidth <- Gen.choose(1L, 40L)
      budget <- Gen.choose(1L, 300L)
      n <- Gen.choose(0, 60)
      // sparse, clustered ids: multiply a dense index by a random
      // stride so some buckets are empty and others dense
      stride <- Gen.choose(1L, 30L)
      rows <- Gen.listOfN(n, for {
        key <- Gen.oneOf("en", "de", "zh") // skew comes from oneOf bias
        w <- Gen.choose(0L, 100L)
      } yield (key, w))
    } yield (bucketWidth, budget, stride, rows)

    val prop = Prop.forAll(genCase) { case (bucketWidth, budget, stride, rows) =>
      val df = rows.zipWithIndex.map { case ((k, w), i) =>
        (i.toLong * stride, k, w)
      }.toDF("doc_id", "lang", "n_tokens")

      val got = SequencePack.assignBins(df, "lang", "doc_id", "n_tokens",
          budget = budget, bucketWidth = bucketWidth)
        .select("doc_id", "bin_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

      val w = Window.partitionBy("lang").orderBy("doc_id")
      val want = df
        .withColumn("_cum", sum($"n_tokens").over(w))
        .withColumn("bin_id", expr(s"(_cum - n_tokens) DIV $budget"))
        .select("doc_id", "bin_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

      got == want
    }
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, res.status.toString)
  }

  test("BPE-budgeted bins: real tokenizer counts drive the bins where the " +
      "whitespace proxy disagrees materially") {
    // short common words + long compound words: a small merge table
    // reassembles the common words to ~1-2 subwords but shatters the
    // compounds into many — whitespace counting sees 3 tokens per doc
    // either way
    val common = Seq("the cat sat", "the dog ran", "the cat ran",
      "the dog sat", "a cat sat", "a dog ran")
    val compounds = Seq(
      "Donaudampfschifffahrtsgesellschaft electroencephalographically " +
        "floccinaucinihilipilification",
      "pneumonoultramicroscopicsilicovolcanoconiosis " +
        "antidisestablishmentarianism honorificabilitudinitatibus")
    val docs = (common ++ compounds ++ common ++ compounds).zipWithIndex
      .map { case (t, i) => (i.toLong, "en", t) }
      .toDF("doc_id", "lang", "text")
    val merges = BpeTrain.train(docs, "text", numMerges = 40)

    // the count-only kernel is bit-identical to size(encode(...))
    val counted = BpeTrain.countTokens(docs, "text", merges)
    val full = BpeTrain.encode(docs, "text", merges)
      .select($"doc_id", size($"bpe_tokens").as("n"))
    val disagree = counted.select($"doc_id", $"bpe_n_tokens")
      .join(full, "doc_id")
      .filter($"bpe_n_tokens" =!= $"n").count()
    assert(disagree == 0)

    // the two counters disagree materially on the compounds
    val ratios = counted
      .withColumn("ws", graft.functions.TextFunctions.wsTokenCount($"text"))
      .select($"doc_id", ($"bpe_n_tokens" / $"ws").as("ratio"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ratios.values.max > 3.0,
      s"compound docs no longer expand under BPE: $ratios")

    // bin totals hold under the BPE counts: recompute the running
    // start per doc from the REAL counts and check every assignment
    val binned = SequencePack.assignBinsBpe(docs, "lang", "doc_id", "text",
      merges, budget = 40L, bucketWidth = 5L)
    val w = Window.partitionBy("lang").orderBy("doc_id")
    val check = binned
      .withColumn("_cum", sum($"bpe_n_tokens").over(w))
      .withColumn("_want", expr("(_cum - bpe_n_tokens) DIV 40"))
      .filter($"bin_id" =!= $"_want").count()
    assert(check == 0)
    // and the whitespace-budgeted binning puts at least one doc in a
    // DIFFERENT bin — the counter is load-bearing, not cosmetic
    val wsBinned = SequencePack.assignBins(
      docs.withColumn("ws",
        graft.functions.TextFunctions.wsTokenCount($"text").cast("long")),
      "lang", "doc_id", "ws", budget = 40L, bucketWidth = 5L)
      .select($"doc_id", $"bin_id".as("ws_bin"))
    val moved = binned.select($"doc_id", $"bin_id").join(wsBinned, "doc_id")
      .filter($"bin_id" =!= $"ws_bin").count()
    assert(moved > 0)
  }

  test("writeTokenShardsBpe: shard directories hold ≈budget real tokens per (key, bin)") {
    val docs = (0 until 40).map { i =>
      (i.toLong, if (i % 4 == 0) "de" else "en",
        if (i % 3 == 0) "internationalization localization modularization"
        else "the cat sat on the mat")
    }.toDF("doc_id", "lang", "text")
    val merges = BpeTrain.train(docs, "text", numMerges = 30)
    val out = graft.TestDirs.create("graft_shards_bpe").toString
    graft.sources.Writers.writeTokenShardsBpe(docs, out,
      "lang", "doc_id", "text", merges, budget = 60L, bucketWidth = 7L)
    val back = spark.read.parquet(out)
    assert(back.count() == 40)
    assert(back.columns.contains("bin_id") && back.columns.contains("lang")
      && back.columns.contains("bpe_n_tokens"))
    // every shard's docs START inside its budget window: running
    // start (from the real counts) div budget == the directory's bin
    val w = Window.partitionBy("lang").orderBy("doc_id")
    val bad = back
      .withColumn("_cum", sum($"bpe_n_tokens").over(w))
      .filter(expr("(_cum - bpe_n_tokens) DIV 60") =!= $"bin_id").count()
    assert(bad == 0)
  }
}
