package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Model-based quality filter on a hand-built corpus: prose vs junk
  * (symbol soup, keyword-stuffing repetition, markup sludge). The
  * point spec'd here is the CCNet/DCLM claim — a classifier trained
  * only on CONFIDENT extremes generalizes to docs the bootstrap
  * heuristic itself mis-scores, because it learns word identity, not
  * just ratios.
  */
class QualityClassifierSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // prose: ordinary sentences with normal stopword density
  private val prose = Seq(
    "The quick brown fox jumps over the lazy dog in the quiet garden",
    "She walked to the market in the morning and bought fresh bread",
    "Reading books in the evening helps you understand the world better",
    "The train arrives at the station at seven and leaves on the hour",
    "Many hands make light work when everyone in the team helps together",
    "A journey of a thousand miles begins with a single careful step",
    "The weather was beautiful and the children played outside all day",
    "He poured a cup of coffee with milk and sat down by the window",
    "The meeting was postponed until the following Thursday afternoon",
    "Fresh snow covered the hills and the valley below the old farm",
    "They planted tomatoes and beans along the fence behind the house",
    "The library opens at nine and the reading room stays quiet all day")

  // junk: symbol soup, repetition stuffing, markup sludge
  private val junk = Seq(
    "$$$ WIN NOW $$$ CLICK CLICK CLICK >>> http://x.example <<< !!!",
    "buy buy buy cheap cheap cheap pills pills pills now now now",
    "@@@@ ###### ****** %%%% ^^^^ &&&& (((( )))) ==== ++++ ~~~~",
    "img src href div span td tr table border=0 width=100% nbsp nbsp",
    "aaaaaaa bbbbbbb aaaaaaa bbbbbbb aaaaaaa bbbbbbb aaaaaaa bbbbbbb",
    "FREE!!! FREE!!! FREE!!! OFFER!!! OFFER!!! LIMITED!!! ACT!!! NOW!!!",
    "0x1f 0x2e 0x3d 0x4c 0x5b 0x6a 0x79 0x88 0x97 0xa6 0xb5 0xc4",
    "viagra casino poker casino viagra poker casino viagra poker loans",
    "||| ||| ||| --- --- --- ::: ::: ::: ;;; ;;; ;;; ... ... ...",
    "keyword1 keyword2 keyword3 keyword1 keyword2 keyword3 keyword1",
    "<<<<>>>> {{{{}}}} [[[[]]]] ((((())))) <><><><> }{}{}{}{",
    "download crack serial keygen torrent download crack serial keygen")

  private def corpus() = {
    val rows = prose.map(("hq", _)) ++ junk.map(("lq", _))
    rows.zipWithIndex.map { case ((l, t), i) => (i.toLong, l, t) }
      .toDF("id", "truth", "text")
  }

  test("selfTrain recovers the planted prose/junk split without labels") {
    val df = corpus()
    val model = QualityClassifier.selfTrain(df, "text",
      loQuantile = 0.3, hiQuantile = 0.7, buckets = 2048)
    assert(model.langs.toSeq == Seq("hq", "lq"))
    val preds = df.select($"truth",
      QualityClassifier.qualityLabel($"text", model).as("pred")).collect()
    val acc = preds.count(r => r.getString(0) == r.getString(1)).toDouble / preds.length
    assert(acc >= 0.9, s"self-trained accuracy $acc")
  }

  test("the model generalizes past the heuristic: stopword-free prose the heuristic calls junk") {
    val df = corpus()
    val model = QualityClassifier.selfTrain(df, "text",
      loQuantile = 0.3, hiQuantile = 0.7, buckets = 2048)
    // held-out CLEAN prose written without any of the listed stopwords
    // — the bootstrap heuristic scores it 0, i.e. junk-extreme, but
    // its character n-grams are ordinary English vocabulary seen all
    // over the hq training rows, so the model recovers it. This is
    // the point of training a model instead of thresholding the
    // heuristic: the heuristic's blind spots don't propagate.
    val plain = Seq(
      "Children play near tall oak trees while squirrels gather acorns",
      "Fresh bread smells wonderful when morning light fills every window")
    val heurScores = plain.toDF("text")
      .select(QualityClassifier.heuristicScore($"text")).collect()
      .map(_.getDouble(0))
    assert(heurScores.forall(_ == 0.0),
      "fixture drift: stopword-free prose no longer scores 0 on the heuristic")
    val preds = plain.toDF("text")
      .select(QualityClassifier.qualityLabel($"text", model)).collect()
      .map(_.getString(0))
    assert(preds.forall(_ == "hq"), s"model calls stopword-free prose ${preds.toSeq}")
  }

  test("fitLabeled takes exemplar corpora and rejects wrong label sets") {
    val df = corpus().withColumnRenamed("truth", "label")
    val model = QualityClassifier.fitLabeled(df, "label", "text")
    val preds = df.select($"label",
      QualityClassifier.qualityLabel($"text", model).as("pred")).collect()
    assert(preds.forall(r => r.getString(0) == r.getString(1)))
    val bad = Seq(("good", "some text"), ("bad", "other text"))
      .toDF("label", "text")
    val e = intercept[IllegalArgumentException] {
      QualityClassifier.fitLabeled(bad, "label", "text")
    }
    assert(e.getMessage.contains("hq"))
  }

  test("filterHq keeps prose, drops junk; und gate routes empty text conservatively") {
    val df = corpus()
    val model = QualityClassifier.selfTrain(df, "text",
      loQuantile = 0.3, hiQuantile = 0.7, buckets = 2048)
    val kept = QualityClassifier.filterHq(df, "text", model)
      .select("truth").collect().map(_.getString(0))
    assert(kept.count(_ == "hq") >= 11 && kept.count(_ == "lq") <= 1)
    val withBlank = df.unionByName(
      Seq((999L, "blank", "   ")).toDF("id", "truth", "text"))
    val keptUnd = QualityClassifier.filterHq(withBlank, "text", model,
      keepUnd = true).select("id").collect().map(_.getLong(0))
    assert(keptUnd.contains(999L))
    val dropUnd = QualityClassifier.filterHq(withBlank, "text", model)
      .select("id").collect().map(_.getLong(0))
    assert(!dropUnd.contains(999L))
  }

  test("degenerate corpus (heuristic can't separate) raises instead of fitting noise") {
    val same = (0 until 20).map(i => (i.toLong, "the cat sat on the mat"))
      .toDF("id", "text")
    val e = intercept[IllegalArgumentException] {
      QualityClassifier.selfTrain(same, "text")
    }
    assert(e.getMessage.contains("fitLabeled"))
  }

  test("empty / all-null corpus raises actionably instead of AIOOBE") {
    val empty = Seq.empty[(Long, String)].toDF("id", "text")
    val e1 = intercept[IllegalArgumentException] {
      QualityClassifier.selfTrain(empty, "text")
    }
    assert(e1.getMessage.contains("empty corpus"))
    val allNull = (0 until 5).map(i => (i.toLong, null: String)).toDF("id", "text")
    val e2 = intercept[IllegalArgumentException] {
      QualityClassifier.selfTrain(allNull, "text")
    }
    assert(e2.getMessage.contains("empty corpus"))
  }

  test("the trained model plugs into CorpusIngest's gate as a failReason") {
    val df = corpus()
    val model = QualityClassifier.selfTrain(df, "text",
      loQuantile = 0.3, hiQuantile = 0.7, buckets = 2048)
    // the streaming intake's gate contract is a Column => Column
    // failReason (null = keep) — the model-based gate composes with no
    // API change, replacing the Gopher heuristic where a trained
    // filter is wanted
    val modelGate: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => when(QualityClassifier.qualityLabel(c, model) === "lq",
        lit("quality_model_lq")).otherwise(lit(null).cast("string"))
    val batch = df.select($"id".as("doc_id"), $"truth", $"text")
    val empty = batch.filter(lit(false))
    val cleaned = graft.streaming.CorpusIngest.cleanBatch(
      batch, empty, failReason = modelGate)
    val kept = cleaned.select("truth").collect().map(_.getString(0))
    assert(kept.count(_ == "hq") >= 11 && kept.count(_ == "lq") <= 1,
      s"gate kept ${kept.toSeq}")
  }

  test("quality_train/quality_label/quality_filter pipeline nodes wire the classifier") {
    val dir = graft.TestDirs.create("graft_qc_nodes")
    val trainPq = dir.resolve("train").toString
    graft.sources.Writers.write(
      corpus().select($"id", $"truth", $"text"), trainPq, "parquet")
    val modelPath = dir.resolve("model").toString
    // self-trained via the pipeline surface (no label_column)
    val trainRun = graft.plans.PipelineJson.run(spark, s"""{
      "nodes": [
        {"id": "in", "type": "file_input",
         "data": {"config": {"path": "$trainPq", "format": "parquet"}}},
        {"id": "tr", "type": "quality_train",
         "data": {"config": {"column": "text", "model_path": "$modelPath",
           "lo_quantile": 0.3, "hi_quantile": 0.7, "buckets": 2048}}}
      ],
      "edges": [{"source": "in", "target": "tr"}]
    }""")
    assert(trainRun.nodeLog.exists { case (id, msg) =>
      id == "tr" && msg.contains("self-trained") }, trainRun.nodeLog.toString)
    // label + filter nodes against the persisted artifact
    val out = graft.plans.PipelineJson.run(spark, s"""{
      "nodes": [
        {"id": "in", "type": "file_input",
         "data": {"config": {"path": "$trainPq", "format": "parquet"}}},
        {"id": "lab", "type": "quality_label",
         "data": {"config": {"column": "text", "model_path": "$modelPath"}}},
        {"id": "flt", "type": "quality_filter",
         "data": {"config": {"column": "text", "model_path": "$modelPath"}}}
      ],
      "edges": [{"source": "in", "target": "lab"},
                {"source": "lab", "target": "flt"}]
    }""")
    val labeled = out.outputs("lab").select("truth", "quality_pred").collect()
    val acc = labeled.count(r => r.getString(0) == r.getString(1)).toDouble / labeled.length
    assert(acc >= 0.9, s"node-surface accuracy $acc")
    val kept = out.outputs("flt").select("truth").collect().map(_.getString(0))
    assert(kept.count(_ == "hq") >= 11 && kept.count(_ == "lq") <= 1)
    // exemplar-labeled training path via the same node
    val m2 = dir.resolve("model2").toString
    val labeledRun = graft.plans.PipelineJson.run(spark, s"""{
      "nodes": [
        {"id": "in", "type": "file_input",
         "data": {"config": {"path": "$trainPq", "format": "parquet"}}},
        {"id": "tr", "type": "quality_train",
         "data": {"config": {"column": "text", "label_column": "truth",
           "model_path": "$m2"}}}
      ],
      "edges": [{"source": "in", "target": "tr"}]
    }""")
    assert(labeledRun.nodeLog.exists { case (id, msg) =>
      id == "tr" && msg.contains("exemplar-labeled") })
  }

  test("model save/load roundtrip through LangId persistence") {
    val df = corpus()
    val model = QualityClassifier.selfTrain(df, "text",
      loQuantile = 0.3, hiQuantile = 0.7, buckets = 2048)
    val path = graft.TestDirs.create("graft_qc").toString
    LangId.save(spark, model, path)
    val loaded = LangId.load(spark, path)
    val a = df.select(QualityClassifier.qualityLabel($"text", model)).collect()
    val b = df.select(QualityClassifier.qualityLabel($"text", loaded)).collect()
    assert(a.toSeq == b.toSeq)
  }
}
