package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextSignatures

/** Unigram-LM tokenizer training (Kudo, ACL 2018 — the SentencePiece
  * unigram model): the OTHER standard subword tokenizer next to BPE.
  * Where BPE greedily grows a merge table bottom-up, the unigram model
  * starts from a LARGE seed vocabulary of candidate pieces, fits piece
  * probabilities by EM over each word's segmentation lattice, and
  * prunes low-contribution pieces until the target vocabulary size —
  * encoding is then the Viterbi-best segmentation under the fitted
  * probabilities.
  *
  * 100 TB shape — identical to [[BpeTrain]] by design: the ONLY
  * corpus-scale work is the one word-count aggregate (map-side
  * combined, one shuffle, ONE action with the `maxWords` guard riding
  * on a limit); EM and pruning run on the collected (word, count)
  * histogram, whose size is Zipf-bounded and `minCount`-pruned, not
  * data-bounded. Driving EM through Spark jobs would pay the per-job
  * floor per iteration for a model that fits in kilobytes.
  *
  * Pruning note: Kudo's full recipe scores each piece by the
  * likelihood LOSS of removing it (re-segmenting its occurrences);
  * this implementation uses the standard simplification of pruning by
  * expected usage count (the dominant term of that loss), keeping all
  * single characters unconditionally so every string stays
  * segmentable. Unknown characters at encode time segment as
  * themselves under a fixed UNK penalty instead of failing.
  *
  * Determinism: EM arithmetic is fixed-order over the sorted word
  * histogram; pruning ties break lexicographically; Viterbi ties
  * prefer the FEWER-piece segmentation, then lexicographic piece
  * choice — byte-for-byte reproducible on any partitioning.
  */
object UnigramLm {

  /** piece → log probability. `unkLogProb` scores any single unseen
    * character at encode time (floor well below every real piece).
    */
  final case class Model(logProb: Map[String, Double], unkLogProb: Double) {
    require(logProb.nonEmpty, "unigram: empty vocabulary")
    def vocabSize: Int = logProb.size
    // longest piece bounds the Viterbi window; lazy so a broadcast
    // deserialization recomputes it once per executor, not per word
    @transient lazy val maxLen: Int = logProb.keysIterator.map(_.length).max
  }

  private val MemoCap = 65536

  /** Learn a `vocabSize`-piece model. One corpus action (the word
    * histogram); everything after is driver-local on the bounded
    * model.
    */
  def train(df: DataFrame, textCol: String, vocabSize: Int,
      minCount: Long = 1L, maxWords: Int = 1000000,
      maxPieceLen: Int = 8, emIters: Int = 2, shrink: Double = 0.75): Model = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(maxWords >= 1, s"maxWords must be >= 1, got $maxWords")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    require(emIters >= 1, s"emIters must be >= 1, got $emIters")
    require(shrink > 0 && shrink < 1, s"shrink must be in (0,1), got $shrink")
    val rows = graft.Conf.collectUpTo(BpeTrain.wordCounts(df, textCol, minCount), maxWords)
      .getOrElse(throw new IllegalArgumentException(
        s"unigram vocabulary exceeds maxWords=$maxWords distinct words: raise " +
          "minCount (Zipf: a count floor bounds the tail) or raise the cap"))
    trainLocal(rows.map(r => r.getString(0) -> r.getLong(1)),
      vocabSize, maxPieceLen, emIters, shrink)
  }

  /** The EM + prune loop over a collected (word, count) histogram —
    * exposed for spec-level scrutiny.
    */
  private[operators] def trainLocal(wordsIn: Array[(String, Long)],
      vocabSize: Int, maxPieceLen: Int, emIters: Int,
      shrink: Double): Model = {
    val words = wordsIn.sortBy(_._1) // fixed accumulation order
    require(words.nonEmpty, "unigram: no words to train on")
    import scala.collection.mutable
    // ---- seed: all substrings ≤ maxPieceLen scored by freq × len
    val seedScore = mutable.HashMap.empty[String, Long]
    words.foreach { case (w, c) =>
      var i = 0
      while (i < w.length) {
        var j = i + 1
        while (j <= math.min(w.length, i + maxPieceLen)) {
          val p = w.substring(i, j)
          seedScore.update(p, seedScore.getOrElse(p, 0L) + c * p.length)
          j += 1
        }
        i += 1
      }
    }
    val chars: Set[String] = words.flatMap(_._1.map(_.toString)).toSet
    val seedSize = math.max(vocabSize * 4, chars.size + vocabSize)
    val multi = seedScore.iterator.filter(_._1.length > 1).toSeq
      .sortBy { case (p, s) => (-s, p) }.take(seedSize - chars.size).map(_._1)
    var vocab: Set[String] = chars ++ multi
    // uniform init over the seed
    var logp: Map[String, Double] =
      vocab.iterator.map(_ -> math.log(1.0 / vocab.size)).toMap

    def logsumexp(a: Double, b: Double): Double =
      if (a == Double.NegativeInfinity) b
      else if (b == Double.NegativeInfinity) a
      else { val m = math.max(a, b); m + math.log(math.exp(a - m) + math.exp(b - m)) }

    // E-step over one word's lattice: returns (expected piece counts
    // added into `acc` scaled by wordCount, word log-likelihood)
    def eStep(w: String, c: Long, acc: mutable.HashMap[String, Double]): Double = {
      val n = w.length
      val alpha = Array.fill(n + 1)(Double.NegativeInfinity)
      val beta = Array.fill(n + 1)(Double.NegativeInfinity)
      alpha(0) = 0.0
      var i = 1
      while (i <= n) {
        var j = math.max(0, i - maxPieceLen)
        while (j < i) {
          val p = w.substring(j, i)
          logp.get(p).foreach { lp =>
            alpha(i) = logsumexp(alpha(i), alpha(j) + lp)
          }
          j += 1
        }
        i += 1
      }
      beta(n) = 0.0
      i = n - 1
      while (i >= 0) {
        var j = math.min(n, i + maxPieceLen)
        while (j > i) {
          val p = w.substring(i, j)
          logp.get(p).foreach { lp =>
            beta(i) = logsumexp(beta(i), lp + beta(j))
          }
          j -= 1
        }
        i -= 1
      }
      val ll = alpha(n)
      if (ll != Double.NegativeInfinity) {
        i = 0
        while (i < n) {
          var j = i + 1
          while (j <= math.min(n, i + maxPieceLen)) {
            val p = w.substring(i, j)
            logp.get(p).foreach { lp =>
              val post = math.exp(alpha(i) + lp + beta(j) - ll)
              if (post > 0) acc.update(p, acc.getOrElse(p, 0.0) + post * c)
            }
            j += 1
          }
          i += 1
        }
      }
      ll * c
    }

    def emRound(): (mutable.HashMap[String, Double], Double) = {
      val acc = mutable.HashMap.empty[String, Double]
      var ll = 0.0
      words.foreach { case (w, c) => ll += eStep(w, c, acc) }
      (acc, ll)
    }

    // ---- EM + prune until the vocabulary reaches the target
    var doneShrinking = false
    while (!doneShrinking) {
      var it = 0
      var usage: mutable.HashMap[String, Double] = null
      while (it < emIters) {
        val (acc, _) = emRound()
        usage = acc
        val total = acc.values.sum
        // M-step; pieces with zero expected usage keep a floor so the
        // lattice never loses single chars mid-EM
        logp = vocab.iterator.map { p =>
          val e = acc.getOrElse(p, 0.0)
          p -> (if (e > 0) math.log(e / total) else math.log(1e-10 / total))
        }.toMap
        it += 1
      }
      if (vocab.size <= math.max(vocabSize, chars.size)) doneShrinking = true
      else {
        val target = math.max(math.max(vocabSize, chars.size),
          (vocab.size * shrink).toInt)
        val keepMulti = vocab.iterator.filter(_.length > 1).toSeq
          .sortBy(p => (-usage.getOrElse(p, 0.0), p))
          .take(target - chars.size)
        vocab = chars ++ keepMulti
        logp = logp.filter { case (p, _) => vocab.contains(p) }
      }
    }
    // UNK penalty: 10 nats under the worst kept piece
    val floor = logp.values.min - 10.0
    Model(logp, floor)
  }

  /** Viterbi-best segmentation of one word. Unknown characters segment
    * as single-char pieces at the UNK penalty. Ties prefer FEWER
    * pieces, then the lexicographically-smaller piece at the latest
    * decision point — deterministic everywhere.
    */
  def encodeWord(word: String, m: Model): Seq[String] = {
    if (word.isEmpty) return Seq.empty
    val n = word.length
    val maxLen = m.maxLen
    // best(i) = (score, pieces, backPtr, pieceEndingHere)
    val score = Array.fill(n + 1)(Double.NegativeInfinity)
    val nPieces = Array.fill(n + 1)(Int.MaxValue)
    val back = Array.fill(n + 1)(-1)
    val piece = Array.fill[String](n + 1)(null)
    score(0) = 0.0
    nPieces(0) = 0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxLen)
      while (j < i) {
        val p = word.substring(j, i)
        val lpOpt =
          if (m.logProb.contains(p)) Some(m.logProb(p))
          else if (i - j == 1) Some(m.unkLogProb) // unknown char
          else None
        lpOpt.foreach { lp =>
          if (score(j) != Double.NegativeInfinity) {
            val s = score(j) + lp
            val np = nPieces(j) + 1
            val better = s > score(i) + 1e-12 ||
              (math.abs(s - score(i)) <= 1e-12 &&
                (np < nPieces(i) ||
                  (np == nPieces(i) && piece(i) != null && p < piece(i))))
            if (better) {
              score(i) = s; nPieces(i) = np; back(i) = j; piece(i) = p
            }
          }
        }
        j += 1
      }
      i += 1
    }
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var at = n
    while (at > 0) { out.prepend(piece(at)); at = back(at) }
    out.toList
  }

  /** Tokenize a corpus: adds `unigram_tokens` + `unigram_n_tokens`
    * (withColumn replace semantics). One mapPartitions pass, per-word
    * memo capped like [[BpeTrain.encode]].
    */
  def encode(df: DataFrame, textCol: String, m: Model): DataFrame = {
    val base = df.drop("unigram_tokens", "unigram_n_tokens")
    val spark = base.sparkSession
    val mB = spark.sparkContext.broadcast(m)
    import org.apache.spark.sql.types._
    val outSchema = StructType(base.schema.fields ++ Seq(
      StructField("unigram_tokens", ArrayType(StringType, containsNull = false)),
      StructField("unigram_n_tokens", IntegerType, nullable = false)))
    val idx = base.schema.fieldIndex(textCol)
    base.mapPartitions { rows =>
      val memo = new java.util.HashMap[String, Seq[String]]()
      val model = mB.value
      rows.map { r =>
        val text = r.getString(idx)
        val toks =
          if (text == null) Seq.empty[String]
          // strip the end-of-word sentinel exactly as training
          // (BpeTrain.wordCounts) and BpeTrain.encode do — a raw
          // sentinel in user text must not segment via UNK
          else TextSignatures.jvmTokens(text.replace(BpeTrain.EndOfWord, ""))
            .toSeq.filter(_.nonEmpty)
            .flatMap { w =>
              val hit = memo.get(w)
              if (hit != null) hit
              else {
                val enc = encodeWord(w, model)
                if (memo.size < MemoCap) memo.put(w, enc)
                enc
              }
            }
        org.apache.spark.sql.Row.fromSeq(r.toSeq ++ Seq(toks, toks.size))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Count-only twin for token budgeting — the [[BpeTrain.countTokens]]
    * contract: bit-identical to `size(encode(...).unigram_tokens)`,
    * but the piece array never materializes.
    */
  def countTokens(df: DataFrame, textCol: String, m: Model,
      outCol: String = "unigram_n_tokens"): DataFrame = {
    val base = df.drop(outCol)
    val spark = base.sparkSession
    val mB = spark.sparkContext.broadcast(m)
    import org.apache.spark.sql.types._
    val outSchema = StructType(base.schema.fields :+
      StructField(outCol, IntegerType, nullable = false))
    val idx = base.schema.fieldIndex(textCol)
    base.mapPartitions { rows =>
      val memo = new java.util.HashMap[String, Integer]()
      val model = mB.value
      rows.map { r =>
        val text = r.getString(idx)
        val n =
          if (text == null) 0
          else TextSignatures.jvmTokens(text.replace(BpeTrain.EndOfWord, ""))
            .iterator.filter(_.nonEmpty)
            .map { w =>
              val hit = memo.get(w)
              if (hit != null) hit.intValue
              else {
                val c = encodeWord(w, model).size
                if (memo.size < MemoCap) memo.put(w, c)
                c
              }
            }.sum
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ n)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Persist / load the model (tiny parquet sidecar, like LangId). */
  def save(spark: SparkSession, m: Model, path: String): Unit = {
    import spark.implicits._
    (m.logProb.toSeq.map { case (p, lp) => (p, lp, false) } :+
      (("", m.unkLogProb, true)))
      .toDF("piece", "logp", "is_unk")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def load(spark: SparkSession, path: String): Model = {
    val rows = graft.sources.Readers.parquet(spark, path).collect()
    val unk = rows.find(_.getAs[Boolean]("is_unk"))
      .map(_.getAs[Double]("logp"))
      .getOrElse(throw new IllegalArgumentException(
        s"unigram: no unk row under $path — not a saved unigram model"))
    Model(rows.filter(!_.getAs[Boolean]("is_unk"))
      .map(r => r.getAs[String]("piece") -> r.getAs[Double]("logp")).toMap, unk)
  }
}
