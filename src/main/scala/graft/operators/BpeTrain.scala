package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextSignatures

/** Byte-pair-encoding tokenizer training (Sennrich, Haddow & Birch,
  * ACL 2016) — the "train the tokenizer on the corpus" step of a
  * pretraining data pipeline.
  *
  * 100 TB shape: the ONLY corpus-scale work is one word-count
  * aggregate (map-side combined, one shuffle on the word), executed as
  * ONE action. BPE merges operate on the distinct-WORD table, whose
  * size is the vocabulary — Zipf-bounded and `minCount`-pruned, NOT
  * data-bounded — so the merge loop runs on the collected
  * (word, count) model exactly like [[DomainMix]]'s rate table and
  * [[Dsir]]'s ratio table: the collected side stays fixed-size as the
  * data grows. A `maxWords` guard raises actionably instead of
  * collecting an unbounded vocabulary (raise `minCount`, the standard
  * Zipf lever). Driving the merge loop through Spark jobs instead
  * (numMerges rounds of tiny aggregates) would pay the per-job floor
  * thousands of times over for a model that fits in one executor's
  * smallest slice.
  *
  * The loop itself is the reference learn-bpe shape: pair statistics
  * update INCREMENTALLY — each merge touches only the words that
  * contain the merged pair (found via a pair→words index) — never a
  * full recount of every word per round.
  *
  * Determinism: pair counts are exact integers; the argmax tie-break
  * is (count DESC, left ASC, right ASC) — byte-for-byte reproducible
  * merges on any partitioning.
  */
object BpeTrain {

  /** End-of-word sentinel (classic BPE): lets a merge learn that a
    * subword is word-final, and makes decoding unambiguous. A
    * private-use-area char (U+E000) rather than the classic `</w>`
    * STRING, which merges could assemble from a word containing `<`,
    * `/`, `w`, `>`. Crawl text CAN carry PUA chars (icon fonts,
    * mojibake), so both tokenization halves strip U+E000 from input —
    * making the sentinel collision-proof by construction, not by hope.
    */
  val EndOfWord = "\uE000"

  /** Bound on the per-partition encode memo: Zipf means a small cache
    * keeps nearly all the hit rate, and the noisy long tail (URLs, hex
    * ids — unbounded in crawl data) must not grow executor state.
    */
  private val MemoCap = 65536

  /** Distributed (word, count) aggregate — the corpus-scale step.
    * Words are whitespace tokens of lowercased text (the library's
    * standard tokenization), with the U+E000 sentinel stripped.
    */
  def wordCounts(df: DataFrame, textCol: String, minCount: Long = 1L): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    df.select(explode(split(lower(trim(
        translate(col(textCol), EndOfWord, ""))), "\\s+")).as("_w"))
      .filter(col("_w") =!= "")
      .groupBy("_w").agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= minCount)
  }

  /** Learn `numMerges` merges. Returns them in rank order. */
  def train(
      df: DataFrame, textCol: String, numMerges: Int,
      minCount: Long = 1L, maxWords: Int = 1000000): Seq[(String, String)] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(maxWords >= 1, s"maxWords must be >= 1, got $maxWords")
    // ONE action: the corpus is scanned and shuffled exactly once
    val rows = graft.Conf.collectUpTo(wordCounts(df, textCol, minCount), maxWords)
      .getOrElse(throw new IllegalArgumentException(
        s"BPE vocabulary exceeds maxWords=$maxWords distinct words: raise " +
          "minCount (Zipf: a count floor bounds the tail) or raise the cap"))
    trainLocal(rows.map(r => r.getString(0) -> r.getLong(1)), numMerges)
  }

  /** The merge loop over a collected (word, count) model — exposed for
    * spec-level equivalence against reference implementations.
    * Incremental: a pair→words index confines each round's stats
    * update to the words actually containing the merged pair; the
    * argmax is a full scan of the live pair-count map (the reference
    * implementation's shape), whose size is symbols-bounded.
    */
  private[operators] def trainLocal(
      words: Array[(String, Long)], numMerges: Int): Seq[(String, String)] =
    trainLocalSeqs(
      words.map { case (w, _) => w.map(_.toString).toArray :+ EndOfWord },
      words.map(_._2), numMerges)

  /** The merge loop proper, over pre-built symbol sequences — shared
    * with [[ByteBpe]] (byte-level symbols, no sentinel). Mutates
    * nothing outside; `seqs` is copied defensively by callers that
    * reuse their arrays.
    */
  private[operators] def trainLocalSeqs(
      seqs0: Array[Array[String]], cnts: Array[Long],
      numMerges: Int): Seq[(String, String)] = {
    import scala.collection.mutable
    val seqs: Array[Array[String]] = seqs0
    val pairCounts = mutable.HashMap.empty[(String, String), Long]
    // pair → indices of words that contained the pair when last
    // indexed; entries go stale when a word is rebuilt (lazy deletion:
    // consumers re-verify against the word's current symbols)
    val pairWords = mutable.HashMap.empty[(String, String), mutable.BitSet]

    def pairsOf(s: Array[String]): Iterator[(String, String)] =
      (0 until s.length - 1).iterator.map(j => (s(j), s(j + 1)))
    def index(i: Int, sign: Long): Unit = pairsOf(seqs(i)).foreach { k =>
      val next = pairCounts.getOrElse(k, 0L) + sign * cnts(i)
      if (next == 0L) pairCounts.remove(k) else pairCounts.update(k, next)
      if (sign > 0) pairWords.getOrElseUpdate(k, mutable.BitSet.empty) += i
    }
    seqs.indices.foreach(index(_, 1L))

    def applyMerge(s: Array[String], l: String, r: String): Array[String] = {
      val out = new mutable.ArrayBuffer[String](s.length)
      var j = 0
      while (j < s.length) {
        if (j < s.length - 1 && s(j) == l && s(j + 1) == r) {
          out += (l + r); j += 2
        } else { out += s(j); j += 1 }
      }
      out.toArray
    }

    val merges = Seq.newBuilder[(String, String)]
    var done = false
    var r = 0
    while (r < numMerges && !done) {
      if (pairCounts.isEmpty) done = true
      else {
        val best = pairCounts.minBy { case ((l, rr), c) => (-c, l, rr) }._1
        merges += best
        val touched = pairWords.remove(best).getOrElse(mutable.BitSet.empty)
        touched.foreach { i =>
          // stale-entry check: the word may have been rebuilt since
          val has = pairsOf(seqs(i)).contains(best)
          if (has) {
            index(i, -1L)
            seqs(i) = applyMerge(seqs(i), best._1, best._2)
            index(i, 1L)
          }
        }
        pairCounts.remove(best) // defensive: fully consumed by rebuilds
        r += 1
      }
    }
    merges.result()
  }

  /** Segment one word with a trained merge table: repeatedly apply the
    * LOWEST-rank applicable merge (the standard BPE inference rule —
    * train-order replay, so encoding a training word reproduces its
    * training-time segmentation).
    */
  def encodeWord(word: String, ranks: Map[(String, String), Int]): Seq[String] = {
    var s: Vector[String] = word.map(_.toString).toVector :+ EndOfWord
    var done = false
    while (!done && s.length > 1) {
      var bestRank = Int.MaxValue
      var bestAt = -1
      var j = 0
      while (j < s.length - 1) {
        val r = ranks.getOrElse((s(j), s(j + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestAt = j }
        j += 1
      }
      if (bestAt < 0) done = true
      else s = (s.take(bestAt) :+ (s(bestAt) + s(bestAt + 1))) ++ s.drop(bestAt + 2)
    }
    s
  }

  /** Count-only twin of [[encode]] for token BUDGETING: adds just
    * `outCol` (the int BPE token count) and never materializes the
    * subword array — when the count feeds
    * [[SequencePack.assignBins]]'s two-shuffle prefix sum, the array
    * column would otherwise ride through both shuffles at corpus
    * scale for nothing. Same tokenizer, same memoization (word →
    * count), bit-identical to `size(encode(...).bpe_tokens)`.
    */
  def countTokens(df: DataFrame, textCol: String,
      merges: Seq[(String, String)],
      outCol: String = "bpe_n_tokens"): DataFrame = {
    val ranks = merges.zipWithIndex.toMap
    val base = df.drop(outCol)
    val spark = base.sparkSession
    val ranksB = spark.sparkContext.broadcast(ranks)
    import org.apache.spark.sql.types._
    val outSchema = StructType(base.schema.fields :+
      StructField(outCol, IntegerType, nullable = false))
    val idx = base.schema.fieldIndex(textCol)
    base.mapPartitions { rows =>
      val memo = new java.util.HashMap[String, Integer]()
      val rk = ranksB.value
      rows.map { r =>
        val text = r.getString(idx)
        val n =
          if (text == null) 0
          else TextSignatures.jvmTokens(text.replace(EndOfWord, ""))
            .iterator.filter(_.nonEmpty).map { w =>
              val hit = memo.get(w)
              if (hit != null) hit.intValue
              else {
                val c = encodeWord(w, rk).size
                if (memo.size < MemoCap) memo.put(w, c)
                c
              }
            }.sum
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ n)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Tokenize a corpus with a trained merge table: adds `bpe_tokens`
    * (array of subwords, sentinel kept on word-final pieces) and
    * `bpe_n_tokens`, REPLACING those columns if present (withColumn
    * semantics, like every sibling operator). One `mapPartitions`
    * pass; tokenization is [[TextSignatures.jvmTokens]] — the
    * UTF8String-backed twin of the Column form `wordCounts` trains on,
    * bit-identical on any default locale — with the same sentinel
    * strip; per-word results are memoized per partition with a size
    * cap (Zipf: a bounded cache keeps the hit rate, the noisy tail
    * must not grow executor state).
    */
  def encode(df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val ranks = merges.zipWithIndex.toMap
    val base = df.drop("bpe_tokens", "bpe_n_tokens")
    val spark = base.sparkSession
    val ranksB = spark.sparkContext.broadcast(ranks)
    import org.apache.spark.sql.types._
    val outSchema = StructType(base.schema.fields ++ Seq(
      StructField("bpe_tokens", ArrayType(StringType, containsNull = false)),
      StructField("bpe_n_tokens", IntegerType, nullable = false)))
    val idx = base.schema.fieldIndex(textCol)
    base.mapPartitions { rows =>
      val memo = new java.util.HashMap[String, Seq[String]]()
      val rk = ranksB.value
      rows.map { r =>
        val text = r.getString(idx)
        val toks =
          if (text == null) Seq.empty[String]
          else TextSignatures.jvmTokens(text.replace(EndOfWord, "")).toSeq
            .filter(_.nonEmpty)
            .flatMap { w =>
              val hit = memo.get(w)
              if (hit != null) hit
              else {
                val enc = encodeWord(w, rk)
                if (memo.size < MemoCap) memo.put(w, enc)
                enc
              }
            }
        org.apache.spark.sql.Row.fromSeq(r.toSeq ++ Seq(toks, toks.size))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }
}
