package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-level BPE with GPT-2-style regex pre-tokenization (Radford et
  * al. 2019; the tokenizer shape every modern pretraining stack uses,
  * vs [[BpeTrain]]'s classic whitespace-word Sennrich BPE).
  *
  * Three public facts of the GPT-2 scheme, reproduced exactly:
  *
  *  1. **Pre-tokenizer regex** `'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+|
  *     ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+` — contractions split
  *     off, a single LEADING space attaches to the following
  *     word/number/punct run, trailing whitespace splits so the last
  *     space before a word stays with the word. The alternation tiles
  *     the input: concatenating the pretokens reproduces the string
  *     byte-for-byte, so encode∘decode is the identity with NO UNK.
  *  2. **Byte→unicode symbol table** (`bytes_to_unicode`): the 188
  *     printable bytes `!..~`, `¡..¬`, `®..ÿ` map to themselves; the
  *     68 others map to U+0100+n in byte order — hence the well-known
  *     visible forms space→`Ġ` (U+0120) and newline→`Ċ` (U+010A).
  *     Every pretoken becomes a sequence of single-char byte symbols;
  *     emoji/CJK are just 3-4 byte symbols each (byte fallback).
  *  3. **No end-of-word sentinel**: word boundaries come from the
  *     pre-tokenizer; merges never cross pretokens.
  *
  * 100 TB shape — identical to [[BpeTrain]]: the ONLY corpus-scale
  * work is one pretoken-count aggregate (map-side combined, one
  * shuffle, `regexp_extract_all` with the same java.util.regex
  * pattern the JVM half uses — bit-identical splits); the merge loop
  * runs on the collected Zipf-bounded (pretoken, count) model via the
  * shared [[BpeTrain.trainLocalSeqs]] incremental-pair-stats loop.
  * Encode/countTokens are one memoized `mapPartitions` pass each.
  */
object ByteBpe {

  /** The GPT-2 pre-tokenization pattern (public, from the released
    * encoder; Java regex — `\p{L}`/`\p{N}` are Unicode classes and
    * the `(?!\S)` lookahead is supported natively).
    */
  val PretokenPattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+"

  private val Pretok = java.util.regex.Pattern.compile(PretokenPattern)

  /** byte value → visible unicode symbol (char), the GPT-2
    * `bytes_to_unicode` table.
    */
  val ByteToChar: Array[Char] = {
    val out = new Array[Char](256)
    val direct = (('!' to '~') ++ ('¡' to '¬') ++ ('®' to 'ÿ'))
      .map(_.toInt).toSet
    var shift = 0
    (0 until 256).foreach { b =>
      if (direct(b)) out(b) = b.toChar
      else { out(b) = (256 + shift).toChar; shift += 1 }
    }
    out
  }

  private val CharToByte: Map[Char, Byte] =
    ByteToChar.zipWithIndex.map { case (c, b) => c -> b.toByte }.toMap

  /** GPT-2 pretokens of `s`, in order; concatenation == s. */
  def pretokens(s: String): Seq[String] = {
    val m = Pretok.matcher(s)
    val out = Seq.newBuilder[String]
    while (m.find()) out += m.group()
    out.result()
  }

  /** One pretoken → its byte-symbol sequence (UTF-8 bytes mapped
    * through [[ByteToChar]], one single-char string per byte).
    */
  def byteSymbols(pre: String): Array[String] =
    pre.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => String.valueOf(ByteToChar(b & 0xff)))

  /** Inverse of the byte mapping over a token sequence: concatenate,
    * map symbols back to bytes, UTF-8 decode. Total on anything
    * [[encode]] produced; throws on a char outside the table (not a
    * byte-level token).
    */
  def decode(tokens: Seq[String]): String = {
    val chars = tokens.mkString
    val bytes = new Array[Byte](chars.length)
    var i = 0
    while (i < chars.length) {
      bytes(i) = CharToByte.getOrElse(chars(i),
        throw new IllegalArgumentException(
          s"not a byte-level token char: '${chars(i)}' (U+${chars(i).toInt.toHexString})"))
      i += 1
    }
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Distributed (pretoken, count) aggregate — the corpus-scale step.
    * `regexp_extract_all` runs the SAME java.util.regex pattern the
    * JVM half compiles, so both halves segment identically.
    */
  def pretokenCounts(df: DataFrame, textCol: String,
      minCount: Long = 1L): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    df.select(explode(
        regexp_extract_all(col(textCol), lit(PretokenPattern), lit(0))).as("_w"))
      .groupBy("_w").agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= minCount)
  }

  /** Learn `numMerges` merges over byte symbols. Same one-action
    * vocabulary guard as [[BpeTrain.train]].
    */
  def train(
      df: DataFrame, textCol: String, numMerges: Int,
      minCount: Long = 1L, maxWords: Int = 1000000): Seq[(String, String)] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(maxWords >= 1, s"maxWords must be >= 1, got $maxWords")
    val rows = graft.Conf.collectUpTo(pretokenCounts(df, textCol, minCount), maxWords)
      .getOrElse(throw new IllegalArgumentException(
        s"byte-BPE vocabulary exceeds maxWords=$maxWords distinct pretokens: " +
          "raise minCount (Zipf: a count floor bounds the tail) or raise the cap"))
    BpeTrain.trainLocalSeqs(
      rows.map(r => byteSymbols(r.getString(0))),
      rows.map(_.getLong(1)), numMerges)
  }

  /** Segment one pretoken with a trained merge table — lowest-rank
    * replay, the standard BPE inference rule (no sentinel).
    */
  def encodePretoken(pre: String,
      ranks: Map[(String, String), Int]): Seq[String] = {
    var s: Vector[String] = byteSymbols(pre).toVector
    var done = s.length <= 1
    while (!done) {
      var bestRank = Int.MaxValue
      var bestAt = -1
      var j = 0
      while (j < s.length - 1) {
        val r = ranks.getOrElse((s(j), s(j + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestAt = j }
        j += 1
      }
      if (bestAt < 0) done = true
      else {
        s = (s.take(bestAt) :+ (s(bestAt) + s(bestAt + 1))) ++ s.drop(bestAt + 2)
        if (s.length <= 1) done = true
      }
    }
    s
  }

  private val MemoCap = 65536

  /** Tokenize a corpus: adds `bpe_tokens` (byte-level subword symbols
    * — `Ġ`-form visible strings) and `bpe_n_tokens`, replacing them if
    * present. One memoized `mapPartitions` pass; null text → empty.
    */
  def encode(df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val ranks = merges.zipWithIndex.toMap
    val base = df.drop("bpe_tokens", "bpe_n_tokens")
    val ranksB = base.sparkSession.sparkContext.broadcast(ranks)
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
          else pretokens(text).flatMap { w =>
            val hit = memo.get(w)
            if (hit != null) hit
            else {
              val enc = encodePretoken(w, rk)
              if (memo.size < MemoCap) memo.put(w, enc)
              enc
            }
          }
        org.apache.spark.sql.Row.fromSeq(r.toSeq ++ Seq(toks, toks.size))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Count-only twin of [[encode]] for token budgeting (the
    * [[SequencePack]] input) — never materializes the token array;
    * bit-identical to `size(encode(...).bpe_tokens)`.
    */
  def countTokens(df: DataFrame, textCol: String,
      merges: Seq[(String, String)],
      outCol: String = "bpe_n_tokens"): DataFrame = {
    val ranks = merges.zipWithIndex.toMap
    val base = df.drop(outCol)
    val ranksB = base.sparkSession.sparkContext.broadcast(ranks)
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
          else pretokens(text).iterator.map { w =>
            val hit = memo.get(w)
            if (hit != null) hit.intValue
            else {
              val c = encodePretoken(w, rk).size
              if (memo.size < MemoCap) memo.put(w, c)
              c
            }
          }.sum
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ n)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }
}
