package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{DecimalType, Decimal, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd DSIR per-document scorer — replaces the
  * `aggregate(grams, 0, (acc, g) => acc + ratios[md5bucket(g)])`
  * higher-order fold in [[graft.operators.Dsir.scoreWith]], which is
  * CodegenFallback in Spark (ArrayAggregate): every gram of every row
  * walked an interpreted expression tree THROUGH an md5 Column chain.
  * Same eviction as [[TextSignatures]] did for the dedup family in r3:
  * one tight JVM loop per row, inlined into whole-stage codegen.
  *
  * Semantics are pinned BIT-EXACTLY to the fold it replaces:
  *  - gram stream = unigram ++ bigram word shingles of
  *    `split(lower(trim(text)), "\s+")`, multiplicity kept — the
  *    [[TextSignatures.shingleStrings]] tokenization (UTF8String trim/
  *    lower, Java regex split with trailing empties);
  *  - bucket = first 3 hex chars of md5(gram) as an int (= the top 12
  *    bits of the digest);
  *  - the per-gram addend is the DECIMAL(28,10)-quantized log-ratio,
  *    so the row sum is EXACT integer arithmetic on unscaled scale-10
  *    values (a long: |ratio| < 10^8 gives 10^18 headroom; overflow
  *    past ~10^7 grams/doc raises via addExact rather than wrapping);
  *  - output is the sum as DECIMAL(28,10); null text → null (the
  *    caller's coalesce-to-0 is unchanged).
  */
object DsirScore {

  private val WS = java.util.regex.Pattern.compile("\\s+")

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** 12-bit md5 bucket of one gram — `conv(substring(md5(g),1,3),16,10)`. */
  private[graft] def bucket(gram: String): Int = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(gram.getBytes(StandardCharsets.UTF_8))
    ((d(0) & 0xff) << 4) | ((d(1) & 0xf0) >>> 4)
  }

  /** Unscaled (scale-10) decimal sum over the doc's gram occurrences.
    * One pass: tokenizes once, then walks unigrams and bigrams without
    * materializing the concatenated gram array.
    */
  def scoreUnscaled(text: UTF8String, table: Array[Long]): Long = {
    val toks = WS.split(text.trim().toLowerCase.toString, -1)
    var sum = 0L
    var i = 0
    while (i < toks.length) {
      sum = Math.addExact(sum, table(bucket(toks(i))))
      if (i + 1 < toks.length)
        sum = Math.addExact(sum, table(bucket(toks(i) + " " + toks(i + 1))))
      i += 1
    }
    sum
  }

  /** JVM kernel behind [[Sum]]: the sum as a Decimal(28,10). */
  def score(text: UTF8String, table: Array[Long]): Decimal =
    Decimal(scoreUnscaled(text, table), 28, 10)

  /** `graft_dsir_sum(text)` with an embedded ratio table. */
  val Sum: NativeKernel = NativeKernel("graft_dsir_sum", "graft.functions.DsirScore", "score",
    Seq(Seq(StringType)), DecimalType(28, 10))

  /** Column builder: `text -> DECIMAL(28,10)` DSIR log-weight sum from
    * a dense per-bucket table of 4096 unscaled scale-10 log-ratios.
    */
  def dsirSumCol(text: Column, unscaledRatios: Array[Long]): Column = {
    require(unscaledRatios.length == 4096,
      s"dsir ratio table must have 4096 entries, got ${unscaledRatios.length}")
    Sum.colWith(NativeCall.Model(unscaledRatios))(text)
  }
}
