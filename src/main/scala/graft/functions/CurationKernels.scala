package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass native kernels for the curation text path: the
  * [[TextFunctions.langId]], [[TextFunctions.gopherFailReason]] and
  * [[TextFunctions.piiRedact]] values, computed by one native pass per
  * row instead of a Column tree of `contains`/`split`/`regexp_replace`
  * passes. Each returns exactly the value of the Column formulation it
  * replaced, so the DuckDB twins (`langIdSql`, the `x_gopher_filter`
  * oracle, `piiRedactSql`) stay valid unchanged; `CurationKernelsSpec`
  * pins the equality under codegen and interpreted evaluation.
  *
  * Lowercasing goes through the helper Spark's `lower` uses
  * ([[CollationSupport.Lower]], ICU or JVM case mapping by
  * `spark.sql.icu.caseMappings.enabled`), so non-ASCII case mapping —
  * U+0130 to "i̇", U+212A to "k" — agrees with `lower`.
  */
object CurationKernels {

  private[functions] def lower(s: UTF8String, useICU: Boolean): UTF8String =
    if (useICU) CollationSupport.Lower.execBinaryICU(s)
    else CollationSupport.Lower.execBinary(s)

  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\u000B' || b == '\f' || b == '\r'

  @inline private def lowerAscii(b: Byte): Byte =
    if (b >= 'A' && b <= 'Z') (b + 32).toByte else b

  // ------------------------------------------------------------ langId

  // A marker ` w ` (w space-free) occurs in " " + t + " " exactly when
  // some space-delimited segment of t equals w: the marker's two spaces
  // are adjacent spaces of the padded text. So one scan that compares
  // each segment against the marker words matches all markers at once,
  // and the padding costs nothing.
  private val markerWords: Array[Array[Byte]] =
    TextFunctions.langMarkers.flatMap(_._2).map { m =>
      val w = m.substring(1, m.length - 1)
      require(m.length > 2 && m.head == ' ' && m.last == ' ' && !w.contains(' ') &&
        w.forall(c => c < 128 && !(c >= 'A' && c <= 'Z')),
        s"lang marker '$m' must be ' word ' with a lowercase ASCII word")
      w.getBytes(UTF_8)
    }.toArray
  require(markerWords.length <= 64, "lang markers must fit one 64-bit hit mask")

  /** Marker indices by word length in bytes. */
  private val markersByLen: Array[Array[Int]] = {
    val maxLen = markerWords.map(_.length).max
    Array.tabulate(maxLen + 1)(len => markerWords.indices.filter(markerWords(_).length == len).toArray)
  }

  /** Per language (priority order), the mask of its markers' bits. */
  private val langMasks: Array[Long] = {
    var next = 0
    TextFunctions.langMarkers.map { case (_, ms) =>
      val mask = ms.indices.foldLeft(0L)((acc, k) => acc | (1L << (next + k)))
      next += ms.size
      mask
    }.toArray
  }
  private val langNames: Array[UTF8String] =
    TextFunctions.langMarkers.map(l => UTF8String.fromString(l._1)).toArray
  private val Und = UTF8String.fromString("und")
  private val Zh = UTF8String.fromString("zh")

  /** Hit mask of the markers whose word equals segment [from, from+len) of t. */
  private def segmentHits(t: UTF8String, from: Int, len: Int): Long = {
    val cands = markersByLen(len)
    var hits = 0L
    var k = 0
    while (k < cands.length) {
      val w = markerWords(cands(k))
      var i = 0
      while (i < len && lowerAscii(t.getByte(from + i)) == w(i)) i += 1
      if (i == len) hits |= 1L << cands(k)
      k += 1
    }
    hits
  }

  /** CJK (any Han char) → "zh"; else the first language, in priority
    * order, with the most markers present in `" " + lower(s) + " "`;
    * no marker, or null, → "und".
    */
  def langId(s: UTF8String, useICU: Boolean): UTF8String = {
    if (s == null) return Und
    // an all-ASCII text has no Han char, and lowers byte by byte
    // (lowerAscii is a no-op on the already-lowered non-ASCII case)
    val t =
      if (s.isFullAscii) s
      else if (TextMetrics.hasHan(s)) return Zh
      else lower(s, useICU)
    val n = t.numBytes
    val maxLen = markersByLen.length - 1
    var found = 0L
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || t.getByte(i) == ' ') {
        val len = i - start
        if (len > 0 && len <= maxLen) found |= segmentHits(t, start, len)
        start = i + 1
      }
      i += 1
    }
    var best = -1
    var bestScore = 0
    var l = 0
    while (l < langMasks.length) {
      val score = java.lang.Long.bitCount(found & langMasks(l))
      if (score > bestScore) { best = l; bestScore = score }
      l += 1
    }
    if (best < 0) Und else langNames(best)
  }

  // -------------------------------------------------- gopherFailReason

  private val TooShort = UTF8String.fromString("too_short")
  private val TooLong = UTF8String.fromString("too_long")
  private val WordLength = UTF8String.fromString("word_length")
  private val Repetitive = UTF8String.fromString("repetitive")

  /** First failed Gopher rule, or null when every rule passes; null
    * text → "too_short". One tokenisation serves all rules:
    *  - tokens: the [[TextMetrics.wsTokenCount]] rule over Spark's
    *    space-only `trim`;
    *  - mean word length: `length(text)` in code points over tokens;
    *  - duplicate ratio: distinct parts of `split(lower(trim(text)),
    *    "\s+")` (its empty leading/trailing parts included) over parts.
    * The ratio runs only when the first three rules pass, and stops as
    * soon as the distinct count seen settles the verdict.
    */
  def gopherFailReason(
      s: UTF8String, useICU: Boolean,
      minTokens: Long, maxTokens: Long,
      minMeanWlen: Double, maxMeanWlen: Double,
      maxDupWordRatio: Double): UTF8String = {
    if (s == null) return TooShort
    val trimmed = s.trim()
    // ASCII whitespace bytes never occur inside a multi-byte sequence,
    // so counting runs over bytes counts them over chars
    val tb = trimmed.numBytes
    var toks = if (tb == 0) 0L else 1L
    var inRun = false
    var i = 0
    while (i < tb) {
      if (isWs(trimmed.getByte(i))) { if (!inRun) { toks += 1; inRun = true } }
      else inRun = false
      i += 1
    }
    val meanWlen = s.numChars.toDouble / math.max(toks, 1L).toDouble
    if (toks < minTokens) TooShort
    else if (toks > maxTokens) TooLong
    else if (meanWlen < minMeanWlen || meanWlen > maxMeanWlen) WordLength
    else if (dupRatioExceeds(lower(trimmed, useICU), maxDupWordRatio)) Repetitive
    else null
  }

  /** `1 - distinct/parts > maxDup` over the `\s+` parts of `t`. The
    * ratio only falls as distinct parts are found, so the walk stops
    * once it can no longer exceed `maxDup`.
    */
  private def dupRatioExceeds(t: UTF8String, maxDup: Double): Boolean = {
    val base = t.getBaseObject
    val off = t.getBaseOffset
    val n = t.numBytes
    var parts = 1
    var i = 0
    while (i < n) {
      if (isWs(t.getByte(i))) {
        parts += 1
        while (i < n && isWs(t.getByte(i))) i += 1
      } else i += 1
    }
    val p = parts.toDouble
    // open addressing over part starts/lengths, at most half full
    val mask = Integer.highestOneBit(parts) * 4 - 1
    val slotStart = new Array[Int](mask + 1)
    val slotLen = new Array[Int](mask + 1)
    java.util.Arrays.fill(slotLen, -1)
    var distinct = 0
    var start = 0
    while (start <= n) {
      var end = start
      while (end < n && !isWs(t.getByte(end))) end += 1
      val len = end - start
      var h = Murmur3_x86_32.hashUnsafeBytes(base, off + start, len, 42) & mask
      var seen = false
      while (!seen && slotLen(h) >= 0) {
        seen = slotLen(h) == len &&
          ByteArrayMethods.arrayEquals(base, off + slotStart(h), base, off + start, len)
        if (!seen) h = (h + 1) & mask
      }
      if (!seen) {
        slotStart(h) = start
        slotLen(h) = len
        distinct += 1
        if (!(1.0 - distinct.toDouble / p > maxDup)) return false
      }
      if (end == n) start = n + 1
      else {
        start = end
        while (start < n && isWs(t.getByte(start))) start += 1
      }
    }
    1.0 - distinct.toDouble / p > maxDup
  }

  // --------------------------------------------------------- piiRedact

  private val piiCompiled: Array[Pattern] =
    TextFunctions.piiPatterns.map(p => Pattern.compile(p._2)).toArray
  private val piiReplacement: Array[String] = TextFunctions.piiPatterns.map(_._3).toArray
  private val piiGate: Array[PiiGate] =
    TextFunctions.piiPatterns.map(p => TextFunctions.piiGates.getOrElse(p._1, null)).toArray

  /** Credit-card redaction phase of [[piiRedact]] (DuckDB twin:
    * [[TextFunctions.cardRedactSql]]) — runs BEFORE the pattern chain
    * (so the SSN/phone patterns never eat card fragments) and redacts
    * ONLY Luhn-valid candidates (`cards`, [[LuhnCards]] over the raw
    * text): the mod-10 check is what keeps 13-19 digit order ids out of
    * the redaction. Both engines run the IDENTICAL two-phase formula —
    * extract valid candidates, join them (length desc, lex asc) into a
    * `\b(...)\b` alternation, one global regexp_replace with that
    * dynamic pattern (`<CARD>`), the text unchanged when there is no
    * candidate — so the oracle agreement is by construction, not by
    * coincidence of two different mechanisms.
    */
  private def cardPhase(s: String, cards: ArrayData): String =
    if (cards.numElements == 0) s
    else {
      val regex = (0 until cards.numElements)
        .map(i => cards.getUTF8String(i).toString).mkString("\\b(", "|", ")\\b")
      val last = lastCardPattern.get
      val pattern =
        if (last != null && last._1 == regex) last._2
        else {
          val p = Pattern.compile(regex)
          lastCardPattern.set((regex, p))
          p
        }
      pattern.matcher(s).replaceAll("<CARD>")
    }

  /** The card alternation last compiled on this thread: neighbouring rows
    * often carry the same cards (`regexp_replace` keeps the same
    * one-entry cache). */
  private val lastCardPattern = new ThreadLocal[(String, Pattern)]

  /** The card phase, then every [[TextFunctions.piiPatterns]] replace in
    * order, over one decoded buffer: decode once, encode once (not at
    * all when nothing matched). A phase is skipped only when its
    * [[TextFunctions.piiGates]] condition fails on the buffer as it
    * stands before it.
    */
  def piiRedact(s: UTF8String, cards: ArrayData): UTF8String = {
    val in = s.toString
    var buf = cardPhase(in, cards)
    // the digit test is redone only after a phase changed the buffer
    // (`replaceAll` returns its input when nothing matched)
    var digitsOf: String = null
    var digits = false
    var k = 0
    while (k < piiCompiled.length) {
      val admitted = piiGate(k) match {
        case null => true
        case PiiGate.AsciiDigit =>
          if (buf ne digitsOf) { digits = PiiGate.AsciiDigit.admits(buf); digitsOf = buf }
          digits
        case g => g.admits(buf)
      }
      if (admitted) buf = piiCompiled(k).matcher(buf).replaceAll(piiReplacement(k))
      k += 1
    }
    if (buf eq in) s else UTF8String.fromString(buf)
  }

  // `lower`'s case-mapping choice, read like Spark's `Lower` reads it:
  // on first use, during planning
  private val UseICU = NativeCall.ConfFlag(SQLConf.ICU_CASE_MAPPINGS_ENABLED.key)
  private val CK = "graft.functions.CurationKernels"

  /** [[TextFunctions.langId]]: never null (null text → "und"). */
  val LangId: NativeKernel = NativeKernel("graft_lang_id", CK, "langId",
    Seq(Seq(StringType)), StringType, propagateNull = false)
  /** [[TextFunctions.gopherFailReason]]: null = passes every rule. */
  val GopherFailReason: NativeKernel = NativeKernel("graft_gopher_fail_reason", CK,
    "gopherFailReason", Seq(Seq(StringType)), StringType, propagateNull = false,
    returnNullable = true)
  /** [[TextFunctions.piiRedact]]: null text → null. The card candidates
    * are an argument ([[LuhnCards.ValidCandidates]] over the same text),
    * so subexpression elimination computes them once for a row that also
    * asks [[TextFunctions.cardCount]]. */
  val PiiRedact: NativeKernel = NativeKernel("graft_pii_redact", CK, "piiRedact",
    Seq(Seq(StringType), Seq(ArrayType(StringType, containsNull = false))), StringType)

  def langIdCol(c: Column): Column = LangId.colWith(UseICU)(c)
  def gopherFailReasonCol(c: Column, minTokens: Long, maxTokens: Long,
      minMeanWlen: Double, maxMeanWlen: Double, maxDupWordRatio: Double): Column =
    GopherFailReason.colWith(UseICU, minTokens, maxTokens, minMeanWlen, maxMeanWlen,
      maxDupWordRatio)(c)
  def piiRedactCol(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => ncol, expression => ex}
    val text = ex(c)
    ncol(PiiRedact(text, LuhnCards.ValidCandidates(text)))
  }
}

/** A necessary condition of a [[TextFunctions.piiPatterns]] entry: every
  * match of the pattern satisfies it, so a buffer that fails it cannot
  * match and the phase may be skipped.
  */
sealed trait PiiGate { def admits(s: String): Boolean }
object PiiGate {
  /** The pattern needs `\d`, which is `[0-9]` in Java regex (no
    * UNICODE_CHARACTER_CLASS) and in RE2. */
  case object AsciiDigit extends PiiGate {
    def admits(s: String): Boolean = {
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c >= '0' && c <= '9') return true
        i += 1
      }
      false
    }
  }
  /** Every match contains one of these literals. */
  final case class AnyLiteral(literals: String*) extends PiiGate {
    def admits(s: String): Boolean = literals.exists(s.contains)
  }
}
