package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass replacements for the regex-engine-bound pieces of
  * [[TextFunctions]]. The Column formulations there are already
  * codegen'd, but `regexp_count`/`regexp_replace`/`split` pay the Java
  * regex engine per row — the dominant cost of the x_* text queries.
  * Each expression here computes the IDENTICAL value with a hand loop
  * (the patterns involved are character classes and literals, not real
  * regexes), keeping the DuckDB oracle twins valid unchanged:
  *
  *  - [[CollapseWs]]     ≡ `trim(regexp_replace(text, "\s+", " "))` (on
  *    an already-lowercased input, used by fingerprint)
  *  - [[WsTokenCount]]   ≡ `when(trim(t)==="", 0).otherwise(size(split(trim(t), "\s+")))`
  *  - [[BpeTokenCount]]  ≡ `regexp_count(t, "[A-Za-z0-9_]+|[^A-Za-z0-9_\s]")`
  *  - [[PunctCount]]     ≡ `regexp_count(t, "[.,;:!?]")`
  *  - [[StopwordHits]]   ≡ Σ_w (length-diff literal-replace count of " w ")
  *    over `" " + lower(t) + " "`
  *  - [[HasHan]]         ≡ `regexp_count(t, "[\x{4e00}-\x{9fff}]") > 0`
  *
  * Java's `\s` is exactly `[ \t\n\x0B\f\r]` (ASCII-only without
  * UNICODE_CHARACTER_CLASS), mirrored in [[isWs]].
  */
object TextMetrics {

  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
  @inline private def isWord(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_'

  /** trim + collapse \s+ runs to single spaces (input pre-lowercased by
    * the caller; collapse itself is case-agnostic).
    */
  def collapseWs(s: UTF8String): UTF8String = {
    val str = s.toString
    val n = str.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    var pendingSpace = false
    while (i < n) {
      val c = str.charAt(i)
      if (isWs(c)) { if (sb.length > 0) pendingSpace = true }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** `size(split(trim(t), "\s+"))` with the empty-trim special case.
    * split(limit -1) yields (#separator runs)+1 parts, including
    * leading/trailing empties when non-space whitespace survives
    * Spark's space-only trim — replicated exactly.
    */
  def wsTokenCount(s: UTF8String): Int = {
    val str = s.trim().toString
    if (str.isEmpty) return 0
    val n = str.length
    var count = 1
    var i = 0
    var inRun = false
    while (i < n) {
      if (isWs(str.charAt(i))) { if (!inRun) { count += 1; inRun = true } }
      else inRun = false
      i += 1
    }
    count
  }

  /** Matches of `[A-Za-z0-9_]+|[^A-Za-z0-9_\s]`: one per word-char run,
    * one per other non-whitespace CODEPOINT (the regex engine matches
    * codepoints, so an astral char — a surrogate pair in UTF-16 — is
    * ONE token, not two).
    */
  def bpeTokenCount(s: UTF8String): Int = {
    val str = s.toString
    val n = str.length
    var count = 0
    var i = 0
    while (i < n) {
      val c = str.charAt(i)
      if (isWord(c)) { count += 1; i += 1; while (i < n && isWord(str.charAt(i))) i += 1 }
      else {
        if (!isWs(c)) count += 1
        i += (if (Character.isHighSurrogate(c) && i + 1 < n &&
          Character.isLowSurrogate(str.charAt(i + 1))) 2 else 1)
      }
    }
    count
  }

  def punctCount(s: UTF8String): Int = {
    val str = s.toString
    var count = 0
    var i = 0
    while (i < str.length) {
      str.charAt(i) match {
        case '.' | ',' | ';' | ':' | '!' | '?' => count += 1
        case _ =>
      }
      i += 1
    }
    count
  }

  private val stopPats: Array[String] =
    TextFunctions.stopwords.map(w => s" $w ").toArray

  /** Σ over stopwords of non-overlapping occurrences of ` w ` in
    * `" " + lower(t) + " "` — identical to the replace-length-diff
    * formulation (leftmost non-overlapping, advance by pattern length).
    */
  def stopwordHits(s: UTF8String): Double = {
    val padded = " " + s.toLowerCase.toString + " "
    var sum = 0.0
    var w = 0
    while (w < stopPats.length) {
      val pat = stopPats(w)
      var from = 0
      var idx = padded.indexOf(pat, from)
      while (idx >= 0) {
        sum += 1.0
        from = idx + pat.length
        idx = padded.indexOf(pat, from)
      }
      w += 1
    }
    sum
  }

  def hasHan(s: UTF8String): Boolean = {
    val str = s.toString
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i)
      if (c >= 0x4e00 && c <= 0x9fff) return true
      i += 1
    }
    false
  }

  private def metric(name: String, method: String, dataType: DataType): NativeKernel =
    NativeKernel(name, "graft.functions.TextMetrics", method, Seq(Seq(StringType)), dataType)
  val CollapseWs: NativeKernel = metric("graft_collapse_ws", "collapseWs", StringType)
  val WsTokenCount: NativeKernel = metric("graft_ws_token_count", "wsTokenCount", IntegerType)
  val BpeTokenCount: NativeKernel = metric("graft_bpe_token_count", "bpeTokenCount", IntegerType)
  val PunctCount: NativeKernel = metric("graft_punct_count", "punctCount", IntegerType)
  val StopwordHits: NativeKernel = metric("graft_stopword_hits", "stopwordHits", DoubleType)
  val HasHan: NativeKernel = metric("graft_has_han", "hasHan", BooleanType)

  def collapseWsCol(c: Column): Column = CollapseWs.col(c)
  def wsTokenCountCol(c: Column): Column = WsTokenCount.col(c)
  def bpeTokenCountCol(c: Column): Column = BpeTokenCount.col(c)
  def punctCountCol(c: Column): Column = PunctCount.col(c)
  def stopwordHitsCol(c: Column): Column = StopwordHits.col(c)
  def hasHanCol(c: Column): Column = HasHan.col(c)
}
