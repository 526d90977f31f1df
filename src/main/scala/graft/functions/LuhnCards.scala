package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Luhn-valid credit-card candidate extraction — the codegen'd half of
  * the PII card redactor (see TextFunctions.piiRedact).
  *
  * Why a native expression: the Luhn mod-10 check over variable-length
  * digit strings needs a fold, and Spark's higher-order `aggregate`
  * lambda is CodegenFallback — an interpreted walk per candidate on a
  * corpus-scale scan. This is one tight JVM pass. The check is what
  * keeps false positives down: a 13-19 digit run that fails Luhn (an
  * order id, a timestamp pair) is NOT a card and must not be redacted.
  *
  * Contract (mirrored formula-for-formula by the DuckDB oracle twin):
  *  - candidates = `\b(?:\d[ -]?){12,18}\d\b` matches (13-19 digits
  *    with optional single space/dash separators; an UNSEPARATED 20+
  *    digit run has no interior word boundary, so it yields NO
  *    candidate — no partial redaction of long plain digit runs. A
  *    SEPARATED run longer than 19 digits is different: the regex may
  *    backtrack to end on a digit-before-separator word boundary, so
  *    a Luhn-valid 13-19 digit prefix of e.g. five spaced 4-digit
  *    groups IS matched and redacted — acceptable, since spaced
  *    groups are exactly how real PANs are written, and both engines
  *    backtrack identically so oracle parity holds either way);
  *  - valid = 13..19 digits after separator strip AND Luhn mod-10;
  *  - result = DISTINCT valid candidates sorted by (length DESC, then
  *    lexicographic ASC) — the caller joins them `|` into a `\b(...)\b`
  *    alternation, and length-desc ordering makes Java's
  *    first-alternative-wins agree with RE2's leftmost-longest.
  */
object LuhnCards {

  val CandidatePattern = "\\b(?:\\d[ -]?){12,18}\\d\\b"
  private val Cand = java.util.regex.Pattern.compile(CandidatePattern)

  /** Luhn mod-10 over a pure digit string. */
  def luhnValid(digits: String): Boolean = {
    if (digits.length < 13 || digits.length > 19) return false
    var sum = 0
    var i = digits.length - 1
    var alt = false
    while (i >= 0) {
      var d = digits.charAt(i) - '0'
      if (alt) { d *= 2; if (d > 9) d -= 9 }
      sum += d
      alt = !alt
      i -= 1
    }
    sum % 10 == 0
  }

  /** Distinct Luhn-valid candidates of `s`, (len desc, lex asc). */
  def validCandidates(s: UTF8String): ArrayData = {
    // the pattern needs `\d` ([0-9]): a text without an ASCII digit
    // byte has no candidate, and is not decoded
    if (s == null || !hasAsciiDigit(s)) return new GenericArrayData(Array.empty[Any])
    val m = Cand.matcher(s.toString)
    val seen = new java.util.LinkedHashSet[String]()
    while (m.find()) {
      val cand = m.group()
      val digits = cand.replaceAll("[ -]", "")
      if (luhnValid(digits)) seen.add(cand)
    }
    if (seen.isEmpty) return new GenericArrayData(Array.empty[Any])
    val arr = new Array[String](seen.size)
    seen.toArray(arr)
    java.util.Arrays.sort(arr, new java.util.Comparator[String] {
      def compare(a: String, b: String): Int = {
        val byLen = Integer.compare(b.length, a.length)
        if (byLen != 0) byLen else a.compareTo(b)
      }
    })
    new GenericArrayData(arr.map(c => UTF8String.fromString(c): Any))
  }

  private def hasAsciiDigit(s: UTF8String): Boolean = {
    var i = 0
    while (i < s.numBytes) {
      val b = s.getByte(i)
      if (b >= '0' && b <= '9') return true
      i += 1
    }
    false
  }

  /** `(text)` → array<string> of the Luhn-valid card candidates; null
    * text → empty array. */
  val ValidCandidates: NativeKernel = NativeKernel("graft_luhn_cards",
    "graft.functions.LuhnCards", "validCandidates", Seq(Seq(StringType)),
    ArrayType(StringType, containsNull = false), propagateNull = false)

  def validCandidatesCol(text: Column): Column = ValidCandidates.col(text)
}
