package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
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

  import org.apache.spark.sql.graftbridge.ColumnBridge.{column => ncol, expression => ex}

  def validCandidatesCol(text: Column): Column =
    ncol(LuhnCandidatesExpr(ex(text)))
}

/** `(text)` → array<string> of Luhn-valid card candidates: [[LuhnCards]]. */
case class LuhnCandidatesExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"luhn candidates require STRING, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_luhn_cards"

  override def eval(input: InternalRow): Any =
    LuhnCards.validCandidates(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val c = child.genCode(ctx)
    val fin = s"org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = " +
      s"graft.functions.LuhnCards.validCandidates(" +
      s"${c.isNull} ? null : ${c.value});"
    ev.copy(code =
      code"""
        ${c.code}
        $fin""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): LuhnCandidatesExpr =
    copy(child = newChild)
}
