package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd Shannon character entropy — replaces the
  * interpreted Column chain in [[TextFunctions.charEntropy]]
  * (`transform(distinct_chars, c => size(filter(chars, _ === c)) …)`
  * + the decimal `aggregate` fold): CodegenFallback HOFs walking an
  * O(alphabet × doc_len) interpreted expression tree PER ROW — the
  * heaviest per-row loop left after the DSIR/BM25 evictions. One
  * histogram pass per row here.
  *
  * Semantics pinned BIT-EXACTLY to the chain it replaces (the oracle
  * is hash-exact on the output):
  *  - chars = CODE POINTS of the string (Spark `split(t, "")` runs
  *    Java regex split, which advances by code point), n =
  *    `length(text)` = code point count; distinct chars iterate in
  *    UTF8-byte order ≡ code point order (UTF-8 is order-preserving);
  *  - per-char term = `(-p) * (ln(p) / ln(2))` in doubles, quantized
  *    to DECIMAL scale 10 exactly as Spark's double→decimal cast does
  *    (`BigDecimal.valueOf` — the Double.toString shortest
  *    representation — then HALF_UP at scale 10);
  *  - terms sum as exact unscaled scale-10 longs in char order (the
  *    decimal fold's value semantics; |terms| ≤ 0.54 so 65k distinct
  *    BMP chars stay far under Long range — addExact raises rather
  *    than wraps regardless);
  *  - output = HALF_UP round of the decimal sum at 6 places, as
  *    double; null/empty text → 0.0 (the `when` guard it replaces).
  */
object CharEntropy {

  private val Ln2 = Math.log(2.0)

  def entropy(text: UTF8String): Double = {
    if (text == null) return 0.0
    val s = text.toString
    if (s.isEmpty) return 0.0
    // code point histogram in code point order (TreeMap ≡ UTF8 order)
    val counts = new java.util.TreeMap[Integer, Array[Long]]()
    var i = 0
    var n = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val slot = counts.computeIfAbsent(cp, _ => new Array[Long](1))
      slot(0) += 1
      n += 1
      i += Character.charCount(cp)
    }
    val nD = n.toDouble
    var sum = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()(0)
      val p = c.toDouble / nD
      val term = (-p) * (Math.log(p) / Ln2)
      val q = JBigDecimal.valueOf(term).setScale(10, RoundingMode.HALF_UP)
      sum = Math.addExact(sum, q.unscaledValue().longValueExact())
    }
    JBigDecimal.valueOf(sum, 10).setScale(6, RoundingMode.HALF_UP).doubleValue()
  }

  /** `graft_char_entropy(text)` → double; null text → 0.0 (the replaced `when`). */
  val Entropy: NativeKernel = NativeKernel("graft_char_entropy", "graft.functions.CharEntropy",
    "entropy", Seq(Seq(StringType)), DoubleType, propagateNull = false)

  def charEntropyCol(text: Column): Column = Entropy.col(text)
}
