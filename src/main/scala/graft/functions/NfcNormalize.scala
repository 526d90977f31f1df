package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** `graft_nfc(text)` — Unicode NFC normalization (canonical
  * composition), the missing prerequisite for byte-level dedup and
  * fingerprinting on multilingual corpora: "é" arrives both
  * precomposed (U+00E9) and decomposed (e + U+0301) in real crawls,
  * and every hash-based operator in this library treats those as
  * different documents unless the text is normalized first. Spark has
  * no built-in; this wraps `java.text.Normalizer` (JDK, ICU-correct
  * for NFC) as a native kernel. DuckDB twin: `nfc_normalize`.
  *
  * Fast path: `Normalizer.isNormalized` is O(n) with no allocation
  * and true for virtually all real text (ASCII and precomposed
  * Latin-1 included) — the allocating normalize call only runs on the
  * rare decomposed row.
  */
object NfcNormalize {
  import java.text.Normalizer

  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }

  val Nfc: NativeKernel = NativeKernel("graft_nfc", "graft.functions.NfcNormalize", "nfc",
    Seq(Seq(StringType)), StringType)

  def nfcNormalize(c: Column): Column = Nfc.col(c)
}
