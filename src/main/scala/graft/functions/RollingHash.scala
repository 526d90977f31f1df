package graft.functions

import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial (Rabin–Karp) rolling-hash fingerprint of a string's UTF-8
  * bytes: `h = Σ byteᵢ · P^(n-1-i) (mod 2⁶⁴)` with the FNV prime.
  *
  * A NATIVE kernel ([[NativeCall]]) — the preference order for
  * extending Spark when built-ins can't express the semantics (there is
  * no byte-wise fold in `functions._`): a codegen'd call stays inside
  * the whole-stage-generated loop, no UDF serialization, no row boxing.
  * The JVM's wrapping long arithmetic is exactly the mod-2⁶⁴ we want
  * (never routed through ANSI checks).
  *
  * Reference surface: the document-fingerprinting operator family
  * (SURVEY.md §2.5 #48) next to the md5-based [[TextFunctions.fingerprint]].
  */
object RollingHash {
  /** FNV-1a 64-bit prime. */
  val Prime: Long = 1099511628211L

  def hash(bytes: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = h * Prime + (bytes(i) & 0xffL)
      i += 1
    }
    h
  }

  def hash(s: UTF8String): Long = hash(s.getBytes)

  val Kernel: NativeKernel =
    NativeKernel("graft_rolling_hash", "graft.functions.RollingHash", "hash", Seq(Seq(StringType)),
      LongType)

  /** Column API: `rollingHash($"text")`. The implicit session is unused
    * (the Column resolves in any session); it stays for source
    * compatibility. */
  def rollingHash(c: Column)(implicit spark: SparkSession): Column = Kernel.col(c)
}
