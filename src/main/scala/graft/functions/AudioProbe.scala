package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `graft_audio_meta(binary)` → struct<format string, channels int,
  * sample_rate int, bits int, duration_ms bigint> — REAL audio-header
  * parsing with zero audio libraries, the audio twin of [[ImageDims]]:
  * WAV/RIFF (fmt + data chunks), AIFF (COMM chunk with its 80-bit
  * extended-float sample rate) and FLAC (STREAMINFO bitfields) all
  * carry stream parameters in fixed header bytes a plain byte walk
  * can read. Non-audio/garbage bytes → null struct; a recognized
  * stream with an unknowable duration keeps a null duration_ms field.
  *
  * Like the image probe, this is the honest offline slice of
  * multimodal decode: a media pipeline's first pass (format stats,
  * sample-rate/channel filters, duration budgeting) needs exactly
  * these fields, not PCM samples. Sample decode remains the marked
  * stub in [[graft.multimodal.Multimodal]].
  */
object AudioMeta {
  val outType: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("bits", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = true)))

  private def row(fmt: String, ch: Int, rate: Int, bits: Int,
      durMs: java.lang.Long): InternalRow =
    if (ch <= 0 || rate <= 0) null
    else InternalRow(UTF8String.fromString(fmt), ch, rate, bits,
      if (durMs == null) null else durMs.longValue())

  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
      ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)
  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)

  /** Null for anything that isn't a recognizable audio header. */
  def probe(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 12) return null

    // WAV: "RIFF" <size> "WAVE", then chunk walk for "fmt " and "data".
    // The cursor is a LONG and every advance is bounds-checked FIRST:
    // a junk 32-bit chunk size near Int.MaxValue must make the probe
    // return null, never wrap the index negative and throw (the
    // contract is garbage bytes → null, and one corrupt file must not
    // kill a corpus-wide scan).
    if (b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E') {
      var i = 12L
      var ch = 0; var rate = 0; var bits = 0; var byteRate = 0
      var dataSize = -1L
      while (i + 8 <= b.length) {
        val p = i.toInt
        val size = le32(b, p + 4).toLong & 0xFFFFFFFFL
        if (b(p) == 'f' && b(p + 1) == 'm' && b(p + 2) == 't' && b(p + 3) == ' ') {
          if (p + 8 + 16 > b.length) return null
          ch = le16(b, p + 10); rate = le32(b, p + 12)
          byteRate = le32(b, p + 16); bits = le16(b, p + 22)
        } else if (b(p) == 'd' && b(p + 1) == 'a' && b(p + 2) == 't' && b(p + 3) == 'a') {
          dataSize = size
        }
        i += 8L + size + (size & 1L) // long arithmetic: cannot wrap
      }
      if (ch == 0) return null
      val dur: java.lang.Long =
        if (dataSize >= 0 && byteRate > 0) java.lang.Long.valueOf(dataSize * 1000L / byteRate)
        else null
      return row("wav", ch, rate, bits, dur)
    }

    // AIFF: "FORM" <size> "AIFF", COMM chunk carries channels, frame
    // count, sample size and an 80-bit extended-float sample rate.
    // Same long-cursor rule as the WAV walk.
    if (b(0) == 'F' && b(1) == 'O' && b(2) == 'R' && b(3) == 'M' &&
        b(8) == 'A' && b(9) == 'I' && b(10) == 'F' && b(11) == 'F') {
      var i = 12L
      while (i + 8 <= b.length) {
        val p = i.toInt
        val size = be32(b, p + 4).toLong & 0xFFFFFFFFL
        if (b(p) == 'C' && b(p + 1) == 'O' && b(p + 2) == 'M' && b(p + 3) == 'M') {
          if (p + 8 + 18 > b.length || size < 18) return null
          val ch = be16(b, p + 8)
          val frames = be32(b, p + 10).toLong & 0xFFFFFFFFL
          val bits = be16(b, p + 14)
          val rate = extended80(b, p + 16)
          if (rate <= 0) return null
          val dur = java.lang.Long.valueOf((frames * 1000.0 / rate).toLong)
          return row("aiff", ch, math.round(rate).toInt, bits, dur)
        }
        i += 8L + size + (size & 1L)
      }
      return null
    }

    // FLAC: "fLaC" + STREAMINFO (block type 0, 34 bytes): rate is 20
    // bits at byte 18, channels-1 the next 3 bits, bits-per-sample-1
    // the next 5, total samples the following 36 bits
    if (b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C' &&
        b.length >= 4 + 4 + 34 && (b(4) & 0x7f) == 0) {
      val o = 8 + 10 // STREAMINFO starts at 8; rate field at its byte 10
      val rate = ((b(o) & 0xff) << 12) | ((b(o + 1) & 0xff) << 4) |
        ((b(o + 2) & 0xff) >> 4)
      val ch = ((b(o + 2) >> 1) & 0x07) + 1
      val bits = (((b(o + 2) & 0x01) << 4) | ((b(o + 3) & 0xff) >> 4)) + 1
      val samples = ((b(o + 3) & 0x0fL) << 32) | ((b(o + 4) & 0xffL) << 24) |
        ((b(o + 5) & 0xffL) << 16) | ((b(o + 6) & 0xffL) << 8) | (b(o + 7) & 0xffL)
      if (rate <= 0) return null
      val dur: java.lang.Long =
        if (samples > 0) java.lang.Long.valueOf(samples * 1000L / rate) else null
      return row("flac", ch, rate, bits, dur)
    }
    null
  }

  /** IEEE 754 80-bit extended float (AIFF sample rate): 1 sign bit,
    * 15 exponent bits (bias 16383), 64-bit mantissa with explicit
    * integer bit.
    */
  private def extended80(b: Array[Byte], i: Int): Double = {
    if (i + 10 > b.length) return -1
    val sign = if ((b(i) & 0x80) != 0) -1.0 else 1.0
    val exp = (((b(i) & 0x7f) << 8) | (b(i + 1) & 0xff)) - 16383
    var mant = 0.0
    var j = 0
    while (j < 8) { mant = mant * 256.0 + (b(i + 2 + j) & 0xff); j += 1 }
    // mantissa is a 64-bit integer with the integer bit explicit:
    // value = mant × 2^(exp − 63)
    val v = sign * mant * math.pow(2.0, exp.toDouble - 63.0)
    if (v.isNaN || v.isInfinite) -1 else v
  }


  /** `graft_audio_meta(binary)`; null for a null input or an unrecognised header. */
  val Kernel: NativeKernel = NativeKernel("graft_audio_meta", "graft.functions.AudioMeta", "probe",
    Seq(Seq(BinaryType)), outType, returnNullable = true)

  /** Column API: session-free. */
  def audioMeta(c: Column): Column = Kernel.col(c)
}
