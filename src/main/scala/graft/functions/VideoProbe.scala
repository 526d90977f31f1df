package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `graft_video_meta(binary)` → struct<format string,
  * duration_ms bigint, width int, height int> — REAL video-container
  * parsing with zero media libraries, completing the image/audio/video
  * probe trio ([[ImageDims]], [[AudioMeta]]):
  *
  *  - MP4 / ISO-BMFF (mp4, mov, m4v): box walk to `moov` → `mvhd`
  *    (timescale + duration, version 0 and 1 layouts) and the first
  *    `trak` → `tkhd` with nonzero dimensions (16.16 fixed-point
  *    width/height);
  *  - Matroska/WebM: EBML magic sniff — format identification only
  *    (duration lives in float elements a fixed-offset walk can't
  *    reach reliably), fields stay null.
  *
  * Unknown/garbage bytes → null struct. Frame decode remains the
  * marked stub in [[graft.multimodal.Multimodal]].
  */
object VideoMeta {
  val outType: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("duration_ms", LongType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true)))

  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private def be32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
  private def be64(b: Array[Byte], i: Int): Long =
    (be32(b, i) << 32) | be32(b, i + 4)

  /** ftyp major brands that are VIDEO containers; audio (M4A/M4B) and
    * image (heic/avif) ISO-BMFF brands are deliberately absent.
    */
  private val VideoBrands = Set(
    "isom", "iso2", "iso4", "iso5", "iso6", "mp41", "mp42", "mp4v",
    "m4v ", "qt  ", "avc1", "dash", "3gp4", "3gp5", "3gp6", "mmp4")

  /** Null for anything that isn't a recognizable video container. */
  def probe(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 12) return null

    // Matroska / WebM: EBML magic — identification only
    if ((b(0) & 0xff) == 0x1A && (b(1) & 0xff) == 0x45 &&
        (b(2) & 0xff) == 0xDF && (b(3) & 0xff) == 0xA3)
      return InternalRow(UTF8String.fromString("webm"), null, null, null)

    // ISO-BMFF: the first box should be ftyp (or a moov-first stream).
    // The ftyp MAJOR BRAND (bytes 8-11) decides whether this is VIDEO:
    // M4A/M4B (audio) and heic/avif/mif1 (images) are also ISO-BMFF,
    // and reporting them as "mp4" would let probeVideoMetadata's
    // coalesce overwrite a correct pre-existing format (the
    // coalesce-don't-erase contract only protects against NULL probes,
    // not wrong non-null ones).
    if (b(4) == 'f' && b(5) == 't' && b(6) == 'y' && b(7) == 'p') {
      if (b.length < 12) return null
      val brand = new String(b, 8, 4, "US-ASCII")
      if (!VideoBrands.contains(brand)) return null
    } else if (!(b(4) == 'm' && b(5) == 'o' && b(6) == 'o' && b(7) == 'v'))
      return null

    var durMs: java.lang.Long = null
    var w: java.lang.Integer = null
    var h: java.lang.Integer = null

    /** Walk boxes in [from, to); recurse into containers we care about. */
    def walk(from: Int, to: Int, depth: Int): Unit = {
      var i = from
      while (i + 8 <= to && depth < 8) {
        var size = be32(b, i)
        var header = 8
        if (size == 1 && i + 16 <= to) { size = be64(b, i + 8); header = 16 }
        else if (size == 0) size = (to - i).toLong // box runs to the end
        if (size < header || i + size > to) return // malformed → stop
        val t = new String(b, i + 4, 4, "US-ASCII")
        t match {
          case "moov" | "trak" | "mdia" =>
            walk(i + header, (i + size).toInt, depth + 1)
          case "mvhd" if durMs == null && size > header =>
            val v = b(i + header) & 0xff
            if (v == 1 && i + header + 32 <= to) {
              val timescale = be32(b, i + header + 20)
              val duration = be64(b, i + header + 24)
              if (timescale > 0) durMs = java.lang.Long.valueOf(duration * 1000L / timescale)
            } else if (v == 0 && i + header + 20 <= to) {
              val timescale = be32(b, i + header + 12)
              val duration = be32(b, i + header + 16)
              if (timescale > 0) durMs = java.lang.Long.valueOf(duration * 1000L / timescale)
            }
          case "tkhd" if w == null && size > header =>
            // width/height are the LAST two 16.16 fixed-point fields;
            // full body is 84 bytes (v0) / 96 (v1)
            val v = b(i + header) & 0xff
            val end = (i + size).toInt
            if (size >= header + (if (v == 1) 96 else 84)) {
              val tw = (be32(b, end - 8) >> 16).toInt
              val th = (be32(b, end - 4) >> 16).toInt
              if (tw > 0 && th > 0) { w = tw; h = th }
            }
          case _ =>
        }
        i += size.toInt
      }
    }
    walk(0, b.length, 0)
    InternalRow(UTF8String.fromString("mp4"), durMs,
      if (w == null) null else w.intValue(),
      if (h == null) null else h.intValue())
  }


  /** `graft_video_meta(binary)`; null for a null input or an unrecognised header. */
  val Kernel: NativeKernel = NativeKernel("graft_video_meta", "graft.functions.VideoMeta", "probe",
    Seq(Seq(BinaryType)), outType, returnNullable = true)

  /** Column API: session-free. */
  def videoMeta(c: Column): Column = Kernel.col(c)
}
