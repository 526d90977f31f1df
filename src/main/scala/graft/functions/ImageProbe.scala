package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `graft_image_dims(binary)` → struct<format string, width int,
  * height int> — REAL image-header parsing with zero image libraries:
  * PNG (IHDR), JPEG (SOF scan), GIF (logical screen descriptor) and
  * BMP (info header) all carry their dimensions in fixed header bytes
  * a plain byte walk can read. Non-image/garbage bytes → null struct.
  *
  * This is the honest slice of multimodal decode that IS implementable
  * offline: a 100 TB media pipeline's first pass — format sniffing +
  * dimension stats + aspect/size filters — needs exactly this, not a
  * full pixel decode. (Full decode/feature extraction remains the
  * clearly-marked stub in [[graft.multimodal.Multimodal]].)
  */
object ImageDims {
  val outType: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))

  private def row(fmt: String, w: Int, h: Int): InternalRow =
    if (w <= 0 || h <= 0) null
    else InternalRow(UTF8String.fromString(fmt), w, h)

  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
      ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)

  /** Null for anything that isn't a recognizable image header. */
  def probe(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 10) return null
    // PNG: 8-byte signature, IHDR length+type at 8..15, w/h at 16/20
    if (b.length >= 24 &&
        (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
        b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
      return row("png", be32(b, 16), be32(b, 20))
    // GIF87a/GIF89a: logical screen w/h little-endian at 6/8
    if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
        (b(4) == '7' || b(4) == '9') && b(5) == 'a')
      return row("gif", le16(b, 6), le16(b, 8))
    // BMP: "BM", DIB header size at 14 decides the field layout —
    // 40+ (BITMAPINFOHEADER and successors, 32-bit fields) and 12
    // (BITMAPCOREHEADER, 16-bit fields) are parseable; other legacy
    // OS/2 variants yield null rather than misread halves.
    if (b.length >= 26 && b(0) == 'B' && b(1) == 'M') {
      val dib = le32(b, 14)
      return if (dib >= 40) row("bmp", le32(b, 18), math.abs(le32(b, 22)))
      else if (dib == 12) row("bmp", le16(b, 18), le16(b, 20))
      else null
    }
    // JPEG: FF D8, walk segments to the first SOFn (C0-CF minus C4/C8/CC)
    if ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
      var i = 2
      while (i + 9 <= b.length) { // SOF dims end at i+8 inclusive
        if ((b(i) & 0xff) != 0xff) return null // broken marker stream
        // spec-legal fill bytes: any run of 0xFF before the marker id
        var j = i + 1
        while (j < b.length && (b(j) & 0xff) == 0xff) j += 1
        if (j + 8 > b.length) return null
        val marker = b(j) & 0xff
        if (marker == 0xd9) return null // EOI before any SOF
        if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7) || marker == 0x01) {
          i = j + 1 // standalone markers carry no length
        } else if (marker >= 0xc0 && marker <= 0xcf &&
            marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
          // SOFn: [len][precision][height][width]
          return row("jpeg", be16(b, j + 6), be16(b, j + 4))
        } else {
          val len = be16(b, j + 1)
          if (len < 2) return null
          i = j + 1 + len
        }
      }
      return null
    }
    null
  }


  /** `graft_image_dims(binary)`; null for a null input or an unrecognised header. */
  val Kernel: NativeKernel = NativeKernel("graft_image_dims", "graft.functions.ImageDims", "probe",
    Seq(Seq(BinaryType)), outType, returnNullable = true)

  /** Column API: session-free. */
  def imageDims(c: Column): Column = Kernel.col(c)
}
