package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Fixture headers are HAND-WRITTEN byte sequences per the published
  * format specs — independent of the parser under test.
  */
class ImageProbeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def png(w: Int, h: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(33)
    b.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    b.putInt(13).put("IHDR".getBytes) // IHDR chunk length + type
    b.putInt(w).putInt(h)
    b.put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    b.array()
  }

  private def gif(w: Int, h: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(13).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("GIF89a".getBytes)
    b.putShort(w.toShort).putShort(h.toShort)
    b.put(0.toByte).put(0.toByte).put(0.toByte)
    b.array()
  }

  private def bmp(w: Int, h: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(54).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(54).putInt(0).putInt(54)
    b.putInt(40).putInt(w).putInt(h) // BITMAPINFOHEADER
    b.array()
  }

  /** JPEG: SOI, an APP0 segment to skip, then SOF0 with the dims. */
  private def jpeg(w: Int, h: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(2 + 8 + 12)
    b.put(0xff.toByte).put(0xd8.toByte)                 // SOI
    b.put(0xff.toByte).put(0xe0.toByte).putShort(6)     // APP0 len=6
    b.putInt(0x4a464946)                                // "JFIF"
    b.put(0xff.toByte).put(0xc0.toByte).putShort(10)    // SOF0 len
    b.put(8.toByte).putShort(h.toShort).putShort(w.toShort)
    b.put(3.toByte).put(0.toByte).put(0.toByte)
    b.array()
  }

  test("parses PNG / GIF / BMP / JPEG headers; rejects garbage") {
    val rows = Seq(
      ("png", png(640, 480)),
      ("gif", gif(101, 55)),
      ("bmp", bmp(320, 200)),
      ("jpeg", jpeg(1920, 1080)),
      ("junk", "just some text bytes".getBytes)
    ).toDF("label", "media")
    val got = rows.select($"label", ImageDims.imageDims($"media").as("d"))
      .collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None
         else { val d = r.getStruct(1); Some((d.getString(0), d.getInt(1), d.getInt(2))) }))
      .toMap
    assert(got("png") == Some(("png", 640, 480)))
    assert(got("gif") == Some(("gif", 101, 55)))
    assert(got("bmp") == Some(("bmp", 320, 200)))
    assert(got("jpeg") == Some(("jpeg", 1920, 1080)))
    assert(got("junk") == None)
  }

  test("JPEG edge cases: fill bytes before SOF, EOI-first, truncation at the width field") {
    // fill bytes (extra 0xFF) before the SOF marker are spec-legal
    val filled = {
      val base = jpeg(64, 32)
      val out = new java.io.ByteArrayOutputStream()
      out.write(base, 0, 10) // SOI + APP0
      out.write(0xff); out.write(0xff) // padding run
      out.write(base, 10, base.length - 10) // FF C0 ...
      out.toByteArray
    }
    // buffer ending exactly after the SOF width bytes is sufficient
    val truncated = jpeg(64, 32).dropRight(3)
    // EOI before any SOF → honestly unparseable
    val eoiFirst = Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte)
    val got = Seq(("filled", filled), ("trunc", truncated), ("eoi", eoiFirst))
      .toDF("label", "media")
      .select($"label", ImageDims.imageDims($"media").as("d")).collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some((r.getStruct(1).getInt(1), r.getStruct(1).getInt(2)))))
      .toMap
    assert(got("filled") == Some((64, 32)))
    assert(got("trunc") == Some((64, 32)))
    assert(got("eoi") == None)
  }

  test("probeMetadata fills media dims; non-images keep nulls") {
    val media = graft.multimodal.Multimodal.asMedia(
      Seq((1L, png(32, 16)), (2L, "not an image".getBytes))
        .toDF("id", "blob"),
      "id", "blob", "image")
    val probed = graft.multimodal.Multimodal.probeMetadata(media)
      .select("media_id", "format", "width", "height")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(probed(1L) == ((Some("png"), Some(32), Some(16))))
    assert(probed(2L) == ((None, None, None)))
  }

  test("SQL surface + null input") {
    GraftFunctions.register(spark)
    Seq(Tuple1(png(9, 7))).toDF("m").createOrReplaceTempView("imgs")
    val d = spark.sql("SELECT graft_image_dims(m) FROM imgs").head.getStruct(0)
    assert(d.getString(0) == "png" && d.getInt(1) == 9 && d.getInt(2) == 7)
    val n = Seq[Option[Array[Byte]]](None).toDF("m")
      .select(ImageDims.imageDims($"m")).head
    assert(n.isNullAt(0))
  }
}
