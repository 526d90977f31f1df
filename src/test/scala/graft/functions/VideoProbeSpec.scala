package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.TestSpark

/** VideoMeta against hand-written ISO-BMFF/EBML fixtures built
  * byte-by-byte from the public box layouts.
  */
class VideoProbeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def be16(v: Int) = Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def be32(v: Long) = be16(((v >>> 16) & 0xFFFF).toInt) ++ be16((v & 0xFFFF).toInt)
  private def ascii(s: String) = s.getBytes("US-ASCII")
  private def box(tpe: String, body: Array[Byte]): Array[Byte] =
    be32(body.length + 8L) ++ ascii(tpe) ++ body

  /** 10 s, 640×360 mp4: ftyp + moov(mvhd v0 + trak(tkhd v0)). */
  private def mp4: Array[Byte] = {
    val ftyp = box("ftyp", ascii("isom") ++ be32(512) ++ ascii("isomiso2"))
    // mvhd v0: ver/flags, ctime, mtime, timescale=1000, duration=10000
    val mvhd = box("mvhd", be32(0) ++ be32(0) ++ be32(0) ++
      be32(1000) ++ be32(10000) ++ new Array[Byte](80))
    // tkhd v0 body is 84 bytes; width/height are the LAST two 16.16 fields
    val tkhdBody = new Array[Byte](84)
    System.arraycopy(be32(640L << 16), 0, tkhdBody, 76, 4)
    System.arraycopy(be32(360L << 16), 0, tkhdBody, 80, 4)
    val trak = box("trak", box("tkhd", tkhdBody))
    ftyp ++ box("moov", mvhd ++ trak)
  }

  /** mvhd version 1 (64-bit times/duration). */
  private def mp4v1: Array[Byte] = {
    val ftyp = box("ftyp", ascii("isom") ++ be32(512))
    val mvhd = box("mvhd", Array[Byte](1, 0, 0, 0) ++
      be32(0) ++ be32(0) ++ be32(0) ++ be32(0) ++ // 64-bit ctime/mtime
      be32(90000) ++ // timescale
      be32(0) ++ be32(2700000) ++ // 64-bit duration = 30 s
      new Array[Byte](80))
    ftyp ++ box("moov", mvhd)
  }

  private def probe(bytes: Array[Byte]) = {
    val r = Seq(Tuple1(bytes)).toDF("media")
      .select(VideoMeta.videoMeta(col("media")).as("m"))
      .select("m.*").collect().head
    if (r.isNullAt(0)) None
    else Some((r.getString(0),
      if (r.isNullAt(1)) -1L else r.getLong(1),
      if (r.isNullAt(2)) -1 else r.getInt(2),
      if (r.isNullAt(3)) -1 else r.getInt(3)))
  }

  test("mp4: mvhd v0 duration and tkhd 16.16 dimensions") {
    assert(probe(mp4).contains(("mp4", 10000L, 640, 360)))
  }

  test("mp4: mvhd version 1 (64-bit duration)") {
    assert(probe(mp4v1).contains(("mp4", 30000L, -1, -1)))
  }

  test("webm: EBML magic sniffs the format, fields stay null") {
    val ebml = Array(0x1A, 0x45, 0xDF, 0xA3).map(_.toByte) ++ new Array[Byte](16)
    assert(probe(ebml).contains(("webm", -1L, -1, -1)))
  }

  test("garbage and non-video bytes yield null") {
    assert(probe("certainly not a video file".getBytes).isEmpty)
    assert(probe(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("truncated boxes never crash: empty mvhd/tkhd at the buffer end") {
    // size == header (no body) ending exactly at the buffer end — the
    // version-byte read must not index past the array
    val ftyp = box("ftyp", ascii("isom") ++ be32(512))
    val emptyMvhd = be32(8) ++ ascii("mvhd")
    val r = probe(ftyp ++ box("moov", emptyMvhd))
    assert(r.contains(("mp4", -1L, -1, -1))) // recognized, fields unknown
  }

  test("non-video ISO-BMFF brands (M4A audio, HEIC image) are rejected") {
    def withBrand(brand: String) =
      box("ftyp", ascii(brand) ++ be32(0)) ++
        box("moov", box("mvhd", be32(0) ++ be32(0) ++ be32(0) ++
          be32(1000) ++ be32(5000) ++ new Array[Byte](80)))
    assert(probe(withBrand("M4A ")).isEmpty) // audio-only container
    assert(probe(withBrand("heic")).isEmpty) // image container
    assert(probe(withBrand("mp42")).contains(("mp4", 5000L, -1, -1)))
  }

  test("SQL name resolves via registration") {
    GraftFunctions.register(spark)
    Seq(Tuple1(mp4)).toDF("b").createOrReplaceTempView("graft_video_t")
    val r = spark.sql(
      "SELECT graft_video_meta(b).duration_ms AS d FROM graft_video_t")
      .collect().head.getLong(0)
    assert(r == 10000L)
  }
}
