package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.TestSpark

/** AudioMeta against hand-written WAV/AIFF/FLAC header fixtures built
  * byte-by-byte from the public format layouts — like ImageProbeSpec,
  * the probe is pinned to the specs, not to itself.
  */
class AudioProbeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def le16(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
  private def le32(v: Int) = le16(v & 0xFFFF) ++ le16((v >>> 16) & 0xFFFF)
  private def be16(v: Int) = Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def be32(v: Int) = be16((v >>> 16) & 0xFFFF) ++ be16(v & 0xFFFF)
  private def ascii(s: String) = s.getBytes("US-ASCII")

  /** 2ch/44100Hz/16-bit PCM WAV with one second of (fake) data. */
  private def wav: Array[Byte] = {
    val byteRate = 44100 * 2 * 2
    val data = new Array[Byte](1024) // size is what matters, not samples
    val fmt = ascii("fmt ") ++ le32(16) ++ le16(1) ++ le16(2) ++
      le32(44100) ++ le32(byteRate) ++ le16(4) ++ le16(16)
    val dataChunk = ascii("data") ++ le32(data.length) ++ data
    val body = ascii("WAVE") ++ fmt ++ dataChunk
    ascii("RIFF") ++ le32(body.length) ++ body
  }

  /** mono/44100Hz/16-bit AIFF with 22050 frames (500 ms). The sample
    * rate travels as an 80-bit extended float: 0x400E AC44 0000...
    */
  private def aiff: Array[Byte] = {
    val rate80 = Array(0x40, 0x0E, 0xAC, 0x44, 0, 0, 0, 0, 0, 0).map(_.toByte)
    val comm = ascii("COMM") ++ be32(18) ++ be16(1) ++ be32(22050) ++
      be16(16) ++ rate80
    val body = ascii("AIFF") ++ comm
    ascii("FORM") ++ be32(body.length) ++ body
  }

  /** stereo/48000Hz/16-bit FLAC STREAMINFO with 96000 samples (2 s). */
  private def flac: Array[Byte] = {
    val si = new Array[Byte](34)
    si(10) = 0x0B; si(11) = 0xB8.toByte // rate 48000 = 0x0BB80, top 16 bits
    si(12) = 0x02 // rate low nibble 0 | (ch-1 = 001) << 1 | bps-1 bit4 = 0
    si(13) = 0xF0.toByte // bps-1 low 4 = 1111 | samples bits 35-32 = 0
    si(14) = 0x00; si(15) = 0x01; si(16) = 0x77; si(17) = 0x00 // 96000
    ascii("fLaC") ++ Array(0x00.toByte) ++
      Array(0x00, 0x00, 0x22).map(_.toByte) ++ si // block type 0, len 34
  }

  private def probe(bytes: Array[Byte]) = {
    val r = Seq(Tuple1(bytes)).toDF("media")
      .select(AudioMeta.audioMeta(col("media")).as("m"))
      .select("m.*").collect().head
    if (r.isNullAt(0)) None
    else Some((r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3),
      if (r.isNullAt(4)) -1L else r.getLong(4)))
  }

  test("WAV: fmt + data chunks give channels, rate, bits and duration") {
    assert(probe(wav).contains(("wav", 2, 44100, 16,
      1024L * 1000 / (44100 * 4))))
  }

  test("AIFF: COMM chunk with 80-bit extended sample rate") {
    assert(probe(aiff).contains(("aiff", 1, 44100, 16, 500L)))
  }

  test("FLAC: STREAMINFO bitfields") {
    assert(probe(flac).contains(("flac", 2, 48000, 16, 2000L)))
  }

  test("malformed chunk sizes near Int.MaxValue yield null, never a crash") {
    // a junk 32-bit chunk size must not wrap the cursor negative
    val badAiff = ascii("FORM") ++ be32(100) ++ ascii("AIFF") ++
      ascii("XXXX") ++ be32(0x7FFFFFF4)
    val badWav = ascii("RIFF") ++ le32(100) ++ ascii("WAVE") ++
      ascii("junk") ++ le32(0x7FFFFFF0)
    assert(probe(badAiff).isEmpty)
    assert(probe(badWav).isEmpty)
  }

  test("garbage and images yield null, never a fake row") {
    val r = Seq(Tuple1("not audio at all padding bytes".getBytes)).toDF("media")
      .select(AudioMeta.audioMeta(col("media")).as("m")).collect().head
    assert(r.isNullAt(0))
  }

  test("probeAudioMetadata coalesces with pre-existing metadata") {
    val media = Seq(
      (1L, "audio", wav, Option.empty[Long]),
      (2L, "audio", "garbage".getBytes, Some(1234L))
    ).toDF("media_id", "media_type", "media", "duration_ms")
    val out = graft.multimodal.Multimodal.probeAudioMetadata(media)
      .orderBy("media_id").collect()
    assert(out(0).getAs[String]("format") == "wav")
    assert(out(0).getAs[Int]("sample_rate") == 44100)
    // failed probe keeps the prior duration instead of nulling it
    assert(out(1).getAs[Long]("duration_ms") == 1234L)
    assert(out(1).isNullAt(out(1).fieldIndex("format")))
  }

  test("SQL name resolves via the extension registration") {
    GraftFunctions.register(spark)
    val n = Seq(Tuple1(wav)).toDF("b").createOrReplaceTempView("graft_audio_t")
    val r = spark.sql(
      "SELECT graft_audio_meta(b).sample_rate AS sr FROM graft_audio_t")
      .collect().head.getInt(0)
    assert(r == 44100)
  }
}
