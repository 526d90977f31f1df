package graft.sources

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** XlsReader against hand-written BIFF8-in-CFB fixtures — every byte
  * of the container (FAT, directory, mini-FAT, mini-stream) and of
  * the workbook stream (SST with a Continue split, BOUNDSHEET,
  * LABELSST/NUMBER/RK/MULRK/LABEL/BOOLERR/FORMULA cells) is
  * constructed here per the public [MS-CFB]/[MS-XLS] layouts, so the
  * reader is pinned to the format spec, not to itself.
  */
class XlsReaderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // ---- little-endian byte builders ----
  private def u16(v: Int): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
  private def u32(v: Int): Array[Byte] = u16(v & 0xFFFF) ++ u16((v >>> 16) & 0xFFFF)
  private def d64(v: Double): Array[Byte] = {
    val bits = java.lang.Double.doubleToLongBits(v)
    (0 until 8).map(i => ((bits >>> (8 * i)) & 0xFF).toByte).toArray
  }
  private def rec(id: Int, body: Array[Byte]): Array[Byte] =
    u16(id) ++ u16(body.length) ++ body
  private def latin1(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)

  // ---- BIFF8 record builders ----
  private def bof(dt: Int): Array[Byte] =
    rec(0x0809, u16(0x0600) ++ u16(dt) ++ u16(0x0DBB) ++ u16(0x07CC) ++
      u32(0) ++ u32(0x0606))
  private val eof = rec(0x000A, Array.empty[Byte])
  /** compressed XLUnicodeRichExtendedString (no rich/ext payload) */
  private def sstStr(s: String): Array[Byte] = u16(s.length) ++ Array(0.toByte) ++ latin1(s)
  private def labelSst(rw: Int, col: Int, isst: Int): Array[Byte] =
    rec(0x00FD, u16(rw) ++ u16(col) ++ u16(0) ++ u32(isst))
  private def number(rw: Int, col: Int, v: Double): Array[Byte] =
    rec(0x0203, u16(rw) ++ u16(col) ++ u16(0) ++ d64(v))
  private def rkInt(v: Int, div100: Boolean = false): Int =
    (v << 2) | 2 | (if (div100) 1 else 0)
  private def rkFloat(v: Double): Int = {
    val bits = java.lang.Double.doubleToLongBits(v)
    require((bits & 0x3FFFFFFFFL) == 0, s"$v not RK-float-representable")
    ((bits >>> 32) & 0xFFFFFFFCL).toInt
  }
  private def rk(rw: Int, col: Int, rkv: Int): Array[Byte] =
    rec(0x027E, u16(rw) ++ u16(col) ++ u16(0) ++ u32(rkv))
  private def mulRk(rw: Int, colFirst: Int, rks: Seq[Int]): Array[Byte] =
    rec(0x00BD, u16(rw) ++ u16(colFirst) ++
      rks.flatMap(r => u16(0) ++ u32(r)).toArray ++
      u16(colFirst + rks.length - 1))
  private def labelUtf16(rw: Int, col: Int, s: String): Array[Byte] =
    rec(0x0204, u16(rw) ++ u16(col) ++ u16(0) ++ u16(s.length) ++
      Array(1.toByte) ++ s.getBytes(java.nio.charset.StandardCharsets.UTF_16LE))
  private def boolErr(rw: Int, col: Int, v: Boolean): Array[Byte] =
    rec(0x0205, u16(rw) ++ u16(col) ++ u16(0) ++
      Array((if (v) 1 else 0).toByte, 0.toByte))
  private def formulaNum(rw: Int, col: Int, v: Double): Array[Byte] =
    rec(0x0006, u16(rw) ++ u16(col) ++ u16(0) ++ d64(v) ++
      u16(0) ++ u32(0) ++ u16(0)) // grbit, chn, cce=0 (no parsed expr)
  private def formulaBool(rw: Int, col: Int, v: Boolean): Array[Byte] =
    rec(0x0006, u16(rw) ++ u16(col) ++ u16(0) ++
      Array[Byte](1, 0, (if (v) 1 else 0).toByte, 0, 0, 0,
        0xFF.toByte, 0xFF.toByte) ++ u16(0) ++ u32(0) ++ u16(0))

  /** globals substream with the SST split across a Continue record:
    * string `splitAt` chars of `strings(splitIdx)` stay in the SST
    * record; the rest continues (flag byte re-stated) in CONTINUE.
    */
  private def globals(strings: Seq[String], splitIdx: Int, splitAt: Int,
      sheetPos: Int): Array[Byte] = {
    val head = strings.take(splitIdx).flatMap(sstStr).toArray
    val split = strings(splitIdx)
    val sstBody = u32(strings.length) ++ u32(strings.length) ++ head ++
      u16(split.length) ++ Array(0.toByte) ++ latin1(split.take(splitAt))
    val contBody = Array(0.toByte) ++ latin1(split.drop(splitAt)) ++
      strings.drop(splitIdx + 1).flatMap(sstStr).toArray
    val boundsheet = rec(0x0085, u32(sheetPos) ++ u16(0) ++
      Array(6.toByte, 0.toByte) ++ latin1("Sheet1"))
    bof(0x0005) ++ boundsheet ++ rec(0x00FC, sstBody) ++
      rec(0x003C, contBody) ++ eof
  }

  /** Wrap a Workbook stream into a v3 CFB container. The stream is
    * small (<4096) so it lives in the MINI stream: sector 0 = FAT,
    * 1 = directory, 2 = mini-FAT, 3.. = mini-stream container.
    */
  private def cfb(stream: Array[Byte]): Array[Byte] = {
    val miniSectors = (stream.length + 63) / 64
    require(miniSectors <= 128, "fixture stream too large for one mini-FAT sector")
    val container = java.util.Arrays.copyOf(stream, miniSectors * 64)
    val containerSectors = (container.length + 511) / 512
    val nSectors = 3 + containerSectors

    val fat = Array.fill(128)(0xFFFFFFFF) // FREESECT
    fat(0) = 0xFFFFFFFD // FATSECT marks itself
    fat(1) = 0xFFFFFFFE // directory: single sector
    fat(2) = 0xFFFFFFFE // mini-FAT: single sector
    for (i <- 0 until containerSectors)
      fat(3 + i) = if (i == containerSectors - 1) 0xFFFFFFFE else 4 + i

    val miniFat = Array.fill(128)(0xFFFFFFFF)
    for (i <- 0 until miniSectors)
      miniFat(i) = if (i == miniSectors - 1) 0xFFFFFFFE else i + 1

    def dirEntry(name: String, tpe: Int, child: Int, start: Int, size: Int): Array[Byte] = {
      val e = new Array[Byte](128)
      val nb = name.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
      System.arraycopy(nb, 0, e, 0, nb.length)
      System.arraycopy(u16(nb.length + 2), 0, e, 64, 2)
      e(66) = tpe.toByte
      e(67) = 1 // black
      System.arraycopy(u32(0xFFFFFFFF), 0, e, 68, 4) // left sibling
      System.arraycopy(u32(0xFFFFFFFF), 0, e, 72, 4) // right sibling
      System.arraycopy(u32(child), 0, e, 76, 4)
      System.arraycopy(u32(start), 0, e, 116, 4)
      System.arraycopy(u32(size), 0, e, 120, 4)
      e
    }
    val directory = dirEntry("Root Entry", 5, 1, 3, container.length) ++
      dirEntry("Workbook", 2, 0xFFFFFFFF, 0, stream.length) ++
      new Array[Byte](256) // two unused entries

    val header = new Array[Byte](512)
    val sig = Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1).map(_.toByte)
    System.arraycopy(sig, 0, header, 0, 8)
    System.arraycopy(u16(0x003E), 0, header, 24, 2) // minor version
    System.arraycopy(u16(3), 0, header, 26, 2) // major version 3
    System.arraycopy(u16(0xFFFE), 0, header, 28, 2) // byte order
    System.arraycopy(u16(9), 0, header, 30, 2) // 512 B sectors
    System.arraycopy(u16(6), 0, header, 32, 2) // 64 B mini sectors
    System.arraycopy(u32(1), 0, header, 44, 4) // 1 FAT sector
    System.arraycopy(u32(1), 0, header, 48, 4) // directory at sector 1
    System.arraycopy(u32(4096), 0, header, 56, 4) // mini cutoff
    System.arraycopy(u32(2), 0, header, 60, 4) // mini-FAT at sector 2
    System.arraycopy(u32(1), 0, header, 64, 4) // 1 mini-FAT sector
    System.arraycopy(u32(0xFFFFFFFE), 0, header, 68, 4) // no DIFAT chain
    System.arraycopy(u32(0), 0, header, 72, 4)
    System.arraycopy(u32(0), 0, header, 76, 4) // DIFAT[0] = sector 0
    for (i <- 1 until 109)
      System.arraycopy(u32(0xFFFFFFFF), 0, header, 76 + i * 4, 4)

    def pad(b: Array[Byte]): Array[Byte] =
      java.util.Arrays.copyOf(b, ((b.length + 511) / 512) * 512)
    header ++ pad(fat.flatMap(u32)) ++ pad(directory) ++
      pad(miniFat.flatMap(u32)) ++ pad(container)
  }

  private def writeFixture(stream: Array[Byte]): String = {
    val p = graft.TestDirs.create("graft_xls").resolve("t.xls")
    Files.write(p, cfb(stream))
    p.toString
  }

  /** The main fixture: 4 typed columns exercising every cell record. */
  private def mainFixture: String = {
    // string 5 is long and split across the Continue record
    val longStr = "beta_" + ("x" * 40)
    val strings = Seq("id", "name", "score", "flag", "alpha", longStr, "gamma")
    val sheet = bof(0x0010) ++
      labelSst(0, 0, 0) ++ labelSst(0, 1, 1) ++
      labelSst(0, 2, 2) ++ labelSst(0, 3, 3) ++
      // row 1: RK int, SST string, NUMBER, BOOLERR
      rk(1, 0, rkInt(1)) ++ labelSst(1, 1, 4) ++
      number(1, 2, 10.5) ++ boolErr(1, 3, v = true) ++
      // row 2: NUMBER, inline UTF-16 LABEL, RK ÷100, BOOLERR
      number(2, 0, 2.0) ++ labelUtf16(2, 1, "café €") ++
      rk(2, 2, rkInt(1234, div100 = true)) ++ boolErr(2, 3, v = false) ++
      // row 3: RK int, the Continue-split SST string, cached FORMULA results
      rk(3, 0, rkInt(3)) ++ labelSst(3, 1, 5) ++
      formulaNum(3, 2, 7.25) ++ formulaBool(3, 3, v = true) ++
      // row 4: gap in the name column, RK float
      rk(4, 0, rkInt(4)) ++ rk(4, 2, rkFloat(2.5)) ++ boolErr(4, 3, v = true) ++
      eof
    val g = globals(strings, splitIdx = 5, splitAt = 12, sheetPos = 0)
    // second pass with the real sheet offset (globals length is stable)
    val stream = globals(strings, 5, 12, g.length) ++ sheet
    writeFixture(stream)
  }

  test("reads a BIFF8 .xls: types, values, SST Continue split, gaps") {
    val df = XlsReader.read(spark, mainFixture)
    assert(df.columns.toSeq == Seq("id", "name", "score", "flag"))
    assert(df.schema.map(_.dataType.simpleString).toSeq ==
      Seq("bigint", "string", "double", "boolean"))
    val rows = df.orderBy("id").collect().map(r =>
      (r.getAs[Long]("id"), r.getAs[String]("name"),
        r.getAs[Double]("score"), r.getAs[Boolean]("flag")))
    assert(rows.toSeq == Seq(
      (1L, "alpha", 10.5, true),
      (2L, "café €", 12.34, false),
      (3L, "beta_" + ("x" * 40), 7.25, true),
      (4L, null, 2.5, true)))
  }

  test("MULRK expands one record into a run of numeric cells") {
    val strings = Seq("id", "a", "b")
    val sheet = bof(0x0010) ++
      labelSst(0, 0, 0) ++ labelSst(0, 1, 1) ++ labelSst(0, 2, 2) ++
      mulRk(1, 0, Seq(rkInt(7), rkInt(850, div100 = true), rkFloat(-4.5))) ++
      eof
    val g = globals(strings, splitIdx = 2, splitAt = 1, sheetPos = 0)
    val path = writeFixture(globals(strings, 2, 1, g.length) ++ sheet)
    val r = XlsReader.read(spark, path).collect().head
    assert(r.getAs[Long]("id") == 7L)
    assert(r.getAs[Double]("a") == 8.5)
    assert(r.getAs[Double]("b") == -4.5)
  }

  test("RK decoding: int, int÷100, float, negative") {
    assert(XlsReader.Biff8.decodeRk(rkInt(42)) == 42.0)
    assert(XlsReader.Biff8.decodeRk(rkInt(-42)) == -42.0)
    assert(XlsReader.Biff8.decodeRk(rkInt(1234, div100 = true)) == 12.34)
    assert(XlsReader.Biff8.decodeRk(rkFloat(2.5)) == 2.5)
    assert(XlsReader.Biff8.decodeRk(rkFloat(-2.5)) == -2.5)
  }

  test("sheet option selects a worksheet by BOUNDSHEET name") {
    val strings = Seq("a", "b")
    val sheetA = bof(0x0010) ++ labelSst(0, 0, 0) ++ number(1, 0, 1.0) ++ eof
    val sheetB = bof(0x0010) ++ labelSst(0, 0, 1) ++ number(1, 0, 2.0) ++ eof
    def globals2(posA: Int, posB: Int): Array[Byte] = {
      val sstBody = u32(2) ++ u32(2) ++ strings.flatMap(sstStr).toArray
      val bsA = rec(0x0085, u32(posA) ++ u16(0) ++
        Array(6.toByte, 0.toByte) ++ latin1("SheetA"))
      val bsB = rec(0x0085, u32(posB) ++ u16(0) ++
        Array(6.toByte, 0.toByte) ++ latin1("SheetB"))
      bof(0x0005) ++ bsA ++ bsB ++ rec(0x00FC, sstBody) ++ eof
    }
    val gLen = globals2(0, 0).length
    val path = writeFixture(
      globals2(gLen, gLen + sheetA.length) ++ sheetA ++ sheetB)

    val first = XlsReader.read(spark, path) // default = first worksheet
    assert(first.columns.toSeq == Seq("a"))
    assert(first.head.getLong(0) == 1L)
    val second = Readers.read(spark, path, "xls", options = Map("sheet" -> "SheetB"))
    assert(second.columns.toSeq == Seq("b"))
    assert(second.head.getLong(0) == 2L)
    val e = intercept[IllegalArgumentException] {
      XlsReader.read(spark, path, Some("Nope"))
    }
    assert(e.getMessage.contains("SheetA") && e.getMessage.contains("SheetB"),
      e.getMessage)
  }

  test("truncated BOUNDSHEET records raise the reader's contract, not AIOOBE") {
    // record shorter than the 8-byte fixed header
    val short = bof(0x0005) ++ rec(0x0085, u32(64)) ++ eof
    val e = intercept[IllegalArgumentException] {
      XlsReader.Biff8.worksheetRows(short)
    }
    assert(e.getMessage.contains("BOUNDSHEET"), e.getMessage)

    // declared name length (cch=200) overruns the record body
    val overrun = bof(0x0005) ++ rec(0x0085,
      u32(64) ++ u16(0) ++ Array(200.toByte, 0.toByte) ++ latin1("Sh")) ++ eof
    val e2 = intercept[IllegalArgumentException] {
      XlsReader.Biff8.worksheetRows(overrun)
    }
    assert(e2.getMessage.contains("BOUNDSHEET"), e2.getMessage)
  }

  test("BIFF5 and non-OLE2 files raise actionable errors") {
    val biff5 = rec(0x0809, u16(0x0500) ++ u16(0x0005) ++ u16(0) ++ u16(0) ++
      u32(0) ++ u32(0)) ++ eof
    val e = intercept[IllegalArgumentException] {
      XlsReader.Biff8.worksheetRows(biff5)
    }
    assert(e.getMessage.contains("BIFF"), e.getMessage)

    val p = graft.TestDirs.create("graft_xls").resolve("fake.xls")
    Files.write(p, "id,s\n1,a\n".getBytes)
    val e2 = intercept[IllegalArgumentException] { XlsReader.read(spark, p.toString) }
    assert(e2.getMessage.contains("compound"), e2.getMessage)
  }

  test("Readers routes .xls to XlsReader with schema override and preview parity") {
    val path = mainFixture
    assert(Readers.detectFormat(path) == "xls")
    val df = Readers.read(spark, path, "xls")
    assert(df.count() == 4)
    // caller-supplied schema overrides inference, like the xlsx branch
    val st = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.StringType)))
    val cast = Readers.read(spark, path, "xls", schema = Some(st))
    assert(cast.schema.map(_.dataType.simpleString).toSeq == Seq("int", "string"))
    assert(cast.orderBy("id").collect().head.getInt(0) == 1)
  }
}
