package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The fixture is HAND-WRITTEN OOXML (string literals zipped with
  * java.util.zip), deliberately independent of the reader's code path,
  * and exercises: shared strings, inline strings, longs, doubles,
  * booleans, gap cells (missing B in a row), a skipped shared-string
  * index, namespaced r:id sheet resolution, and a trailing all-empty
  * row (Excel writes those for styling).
  */
class XlsxReaderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def writeFixture(): String = {
    val dir = graft.TestDirs.create("graft_xlsx")
    val path = dir.resolve("book.xlsx")
    val zos = new ZipOutputStream(Files.newOutputStream(path))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes(StandardCharsets.UTF_8))
      zos.closeEntry()
    }
    put("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>""")
    put("xl/workbook.xml",
      """<?xml version="1.0"?>
        |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        |          xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |  <sheets>
        |    <sheet name="Data" sheetId="1" r:id="rId7"/>
        |    <sheet name="Other" sheetId="2" r:id="rId8"/>
        |  </sheets>
        |</workbook>""".stripMargin)
    put("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |  <Relationship Id="rId8" Type="t" Target="worksheets/sheet2.xml"/>
        |  <Relationship Id="rId7" Type="t" Target="worksheets/sheetFirst.xml"/>
        |</Relationships>""".stripMargin)
    put("xl/sharedStrings.xml",
      """<?xml version="1.0"?>
        |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="4" uniqueCount="4">
        |  <si><t>id</t></si>
        |  <si><t>name</t></si>
        |  <si><r><t>Al</t></r><r><t>ice</t></r></si>
        |  <si><t>active</t></si>
        |</sst>""".stripMargin)
    // row 2: full; row 3: gap in B (name missing); row 4: all-empty styling row
    put("xl/worksheets/sheetFirst.xml",
      """<?xml version="1.0"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |  <sheetData>
        |    <row r="1">
        |      <c r="A1" t="s"><v>0</v></c>
        |      <c r="B1" t="s"><v>1</v></c>
        |      <c r="C1" t="s"><v>3</v></c>
        |      <c r="D1" t="inlineStr"><is><t>score</t></is></c>
        |    </row>
        |    <row r="2">
        |      <c r="A2"><v>1</v></c>
        |      <c r="B2" t="s"><v>2</v></c>
        |      <c r="C2" t="b"><v>1</v></c>
        |      <c r="D2"><v>1.5</v></c>
        |    </row>
        |    <row r="3">
        |      <c r="A3"><v>2</v></c>
        |      <c r="C3" t="b"><v>0</v></c>
        |      <c r="D3"><v>2</v></c>
        |    </row>
        |    <row r="4">
        |      <c r="A4"/><c r="B4"/>
        |    </row>
        |  </sheetData>
        |</worksheet>""".stripMargin)
    put("xl/worksheets/sheet2.xml",
      """<?xml version="1.0"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |  <sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>WRONG SHEET</t></is></c></row></sheetData>
        |</worksheet>""".stripMargin)
    zos.close()
    path.toString
  }

  test("reads the first workbook sheet with typed columns, gaps and trailing-row cleanup") {
    val df = Readers.read(spark, writeFixture(), "xlsx")
    assert(df.columns.toSeq == Seq("id", "name", "active", "score"))
    assert(df.schema.map(_.dataType.typeName) ==
      Seq("long", "string", "boolean", "double"))
    val rows = df.collect().sortBy(_.getLong(0))
    assert(rows.length == 2) // trailing styling row dropped
    assert((rows(0).getLong(0), rows(0).getString(1),
      rows(0).getBoolean(2), rows(0).getDouble(3)) == ((1L, "Alice", true, 1.5)))
    assert(rows(1).getLong(0) == 2L)
    assert(rows(1).isNullAt(1)) // gap cell → null
    assert(!rows(1).getBoolean(2))
    assert(rows(1).getDouble(3) == 2.0)
  }

  test("e_preview shape works over xlsx (engine surface parity)") {
    val p = writeFixture()
    val preview = graft.Engine.previewFile(spark, p, "xlsx", limit = 1, orderBy = Seq("id"))
    assert(preview.totalCount == 2)
    assert(preview.columns == Seq("id", "name", "active", "score"))
    assert(preview.rows.head.getLong(0) == 1L)
    val schema = Readers.inferSchema(spark, p, "xlsx")
    assert(schema.map(_._1) == Seq("id", "name", "active", "score"))
  }

  test("sheet option selects a worksheet by name; unknown name lists sheets") {
    val p = writeFixture()
    val other = Readers.read(spark, p, "xlsx", options = Map("sheet" -> "Other"))
    assert(other.columns.toSeq == Seq("WRONG SHEET")) // header-only sheet
    assert(other.count() == 0)
    val e = intercept[IllegalArgumentException] {
      Readers.read(spark, p, "xlsx", options = Map("sheet" -> "Nope"))
    }
    assert(e.getMessage.contains("Data") && e.getMessage.contains("Other"),
      e.getMessage)
  }

  test("detectFormat routes .xlsx; colIndex decodes multi-letter refs") {
    assert(Readers.detectFormat("/data/report.xlsx") == "xlsx")
    assert(XlsxReader.colIndex("A1") == 0)
    assert(XlsxReader.colIndex("Z9") == 25)
    assert(XlsxReader.colIndex("AA3") == 26)
    assert(XlsxReader.colIndex("BC7") == 54)
  }

  test("data rows wider than the header keep their cells under colN names") {
    val dir = graft.TestDirs.create("graft_xlsx3")
    val path = dir.resolve("w.xlsx")
    val zos = new ZipOutputStream(Files.newOutputStream(path))
    zos.putNextEntry(new ZipEntry("xl/worksheets/sheet1.xml"))
    zos.write(
      """<?xml version="1.0"?><worksheet><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>a</t></is></c></row>
        |<row r="2"><c r="A2"><v>1</v></c><c r="B2"><v>7</v></c></row>
        |</sheetData></worksheet>""".stripMargin.getBytes("UTF-8"))
    zos.closeEntry(); zos.close()
    val df = Readers.read(spark, path.toString, "xlsx")
    assert(df.columns.toSeq == Seq("a", "col1"))
    assert(df.head.getLong(1) == 7L) // not silently truncated
  }

  test("caller-supplied schema overrides xlsx inference") {
    import org.apache.spark.sql.types._
    val p = writeFixture()
    val st = StructType(Seq(StructField("id", StringType), StructField("score", StringType)))
    val df = Readers.read(spark, p, "xlsx", schema = Some(st))
    assert(df.schema.map(_.dataType.typeName) == Seq("string", "string"))
    assert(df.collect().map(_.getString(0)).sorted.toSeq == Seq("1", "2"))
  }

  test("mixed numeric column degrades to double; mixed anything to string") {
    val dir = graft.TestDirs.create("graft_xlsx2")
    val path = dir.resolve("m.xlsx")
    val zos = new ZipOutputStream(Files.newOutputStream(path))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>a</t></is></c><c r="B1" t="inlineStr"><is><t>b</t></is></c></row>
        |<row r="2"><c r="A2"><v>1</v></c><c r="B2"><v>2</v></c></row>
        |<row r="3"><c r="A3"><v>1.5</v></c><c r="B3" t="inlineStr"><is><t>x</t></is></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zos.close()
    val df = Readers.read(spark, path.toString, "xlsx")
    assert(df.schema.map(_.dataType.typeName) == Seq("double", "string"))
    assert(df.collect().map(_.getDouble(0)).sorted.toSeq == Seq(1.0, 1.5))
  }
}
