package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every file under `src/` is text: no byte below 0x20 other than tab,
  * LF or CR. A literal NUL or SOH in a string makes git treat the file
  * as binary, which hides its diffs; write such a character as a
  * Unicode escape in the literal. Parquet fixtures are binary by
  * format and are the one exemption.
  */
class SourceHygieneSpec extends AnyFunSuite {

  test("no control bytes other than tab, LF and CR in any source file") {
    val src = Paths.get("src")
    assert(Files.isDirectory(src), s"run from the repository root: ${src.toAbsolutePath}")
    val files = Files.walk(src).iterator().asScala
      .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.endsWith(".parquet"))
      .toSeq
    def badOffset(f: Path): Option[Int] =
      Some(Files.readAllBytes(f).indexWhere(b => b >= 0 && b < 0x20 && b != '\t' && b != '\n' &&
        b != '\r')).filter(_ >= 0)
    val bad = files.flatMap(f => badOffset(f).map(o => s"$f at byte $o"))
    assert(files.nonEmpty)
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
