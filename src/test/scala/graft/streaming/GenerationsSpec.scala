package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The shared generation-manifest protocol on a local temp dir, without
  * Spark: a "generation" here is a hand-made data dir and the tail is
  * plain files at the root.
  */
class GenerationsSpec extends AnyFunSuite {
  private val fs = FileSystem.getLocal(new Configuration())

  private def tmpRoot(): Path = fs.makeQualified(new Path(
    graft.TestDirs.create("graft_gen").toString))

  private def touch(p: Path): Path = { fs.create(p, true).close(); fs.makeQualified(p) }

  private def tail(root: Path) = fs.listStatus(root).toSeq
    .filter(st => st.isFile && !st.getPath.getName.startsWith("_")
      && !st.getPath.getName.startsWith("."))

  /** One compaction that consumes `consumed` and keeps `keep`. */
  private def flip(root: Path, keep: Seq[Path] = Nil, consumed: Seq[Path] = Nil)
      : (Generations.Layout, Generations.Layout) = {
    val prev = Generations.resolve(fs, root)
    val gen = Generations.claim(fs, root)
    val dir = Generations.dataDirName(gen)
    touch(new Path(new Path(root, dir), "part-0"))
    val next = Generations.commit(fs, root, prev, gen, dir, keep, consumed)
    Generations.retire(fs, root, prev, next)
    (prev, next)
  }

  test("a torn manifest is skipped and its generation number is burned") {
    val root = tmpRoot()
    val a = touch(new Path(root, "a"))
    flip(root, consumed = Seq(a)) // gen 0
    // crash mid-create of gen 1: no terminator line
    val out = fs.create(new Path(root, "_graft_gen-00001.manifest"), false)
    out.write("#graft-manifest v2\ndata=_gen-00001-dead\n".getBytes("UTF-8"))
    out.close()
    val lay = Generations.resolve(fs, root)
    assert(lay.gen.contains(0) && lay.consumed.map(_._2) == Seq(a))
    assert(Generations.claim(fs, root) == 2)
    val (_, next) = flip(root)
    assert(next.gen.contains(2) && Generations.resolve(fs, root).gen.contains(2))
  }

  test("a second commit at the same generation raises and leaves the first intact") {
    val root = tmpRoot()
    val prev = Generations.resolve(fs, root)
    val gen = Generations.claim(fs, root)
    Generations.commit(fs, root, prev, gen, Generations.dataDirName(gen), Nil, Nil)
    val rival = Generations.dataDirName(gen)
    intercept[java.io.IOException] {
      Generations.commit(fs, root, prev, gen, rival, Nil, Nil)
    }
    assert(Generations.resolve(fs, root).dataDir.getName != rival)
  }

  test("consumed entries carry forward while present and drop once deleted") {
    val root = tmpRoot()
    val a = touch(new Path(root, "a"))
    val b = touch(new Path(root, "b"))
    val (_, g0) = flip(root, consumed = Seq(a))
    assert(g0.consumed == Seq((0, a)))
    assert(Generations.liveTail(g0, tail(root)).map(_.getPath) == Seq(b))
    // the next commit carries a (still present) forward, then retire
    // deletes it: its readers held a manifest two generations old
    val prev = Generations.resolve(fs, root)
    val g1 = Generations.commit(fs, root, prev, 1, Generations.dataDirName(1),
      Nil, Seq(b))
    assert(g1.consumed.toSet == Set((1, b), (0, a)))
    assert(Generations.resolve(fs, root).consumed.toSet == g1.consumed.toSet)
    Generations.retire(fs, root, prev, g1)
    assert(!fs.exists(a) && fs.exists(b)) // b keeps its one-generation grace
    // a was deleted, so it drops; b is still present at commit time
    val (_, g2) = flip(root)
    assert(g2.consumed == Seq((1, b)) && !fs.exists(b))
    val (_, g3) = flip(root)
    assert(g3.consumed.isEmpty && Generations.liveTail(g3, tail(root)).isEmpty)
  }

  test("retire keeps the previous generation and keep-referenced files") {
    val root = tmpRoot()
    val (_, g0) = flip(root)
    val kept = fs.makeQualified(new Path(g0.dataDir, "part-0"))
    val (_, g1) = flip(root, keep = Seq(kept))
    // gen 1's retire may only touch generations older than gen 0
    assert(fs.exists(g0.dataDir) && fs.exists(new Path(root, "_graft_gen-00000.manifest")))
    val (_, g2) = flip(root, keep = Seq(kept))
    // gen 0 is two flips old: its manifest goes, the dir keeps only the
    // file the live manifest still references
    assert(!fs.exists(new Path(root, "_graft_gen-00000.manifest")))
    assert(fs.exists(kept) && fs.listStatus(g0.dataDir).map(_.getPath.getName)
      .filterNot(_.startsWith(".")).toSeq == Seq("part-0"))
    assert(fs.exists(g1.dataDir) && fs.exists(g2.dataDir))
    flip(root)
    flip(root) // no manifest keeps it any more
    assert(!fs.exists(g0.dataDir) && !fs.exists(g1.dataDir))
  }

  test("a manifest entry outside the root or holding a newline raises before anything is written") {
    val root = tmpRoot()
    val outside = touch(new Path(tmpRoot(), "x"))
    val lay = Generations.resolve(fs, root)
    assert(intercept[IllegalArgumentException] {
      Generations.commit(fs, root, lay, 0, Generations.dataDirName(0), Seq(outside), Nil)
    }.getMessage.contains("not under the root"))
    assert(intercept[IllegalArgumentException] {
      Generations.commit(fs, root, lay, 0, Generations.dataDirName(0), Nil,
        Seq(new Path(root, "a\nb")))
    }.getMessage.contains("newline"))
    assert(!fs.exists(new Path(root, "_graft_gen-00000.manifest")))
    assert(Generations.resolve(fs, root).gen.isEmpty)
  }

  test("ledger: record, contains, forget; keys are one path segment") {
    val root = tmpRoot()
    val ledger = Generations.ledger(fs, root)
    assert(!ledger.contains("s-1"))
    ledger.record("s-1")
    assert(ledger.contains("s-1") && fs.exists(new Path(root, "_graft_commits/s-1")))
    ledger.forget("s-1")
    assert(!ledger.contains("s-1"))
    Seq("", "..", "a/b").foreach(k =>
      intercept[IllegalArgumentException](ledger.record(k)))
  }
}
