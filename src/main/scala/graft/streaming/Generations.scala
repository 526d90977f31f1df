package graft.streaming

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** The generation-manifest commit protocol of graft's two durable
  * stores — [[CorpusIngest]]'s deduplicated document lake and
  * [[graft.operators.IncrementalAgg]]'s partial-aggregate state — and
  * the root-anchored marker ledger they (and `PipelineDag`'s resumable
  * runs) record commits in. One atomic, ordered manifest object per
  * table version, shared by every store kind: the Delta Lake log shape
  * (Armbrust et al., VLDB 2020). Layout under a store root:
  * {{{
  *   <tail entries>              // appends land here: live by PRESENCE
  *                               // unless the live manifest consumed them
  *   _gen-00003-3fa9c1/          // generation dir a compaction wrote
  *   _graft_gen-00003.manifest   // its commit object; highest COMPLETE wins
  *   _graft_commits/<key>        // commit ledger, never moved by compaction
  * }}}
  * A manifest is line-typed, every entry ROOT-RELATIVE (an absolute URI
  * would pin the store to its location; a copied, restored or
  * re-mounted root stays self-contained):
  * {{{
  *   #graft-manifest v2
  *   data=_gen-00003-3fa9c1
  *   keep=_gen-00001-0b2e4d/part-00007.parquet   // retained in place
  *   consumed=3:batch=b7                          // tail entry folded at gen 3
  *   #graft-manifest-end
  * }}}
  * A compaction is [[resolve]] → [[claim]] (pin its input set there)
  * → write [[dataDirName]] → [[commit]] → [[retire]]. Underscore-
  * prefixed entries are invisible to Spark's file index, so a
  * generation dir is read only through the manifest naming it — and
  * the manifest flip is what makes a commit atomic on object stores,
  * where rename is copy+delete: no data byte ever moves.
  *
  * WRITERS ARE ONLINE-SAFE: a store's appends land in its tail, whose
  * liveness is PRESENCE MINUS the manifest's consumed list
  * ([[liveTail]]). A manifest written at time T can't enumerate files
  * that land at T+1, but it CAN enumerate the entries its compaction
  * rewrote, so an append landing at any moment — including between a
  * compactor's pin and its flip — stays live on both sides of the flip.
  */
private[graft] object Generations {

  /** Root-anchored commit ledger directory: one empty marker object per
    * committed key. Compaction never touches it, so a key recorded
    * before any number of compactions stays recognized forever.
    */
  val LedgerDir = "_graft_commits"

  private val ManifestRe = "_graft_gen-(\\d{5,})\\.manifest".r
  private val DataDirRe = "_gen-(\\d{5,})(?:-.*)?".r
  private val Header = "#graft-manifest v2"
  /** Terminator line proving a manifest was fully written. */
  private val End = "#graft-manifest-end"

  private def manifestPath(root: Path, gen: Int): Path =
    new Path(root, f"_graft_gen-$gen%05d.manifest")

  /** A store's live layout: the generation (None before the first
    * compaction — the flat layout, everything in the tail), the data dir
    * the compaction rewrote into, files of older generations the
    * manifest retains by REFERENCE (unread, unmoved), and the tail
    * entries it CONSUMED (rewritten into a generation, possibly not yet
    * deleted), each stamped with the generation that consumed it so
    * [[retire]] can honor the one-generation reader grace. Keep and
    * consumed paths are fully qualified, so they compare equal to
    * `listStatus` paths.
    */
  final case class Layout(gen: Option[Int], dataDir: Path,
      keep: Seq[Path], consumed: Seq[(Int, Path)])

  private def manifestNums(fs: FileSystem, root: Path): Seq[Int] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.flatMap(st => st.getPath.getName match {
      case ManifestRe(n) => Some(n.toInt)
      case _ => None
    })

  /** The live layout: the highest-numbered COMPLETE manifest wins. A
    * manifest whose terminator line is missing is a torn write (crash
    * mid-create) and is skipped — silently trusting a truncated keep
    * list would drop every retained file and let the next retire sweep
    * DELETE them.
    */
  def resolve(fs: FileSystem, root: Path): Layout =
    manifestNums(fs, root).sorted.reverseIterator.flatMap(read(fs, root, _))
      .nextOption().getOrElse(Layout(None, root, Nil, Nil))

  private def read(fs: FileSystem, root: Path, gen: Int): Option[Layout] = {
    val in = fs.open(manifestPath(root, gen))
    val lines = try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    } finally in.close()
    if (!lines.lastOption.contains(End)) None
    else {
      require(lines.headOption.contains(Header),
        s"manifest generation $gen under $root is not a '$Header' manifest")
      def qual(rel: String) = fs.makeQualified(new Path(root, rel))
      var dataDir: Option[Path] = None
      val keep = Seq.newBuilder[Path]
      val consumed = Seq.newBuilder[(Int, Path)]
      lines.slice(1, lines.size - 1).filter(_.nonEmpty).foreach {
        case l if l.startsWith("data=") =>
          dataDir = Some(new Path(root, l.stripPrefix("data=")))
        case l if l.startsWith("keep=") => keep += qual(l.stripPrefix("keep="))
        case l if l.startsWith("consumed=") =>
          val v = l.stripPrefix("consumed=")
          val i = v.indexOf(':')
          require(i > 0, s"corrupt consumed line in manifest $gen: $l")
          consumed += ((v.take(i).toInt, qual(v.drop(i + 1))))
        case l => throw new IllegalStateException(
          s"unknown line in manifest generation $gen under $root: $l")
      }
      Some(Layout(Some(gen), dataDir.getOrElse(throw new IllegalStateException(
        s"manifest generation $gen under $root has no data= line")),
        keep.result(), consumed.result()))
    }
  }

  /** The present tail entries `present` (the store's own listing of its
    * tail areas) that are LIVE under `lay`: presence minus consumed. A
    * file the compactor never saw can't be in the consumed list, so it
    * stays live across the flip.
    */
  def liveTail(lay: Layout, present: Seq[FileStatus]): Seq[FileStatus] = {
    val dead = lay.consumed.map(_._2.toUri).toSet
    present.filterNot(st => dead.contains(st.getPath.toUri))
  }

  /** Claim the next generation number — call it AT PIN TIME, it is the
    * optimistic-concurrency token: one past the highest manifest FILE
    * present, complete or torn (a torn manifest burned its number — the
    * create is exclusive, so it can never be replaced — and the retry
    * takes the next one). A rival compactor flipping first makes this
    * compaction's [[commit]] fail loudly.
    */
  def claim(fs: FileSystem, root: Path): Int =
    (manifestNums(fs, root).map(_ + 1) :+ 0).max

  /** A fresh, UNIQUELY suffixed data dir name for generation `gen`:
    * rival compactors racing to one number never overwrite each other's
    * in-progress rewrite — the manifest names the winner's directory,
    * the loser's is debris [[retire]] sweeps two flips later.
    */
  def dataDirName(gen: Int): String =
    f"_gen-$gen%05d-${java.util.UUID.randomUUID().toString.take(6)}"

  /** THE commit point: one new manifest object naming `dataDir`, the
    * retained `keep` files, the tail entries `consumed` by this
    * compaction (stamped `gen`), and the previous manifest's consumed
    * entries still present, carried forward so a crash between a flip
    * and its retire can never resurrect them into a double-count.
    * Created EXCLUSIVELY: two compactors racing to one generation
    * number means exactly one wins and the loser RAISES, so no committed
    * byte is ever clobbered. The filename carries the generation, so
    * "highest complete manifest wins" needs no read-modify-write of any
    * shared file. Every entry must lie under `root` and hold no newline;
    * both are checked before anything is written. Returns the new layout.
    */
  def commit(fs: FileSystem, root: Path, prev: Layout, gen: Int,
      dataDir: String, keep: Seq[Path], consumed: Seq[Path]): Layout = {
    val next = Layout(Some(gen), new Path(root, dataDir), keep,
      consumed.map(p => (gen, p)) ++
        prev.consumed.filter { case (_, p) => fs.exists(p) })
    val rootUri = fs.makeQualified(root).toUri
    def rel(p: Path): String = {
      // a failed relativize returns the input unchanged (scheme and
      // all) — that or any absolute result means p is outside the root
      val u = rootUri.relativize(fs.makeQualified(p).toUri)
      val r = u.getPath
      require(!u.isAbsolute && r.nonEmpty && !r.startsWith("/") && !r.contains(":"),
        s"manifest entry $p is not under the root $root")
      require(!r.contains("\n"), s"manifest entry contains a newline: $p")
      r
    }
    val lines = Header +: s"data=$dataDir" +:
      (next.keep.map(p => s"keep=${rel(p)}") ++
        next.consumed.map { case (g, p) => s"consumed=$g:${rel(p)}" }) :+ End
    val out = fs.create(manifestPath(root, gen), false)
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    next
  }

  /** Retire, post-commit and best-effort (readers ignore anything
    * unreferenced), what no in-flight reader within the one-generation
    * grace window can still hold: (a) the consumed tail entries carried
    * from before this flip — their readers held manifests at least two
    * generations old — and (b) generation dirs and manifests older than
    * `prev`, MINUS the files `prev` or `next` still keeps. `prev` itself
    * stays until the next flip: a reader may still be scanning it.
    */
  def retire(fs: FileSystem, root: Path, prev: Layout, next: Layout): Unit = {
    next.consumed.foreach { case (g, p) =>
      if (next.gen.exists(g < _)) fs.delete(p, true) }
    prev.gen.foreach { old =>
      // by path: everything here lives on `fs`, under `root`
      val protect = (prev.keep ++ next.keep).map(_.toUri.getPath).toSet
      // a stale generation dir goes whole unless it holds a protected
      // file; then everything else in it goes, hidden debris included
      def sweep(dir: Path): Unit =
        if (!protect.exists(_.startsWith(dir.toUri.getPath + "/"))) fs.delete(dir, true)
        else fs.listStatus(dir).foreach { st =>
          if (st.isDirectory) sweep(st.getPath)
          else if (!protect.contains(st.getPath.toUri.getPath))
            fs.delete(st.getPath, false)
        }
      fs.listStatus(root).foreach { st =>
        st.getPath.getName match {
          case ManifestRe(g) if g.toInt < old => fs.delete(st.getPath, false)
          case DataDirRe(g) if st.isDirectory && g.toInt < old => sweep(st.getPath)
          case _ =>
        }
      }
    }
  }

  /** A commit ledger: one empty marker object per key under `dir`.
    * Keys are one path segment (callers keep them to a filesystem-safe
    * charset or URL-encode them), so no key can escape the directory.
    */
  final class Ledger(fs: FileSystem, dir: Path) {
    private def marker(key: String): Path = {
      require(key.nonEmpty && !key.contains('/') && key != "." && key != "..",
        s"ledger key '$key' is not one path segment")
      new Path(dir, key)
    }
    def contains(key: String): Boolean = fs.exists(marker(key))
    def record(key: String): Unit = fs.create(marker(key), true).close()
    def forget(key: String): Unit = { fs.delete(marker(key), false); () }
  }

  /** The store ledger at `root/_graft_commits/`. */
  def ledger(fs: FileSystem, root: Path): Ledger =
    new Ledger(fs, new Path(root, LedgerDir))

  /** `PipelineDag`'s resumable-run ledger keeps its `_done/` directory
    * name, so a run state written before the ledger was shared still
    * skips the sinks it already fired.
    */
  def runLedger(fs: FileSystem, root: Path): Ledger =
    new Ledger(fs, new Path(root, "_done"))
}
