package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // 1↔2 near-dups (one word differs), 3 unrelated, 4 = exact clone of 1.
  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy cat near the river bank today"),
    (3L, "completely different content about spark distributed query processing engines"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today")
  ).toDF("id", "text")

  test("minHashNearDups finds near + exact pairs, not unrelated") {
    val pairs = Dedup.minHashNearDups(corpus, "id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect.toSet
    assert(pairs.contains((1L, 4L)))
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("exact clones have jaccard 1.0") {
    val j = Dedup.minHashNearDups(corpus, "id", "text", threshold = 0.5)
      .filter($"id_a" === 1 && $"id_b" === 4)
      .head.getAs[Double]("jaccard")
    assert(j == 1.0)
  }

  test("minHashNearDups rejects shingleN, bands and rowsPerBand out of range on the driver, naming each") {
    val stage = graft.TestDirs.create("graft_minhash_caps").resolve("stage")
    def rejects(name: String)(shingleN: Int = 3, bands: Int = 16, rowsPerBand: Int = 4): Unit = {
      val e = intercept[IllegalArgumentException](Dedup.minHashNearDups(corpus, "id", "text",
        shingleN, bands, rowsPerBand, stageDir = Some(stage.toString)))
      assert(e.getMessage.contains(name), e.getMessage)
      assert(!java.nio.file.Files.exists(stage), "a stage was written before the check")
    }
    rejects("shingleN")(shingleN = 0)
    rejects("bands")(bands = 0)
    rejects("rowsPerBand")(rowsPerBand = 0)
    rejects("bands")(bands = -1, rowsPerBand = -4) // the product alone would read 4
    rejects("past Int.MaxValue")(bands = 1 << 16, rowsPerBand = 1 << 15)
  }

  test("maxBucketSize below 2 yields no pairs; Int.MaxValue does not overflow the walk") {
    def pairs(cap: Int) = Dedup.minHashNearDups(corpus, "id", "text", threshold = 0.5,
      maxBucketSize = cap).as[(Long, Long, Double)].collect().toSet
    for (cap <- Seq(-1, 0, 1)) assert(pairs(cap).isEmpty, cap)
    val all = pairs(1000)
    assert(all.exists(p => p._1 == 1L && p._2 == 4L))
    assert(pairs(Int.MaxValue) == all)
    assert(pairs(2).subsetOf(all))
  }

  test("simhash: identical text → identical signature; near → small hamming") {
    val sigs = Dedup.simHash(corpus, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(4L))
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(2L)) <= 16)
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) >
      java.lang.Long.bitCount(sigs(1L) ^ sigs(2L)))
  }

  test("simHashNearDups reports hamming 0 for the exact clone") {
    val pairs = Dedup.simHashNearDups(corpus, "id", "text", maxHamming = 3)
      .select("id_a", "id_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 4L)) == 0)
  }

  test("ngramJaccardPairs computes exact jaccard") {
    // 14 tokens → 12 distinct 3-gram shingles each; docs 1/2 differ at
    // token 9 (dog/cat), changing the 3 windows covering it →
    // |∩|=9, |∪|=15, j=0.6.
    val j = Dedup.ngramJaccardPairs(corpus, "id", "text", threshold = 0.3)
      .filter($"id_a" === 1 && $"id_b" === 2)
      .head.getAs[Double]("jaccard")
    assert(math.abs(j - 0.6) < 1e-12)
  }

  test("ngramJaccardPairs keeps a pair with J exactly at the threshold (integral t·n)") {
    // A: 7 tokens → 5 shingles; B: A's first 6 tokens → 4 shingles ⊂ A
    // ⇒ J = 4/5 = 0.8 exactly, with t·|A| = 0.8·5 = 4 integral. In
    // bare doubles 0.8·5 = 4.0000000000000002: an unguarded ceil
    // halves A's prefix and the unguarded length filter rejects
    // min=4 ≥ 4 — either bug silently drops this pair (regression:
    // observed as a missing pair at sf0.001).
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7"),
      (2L, "w1 w2 w3 w4 w5 w6")).toDF("id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "id", "text", threshold = 0.8)
      .collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
    assert(math.abs(pairs.head.getDouble(2) - 0.8) < 1e-12)
  }

  test("session stageDir default engages: stages write parquet, same result") {
    val plain = Dedup.ngramJaccardPairs(corpus, "id", "text", threshold = 0.3)
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    val base = graft.TestDirs.create("graft_stagedef")
    spark.conf.set(Dedup.StageDirConf, base.toString)
    try {
      val staged = Dedup.ngramJaccardPairs(corpus, "id", "text", threshold = 0.3)
        .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
      assert(staged == plain)
      // the stage actually landed on storage under the base (one
      // stage_<uuid> dir holding parquet), not in executor memory
      val stages = base.toFile.listFiles().filter(_.getName.startsWith("stage_"))
      assert(stages.nonEmpty, base.toFile.listFiles().mkString(", "))
      assert(stages.forall(_.listFiles().exists(_.getName.endsWith(".parquet"))))
    } finally spark.conf.unset(Dedup.StageDirConf)
  }

  test("connectedComponents: transitive near-dup chain a~b~c with a≁c lands in ONE cluster") {
    // b differs from a at token 5; c differs from b at token 10 →
    // J(a,b) and J(b,c) pass the threshold, J(a,c) (two edits) fails —
    // exactly the case where pair-level dedup under-merges and cluster
    // resolution is required.
    val chain = Seq(
      (10L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12 t13 t14"),
      (20L, "t1 t2 t3 t4 XX t6 t7 t8 t9 t10 t11 t12 t13 t14"),
      (30L, "t1 t2 t3 t4 XX t6 t7 t8 t9 YY t11 t12 t13 t14")
    ).toDF("id", "text")
    val pairs = Dedup.ngramJaccardPairs(chain, "id", "text", threshold = 0.5)
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect.toSet
    assert(got == Set((10L, 20L), (20L, 30L))) // no direct 10-30 pair
    val comp = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect.toMap
    assert(comp == Map(10L -> 10L, 20L -> 10L, 30L -> 10L))
  }

  test("connectedComponents matches a local union-find on a random graph") {
    val rnd = new scala.util.Random(7)
    val n = 80
    val edges = Seq.fill(120)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    // local union-find oracle
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // oracle: component = min node id reachable (min id per UF root)
    val nodes = edges.flatMap(e => Seq(e._1.toInt, e._2.toInt)).distinct
    val minOfRoot = nodes.groupBy(find).map { case (r, ns) => r -> ns.min.toLong }
    val oracle = nodes.map(x => x.toLong -> minOfRoot(find(x))).toMap

    // both paths must agree with the oracle: driver union-find
    // (default collectLimit) and distributed star-contraction
    // (collectLimit = 0 forces it)
    val local = Dedup.connectedComponents(
        edges.toDF("id_a", "id_b"), maxIter = 50)
      .as[(Long, Long)].collect.toMap
    assert(local == oracle)
    val dist = Dedup.connectedComponents(
        edges.toDF("id_a", "id_b"), maxIter = 50, collectLimit = 0)
      .as[(Long, Long)].collect.toMap
    assert(dist == oracle)
  }

  test("connectedComponents covers self-pairs and null-partner ids as singletons") {
    val edges = Seq[(Option[Long], Option[Long])](
      (Some(5L), Some(5L)),   // self-pair: node exists, no edge
      (None, Some(7L)),       // dirty pair: 7 exists, partner unknown
      (Some(1L), Some(2L))
    ).toDF("id_a", "id_b")
    for (limit <- Seq(1 << 20, 0)) { // local and distributed paths
      val comp = Dedup.connectedComponents(edges, collectLimit = limit)
        .as[(Long, Long)].collect.toMap
      assert(comp == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 7L -> 7L))
    }
  }

  test("connectedComponents works with non-numeric (string) ids") {
    val edges = Seq(("docB", "docA"), ("docB", "docC"), ("docX", "docY"))
      .toDF("id_a", "id_b")
    for (limit <- Seq(1 << 20, 0)) {
      val comp = Dedup.connectedComponents(edges, collectLimit = limit)
        .as[(String, String)].collect.toMap
      assert(comp == Map("docA" -> "docA", "docB" -> "docA", "docC" -> "docA",
        "docX" -> "docX", "docY" -> "docX"))
    }
  }

  test("connectedComponents collect overflow falls through to the distributed path") {
    // 40 edges with collectLimit = 10: head probe overflows, the
    // star-contraction runs, answer unchanged
    val edges = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(edges, collectLimit = 10)
      .as[(Long, Long)].collect()
    assert(comp.length == 41 && comp.forall(_._2 == 0L))
  }

  test("connectedComponents converges on a 2000-node path graph (worst case for label propagation)") {
    val edges = (0L until 1999L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(edges).as[(Long, Long)].collect()
    assert(comp.length == 2000)
    assert(comp.forall(_._2 == 0L))
  }

  test("dropNearDuplicates keeps exactly the cluster representatives") {
    val pairs = Dedup.minHashNearDups(corpus, "id", "text", threshold = 0.5)
    val kept = Dedup.dropNearDuplicates(corpus, "id", pairs)
      .select("id").as[Long].collect.toSet
    // 1,2,4 cluster together (1 survives); 3 is untouched by any pair
    assert(kept == Set(1L, 3L))
  }

  test("dropNearDuplicatesBy keeps the highest-quality member, id tiebreak, nulls worst") {
    import org.apache.spark.sql.functions.{col, when}
    val pairs = Seq((1L, 2L), (2L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val frame = Seq(
      (1L, 5.0), (2L, 9.0), (4L, 9.0), // cluster {1,2,4}: max q=9, tie → id 2
      (3L, 0.0),                        // unclustered → kept
      (5L, 1.0), (6L, 2.0)              // cluster {5,6}: q favors 6 over min id
    ).toDF("id", "q")
    val kept = Dedup.dropNearDuplicatesBy(frame, "id", pairs, col("q"))
      .select("id").as[Long].collect.toSet
    assert(kept == Set(2L, 3L, 6L))
    // null quality never beats a scored member
    val withNull = Seq((1L, Some(1.0)), (2L, None)).toDF("id", "q")
    val k2 = Dedup.dropNearDuplicatesBy(withNull, "id",
        Seq((1L, 2L)).toDF("id_a", "id_b"),
        when(col("q").isNotNull, col("q")))
      .select("id").as[Long].collect.toSet
    assert(k2 == Set(1L))
  }

  test("dropNearDuplicates/By: driver fast path ≡ distributed path (collectLimit=0), incl. assumeCanonical") {
    import org.apache.spark.sql.functions.col
    val pairs = Seq((1L, 2L), (2L, 4L), (5L, 6L), (7L, 7L)).toDF("id_a", "id_b")
    val frame = Seq((1L, 5.0), (2L, 9.0), (4L, 9.0), (3L, 0.0),
      (5L, 1.0), (6L, 2.0), (7L, 3.0)).toDF("id", "q")
    def ids(d: org.apache.spark.sql.DataFrame): Set[Long] =
      d.select("id").as[Long].collect.toSet
    val fastPlain = ids(Dedup.dropNearDuplicates(frame, "id", pairs))
    val fastCanon = ids(Dedup.dropNearDuplicates(frame, "id", pairs,
      assumeCanonical = true))
    val distPlain = ids(Dedup.dropNearDuplicates(frame, "id", pairs,
      collectLimit = 0))
    assert(fastPlain == distPlain && fastCanon == distPlain, fastPlain)
    val fastBy = ids(Dedup.dropNearDuplicatesBy(frame, "id", pairs, col("q")))
    val canonBy = ids(Dedup.dropNearDuplicatesBy(frame, "id", pairs, col("q"),
      assumeCanonical = true))
    val distBy = ids(Dedup.dropNearDuplicatesBy(frame, "id", pairs, col("q"),
      collectLimit = 0))
    assert(fastBy == distBy && canonBy == distBy, fastBy)
    // a pair id ABSENT from the frame still resolves: cluster {8,9}
    // with only 9 present keeps nothing from 9's side in the By
    // variant (no competitor) and drops 9 in the plain variant
    // (representative is 8 whether or not it exists in the frame)
    val pairs2 = Seq((8L, 9L)).toDF("id_a", "id_b")
    val partial = Seq((9L, 1.0)).toDF("id", "q")
    assert(ids(Dedup.dropNearDuplicates(partial, "id", pairs2)).isEmpty)
    assert(ids(Dedup.dropNearDuplicates(partial, "id", pairs2,
      collectLimit = 0)).isEmpty)
    assert(ids(Dedup.dropNearDuplicatesBy(partial, "id", pairs2, col("q")))
      == Set(9L))
    assert(ids(Dedup.dropNearDuplicatesBy(partial, "id", pairs2, col("q"),
      collectLimit = 0)) == Set(9L))
  }

  test("dropNearDuplicates/By: int-id corpus against long-id pairs (cross-type)") {
    import org.apache.spark.sql.functions.col
    // SQL equality coerces int↔long in the joins, but the By fast
    // path also feeds collected ids into JVM map lookups keyed by the
    // PAIRS' type — this pins the cast that aligns them
    val pairs = Seq((1L, 2L), (2L, 4L)).toDF("id_a", "id_b")
    val frame = Seq((1, 5.0), (2, 9.0), (4, 9.0), (3, 0.0)).toDF("id", "q")
    assert(Dedup.dropNearDuplicates(frame, "id", pairs)
      .select("id").as[Int].collect.toSet == Set(1, 3))
    assert(Dedup.dropNearDuplicatesBy(frame, "id", pairs, col("q"))
      .select("id").as[Int].collect.toSet == Set(2, 3))
  }

  test("shingles: fewer tokens than n → empty array") {
    val sh = corpus.limit(1)
      .select(Dedup.shingles(org.apache.spark.sql.functions.lit("one two"), 3))
      .head.getSeq[String](0)
    assert(sh.isEmpty)
  }

  test("span dedup drops containment/partial overlap that whole-doc dedup misses") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),   // original
      // doc 1's full text wrapped in a template — different fingerprint,
      // shares every 4-word span of the original
      (2L, "header line alpha beta gamma delta epsilon zeta footer line"),
      (3L, "totally different words about other things entirely here"),
      // shares a 3-word run with doc 1 but never 4 in a row → kept
      (4L, "alpha beta gamma XYZ delta epsilon unrelated tail words")
    ).toDF("doc_id", "text")
    val kept = Dedup.dropSpanDuplicates(docs, "doc_id", "text", spanTokens = 4)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L, 4L))
    val flagged = Dedup.spanDuplicateIds(docs, "doc_id", "text", spanTokens = 4)
      .as[Long].collect().toSeq
    assert(flagged == Seq(2L))
  }

  test("span family: local-probe route ≡ persisted route (conf-forced fallback)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "header line alpha beta gamma delta epsilon zeta footer line"),
      (3L, "totally different words about other things entirely here"),
      (4L, "alpha beta gamma XYZ delta epsilon unrelated tail words")
    ).toDF("doc_id", "text")
    def run() = (
      Dedup.dropSpanDuplicates(docs, "doc_id", "text", spanTokens = 4)
        .select("doc_id").as[Long].collect().sorted.toSeq,
      Dedup.scrubSpanDuplicates(docs, "doc_id", "text", spanTokens = 4)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq)
    val (keptFast, scrubFast) = run()
    // cap 0 forces the persisted fallback on both operators
    spark.conf.set(graft.Conf.DupSpanLocalLimitKey, "0")
    try {
      val (keptSlow, scrubSlow) = run()
      assert(keptFast == keptSlow)
      assert(scrubFast == scrubSlow)
    } finally spark.conf.unset(graft.Conf.DupSpanLocalLimitKey)
    // big-corpus persist gate: forcing the posting-shuffle route (so
    // the probe persists for the fallback) changes neither result
    spark.conf.set(graft.Conf.PostingShuffleBytesKey, "0")
    try {
      val (keptBig, scrubBig) = run()
      assert(keptFast == keptBig)
      assert(scrubFast == scrubBig)
      // and over-cap + big-route together (the no-recompute fallback)
      spark.conf.set(graft.Conf.DupSpanLocalLimitKey, "0")
      val (keptBoth, scrubBoth) = run()
      assert(keptFast == keptBoth)
      assert(scrubFast == scrubBoth)
    } finally {
      spark.conf.unset(graft.Conf.PostingShuffleBytesKey)
      spark.conf.unset(graft.Conf.DupSpanLocalLimitKey)
    }
  }

  test("spanDuplicateIds with a session stage dir STAGES the fast-path result (r15 ADVICE)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "header line alpha beta gamma delta epsilon zeta footer line"),
      (3L, "totally different words about other things entirely here")
    ).toDF("doc_id", "text")
    val plain = Dedup.spanDuplicateIds(docs, "doc_id", "text", spanTokens = 4)
      .as[Long].collect().sorted.toSeq
    val base = graft.TestDirs.create("graft_spanstage")
    spark.conf.set(Dedup.StageDirConf, base.toString)
    try {
      val staged = Dedup.spanDuplicateIds(docs, "doc_id", "text", spanTokens = 4)
        .as[Long].collect().sorted.toSeq
      assert(staged == plain)
      // the flagged-id table landed on storage under the base even on
      // the under-cap local-probe route — the materialized/shareable
      // contract holds on every route
      val stages = base.toFile.listFiles().filter(_.getName.startsWith("stage_"))
      assert(stages.nonEmpty, base.toFile.listFiles().mkString(", "))
      assert(stages.forall(_.listFiles().exists(_.getName.endsWith(".parquet"))))
    } finally spark.conf.unset(Dedup.StageDirConf)
  }

  test("ngramJaccard saturation guard: a tiny-vocab corpus raises actionably, generous cap is identity") {
    // 3-token vocabulary → 27-shingle space, saturated by 60 docs:
    // every doc pair shares prefix shingles, candidates are Θ(n²) —
    // the sf10 audit's measured failure mode, in miniature
    val rnd = new scala.util.Random(7)
    val vocab = Array("a", "b", "c")
    val salad = Seq.tabulate(60) { i =>
      (i.toLong, Seq.fill(12)(vocab(rnd.nextInt(3))).mkString(" "))
    }.toDF("id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(salad, "id", "text", threshold = 0.5,
        maxCandidatePairs = CandidateCap.Max(100L))
    }
    assert(e.getMessage.contains("saturated") &&
      e.getMessage.contains("minHashNearDups"), e.getMessage)

    // with a cap the corpus fits under, the guard is a pure no-op:
    // identical pairs to the unguarded run
    val guarded = Dedup.ngramJaccardPairs(corpus, "id", "text",
        threshold = 0.3, maxCandidatePairs = CandidateCap.Max(1000000L))
      .collect().map(_.toSeq).toSet
    val plain = Dedup.ngramJaccardPairs(corpus, "id", "text",
        threshold = 0.3, maxCandidatePairs = CandidateCap.Unbounded)
      .collect().map(_.toSeq).toSet
    assert(guarded == plain)
  }

  test("ngramJaccard saturation guard is DEFAULT-ON: saturated corpus raises with no arguments") {
    // Auto budgets 100 candidates/doc; a saturated 3-token vocabulary
    // generates ~n²/2, which crosses 100·n once n > ~200 — so a caller
    // who passes NOTHING gets the raise, not the quadratic join
    val rnd = new scala.util.Random(11)
    val vocab = Array("a", "b", "c")
    val salad = Seq.tabulate(400) { i =>
      (i.toLong, Seq.fill(12)(vocab(rnd.nextInt(3))).mkString(" "))
    }.toDF("id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(salad, "id", "text", threshold = 0.5)
    }
    assert(e.getMessage.contains("saturated") &&
      e.getMessage.contains("CandidateCap.Unbounded"), e.getMessage)

    // the explicit opt-out still computes the exact quadratic answer
    val pairs = Dedup.ngramJaccardPairs(salad, "id", "text",
      threshold = 0.5, maxCandidatePairs = CandidateCap.Unbounded)
    assert(pairs.count() > 0)
  }
}
