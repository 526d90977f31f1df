package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Near-duplicate detection for LLM-training-data pipelines.
  *
  * Four families, all pair-candidate generators that avoid O(n²):
  *  - exact: hash-aggregate on a normalized fingerprint (see
  *    TextQueries `d_exact_dedup`)
  *  - MinHash + LSH banding: shingle → 64 minhashes → 16 band keys →
  *    sorted bucket walk → exact-Jaccard rerank
  *  - SimHash: 64-bit signature, (maxHamming+1)-chunk pigeonhole
  *    buckets → hamming rerank
  *  - n-gram Jaccard: rarity-ordered prefix-filtered inverted index
  *    (Bayardo AllPairs) + length filter → exact rerank
  * plus the resolution step that turns pairs into decisions:
  * [[connectedComponents]] (transitive clusters) and
  * [[dropNearDuplicates]] (keep one representative per cluster).
  *
  * Everything is Column-expression based (codegen-friendly, no UDFs)
  * except the MinHash bucket walk, one `mapPartitions` over sorted
  * rows; the only shuffles are the bucket exchanges, keyed so
  * identical docs co-locate. At 100 TB the bucket join replaces an impossible
  * all-pairs comparison; quadratic blowup from degenerate buckets
  * (mass-duplicated docs) is bounded by `maxBucketSize`, and the
  * n-gram path bounds its index by prefix filtering. The persisted
  * stages (shingles, signatures) are the operator's index — at
  * cluster scale stage them to parquet instead of executor memory.
  */
/** Candidate-volume budget for [[Dedup.ngramJaccardPairs]]'s exact
  * inverted-index join. The default ([[CandidateCap.Auto]]) derives a
  * linear budget from the corpus itself — 100 pair-candidates per
  * document — so a saturated shingle space (where exact pair
  * generation is Θ(n²) for ANY scheme) raises actionably instead of
  * grinding quadratically on a 100 TB corpus. Opting OUT of the guard
  * now takes an explicit [[CandidateCap.Unbounded]]; it is no longer
  * the silent default.
  */
sealed trait CandidateCap
object CandidateCap {
  /** Default: budget = 100 × corpus-document-count. A healthy
    * prefix-filtered corpus generates O(1) candidates per doc (the
    * whole premise of AllPairs is that every doc owns some globally
    * rare shingle); 100×n is an order of magnitude of slack above
    * that, while a saturated corpus — candidates ~ n²/2 — crosses it
    * as soon as n exceeds ~200.
    */
  case object Auto extends CandidateCap

  /** Explicit budget in candidate pairs. */
  final case class Max(pairs: Long) extends CandidateCap {
    require(pairs >= 1, s"CandidateCap.Max must be >= 1, got $pairs")
  }

  /** Explicit opt-out: the caller accepts a possibly quadratic join
    * (e.g. a corpus known small, or an audit that MEASURES the
    * quadratic path on purpose).
    */
  case object Unbounded extends CandidateCap
}

object Dedup {

  /** Session-level default staging base: when set, every staged-dedup
    * call WITHOUT an explicit `stageDir` writes its stage under a
    * unique subdirectory of this base instead of executor-storage
    * persist. At cluster scale one `spark.conf.set` flips the whole
    * dedup family to distributed-storage staging — no per-call plumbing
    * — which is how a 100 TB deployment should run (the stage is an
    * index: survives executor loss, shareable, spill-free). The caller
    * owns cleanup of the base dir.
    */
  val StageDirConf = "graft.dedup.stageDir"

  /** Materialize a reusable operator stage: to parquet when `stageDir`
    * is given or [[StageDirConf]] is set (the 100 TB path — the stage
    * is an index that belongs on distributed storage, survives
    * executor loss, and is shareable across runs), else an
    * executor-storage persist (interactive sizes). `eager` forces
    * materialization in the persist branch so upstream persists can be
    * released immediately; a parquet write is always eager.
    */
  private[operators] def stage(
      d: DataFrame, stageDir: Option[String], eager: Boolean = false): DataFrame =
    stageDir.orElse(
      Option(d.sparkSession.conf.get(StageDirConf, null))
        .map(base => s"$base/stage_${java.util.UUID.randomUUID()}")) match {
      case Some(dir) =>
        d.write.mode("overwrite").parquet(dir)
        graft.sources.Readers.parquet(d.sparkSession, dir)
      case None =>
        val p = d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        if (eager) p.count()
        p
    }

  /** [[stage]] (always eager) that also returns the staged row count —
    * the materializing action IS a count (the persist branch) or makes
    * one metadata-only (parquet footers), so a caller that needs the
    * count afterwards should take it from here instead of paying a
    * second scheduled job over the stage (r15).
    */
  private[operators] def stageCounted(
      d: DataFrame, stageDir: Option[String]): (DataFrame, Long) =
    stageDir.orElse(
      Option(d.sparkSession.conf.get(StageDirConf, null))
        .map(base => s"$base/stage_${java.util.UUID.randomUUID()}")) match {
      case Some(dir) =>
        d.write.mode("overwrite").parquet(dir)
        val back = graft.sources.Readers.parquet(d.sparkSession, dir)
        (back, back.count()) // parquet: metadata-only footer count
      case None =>
        val p = d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (p, p.count()) // the eager materialization is the count
    }

  /** Lifetime of an over-cap eager [[stage]] that a returned plan
    * reads (the span scrub's hit table, line dedup's frequent set).
    * Dir-staged tables (explicit dir or [[StageDirConf]], the 100 TB
    * configuration) were never cached and pass through. Otherwise the
    * persist would outlive the call — a leak across long sessions —
    * so on a LOCAL master the cached stage is spilled to a temp
    * parquet under [[graft.LocalFs]]' shared base (same JVM lifetime,
    * but disk, not executor memory) and the cache released. On a
    * multi-node cluster a driver-local temp path is not a shared
    * filesystem — executors would write it onto their own disks and
    * the driver-side read would see nothing — so the persist is kept
    * with a warning naming [[StageDirConf]] (r15, ADVICE).
    */
  private[operators] def releaseStage(
      staged: DataFrame, stageDir: Option[String], name: String): DataFrame = {
    val spark = staged.sparkSession
    if (stageDir.isDefined || spark.conf.get(StageDirConf, null) != null) staged
    else if (spark.sparkContext.isLocal) {
      val dir = new java.io.File(
        graft.LocalFs.tempDir(s"graft_$name"), "stage").toString
      staged.write.mode("overwrite").parquet(dir)
      staged.unpersist(false)
      graft.sources.Readers.parquet(spark, dir)
    } else {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$name: table exceeds its broadcast cap and no stage dir is " +
          s"set; keeping it in executor storage. Set $StageDirConf to " +
          "stage it on distributed storage.")
      staged
    }
  }

  /** Distinct word n-gram shingles of lowercased text.
    *
    * Built by zipping n shifted copies of the token array and
    * concatenating per struct — deliberately NOT `transform(sequence,
    * i => slice(toks, i, n))`: an outer expression referenced inside a
    * lambda body is re-evaluated PER ELEMENT, which turns one regex
    * split per row into one per shingle (measured 8.5 s → 0.9 s on
    * 5k docs). Here every non-lambda expression evaluates once per row.
    */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    // n shifted views: t0 = toks, t1 = toks[2..], ..., zipped positionally
    val shifted = (0 until n).map { k =>
      (if (k == 0) toks else slice(toks, lit(k + 1), greatest(size(toks) - k, lit(0))))
        .as(s"t$k")
    }
    val zipped = arrays_zip(shifted: _*)
    val joined = transform(zipped, s =>
      concat_ws(" ", (0 until n).map(k => s.getField(s"t$k")): _*))
    // arrays_zip pads short arrays with null → tail entries are partial
    // shingles; keep only the size-(n-1) full windows.
    val full = slice(joined, lit(1), greatest(size(toks) - (n - 1), lit(0)))
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(array_distinct(full))
  }

  /** Candidate pairs via MinHash LSH banding, reranked with EXACT
    * Jaccard over the shingle sets. Output: (id_a, id_b, jaccard) with
    * id_a < id_b and jaccard >= threshold.
    *
    * bands*rowsPerBand minhashes; a pair collides if any band matches
    * exactly — P(collide) = 1-(1-j^r)^b, the classic S-curve. One
    * route at every corpus size: a native kernel gives each doc its
    * `bands` bucket keys, and a sort-based walk over (band, bucket, id)
    * rows pairs up each bucket's ids ([[bandCandidates]]), holding no
    * per-bucket object for a singleton. Null ids take part in no
    * bucket; a duplicated id pairs with itself (ids should be unique,
    * see the rerank).
    *
    * `maxBucketSize` guards the candidate walk against degenerate
    * buckets: a bucket of B identical-signature docs yields B²/2 pairs
    * — thousands of exact copies should be collapsed by exact dedup
    * FIRST, not pairwise-enumerated here. Dropped buckets are whole
    * duplicate clusters, not near-dup misses; a cap below 2 drops them
    * all.
    *
    * `stageDir`: when set, the hashed-shingle stage is written to
    * parquet there and read back instead of living in executor
    * storage memory — at 100 TB the stage IS the index and belongs on
    * distributed storage (survives executor loss, frees the block
    * manager, reusable across runs); `persist` remains the default
    * for interactive sizes.
    *
    * `shingleN`, `bands` and `rowsPerBand` must be at least 1 and
    * `bands × rowsPerBand` at most `Int.MaxValue`; anything else is
    * rejected on the driver. One evaluation of the returned plan
    * computes the signatures and writes the banded shuffle once.
    */
  def minHashNearDups(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.7, maxBucketSize: Int = 1000,
      stageDir: Option[String] = None): DataFrame =
    minHashNearDupsStaged(df, idCol, textCol, shingleN, bands, rowsPerBand,
      threshold, maxBucketSize, stageDir)._1

  /** [[minHashNearDups]] and the hashed-shingle stage its pair plan
    * reads, for a caller that releases it once it no longer reads the
    * pairs — see [[dropNearDuplicates]]' `release`.
    */
  private[graft] def minHashNearDupsStaged(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, bands: Int, rowsPerBand: Int,
      threshold: Double, maxBucketSize: Int,
      stageDir: Option[String]): (DataFrame, DataFrame) = {
    require(shingleN >= 1, s"shingleN must be >= 1, got $shingleN")
    // built first: checks bands and rowsPerBand before anything runs
    val candidatesOf = bandCandidates(bands, rowsPerBand, maxBucketSize)
    // Staged once and reused by signature build + both rerank sides —
    // the standard "materialize the signatures" step; without it the
    // scan+shingling runs three times. Only the 64-bit shingle HASHES
    // are staged (8 bytes/shingle vs a Java string each): the persist,
    // the rerank shuffles, and the exact-Jaccard set ops all run over
    // long arrays. Jaccard over distinct-shingle hashes equals Jaccard
    // over the shingles unless the hash collides inside a pair's union
    // (~2⁻⁶⁴ per element — below any real corpus's noise floor).
    // Shingling + signature are the native codegen'd expressions
    // (graft.functions.TextSignatures) — one tight loop per row, not
    // 64 interpreted higher-order folds (the r2 bottleneck).
    val hashedRaw = df
      .select(col(idCol).as("_id"),
        graft.functions.TextSignatures
          .shingleHashesCol(col(textCol), shingleN).as("_hsh"))
      .filter(size(col("_hsh")) > 0)
    val hashedShingles = stage(hashedRaw, stageDir)
    val candidates = candidatesOf(hashedShingles)

    // Exact-Jaccard rerank, FUSED (r13): every candidate is keyed
    // under both of its ids and joined against the shingle stage once,
    // then one pair groupBy reassembles (a, b) — one join and one
    // aggregate instead of `.distinct()` + two joins.
    // Both keys come out of ONE scan of `candidates` (an explode of a
    // two-struct array), never a union of two projections of it: a
    // union feeds the whole candidate subtree — band keys, bucket
    // exchange and walk — to the plan twice, and AQE does not reuse an
    // exchange that sits under a cached-relation query stage, so each
    // branch recomputed the signatures and wrote the same banded
    // shuffle again.
    // CONTRACT (shared by every dedup operator but binding here): ids
    // must be UNIQUE — a duplicated id joins several shingle sets and
    // first() keeps an arbitrary one, so a true pair can score below
    // threshold. (The replaced two-join shape emitted one row per
    // text combination instead — differently garbage, not safer.)
    // Candidates arrive WITHOUT a distinct: a pair colliding in k of
    // the `bands` buckets rides k× to the groupBy, which dedups it —
    // bounded at bands× on exactly the colliding pairs, which the
    // maxBucketSize guard already bounds in volume; a separate
    // distinct stage cost more than this duplication on every
    // measured composition.
    val keyed = candidates
      .select(explode(array(
        struct(col("id_a").as("_id"), col("id_a"), col("id_b")),
        struct(col("id_b").as("_id"), col("id_a"), col("id_b")))).as("k"))
      .select("k._id", "k.id_a", "k.id_b")
    val pairs = keyed.join(hashedShingles, "_id")
      .groupBy("id_a", "id_b")
      .agg(
        first(when(col("_id") === col("id_a"), col("_hsh")), ignoreNulls = true)
          .as("_sha"),
        first(when(col("_id") === col("id_b"), col("_hsh")), ignoreNulls = true)
          .as("_shb"))
      .withColumn("jaccard",
        size(array_intersect(col("_sha"), col("_shb"))).cast("double") /
          size(array_union(col("_sha"), col("_shb"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    (pairs, hashedShingles)
  }

  /** The LSH candidate pairs (id_a, id_b) of (_id, _hsh) rows: rows
    * hash-partitioned by (band, bucket) and sorted by (band, bucket,
    * _id), then one [[bucketPairs]] walk per partition. The multiset
    * equals the i < j pairs of each bucket's `array_sort`ed
    * `collect_list(_id)` with 2..`maxBucketSize` members — the shape
    * this replaced, whose 40M mostly-singleton list buffers were the
    * r13 sweep's superlinear term. The kernel arguments are checked
    * here, before any input is given.
    */
  private[graft] def bandCandidates(
      bands: Int, rowsPerBand: Int, maxBucketSize: Int): DataFrame => DataFrame = {
    val bandKeys = graft.functions.TextSignatures
      .minHashBandsCol(col("_hsh"), bands, rowsPerBand)
    hashed => {
      val idType = hashed.schema("_id").dataType
      val pairSchema = StructType(Seq("id_a", "id_b").map(StructField(_, idType)))
      hashed
        .filter(col("_id").isNotNull)
        .select(col("_id"), posexplode(bandKeys).as(Seq("band", "bucket")))
        .repartition(col("band"), col("bucket"))
        .sortWithinPartitions("band", "bucket", "_id")
        .mapPartitions(bucketPairs(_, maxBucketSize))(Encoders.row(pairSchema))
    }
  }

  /** The i < j id pairs of every run of equal (band, bucket) with 2 to
    * `maxBucketSize` members, over (_id, band, bucket) rows sorted by
    * (band, bucket, _id). Pairs are emitted lazily; at most
    * `maxBucketSize + 1` ids of a run are held (compared as Ints, so no
    * cap wraps), and a run's ids are copied out only when it has pairs.
    */
  private def bucketPairs(sorted: Iterator[Row], maxBucketSize: Int): Iterator[Row] = {
    val rows = sorted.buffered
    val held = scala.collection.mutable.ArrayBuffer.empty[Any]
    val none = Array.empty[Any]
    def nextRun(): Array[Any] = {
      val first = rows.next()
      val (band, bucket) = (first.getInt(1), first.getLong(2))
      held.clear()
      held += first.get(0)
      while (rows.hasNext && rows.head.getInt(1) == band && rows.head.getLong(2) == bucket) {
        val id = rows.next().get(0)
        if (held.length <= maxBucketSize) held += id
      }
      if (held.length >= 2 && held.length <= maxBucketSize) held.toArray
      else none
    }
    Iterator.continually(rows.hasNext).takeWhile(identity).flatMap { _ =>
      val ids = nextRun()
      Iterator.range(0, ids.length).flatMap(i =>
        Iterator.range(i + 1, ids.length).map(j => Row(ids(i), ids(j))))
    }
  }

  /** 64-bit SimHash over whitespace tokens: bit i of the signature is
    * the sign of Σ_tokens (±1 by bit i of xxhash64(token)), token
    * multiplicity included.
    *
    * Computed ENTIRELY per row by the native codegen'd
    * [[graft.functions.TextSignatures.SimHash64]] — zero shuffle, unlike the
    * textbook explode + groupBy formulation which shuffles every
    * token. At 100 TB that's the difference between a map-only stage
    * and re-shuffling the whole corpus. (The r2 formulation — 64
    * `aggregate` folds — was map-only too but interpreted, and
    * dominated the query's runtime; the expression computes the same
    * bits in one loop.)
    */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      graft.functions.TextSignatures
        .simHash64Col(col(textCol)).as("simhash"))

  /** SimHash near-dups: the 64-bit signature is split into
    * `maxHamming + 1` near-equal chunks — by pigeonhole, hamming ≤
    * maxHamming ⇒ at least one chunk is equal, so the recall guarantee
    * tracks the parameter (maxHamming = 0 degenerates to exact
    * signature equality). Candidates share a chunk value; rerank is
    * exact hamming ≤ maxHamming.
    *
    * `maxBucketSize` mirrors [[minHashNearDups]]'s degenerate-bucket
    * guard: a mass-duplicated cluster puts B identical signatures in
    * one chunk bucket → B²/2 candidate pairs; such clusters belong to
    * exact dedup, not pairwise enumeration. Honest caveat (unlike the
    * minhash-at-t=1 case): a chunk bucket groups docs sharing only one
    * signature slice, so an over-full bucket CAN also hide a genuine
    * near-dup pair whose only colliding chunk it was — the guard
    * trades bounded recall loss on pathological buckets for a hard
    * O(maxBucketSize²) ceiling per bucket. Size it for the corpus.
    */
  def simHashNearDups(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame =
    hammingNearDups(simHash(df, idCol, textCol), idCol, "simhash",
      maxHamming, maxBucketSize)

  /** Pigeonhole hamming near-dup over ANY 64-bit signature column —
    * the machinery behind [[simHashNearDups]], reusable for every
    * signature family (text simhash, image average-hash, audio
    * chromaprints...): rows with null signatures are skipped, the
    * signature splits into `maxHamming + 1` near-equal chunks (hamming
    * ≤ maxHamming ⇒ at least one chunk equal, so recall is
    * deterministic), candidates share a chunk value, rerank is exact
    * `bit_count(xor)`.
    *
    * Bucket-local pair generation: each (chunk, key) bucket collects
    * (id, signature) structs — bounded by `maxBucketSize`, see
    * [[simHashNearDups]] for the guard's recall tradeoff — and the
    * ordered pairs + their hamming rerank happen IN-ROW. Two shuffles
    * total (bucket agg + distinct), no join anywhere.
    */
  def hammingNearDups(
      sigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 63], got $maxHamming")
    val numChunks = maxHamming + 1
    val bounds = (0 to numChunks).map(c => c * 64 / numChunks)
    val chunked = sigs
      .select(col(idCol).as("_id"), col(sigCol).as("_sig"))
      .filter(col("_sig").isNotNull)
      .select(col("_id"), col("_sig"),
        explode(array((0 until numChunks).map { c =>
          val start = bounds(c)
          val width = bounds(c + 1) - bounds(c)
          val sh = shiftrightunsigned(col("_sig"), start)
          val key = if (width == 64) sh else sh.bitwiseAND(lit((1L << width) - 1))
          struct(lit(c).as("chunk"), key.as("key"))
        }: _*)).as("ck"))
      .select(col("_id"), col("_sig"), col("ck.chunk"), col("ck.key"))
    chunked.groupBy("chunk", "key")
      .agg(collect_list(struct(col("_id"), col("_sig"))).as("_items"))
      .filter(size(col("_items")).between(2, maxBucketSize))
      .withColumn("_sorted", array_sort(col("_items"))) // unique _id leads
      // native pair walk; the Hamming math moves OUT of the (formerly
      // interpreted) lambda into a codegen'd projection after explode
      .select(explode(graft.functions.ArrayPairs.orderedPairsCol(
        col("_sorted"))).as("p"))
      .select(col("p.a._id").as("id_a"), col("p.b._id").as("id_b"),
        bit_count(col("p.a._sig").bitwiseXOR(col("p.b._sig"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Small-graph probe shared by [[connectedComponents]] and the
    * drop-duplicates fast paths: Some(pairs) when the pair list fits
    * under `collectLimit`, None when it overflows (take the
    * distributed path). `assumeCanonical` is for pair lists produced
    * by this library's own generators (minhash/simhash/ngram/hamming
    * all emit DISTINCT id_a < id_b rows): the probe then collects the
    * raw rows map-only — no canonicalize+distinct shuffle — because
    * raw row count already equals unique pair count. Union-find
    * downstream tolerates duplicate or reversed rows either way; the
    * flag only affects how the LIMIT bound is measured and what the
    * probe costs.
    */
  private def probeLocalPairs(
      pairs: DataFrame, aCol: String, bCol: String,
      collectLimit: Int, assumeCanonical: Boolean)
      : Option[Array[Row]] = {
    if (collectLimit <= 0) return None
    // Overflow ⇒ the graph is genuinely large ⇒ distributed. In the
    // canonicalized branch greatest/least skip NULLs, so a null-partner row
    // (a, null) canonicalizes to the self-pair (a, a) — singleton
    // membership survives the orientation dedup (the contract covers
    // every id).
    val probe =
      if (assumeCanonical) pairs.select(col(aCol), col(bCol))
      else pairs
        .select(greatest(col(aCol), col(bCol)).as(aCol),
          least(col(aCol), col(bCol)).as(bCol))
        .distinct()
    graft.Conf.collectUpTo(probe, collectLimit).toOption
  }

  /** Connected components over an undirected pair list — the step that
    * turns near-dup PAIRS into usable dedup decisions: docs a~b and
    * b~c belong to ONE cluster even when a≁c directly, and the cluster
    * keeps exactly one representative (its min id).
    *
    * Alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14):
    *  - large-star: every node links its LARGER neighbors to the
    *    minimum of its closed neighborhood;
    *  - small-star: every node links its smaller-or-equal neighbors
    *    (and itself) to that minimum.
    * Each round is two hash aggregates + a distinct; the edge set
    * converges to stars centered at component minima in O(log²n)
    * rounds — unlike naive min-label propagation, whose round count is
    * the graph DIAMETER (a 1M-link chain would need 1M shuffles; this
    * needs ~dozens). The driver loop carries only a (count, checksum)
    * pair per round — the edge data never leaves the executors.
    *
    * Caveat at scale: a star center's neighborhood aggregate holds its
    * whole component — fine for dedup clusters (bounded by the
    * upstream `maxBucketSize` guards), but a billion-node single
    * component would need the paper's high-degree splitting, which
    * this implementation deliberately omits.
    *
    * Returns (id, component) for every id present in `pairs`, where
    * component = min id of the connected component.
    *
    * `collectLimit`: adaptive small-graph fast path — when the
    * CANONICALIZED pair list (orientation-deduped, so (a,b)/(b,a)
    * count once) fits under this bound it is collected once and
    * solved with driver-side union-find, and the result returns as a
    * LocalRelation (so the downstream anti-join broadcasts for free).
    * This is the connected-components analogue of the broadcast join:
    * a near-dup pair list is a tiny fraction of the corpus (bounded by
    * the upstream `maxBucketSize` guards), and the iterative
    * star-contraction costs ~2 scheduled jobs + 2 shuffles PER ROUND —
    * pure fixed cost when the whole graph fits in one task. The
    * default bound (262k pairs ≈ tens of MB on the driver) is sized
    * for an UNTUNED driver heap. Graphs over the bound take the
    * distributed path unchanged — at the cost of the probe's wasted
    * distinct: callers that KNOW the graph is huge pass 0 to skip the
    * probe entirely. `Int.MaxValue` is a legal bound (always collect).
    *
    * The distributed path evaluates `pairs` exactly ONCE: the raw
    * (u, v) projection is local-checkpointed up front, and both the
    * canonical edge set and the returned id list are derived from that
    * checkpoint, which is released with the last round's edges. A
    * minhash pair list therefore computes its signatures and writes
    * its banded bucket shuffle once per call, not once per read.
    */
  def connectedComponents(
      pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
      maxIter: Int = 50, collectLimit: Int = 1 << 18,
      assumeCanonical: Boolean = false): DataFrame = {
    probeLocalPairs(pairs, aCol, bCol, collectLimit, assumeCanonical) match {
      case Some(head) =>
        return localComponents(pairs.sparkSession, head,
          pairs.schema(aCol).dataType)
      case None => ()
    }
    def canon(e: DataFrame): DataFrame = e
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // closed-neighborhood minimum per node over the doubled edge view
    def withNbrs(e: DataFrame): DataFrame = e
      .unionAll(e.select(col("v").as("u"), col("u").as("v")))
      .groupBy("u").agg(collect_set(col("v")).as("_nbrs"))
      .withColumn("_m", least(col("u"), array_min(col("_nbrs"))))

    // localCheckpoint per round: an iterative DataFrame loop that only
    // persists keeps GROWING its logical plan — by round ~15 Catalyst
    // spends longer planning than executing. Checkpointing truncates
    // the lineage so every round plans against a flat scan (same
    // pattern as MLlib's iterative algorithms; on a cluster a reliable
    // checkpoint dir also survives executor loss).
    // ids keep their own type — the algorithm only needs an ordering
    // (min/comparisons), so string/long/timestamp ids all work; a cast
    // would silently null non-numeric ids.
    // `pairs` is usually a whole pair query (for minhash: signatures,
    // band explode, bucket shuffle, rerank) that every read re-runs,
    // so it is read once, here, and both the edges and `allIds` below
    // derive from this checkpoint.
    val raw = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .localCheckpoint()
    var edges = canon(raw).localCheckpoint()
    var stable = false
    var iter = 0
    var prev: (Long, Long) = (-1L, 0L)
    while (!stable && iter < maxIter) {
      // large-star: (v, m) for strictly larger neighbors v
      val large = canon(withNbrs(edges)
        .select(col("_m").as("v"),
          explode(filter(col("_nbrs"), n => n > col("u"))).as("u")))
      // small-star: (v, m) for neighbors v <= u, plus (u, m)
      val small = canon(withNbrs(large)
        .select(col("_m").as("v"),
          explode(array_union(filter(col("_nbrs"), n => n < col("u")),
            array(col("u")))).as("u")))
        .localCheckpoint()
      // convergence = edge set unchanged (count + order-free XOR hash —
      // a sum would overflow under ANSI arithmetic)
      val row = small.agg(count(lit(1)),
        expr("bit_xor(xxhash64(u, v))")).head()
      val sig = (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
      edges.unpersist()
      edges = small
      stable = sig == prev
      prev = sig
      iter += 1
    }
    require(stable, s"connectedComponents did not converge in $maxIter rounds")
    // converged stars: every non-center points at its component min;
    // centers take the min of their (all-larger) neighborhood = selves
    val starAssign = edges
      .unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      .groupBy("u").agg(min(col("v")).as("_mn"))
      .select(col("u").as("id"), least(col("u"), col("_mn")).as("component"))
    // the contract covers EVERY id present in `pairs` — including ids
    // that only appear in self-pairs or opposite a null partner, which
    // the edge canonicalization rightly drops from the graph. Those
    // are singleton components (component = self).
    val allIds = raw.select(explode(array(col("u"), col("v"))).as("id"))
      .filter(col("id").isNotNull).distinct()
    val out = allIds.join(starAssign, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
      // materialize the (small, one-row-per-id) result so the round
      // edge blocks can be released NOW; the returned frame owns its
      // own checkpoint blocks, reclaimed by the ContextCleaner when
      // the caller drops the reference (unpersist() to release early)
      .localCheckpoint()
    edges.unpersist()
    raw.unpersist()
    out
  }

  /** Id ordering matching the distributed path's `least`/`min`: Spark
    * compares UTF8Strings byte-wise, so string ids sort in UTF-8 BINARY
    * order (`String.compareTo` sorts UTF-16 code units, which diverges
    * above the BMP).
    */
  private def idOrdering(
      idType: org.apache.spark.sql.types.DataType): Ordering[Any] = idType match {
    case org.apache.spark.sql.types.StringType => new Ordering[Any] {
      def compare(a: Any, b: Any): Int = {
        val x = a.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val y = b.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val n = math.min(x.length, y.length)
        var i = 0
        while (i < n) {
          val c = (x(i) & 0xff) - (y(i) & 0xff)
          if (c != 0) return c
          i += 1
        }
        x.length - y.length
      }
    }
    case _ => new Ordering[Any] {
      def compare(a: Any, b: Any): Int =
        a.asInstanceOf[Comparable[Any]].compareTo(b)
    }
  }

  /** Driver-side union-find over a collected pair list: id →
    * component-min for every non-null id present. Tolerates duplicate,
    * reversed, self-, and null-partner pairs.
    */
  private def unionFindMap(
      pairs: Array[Row],
      ord: Ordering[Any]): scala.collection.mutable.HashMap[Any, Any] = {
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    def add(x: Any): Unit = if (!parent.contains(x)) parent(x) = x
    pairs.foreach { row =>
      val a = row.get(0)
      val b = row.get(1)
      if (a != null) add(a)
      if (b != null) add(b)
      if (a != null && b != null && a != b) {
        val ra = find(a)
        val rb = find(b)
        if (ra != rb) parent(ra) = rb
      }
    }
    val minOf = scala.collection.mutable.HashMap.empty[Any, Any]
    parent.keysIterator.foreach { id =>
      val r = find(id)
      if (!minOf.get(r).exists(m => ord.lteq(m, id))) minOf(r) = id
    }
    val out = scala.collection.mutable.HashMap.empty[Any, Any]
    parent.keysIterator.foreach { id => out(id) = minOf(find(id)) }
    out
  }

  /** Driver-side union-find behind [[connectedComponents]]'s
    * small-graph fast path, materialized as a LocalRelation (so
    * downstream joins broadcast for free). Same contract as the
    * distributed star-contraction: every non-null id in `pairs`
    * appears exactly once, component = min id of its connected
    * component.
    */
  private def localComponents(
      spark: org.apache.spark.sql.SparkSession,
      pairs: Array[Row],
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val comp = unionFindMap(pairs, idOrdering(idType))
    val rows: java.util.List[Row] =
      new java.util.ArrayList[Row](comp.size)
    comp.foreach { case (id, c) =>
      rows.add(Row(id, c))
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("id", idType, nullable = false),
      StructField("component", idType, nullable = false))))
  }

  /** Anti-join `df` against a driver-resident loser id list via a
    * LocalRelation (broadcasts for free; bounded by the CC probe's
    * collectLimit).
    */
  private def dropIdsLocal(
      df: DataFrame, idCol: String, losers: Iterable[Any],
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    if (losers.isEmpty) return df
    val rows: java.util.List[Row] =
      new java.util.ArrayList[Row](losers.size)
    losers.foreach(id => rows.add(Row(id)))
    val loserDf = df.sparkSession.createDataFrame(rows,
      StructType(Seq(StructField("_loser", idType, nullable = false))))
    df.join(loserDf, col(idCol) === col("_loser"), "left_anti")
  }

  /** Drop every non-representative member of each near-dup cluster:
    * rows whose id maps to a component with a smaller min id. The
    * complete dedup recipe: pairs := minHashNearDups(...);
    * deduped := dropNearDuplicates(df, id, pairs).
    *
    * Small graphs (the normal case — a near-dup pair list is a tiny
    * fraction of the corpus) resolve entirely on the driver: ONE job
    * collects the pairs, union-find computes the losers, and the
    * corpus pays a single broadcast anti-join — two jobs total.
    * `assumeCanonical` (pair lists from this library's generators,
    * which all emit distinct id_a < id_b) makes the probe collect
    * map-only; see [[connectedComponents]].
    *
    * `release`: cached stages that `pairs` reads. Once the pairs are on
    * the driver, the returned plan reads only `df`, so they are
    * unpersisted there; the distributed route keeps them, since its
    * plan reads `pairs`.
    */
  def dropNearDuplicates(
      df: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b",
      collectLimit: Int = 1 << 18, assumeCanonical: Boolean = false,
      release: Seq[DataFrame] = Nil): DataFrame =
    probeLocalPairs(pairs, aCol, bCol, collectLimit, assumeCanonical) match {
      case Some(head) =>
        release.foreach(_.unpersist(blocking = false))
        val idType = pairs.schema(aCol).dataType
        val comp = unionFindMap(head, idOrdering(idType))
        val losers = comp.iterator.collect { case (id, c) if id != c => id }.toSeq
        dropIdsLocal(df, idCol, losers, idType)
      case None =>
        val losers = connectedComponents(pairs, aCol, bCol, collectLimit = 0)
          .filter(col("id") =!= col("component"))
          .select(col("id").as("_loser"))
        df.join(losers, col(idCol) === col("_loser"), "left_anti")
    }

  /** [[dropNearDuplicates]] with a QUALITY rule: per cluster keep the
    * member maximizing `keepBy` (numeric; ties break to the smallest
    * id, nulls rank worst), instead of blindly keeping the min id —
    * real pipelines keep the longest / highest-LM-score / least-noisy
    * copy of a near-dup group (Lee et al. 2021 keep one "best"
    * member). Small graphs resolve the winners on the driver (one
    * member-quality collect on top of [[dropNearDuplicates]]'s two
    * jobs); past `collectLimit` the distributed branch pays one extra
    * cluster-sized aggregate + join. Either way the corpus itself only
    * pays the final anti join.
    */
  def dropNearDuplicatesBy(
      df: DataFrame, idCol: String, pairs: DataFrame, keepBy: Column,
      aCol: String = "id_a", bCol: String = "id_b",
      collectLimit: Int = 1 << 18, assumeCanonical: Boolean = false): DataFrame =
    probeLocalPairs(pairs, aCol, bCol, collectLimit, assumeCanonical) match {
      case Some(head) =>
        // driver fast path, 3 jobs total: pair collect (above) +
        // member-quality collect (broadcast-semi-joined scan, cluster
        // members only — bounded by 2·collectLimit ids) + the final
        // broadcast anti-join. The distributed alternative pays the
        // same scans PLUS a member join, a cluster aggregate, and a
        // winner join — each a scheduled shuffle stage that costs more
        // than this whole graph's worth of driver arithmetic.
        val idType = pairs.schema(aCol).dataType
        val ord = idOrdering(idType)
        val comp = unionFindMap(head, ord)
        if (comp.isEmpty) return df
        // cast the corpus id to the PAIRS' id type: the semi join
        // below coerces for SQL equality either way, but the collected
        // values feed JVM HashMap lookups against comp's keys — an
        // int-id corpus probed with long-id pairs (e.g. pairs re-read
        // from parquet) must collect Longs, not Integers
        val memberQ = df
          .select(col(idCol).cast(idType).as("_id"),
            coalesce(keepBy.cast("double"), lit(Double.NegativeInfinity)).as("_q"))
        val members = {
          val rows: java.util.List[Row] =
            new java.util.ArrayList[Row](comp.size)
          comp.keysIterator.foreach(id => rows.add(Row(id)))
          df.sparkSession.createDataFrame(rows,
            StructType(Seq(StructField("_mid", idType, nullable = false))))
        }
        val quals = memberQ
          .join(broadcast(members), col("_id") === col("_mid"), "left_semi")
          .collect()
        // winner per component = min over (−quality, id): highest
        // quality, then smallest id — same total order the distributed
        // branch's min_by(struct(nq, id)) induces (NaN sorts greatest
        // in both Spark's struct ordering and Double.compare)
        val best = scala.collection.mutable.HashMap.empty[Any, (Double, Any)]
        quals.foreach { r =>
          val id = r.get(0)
          val nq = -r.getDouble(1)
          val cmp = comp(id)
          val better = best.get(cmp) match {
            case None => true
            case Some((bnq, bid)) =>
              val c = java.lang.Double.compare(nq, bnq)
              c < 0 || (c == 0 && ord.lt(id, bid))
          }
          if (better) best(cmp) = (nq, id)
        }
        val losers = quals.iterator.map(_.get(0))
          .filter(id => best.get(comp(id)).exists(_._2 != id)).toSeq
        dropIdsLocal(df, idCol, losers, idType)
      case None =>
        val cc = connectedComponents(pairs, aCol, bCol, collectLimit = 0)
        val members = df
          .select(col(idCol).as("id"),
            coalesce(keepBy.cast("double"), lit(Double.NegativeInfinity)).as("_q"))
          .join(cc, "id")
        // winner = min over (−quality, id): highest quality, then
        // smallest id — the struct ordering makes the pick
        // deterministic under ties
        val winners = members.groupBy("component")
          .agg(min_by(col("id"),
            struct((col("_q") * lit(-1.0)).as("nq"), col("id").as("tb"))).as("_keep"))
        val losers = members.join(winners, "component")
          .filter(col("id") =!= col("_keep"))
          .select(col("id").as("_loser"))
        df.join(losers, col(idCol) === col("_loser"), "left_anti")
    }

  /** Exact n-gram Jaccard pairs with PREFIX FILTERING (the AllPairs
    * scheme of Bayardo/Ma/Srikant, WWW'07): order each doc's shingles
    * by global rarity and index only the first ⌊(1-t)·|doc|⌋+1 — any
    * pair with J ≥ t MUST collide inside those prefixes, so the
    * inverted-index self-join touches a small, rare slice instead of
    * every posting. Survivors are reranked with EXACT Jaccard over the
    * full shingle sets → no false positives, no false negatives.
    */
  /** `stageDir`: as in [[minHashNearDups]] — stages the per-doc
    * posting index to parquet instead of executor storage.
    */
  /** `maxCandidatePairs`: DEFAULT-ON saturation guard. Prefix
    * filtering's whole premise is that SOME shingle in every doc is
    * globally rare; a bounded vocabulary voids it — with |V| tokens
    * the n-gram space is |V|ⁿ, and once the corpus saturates it EVERY
    * pair shares prefix shingles, so candidate generation is Θ(n²)
    * for any exact scheme (measured: the sf10 scaling star, a
    * 31-token salad whose 29 791 = 31³ trigram space is fully
    * saturated, went ×95 per data decade). One cheap aggregate over
    * the prefix index computes the EXACT candidate-join row count
    * first and raises actionably past the budget — pointing at
    * [[minHashNearDups]], whose banded signatures stay bounded on
    * exactly this data (×2.5 per decade in the same audit) — instead
    * of grinding quadratically. [[CandidateCap.Auto]] (the default)
    * budgets 100 candidates per document; a 100 TB caller who passes
    * nothing gets the guard, and switching it OFF takes an explicit
    * [[CandidateCap.Unbounded]].
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.5,
      stageDir: Option[String] = None,
      maxCandidatePairs: CandidateCap = CandidateCap.Auto): DataFrame = {
    // Postings carry the 64-bit shingle hash, never the string — every
    // downstream shuffle/persist moves 8-byte longs. Jaccard over
    // distinct-shingle hashes equals string Jaccard absent an in-pair
    // hash collision (~2⁻⁶⁴/element). Shingle hashing is the native
    // codegen'd expression — one loop per row.
    val exploded = df
      .select(col(idCol).as("_id"),
        explode(graft.functions.TextSignatures
          .shingleHashesCol(col(textCol), shingleN)).as("_h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfs = exploded.groupBy("_h").agg(count(lit(1)).as("_df"))

    // One per-doc aggregate feeds prefix, length filter AND rerank:
    // sort each doc's (df, hash) postings by global rarity IN-ROW
    // (array_sort) instead of a corpus-wide window sort — a hash
    // aggregate scales; a row_number window over every posting doesn't.
    val (byDoc, nDocs) = stageCounted(
      exploded.join(dfs, "_h")
        .groupBy("_id")
        .agg(array_sort(collect_list(struct(col("_df"), col("_h")))).as("_items")),
      stageDir)
    // The compact per-doc index is materialized NOW (write or eager
    // persist) so the full posting list — the operator's largest
    // intermediate — is released instead of staying pinned for the
    // caller's lifetime. The materializing count doubles as the doc
    // count the Auto cap needs below — no second job.
    exploded.unpersist()

    // Prefix filtering (Bayardo AllPairs): only the rarest
    // |doc| − ⌈t·|doc|⌉ + 1 postings are indexed — any pair with
    // J ≥ t must collide inside those prefixes. The ceil is
    // epsilon-guarded: in doubles 0.8·5 is 4.0000000000000002, whose
    // bare ceil (5) would HALVE the prefix for every doc size where
    // t·n is integral and silently lose true pairs (observed: one
    // missing pair at sf0.001). Each posting carries its doc's size
    // so the length filter below is a FREE inline predicate on the
    // join output (no extra size-lookup joins at any scale).
    val eps = 1e-9
    val nCol = size(col("_items"))
    val prefixLen =
      (nCol - ceil(lit(threshold) * nCol - lit(eps)) + lit(1)).cast("int")
    // explode the sliced structs, project the hash AFTER — `slice` is
    // codegen'd, while a transform lambda here was an interpreted
    // O(prefix) walk per doc
    val prefix = byDoc.select(col("_id"), nCol.as("_n"),
        explode(slice(col("_items"), lit(1), prefixLen)).as("_s"))
      .select(col("_id"), col("_n"), col("_s._h").as("_h"))

    val capValue: Option[Long] = maxCandidatePairs match {
      case CandidateCap.Unbounded => None
      case CandidateCap.Max(m)    => Some(m)
      // Auto sizes off the corpus itself: the doc count came free with
      // byDoc's materializing stage — no extra job
      case CandidateCap.Auto      => Some(100L * math.max(nDocs, 1L))
    }
    capValue.foreach { cap =>
      // exact size of the candidate self-join below: Σ_h c_h·(c_h−1)/2
      // over prefix-posting frequencies — one aggregate over the
      // (staged) prefix stream, negligible next to the join it guards
      // counts go through double BEFORE the multiply: a saturated
      // bucket past ~3e9 postings would wrap a Long product negative
      // and could sneak the estimate under the cap on exactly the
      // corpora the guard exists to catch (double loses ulps at that
      // magnitude, which is irrelevant for a threshold estimate)
      val est = Option(
        prefix.groupBy("_h").agg(count(lit(1)).as("_c"))
          .agg(sum(col("_c").cast("double") *
            (col("_c") - lit(1)).cast("double") / lit(2.0)).as("_p"))
          .head().get(0)).fold(0L)(v => math.round(v.toString.toDouble))
      require(est <= cap,
        s"ngramJaccardPairs would generate $est candidate pairs " +
          s"(maxCandidatePairs=$cap, ${maxCandidatePairs}): the shingle " +
          "space is saturated — no globally-rare prefixes exist, so exact " +
          "pair generation is quadratic on this corpus. Use minHashNearDups " +
          "(banded LSH stays bounded on saturated vocabularies), raise the " +
          "cap with CandidateCap.Max, or opt out explicitly with " +
          "CandidateCap.Unbounded.")
    }

    // Length filter (exact necessary condition): J ≥ t ⇒
    // min(|A|,|B|) ≥ t·max(|A|,|B|) — prunes candidates before the
    // expensive set join. Same epsilon guard: t·max computed in
    // doubles can exceed its true integral value and wrongly reject a
    // boundary pair.
    val l = prefix.as("l")
    val r = prefix.as("r")
    val lenOk = l
      .join(r, col("l._h") === col("r._h") && col("l._id") < col("r._id"))
      .filter(least(col("l._n"), col("r._n")).cast("double") >=
        lit(threshold) * greatest(col("l._n"), col("r._n")).cast("double") - lit(eps))
      .select(col("l._id").as("id_a"), col("r._id").as("id_b"))
      .distinct()

    // Exact rerank over full (hashed) shingle sets (native field
    // projection — the transform lambda was an interpreted O(set)
    // walk per doc).
    val sets = byDoc.select(col("_id"),
      graft.functions.ArrayPairs.fieldArrayCol(col("_items"), "_h").as("_set"))
    lenOk
      .join(sets.select(col("_id").as("id_a"), col("_set").as("_sa")), "id_a")
      .join(sets.select(col("_id").as("id_b"), col("_set").as("_sb")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("_sa"), col("_sb"))).cast("double") /
          size(array_union(col("_sa"), col("_sb"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Exact substring-SPAN dedup (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): a document sharing
    * ANY `spanTokens`-word span with an earlier document is a
    * duplicate — catches partial overlap and containment that
    * whole-document fingerprints miss (quoted articles, template
    * wrappers around copied bodies).
    *
    * Shape: explode each doc's distinct span hashes (codegen'd shingle
    * expression, 8-byte longs) → min-id per span (ONE hash aggregate,
    * map-side partial) → join back and keep ids greater than their
    * span's first owner. The gram-granularity join is the inverted-
    * index shape shared with [[ngramJaccardPairs]]; at 100 TB the
    * posting table is the thing you stage/bucket, not the documents.
    * Suffix-array spans (arbitrary alignment) reduce to this with
    * stride-1 windows, which is exactly what word-shingles are.
    *
    * Return materialization: under [[DupSpanLocalLimit]] duplicated
    * spans the probe side is a local broadcast relation; WITHOUT a
    * stage dir the result is then a LAZY plan (nothing cached — the
    * expected single consumption, e.g. [[dropSpanDuplicates]]' anti
    * join, executes it once; a caller consuming it several times
    * should stage it). With a stage dir (explicit or [[StageDirConf]])
    * the result IS staged to it on every route — the 100 TB contract:
    * the flagged-id table is an index, shareable and re-consumable
    * (r15 ADVICE: the fast path used to skip the staging silently).
    * Over the cap the persisted-probe shape materializes as before.
    */
  def spanDuplicateIds(
      df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 8,
      stageDir: Option[String] = None): DataFrame = {
    // NOT persisted: the explode is one cheap codegen'd scan (~1 s
    // for 24M postings at the sf10 star) while caching 24M rows costs
    // multiples of that in serialization + memory pressure.
    val grams = df.select(col(idCol).as("_id"),
      explode(graft.functions.TextSignatures
        .shingleHashesCol(col(textCol), spanTokens)).as("_g"))
    // Only spans carried by >= 2 DISTINCT docs can flag anything, so
    // aggregate FIRST (one posting shuffle) and filter to just the
    // duplicated spans — on real corpora that is the duplicated-
    // content volume, orders of magnitude below |postings|. The
    // filtered table is materialized + counted, and when it fits the
    // broadcast budget the probe join broadcasts it AT PLAN TIME: the
    // probe side then never shuffles at all (one map-only scan over
    // the re-exploded postings). AQE's runtime SMJ→BHJ conversion is
    // NOT enough here — it decides only after the probe-side shuffle
    // map stage has already written every posting (measured at the
    // 24M-posting sf10 star: 58 s naive self-join, 47 s with AQE's
    // late conversion, ~13 s for this plan-time broadcast). Past the
    // budget (massively duplicated corpus) it degrades to the
    // sort-merge join against the persisted aggregate — cost
    // proportional to duplication, never quadratic.
    val spark = df.sparkSession
    val bigCorpus = bigPostingCorpus(df)
    val dupPlan = dupSpanFirsts(grams, bigCorpus, graft.Conf.estimatedBytes(df))
    val staged = stageDir.isDefined ||
      spark.conf.get(StageDirConf, null) != null
    probeDupSpansLocal(spark, dupPlan, bigCorpus) match {
      case Right(local) =>
        // Driver-local fast path (r15): the duplicated-span table came
        // back whole from the probe, so NOTHING is
        // cached — the probe joins a plan-time-broadcast local
        // relation and the flagged plan stays LAZY (its one execution
        // is the caller's action; the eager stage below existed only
        // to release the persisted dupSpans before returning). With a
        // stage dir the result is still STAGED (r15 ADVICE — the
        // materialized/shareable contract holds on every route).
        val flagged = grams.join(broadcast(local), "_g")
          .filter(col("_id") > col("_first"))
          .select(col("_id").as(idCol)).distinct()
        if (staged) stage(flagged, stageDir) else flagged
      case Left(dupSpans) =>
        // over-cap: on the big-corpus route the probe already persisted
        // dupPlan and computed (part of) it — the count completes the
        // cache instead of recomputing the posting shuffle (r15 ADVICE)
        val nDup = dupSpans.count()
        val probe =
          if (nDup <= SpanBroadcastLimit) grams.join(broadcast(dupSpans), "_g")
          else grams.join(dupSpans, "_g")
        val flagged = stage(
          probe.filter(col("_id") > col("_first"))
            .select(col("_id").as(idCol)).distinct(),
          stageDir, eager = true)
        dupSpans.unpersist()
        flagged
    }
  }

  /** [[graft.Conf.collectUpTo]] probe for the span family's
    * duplicated-span table, capped at [[DupSpanLocalLimit]]: at or
    * under the cap the rows serve as a plan-time-broadcast local
    * relation (`Right`; no executor cache retained — the tiny cache the
    * probe wrote is dropped before returning); over it, `Left` with
    * the ALREADY-PERSISTED aggregate, so the caller's fallback count
    * completes the cache the probe partially filled instead of
    * recomputing the posting shuffle from scratch (r15 ADVICE — the
    * over-cap corpora are exactly the massively-duplicated ones where
    * that aggregate is most expensive). The cap bounds driver memory
    * at ~25 MB of Rows (two longs each) and is conf-dialable
    * ([[graft.Conf.DupSpanLocalLimitKey]]).
    *
    * `persistForFallback` gates the pre-probe persist on the SAME
    * route signal as [[dupSpanFirsts]] (input past the posting-shuffle
    * threshold): small corpora probe the raw plan — cache-free, and an
    * over-cap recompute there is one cheap aggregate — while large
    * corpora (where over-cap is likely AND the posting shuffle is the
    * expensive thing) pay one tiny cache fill so the fallback never
    * recomputes it. Either way `Left` returns a PERSISTED aggregate
    * the caller must unpersist.
    */
  private def probeDupSpansLocal(
      spark: org.apache.spark.sql.SparkSession,
      dupPlan: DataFrame, persistForFallback: Boolean): Either[DataFrame, DataFrame] = {
    val cap = graft.Conf.count(
      spark, graft.Conf.DupSpanLocalLimitKey, DupSpanLocalLimit)
    val p =
      if (persistForFallback)
        dupPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else dupPlan
    graft.Conf.collectUpTo(p, cap) match {
      case Right(rows) =>
        if (persistForFallback) p.unpersist(false)
        Right(spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), dupPlan.schema))
      case Left(_) => Left(
        if (persistForFallback) p
        else dupPlan
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    }
  }

  /** The span family's one posting-shuffle route decision: true when
    * the input's size estimate is past [[PostingShuffleBytes]]
    * (conf-dialable via [[graft.Conf.PostingShuffleBytesKey]]). It
    * picks [[dupSpanFirsts]]' pre-shuffled shape and the persist gates
    * of the probes that follow.
    */
  private def bigPostingCorpus(df: DataFrame): Boolean =
    !graft.Conf.underBytes(df, graft.Conf.PostingShuffleBytesKey, PostingShuffleBytes)

  /** Row cap for [[probeDupSpansLocal]] — 2^18 duplicated spans, the
    * same driver-graph scale [[connectedComponents]]' local fast path
    * accepts. Under it the span probe runs cache-free; over it the
    * persisted shape takes over (and [[SpanBroadcastLimit]] still
    * gates plan-time broadcast vs shuffled join).
    */
  val DupSpanLocalLimit: Long = 1L << 18

  /** The span-family posting aggregate (min/max owner id per distinct
    * span hash), STATS-ROUTED (r14, the r13 verdict's item 4): below
    * [[PostingShuffleBytes]] of input text the plain `groupBy` is the
    * right plan — map-side partial combine costs nothing and saves a
    * shuffle of whatever duplication exists. ABOVE it the key space
    * (distinct `spanTokens`-word shingles — ~400M longs at the 5M-doc
    * decade) has outgrown any single map task's aggregate hash map:
    * the open vocabulary means partial aggregation reduces almost
    * nothing, every scan task builds a postings-sized map, and the
    * r13 sweep measured the resulting sort-fallback spill at
    * ×25.5/decade (d_span_dedup; the scrub sibling ×13.5). The routed
    * shape PRE-SHUFFLES raw 16-byte postings on the span hash first —
    * a pure serialized exchange, linear and spill-friendly — so both
    * aggregate passes run AFTER the exchange over one partition's
    * bounded slice of the key space (keyspace / partitions keys per
    * task, sized by [[postingAggPartitions]]). Shuffle volume is
    * unchanged: the old plan shuffled the near-unreduced partial rows
    * anyway; only the map-side memory cliff disappears. min/max stay
    * fixed-width and combinable, so a real cluster spreads either
    * shape — this routes the SINGLE-BOX class back to ~linear.
    * `preShuffle` is the caller's [[bigPostingCorpus]] decision;
    * `inputBytes` (the input's size estimate) sizes the pre-shuffle.
    */
  private[operators] def dupSpanFirsts(grams: DataFrame, preShuffle: Boolean,
      inputBytes: BigInt): DataFrame = {
    val base =
      if (!preShuffle) grams
      else grams.repartition(
        postingAggPartitions(grams.sparkSession, inputBytes), col("_g"))
    base.groupBy("_g")
      .agg(min(col("_id")).as("_first"), max(col("_id")).as("_last"))
      .filter(col("_last") > col("_first"))
      .select(col("_g"), col("_first"))
  }

  /** Posting-aggregate partition count for the routed shape: one
    * partition per ~4 MB of input text (≈1M postings → ~1M distinct
    * keys → ~24 MB of aggregate map per task), never below the
    * session's shuffle parallelism, capped at 2^16. Explicit so AQE
    * does not coalesce the exchange back into oversized partitions.
    */
  private[graft] def postingAggPartitions(
      spark: org.apache.spark.sql.SparkSession, inputBytes: BigInt): Int = {
    val bySize = (inputBytes / (4L << 20)).min(BigInt(1 << 16)).toInt
    math.max(spark.conf.get("spark.sql.shuffle.partitions").toInt, bySize)
  }

  /** Input-size threshold (Catalyst plan stats, bytes) above which the
    * span-family posting aggregate routes through the pre-shuffled
    * shape (see [[dupSpanFirsts]]). 256 MB of input text ≈ 1.5M docs ≈
    * 60M postings — the last decade where a scan task's partial map
    * still fits comfortably.
    */
  val PostingShuffleBytes: Long = 256L << 20

  /** Max duplicated-span rows the span-dedup probe will broadcast
    * (~16 B a row → ≤ ~50 MB at the cap, well inside executor
    * budgets; beyond it the probe falls back to a shuffled join
    * against the persisted aggregate).
    */
  val SpanBroadcastLimit: Long = 3000000L

  /** [[spanDuplicateIds]] complement: the corpus with every
    * later-duplicate-span document dropped.
    */
  def dropSpanDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 8,
      stageDir: Option[String] = None): DataFrame =
    df.join(spanDuplicateIds(df, idCol, textCol, spanTokens, stageDir),
      Seq(idCol), "left_anti")

  /** Max FLAGGED-DOC rows (id + positions array) the span-scrub
    * remainder join will broadcast. Hit rows are heavier than
    * [[SpanBroadcastLimit]]'s 16-byte span rows — a fully-duplicated
    * doc carries ~one int per token — so the cap is lower; at ~500 B
    * a row the cap is ~50 MB, the same executor budget.
    */
  val ScrubHitsBroadcastLimit: Long = 100000L

  /** Exact-substring span SCRUBBING (Lee et al. 2021's ExactSubstr
    * behavior, vs [[dropSpanDuplicates]]'s whole-doc drop): cut the
    * maximal duplicated token ranges OUT of each document and keep
    * the unique remainder. A doc that is shared boilerplate wrapped
    * around unique text survives with the unique text intact; a doc
    * that is entirely a copy of an earlier one scrubs to empty and is
    * dropped — equivalent to [[dropSpanDuplicates]] in that case.
    *
    * Keep-first semantics: a window is flagged in doc d iff the same
    * `spanTokens`-word shingle occurs in SOME doc with smaller id —
    * the corpus-minimum owner of every span keeps its copy, exactly
    * [[spanDuplicateIds]]'s `_id > _first` rule (hash chain is
    * bit-identical, see [[graft.functions.SpanScrub]]).
    *
    * Shape (100 TB story): positioned-shingle posexplode → ONE posting
    * hash-aggregate (map-side partial) filtered to multi-owner spans →
    * plan-time-broadcast probe join (same [[SpanBroadcastLimit]]
    * device as [[spanDuplicateIds]] — the probe side never shuffles
    * when duplication is bounded) → per-doc sorted hit positions (one
    * shuffle of the FLAGGED hits only) → one scan over the corpus
    * joining hits back (broadcast when the flagged-doc table is small)
    * with the range merge + cut as per-doc array math in a codegen'd
    * expression. Nothing past the posting agg touches more than the
    * flagged volume plus one corpus scan.
    *
    * @param minSpanTokens merged duplicated ranges SHORTER than this
    *        survive (Lee et al. scrub at a minimum match length so
    *        incidental short collisions don't shred text). Default =
    *        `spanTokens`: every flagged range is cut.
    * @return (idCol, textCol scrubbed — whitespace-normalized, case
    *         preserved — plus `n_cut` tokens removed); docs whose
    *         remainder is empty are dropped.
    */
  def scrubSpanDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 8,
      minSpanTokens: Int = 0,
      stageDir: Option[String] = None): DataFrame = {
    val minSpan = if (minSpanTokens <= 0) spanTokens else minSpanTokens
    val grams = df.select(col(idCol).as("_id"),
      posexplode(graft.functions.SpanScrub
        .positionedShinglesCol(col(textCol), spanTokens)).as(Seq("_pos", "_g")))
    // Same aggregate-first + plan-time-broadcast shape as
    // spanDuplicateIds (see the rationale there): only multi-owner
    // spans can flag anything. The posting aggregate itself is
    // stats-routed through [[dupSpanFirsts]]' pre-shuffle past
    // [[PostingShuffleBytes]] — the open-key-space map-side spill was
    // the r13 sweep's remaining span-family superlinear.
    val spark = df.sparkSession
    val bigCorpus = bigPostingCorpus(df)
    val dupPlan = dupSpanFirsts(grams, bigCorpus, graft.Conf.estimatedBytes(df))
    // Same guarded probe as spanDuplicateIds (r15): under the
    // cap the duplicated-span table serves as a cache-free local
    // broadcast relation; over it, the persisted shape as before.
    var dupCached: Option[DataFrame] = None
    val probe = probeDupSpansLocal(spark, dupPlan, bigCorpus) match {
      case Right(local) => grams.join(broadcast(local), "_g")
      case Left(dupSpans) =>
        // over-cap: on the big-corpus route the probe left the
        // aggregate persisted — the count completes the cache instead
        // of recomputing the posting shuffle (r15 ADVICE)
        dupCached = Some(dupSpans)
        val nDup = dupSpans.count()
        if (nDup <= SpanBroadcastLimit) grams.join(broadcast(dupSpans), "_g")
        else grams.join(dupSpans, "_g")
    }
    val hitsPlan = probe.filter(col("_id") > col("_first"))
      .groupBy("_id")
      .agg(sort_array(collect_list(col("_pos"))).as("_starts"))
    val hitsCap = graft.Conf.count(
      spark, graft.Conf.ScrubHitsLimitKey, ScrubHitsBroadcastLimit)
    // Guarded probe (r15): compute the hit table ONCE and collect it
    // in the same action — over the cap falls through to the staged
    // shapes below, which recompute; at or under it the rows serve as
    // a LOCAL relation. The previous shape paid three scheduled jobs on
    // the common under-cap path (eager persist+count, a second count,
    // then the collect the broadcast needed anyway) — this is one.
    // Dir-staged runs skip the probe: the stage is the 100 TB index
    // and belongs on distributed storage whatever its size.
    val probed: Option[Array[Row]] =
      if (stageDir.isDefined || spark.conf.get(StageDirConf, null) != null) None
      else {
        // persist-before-probe on the big-corpus route only (r16): an
        // over-cap probe there leaves the hit aggregate cached, so the
        // eager stage below COMPLETES the cache instead of recomputing
        // the posting join + aggregate from scratch (r15 ADVICE —
        // stage()'s re-persist of the same plan is a no-op); small
        // corpora probe the raw plan cache-free, where an over-cap
        // recompute is one cheap aggregate. The under-cap path drops
        // any cache before returning.
        val p =
          if (bigCorpus) hitsPlan
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          else hitsPlan
        val rows = graft.Conf.collectUpTo(p, hitsCap).toOption
        if (rows.isDefined && bigCorpus) p.unpersist(false)
        rows
      }
    lazy val hits = stage(hitsPlan, stageDir, eager = true)
    lazy val nHit = hits.count()
    // Cache hygiene (r14, ADVICE): the eager stage PERSISTS when no
    // stage dir is configured, and the returned plan used to keep
    // that cache alive past the call — a leak across long sessions.
    // Under the broadcast cap the hit rows are collected to the driver
    // (exactly what the broadcast exchange would do at execution
    // anyway) and served from a LOCAL relation, so nothing stays
    // cached; past the cap [[releaseStage]] decides its lifetime.
    val hitSide =
      if (probed.isDefined) {
        broadcast(spark.createDataFrame(
          java.util.Arrays.asList(probed.get: _*), hitsPlan.schema))
      } else if (nHit <= hitsCap) {
        val local = spark.createDataFrame(
          java.util.Arrays.asList(hits.collect(): _*), hits.schema)
        hits.unpersist(false)
        broadcast(local)
      } else releaseStage(hits, stageDir, "scrub_hits")
    // the hit side is materialized by now on every branch (probe
    // collect, eager stage, or the forced nHit count) — the posting
    // aggregate's cache (fallback path only) can go
    dupCached.foreach(_.unpersist())
    val scrubbed = df
      .join(hitSide, col(idCol) === col("_id"), "left")
      .withColumn("_scrub", graft.functions.SpanScrub
        .scrubCol(col(textCol), col("_starts"), spanTokens, minSpan))
      .select(col(idCol),
        col("_scrub").getField("text").as(textCol),
        col("_scrub").getField("n_cut").as("n_cut"))
    // Drop ONLY docs the scrub emptied (r14, ADVICE): a doc whose
    // ORIGINAL text was empty/null has nothing cut (n_cut = 0) and
    // passes through as empty text instead of being conflated with
    // fully-duplicated ones; a doc cut to nothing (n_cut > 0, empty
    // remainder) drops — equivalent to dropSpanDuplicates for it.
    scrubbed.filter(col("n_cut") === 0L || length(col(textCol)) > 0)
  }
}
