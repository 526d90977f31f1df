package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Line-level (paragraph-level) corpus deduplication — the CCNet /
  * RefinedWeb boilerplate scrub: a line that recurs across ≥
  * `minDocs` documents (cookie banners, nav menus, footers, "subscribe"
  * prompts) is removed from EVERY document, keeping each document's
  * unique content. Document-level dedup cannot catch these — the
  * documents differ; their lines don't.
  *
  * Plan shape (the 100 TB question):
  *  1. explode docs into (doc_id, line_no, line) — a generate, no
  *     shuffle;
  *  2. count DISTINCT docs per normalized line hash — one hash
  *     aggregate with map-side partial (the only wide shuffle over
  *     line granularity);
  *  3. the frequent-line set is tiny relative to the corpus
  *     (boilerplate is by definition few distinct strings) → it
  *     BROADCASTS into a left-anti probe of the line stream — the
  *     corpus lines are filtered map-side, never shuffled again;
  *  4. reassemble per doc: one shuffle on doc_id, in-row sort by
  *     line_no (array_sort on a collected struct — no per-key sort
  *     task, line counts per doc are bounded).
  *
  * Documents whose every line was boilerplate drop out entirely
  * (CCNet behavior — nothing unique remains).
  */
object LineDedup {

  /** Normalized identity for line comparison: case-folded,
    * whitespace-collapsed. Shared with the oracle SQL.
    */
  def lineKey(line: Column): Column =
    xxhash64(regexp_replace(lower(trim(line)), "\\s+", " "))

  /** Row cap for the frequent-line driver collect (8 B a key → ≤ ~8 MB
    * at the cap), conf-dialable via
    * [[graft.Conf.LineFrequentLocalLimitKey]]; past it the broadcast
    * builds from an eager stage instead ([[Dedup.releaseStage]] bounds
    * its lifetime).
    */
  val FrequentLocalLimit: Long = 1L << 20

  /** @param minDocs a line appearing in at least this many DISTINCT
    *                documents is boilerplate and removed everywhere.
    * @return (idCol, clean_text, n_lines_kept, n_lines_removed); docs
    *         with zero surviving lines are dropped.
    */
  def dropCommonLines(
      docs: DataFrame, idCol: String, textCol: String,
      minDocs: Long, sep: String = "\n"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    // the line stream feeds BOTH the frequency aggregate and the
    // flagging join: persist it while the TINY frequent set is built
    // eagerly, then release — Dedup.stage's eager mode materializes
    // `frequent` so the final (lazy) plan re-reads only the source,
    // never a corpus-sized retained cache (the spanDuplicateIds /
    // ngramJaccardPairs release pattern)
    val lines = docs.select(
        col(idCol).as("_id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("_line_no", "_line")))
      .withColumn("_key", lineKey(col("_line")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // distinct doc count per line key: map-side partial agg; the
    // output (distinct boilerplate candidates) is small by definition
    // — and it was ALWAYS broadcast below, so collect it straight to a
    // local relation in the materializing job itself (r15): one
    // scheduled job instead of eager-persist + count + a broadcast
    // build that re-read the cache, and nothing stays cached. Past
    // [[FrequentLocalLimit]] rows (pathological corpus: every line
    // shared across minDocs docs) it falls back to the staged+broadcast
    // r14 shape instead of collecting unbounded.
    val frequentPlan = lines
      .groupBy("_key")
      .agg(count_distinct(col("_id")).as("_docs"))
      .filter(col("_docs") >= minDocs)
      .select("_key")
    val cap = graft.Conf.count(docs.sparkSession,
      graft.Conf.LineFrequentLocalLimitKey, FrequentLocalLimit)
    val frequent = graft.Conf.collectUpTo(frequentPlan, cap) match {
      case Right(rows) =>
        docs.sparkSession.createDataFrame(
          java.util.Arrays.asList(rows: _*), frequentPlan.schema)
      case Left(_) =>
        // eager stage while `lines` is still cached; on a local master
        // it is spilled to temp parquet so no cache outlives the call
        Dedup.releaseStage(
          Dedup.stage(frequentPlan, None, eager = true), None, "line_frequent")
    }
    lines.unpersist()

    // tag (not anti-join) so kept/removed counts come from the SAME
    // single doc-side aggregate — no per-doc side table to join back
    lines
      .join(broadcast(frequent.withColumn("_bl", lit(true))), Seq("_key"), "left")
      .groupBy("_id")
      .agg(
        array_join(
          transform(
            // collect_list skips nulls: boilerplate lines vanish here
            array_sort(collect_list(
              when(col("_bl").isNull, struct(col("_line_no"), col("_line"))))),
            e => e.getField("_line")),
          sep).as("clean_text"),
        sum(when(col("_bl").isNull, 1L).otherwise(0L)).as("n_lines_kept"),
        sum(when(col("_bl").isNotNull, 1L).otherwise(0L)).as("n_lines_removed"))
      .filter(col("n_lines_kept") > 0)
      .select(col("_id").as(idCol), col("clean_text"),
        col("n_lines_kept"), col("n_lines_removed"))
  }
}
