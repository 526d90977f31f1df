package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for LLM-training-data pipelines:
  * language ID, token counting, quality metrics, fingerprinting.
  *
  * Everything here is a pure Column expression (whole-stage-codegen
  * friendly, no UDFs), and every function has a DuckDB-SQL twin
  * generated from the SAME marker/pattern data so the oracle compare
  * is exact by construction.
  */
object TextFunctions {

  /** Stopword markers per language, checked as ` word `-padded LIKE
    * patterns (cheap, codegen'd, identical semantics in DuckDB).
    * Priority order breaks ties: first language listed wins.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of ", " is "),
    "de" -> Seq(" der ", " und ", " die ", " ist "),
    "fr" -> Seq(" le ", " et ", " les ", " est "),
    "es" -> Seq(" el ", " y ", " los ", " es "))

  /** CJK detection: any Han character → "zh". Works in both Java regex
    * and RE2 via the \x{...} escape.
    */
  val cjkPattern = "[\\x{4e00}-\\x{9fff}]"

  /** N-gram/stopword-heuristic language ID. Deterministic: CJK → zh,
    * else the first language in priority order with the most markers
    * present, no marker (or null) → "und". Native one-pass kernel
    * ([[CurationKernels.langId]]): one scan of the lowercased text
    * matches all markers at once, with the padding spaces implied.
    */
  def langId(text: Column): Column = CurationKernels.langIdCol(text)

  /** DuckDB twin of [[langId]] for a column expression `c`. */
  def langIdSql(c: String): String = {
    def hitsSql(lang: String): String = langMarkers.toMap.apply(lang)
      .map(m => s"(CASE WHEN ' ' || lower($c) || ' ' LIKE '%$m%' THEN 1 ELSE 0 END)")
      .mkString("(", " + ", ")")
    val anyHit = langMarkers.map { case (l, _) => hitsSql(l) }.mkString(" + ") + " > 0"
    val branches = langMarkers.zipWithIndex.map { case ((lang, _), i) =>
      val cond = (langMarkers.drop(i + 1).map { case (l2, _) =>
        s"${hitsSql(lang)} >= ${hitsSql(l2)}"
      } :+ s"${hitsSql(lang)} > 0").mkString(" AND ")
      s"WHEN $cond THEN '$lang'"
    }.mkString(" ")
    s"""CASE WHEN regexp_matches($c, '$cjkPattern') THEN 'zh'
       |     WHEN NOT ($anyHit) THEN 'und'
       |     $branches ELSE 'und' END""".stripMargin
  }

  /** Whitespace token count (empty/blank text → 0). Native single-pass
    * expression ≡ `when(trim(t) === "", 0).otherwise(size(split(trim(t),
    * "\s+")))` — equivalence pinned in TextMetricsSpec.
    */
  def wsTokenCount(text: Column): Column = TextMetrics.wsTokenCountCol(text)

  def wsTokenCountSql(c: String): String =
    s"CASE WHEN trim($c) = '' THEN 0 ELSE len(regexp_split_to_array(trim($c), '\\s+')) END"

  /** BPE-ish subword proxy: runs of word chars or single punctuation. */
  val bpePattern = "[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]"

  def bpeTokenCount(text: Column): Column = TextMetrics.bpeTokenCountCol(text)

  def bpeTokenCountSql(c: String): String =
    s"len(regexp_extract_all($c, '$bpePattern'))"

  /** Quality metrics (ratios are IEEE double divisions — deterministic
    * and bit-identical across engines given identical integer inputs).
    */
  def punctRatio(text: Column): Column =
    TextMetrics.punctCountCol(text).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  def punctRatioSql(c: String): String =
    s"CAST(len(regexp_extract_all($c, '[.,;:!?]')) AS DOUBLE) / CAST(greatest(length($c), 1) AS DOUBLE)"

  val stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "is", "in")

  /** Fraction of whitespace tokens that are stopwords.
    *
    * Occurrences of ` word ` are counted via the replace-length-diff
    * trick — RE2 (DuckDB) has no lookahead, but literal `replace` has
    * identical leftmost-non-overlapping semantics in both engines, so
    * the counts (and thus the ratio) match bit-for-bit.
    */
  def stopwordRatio(text: Column): Column =
    TextMetrics.stopwordHitsCol(text) /
      greatest(wsTokenCount(text), lit(1)).cast("double")

  def stopwordRatioSql(c: String): String = {
    val padded = s"(' ' || lower($c) || ' ')"
    val stops = stopwords.map { w =>
      val pat = s" $w "
      s"(CAST(length($padded) - length(replace($padded, '$pat', '')) AS DOUBLE) / ${pat.length})"
    }.mkString(" + ")
    s"($stops) / CAST(greatest(${wsTokenCountSql(c)}, 1) AS DOUBLE)"
  }

  /** Normalized-text fingerprint: md5 over lowercased,
    * whitespace-collapsed text. Identical hex in Spark and DuckDB.
    */
  def fingerprint(text: Column): Column =
    md5(TextMetrics.collapseWsCol(lower(text)).cast("binary"))

  def fingerprintSql(c: String): String =
    s"md5(trim(regexp_replace(lower($c), '\\s+', ' ', 'g')))"

  /** Bag-of-words fingerprint: md5 over the SORTED distinct lowercase
    * tokens. Word-order permutations and repetition-only edits collide
    * on purpose — the standard "same content, reshuffled boilerplate"
    * dedup key used alongside the exact fingerprint in training-data
    * pipelines. Sort order is UTF-8 byte order in both engines
    * (Spark `sort_array` on UTF8String vs DuckDB `list_sort` on
    * VARCHAR are both binary collations).
    */
  def bagFingerprint(text: Column): Column =
    md5(array_join(
      sort_array(array_distinct(split(lower(trim(text)), "\\s+"))), " ")
      .cast("binary"))

  def bagFingerprintSql(c: String): String =
    s"""md5(array_to_string(list_sort(list_distinct(
       |  regexp_split_to_array(lower(trim($c)), '\\s+'))), ' '))""".stripMargin

  /** Gopher-style quality verdict (Rae et al. 2021, A1.1): null when
    * the doc passes every rule, else the FIRST failed rule's name —
    * pipelines log why docs die. Shared by the `x_gopher_filter`
    * oracle query and [[graft.streaming.CorpusIngest]]'s gate. Rules in
    * order: tokens ([[wsTokenCount]]) under `minTokens` → "too_short",
    * over `maxTokens` → "too_long", `length(text)` / tokens outside
    * [minMeanWlen, maxMeanWlen] → "word_length", 1 − distinct/parts of
    * `split(lower(trim(text)), "\s+")` over `maxDupWordRatio` →
    * "repetitive". NULL text is "too_short": a no-text document must
    * not pass CorpusIngest's gate. Native kernel
    * ([[CurationKernels.gopherFailReason]]): one tokenisation serves
    * every rule.
    */
  def gopherFailReason(
      text: Column,
      minTokens: Long = 50, maxTokens: Long = 100000,
      minMeanWlen: Double = 3.0, maxMeanWlen: Double = 10.0,
      maxDupWordRatio: Double = 0.6): Column =
    CurationKernels.gopherFailReasonCol(
      text, minTokens, maxTokens, minMeanWlen, maxMeanWlen, maxDupWordRatio)

  /** URL parsing for domain-level corpus filtering (the blocklist
    * filter every crawl pipeline runs before content filters).
    * Patterns are the Java/RE2 common subset, shared verbatim with
    * the DuckDB twins: host = the authority between `://` and the
    * first `/?#`, userinfo and port stripped; registrable domain =
    * the last two dot-labels, lowercased. (A two-label approximation
    * — co.uk-style suffixes need the public-suffix list, the usual
    * trade every quick pipeline makes; swap in a PSL-backed expression
    * for production crawls.)
    */
  val urlHostPattern = "://([^/?#]+)"
  val urlUserInfoPattern = "^[^@]*@"
  val urlPortPattern = ":[0-9]+$"
  val registrableDomainPattern = "[^.]+\\.[^.]+$"

  def urlHost(url: Column): Column =
    regexp_replace(regexp_replace(
        regexp_extract(url, urlHostPattern, 1), urlUserInfoPattern, ""),
      urlPortPattern, "")

  def registrableDomain(url: Column): Column =
    lower(regexp_extract(urlHost(url), registrableDomainPattern, 0))

  def urlHostSql(c: String): String =
    s"regexp_replace(regexp_replace(regexp_extract($c, '://([^/?#]+)', 1), " +
      "'^[^@]*@', ''), ':[0-9]+$', '')"

  def registrableDomainSql(c: String): String =
    s"lower(regexp_extract(${urlHostSql(c)}, '[^.]+\\.[^.]+$$', 0))"

  /** PII redaction patterns, applied IN ORDER (earlier replacements
    * mask text from later patterns — e.g. SSNs are consumed before the
    * phone pattern sees them). One definition drives both engines: the
    * patterns avoid lookaround and backreferences so Java regex
    * (Spark) and RE2 (DuckDB) agree on every match.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<SSN>"),
    ("phone", "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "<PHONE>"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    // r13 breadth: IBAN (country code + check digits + 10-30 alnum —
    // uppercase-anchored, so prose never matches) and the common
    // secret shapes (AWS access key, sk-/pk- bearer keys, GitHub PAT).
    // Both stay in the Java∩RE2 regex subset (no lookaround).
    ("iban", "\\b[A-Z]{2}\\d{2}[A-Z0-9]{10,30}\\b", "<IBAN>"),
    ("apikey",
      "\\b(AKIA[0-9A-Z]{16}|(sk|pk)-[A-Za-z0-9]{16,64}|ghp_[A-Za-z0-9]{36})\\b",
      "<APIKEY>"))

  /** Necessary conditions of [[piiPatterns]] entries, by kind: every
    * match of the kind's pattern contains an ASCII digit or one of the
    * literals. [[piiRedact]] skips a phase whose gate fails on the
    * buffer as it stands before that phase; a kind with no gate always
    * runs.
    */
  val piiGates: Map[String, PiiGate] = Map(
    "email" -> PiiGate.AnyLiteral("@"),
    "ssn" -> PiiGate.AsciiDigit,
    "phone" -> PiiGate.AsciiDigit,
    "ipv4" -> PiiGate.AsciiDigit,
    "iban" -> PiiGate.AsciiDigit,
    "apikey" -> PiiGate.AnyLiteral("AKIA", "sk-", "pk-", "ghp_"))

  /** Luhn-valid card match count on the RAW text (audit twin of the
    * card phase — counts every `\b`-bounded occurrence of a valid
    * candidate, the exact set of spans the redactor replaces).
    */
  def cardCount(text: Column): Column = {
    val cands = LuhnCards.validCandidatesCol(text)
    val pat = concat(lit("\\b("), array_join(cands, "|"), lit(")\\b"))
    when(size(cands) === 0, lit(0L))
      .otherwise(size(regexp_extract_all(text, pat, lit(0))).cast("long"))
  }

  /** DuckDB twin of [[LuhnCards.validCandidates]] + the sorted-
    * alternation pattern: list-comprehension Luhn over each candidate,
    * distinct, (length desc, lex asc) via a zero-padded sort key.
    */
  private def luhnCandsSql(c: String): String = {
    val digits = s"regexp_replace(x, '[ -]', '', 'g')"
    val luhn =
      s"""len($digits) BETWEEN 13 AND 19 AND
         |list_sum([CASE WHEN (len($digits) - i) % 2 = 1
         |  THEN CASE WHEN 2 * CAST($digits[i] AS INT) > 9
         |       THEN 2 * CAST($digits[i] AS INT) - 9
         |       ELSE 2 * CAST($digits[i] AS INT) END
         |  ELSE CAST($digits[i] AS INT) END
         |  for i in generate_series(1, len($digits))]) % 10 = 0""".stripMargin
    s"""[substr(s, 5) for s in list_sort([
       |  lpad(CAST(1000 - len(x) AS VARCHAR), 4, '0') || x
       |  for x in list_distinct([x
       |    for x in regexp_extract_all($c, '${LuhnCards.CandidatePattern}')
       |    if $luhn])])]""".stripMargin
  }

  def cardRedactSql(c: String): String = {
    val cands = luhnCandsSql(c)
    s"""CASE WHEN len($cands) = 0 THEN $c
       |ELSE regexp_replace($c,
       |  '\\b(' || array_to_string($cands, '|') || ')\\b', '<CARD>', 'g')
       |END""".stripMargin
  }

  def cardCountSql(c: String): String = {
    val cands = luhnCandsSql(c)
    s"""CASE WHEN len($cands) = 0 THEN CAST(0 AS BIGINT)
       |ELSE CAST(len(regexp_extract_all($c,
       |  '\\b(' || array_to_string($cands, '|') || ')\\b')) AS BIGINT)
       |END""".stripMargin
  }

  /** Card phase first, then the chained global regexp_replace over
    * [[piiPatterns]], in order — the value of `piiPatterns.foldLeft(
    * cardPhase(text))(regexp_replace)`, computed by the native kernel
    * [[CurationKernels.piiRedact]]: the text is decoded once, every
    * phase runs over one buffer with precompiled patterns, and the
    * result is encoded once. A phase whose [[piiGates]] condition fails
    * on the buffer before it is skipped (the card phase needs a digit).
    *
    * SINGLE-APPLICATION semantics (r14): the chain is deterministic
    * and monotone (replacement tokens carry no digits or '@', so
    * re-application can only consume match fuel, never mint it) but
    * NOT idempotent — a later phase can consume a span whose presence
    * blocked an earlier phase's word boundary, exposing a fresh match
    * to a second application (e.g. "0.0.0.3-4567867891545": the card
    * scan's greedy "3-4567867891545" fails Luhn and is skipped; the
    * IPv4 phase then redacts "0.0.0.3", and only a re-application
    * sees the now-boundary-aligned Luhn-valid "4567867891545").
    * Exposure chains like this can nest arbitrarily deep, so no fixed
    * number of passes closes them; pipelines redact once, and the
    * property spec pins this contract.
    */
  def piiRedact(text: Column): Column = CurationKernels.piiRedactCol(text)

  def piiRedactSql(c: String): String =
    piiPatterns.foldLeft(s"(${cardRedactSql(c)})") { case (s, (_, pat, repl)) =>
      s"regexp_replace($s, '$pat', '$repl', 'g')"
    }

  /** Shannon character entropy (bits/char) — the classic cheap signal
    * for encoding junk: base64 blobs and minified code run HIGH,
    * repeated-char padding runs LOW; natural language sits ~3.5-4.5.
    * Pure in-row Column math (one scan, zero shuffles): distinct chars
    * sorted, each term `-p·log2(p)` quantized to DECIMAL(28,10) before
    * an exact decimal fold (the LmScore recipe — a 1-ulp log2
    * divergence between engines dies at the 10th decimal), final
    * round(6). Per-JVM-code-unit on the Spark side vs per-codepoint in
    * DuckDB — identical on BMP text (the corpus); non-BMP chars would
    * need a codepoint split.
    */
  def charEntropy(text: Column): Column =
    // (r12) native codegen'd kernel — the Column-chain formulation this
    // replaces (`transform(distinct, c => size(filter(chars, _===c)))`
    // + a decimal `aggregate` fold) was CodegenFallback: an
    // O(alphabet × doc_len) interpreted tree-walk per row. CharEntropy
    // pins its semantics bit-exactly (per-term Double.toString-based
    // decimal quantization at scale 10, exact integer-sum in char
    // order, HALF_UP round(6) in the decimal domain — the ties and
    // 1-ulp log2 notes in its scaladoc), so the DuckDB oracle stays
    // hash-exact.
    CharEntropy.charEntropyCol(text)

  /** HTML boilerplate extraction — the crawl-to-text step before any
    * quality/dedup filter sees a page (the WET-extraction shape):
    * script/style blocks go first (`(?is)` inline flags — Java regex
    * and RE2 both honor them, and the lazy `.*?` stops at the matching
    * close tag, so a `"</p>"` inside the script body doesn't end the
    * block), remaining tags are stripped, entities decode AFTER the
    * tag strip (so a literal `&lt;b&gt;` in the source becomes visible
    * text instead of a strippable tag — and `&amp;` decodes LAST, the
    * standard order, so `&amp;lt;` yields `&lt;` not `<`), whitespace
    * collapses. Patterns and the entity table are the Java/RE2 common
    * subset, shared verbatim with the DuckDB twin.
    */
  val htmlBlockPattern = "(?is)<(script|style)[^>]*>.*?</(script|style)>"
  val htmlTagPattern = "<[^>]+>"
  val htmlEntities: Seq[(String, String)] = Seq(
    "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
    "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")

  def htmlExtract(html: Column): Column = {
    val noBlocks = regexp_replace(html, htmlBlockPattern, " ")
    val noTags = regexp_replace(noBlocks, htmlTagPattern, " ")
    val decoded = htmlEntities.foldLeft(noTags) { case (c, (e, r)) =>
      replace(c, lit(e), lit(r))
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  def htmlExtractSql(c: String): String = {
    val noBlocks = s"regexp_replace($c, '$htmlBlockPattern', ' ', 'g')"
    val noTags = s"regexp_replace($noBlocks, '$htmlTagPattern', ' ', 'g')"
    val decoded = htmlEntities.foldLeft(noTags) { case (s, (e, r)) =>
      val rr = if (r == "'") "''" else r
      s"replace($s, '$e', '$rr')"
    }
    s"trim(regexp_replace($decoded, '\\s+', ' ', 'g'))"
  }

  /** Per-kind PII match count (long), for audit summaries. */
  def piiCount(text: Column, kind: String): Column = {
    val pat = piiPatterns.find(_._1 == kind).getOrElse(
      throw new IllegalArgumentException(s"unknown PII kind '$kind'"))._2
    size(regexp_extract_all(text, lit(pat), lit(0))).cast("long")
  }

  def piiCountSql(c: String, kind: String): String = {
    val pat = piiPatterns.find(_._1 == kind).get._2
    s"len(regexp_extract_all($c, '$pat'))"
  }
}
