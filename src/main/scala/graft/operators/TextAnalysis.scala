package graft.operators

import graft.Tables
import graft.functions.Portable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the training-data
  * pipeline surface (builder north star; SURVEY.md §7.2 M4): token
  * statistics, quality scoring, BPE-ish token counting, document
  * fingerprinting, and an n-gram language-ID heuristic.
  *
  * Everything except language-ID is pure Catalyst expressions (codegen'd,
  * no UDF), so at 100 TB these run as a single scan + narrow projection —
  * no shuffle except the final small aggregates.
  */
object TextAnalysis {

  /** The quality_bp formula — ONE definition over pre-computed columns
    * (n, nstop, ndist), shared verbatim by [[textQuality]],
    * [[corpusFunnel]] and [[qualityThresholdSweep]] (with
    * [[QualityBpSqlFrag]] as the DuckDB mirror), so retention sweeps and
    * funnel gates can never drift from the score they claim to apply. */
  private[operators] def qualityBpExpr: org.apache.spark.sql.Column =
    expr("((10 * n - 5 * nstop - 3 * (n - ndist)) * 10000) div (10 * n)")
  private[operators] val QualityBpSqlFrag: String =
    "((10 * n - 5 * nstop - 3 * (n - ndist)) * 10000) // (10 * n)"

  /** The (n, nstop, ndist) token-count projection every quality-score
    * consumer derives from — ONE copy of the stop-token predicate and the
    * three counts, appended to any frame carrying `text` (consumers
    * project what they need; Catalyst prunes the rest). Shared by
    * [[textQuality]], [[qualityThresholdSweep]], and
    * `Dedup.dedupKeepBest`'s quality frame, so the stop list cannot
    * drift between the score and its consumers. */
  private[operators] def withQualityCounts(docs: DataFrame): DataFrame = {
    val w = Portable.tokens(col("text"))
    docs.select(col("*"),
      size(w).cast("long").as("n"),
      size(filter(w, t => t === "the" || t === "a")).cast("long").as("nstop"),
      size(array_distinct(w)).cast("long").as("ndist"))
  }

  // ------------------------------------------------------------- token stats
  /** Per-document token statistics: counts, distinct counts, mean token
    * length — all array expressions over one whitespace split.
    */
  def textTokenStats(s: SparkSession, d: String): DataFrame = {
    val w = Portable.tokens(col("text"))
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        size(w).as("n_tokens"),
        size(array_distinct(w)).as("n_distinct"),
        length(regexp_replace(col("text"), " ", "")).as("n_nonspace_chars"),
        round(length(regexp_replace(col("text"), " ", "")).cast("double") / size(w), 4)
          .as("avg_token_len"))
      .orderBy("doc_id")
  }

  val textTokenStatsSql: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct,
      |  CAST(length(replace(text, ' ', '')) AS INTEGER) AS n_nonspace_chars,
      |  round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
      |        / len(string_split(text, ' ')), 4) AS avg_token_len
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- quality
  /** Heuristic quality score: penalize stopword density and low lexical
    * diversity (near-duplicate vocabularies), per doc.
    *
    * Metrics are emitted as integer basis points via integer division
    * (quality_bp = (10n − 5·stop − 3·(n−distinct))·10⁴ ÷ 10n): the ratios
    * here are exact rationals that can land precisely on a `x.xxxx5`
    * rounding tie, where Spark (HALF_UP on the binary expansion) and
    * DuckDB (scale-multiply + ties-to-even) legitimately disagree —
    * integer arithmetic removes rounding semantics from the contract
    * entirely (this bit once in 15 000 values at sf0.1 before the change).
    */
  def textQuality(s: SparkSession, d: String): DataFrame =
    withQualityCounts(
        Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text")))
      .select(
        col("doc_id"), col("lang"),
        expr("(nstop * 10000) div n").as("stop_bp"),
        expr("((n - ndist) * 10000) div n").as("dup_bp"),
        qualityBpExpr.as("quality_bp"))
      .orderBy("doc_id")

  val textQualitySql: String =
    s"""WITH t AS (
      |  SELECT doc_id, lang,
      |    len(string_split(text, ' ')) AS n,
      |    len(list_filter(string_split(text, ' '), x -> x = 'the' OR x = 'a')) AS nstop,
      |    len(list_distinct(string_split(text, ' '))) AS ndist
      |  FROM documents)
      |SELECT doc_id, lang,
      |  CAST((nstop * 10000) // n AS BIGINT) AS stop_bp,
      |  CAST(((n - ndist) * 10000) // n AS BIGINT) AS dup_bp,
      |  CAST(${QualityBpSqlFrag} AS BIGINT) AS quality_bp
      |FROM t ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------- Gopher-style gate
  /** Gopher-style quality rule gate (Rae et al. 2021 §A1.1 adapted to the
    * fixture's vocabulary): four independent per-document rules —
    * token-count bounds, mean-word-length bounds, lexical-diversity
    * floor, duplicate-bigram-mass ceiling (the within-doc repetition
    * signal) — each reported as its own verdict column plus the
    * conjunction (`keep`), so a curation run can see WHICH rule rejected
    * a document, not just that one did. Thresholds are chosen to split
    * the fixture population on every rule (verified at sf0.001 and
    * sf0.01), so both verdict branches carry rows.
    *
    * Everything is integer arithmetic (centi-chars, basis points, integer
    * division) — the [[textQuality]] lesson: no rounding semantics in the
    * contract at all. One scan, one projection, no shuffle but the output
    * sort; per-doc work is array expressions over a single tokenize.
    */
  def qualityGopher(s: SparkSession, d: String): DataFrame =
    gopherVerdicts(Tables.documents(s, d).select(col("doc_id"), col("text")))
      .drop("text")
      .orderBy("doc_id")

  /** The df-level seam of [[qualityGopher]] — appends the four metric
    * columns and five verdict columns to ANY frame carrying `text`,
    * preserving the input columns, so the batch query and the streaming
    * gate ([[graft.streaming.Streams.streamQualityGate]]) score with
    * literally the same rules. Verdicts derive from the metric COLUMNS
    * (one definition of each formula — the textQuality two-stage
    * pattern), so metric and rule can never desynchronize.
    */
  def gopherVerdicts(docs: DataFrame): DataFrame = {
    val w = Portable.tokens(col("text"))
    val bg = Portable.shingles(w, 2)
    // TOTAL over malformed input: every count is coalesced (NULL text →
    // size(NULL) = NULL → 0) and every divisor floored with greatest(_, 1),
    // so a zero-token/NULL document gets integer metrics and FALSE — never
    // NULL — verdicts. A NULL `keep` would fail both `filter(keep)` and
    // `filter(!keep)` and silently vanish from BOTH routes of the streaming
    // gate, the exact dropped-row class the dead-letter discipline exists
    // to prevent.
    docs
      .select(col("*"),
        coalesce(size(w).cast("long"), lit(0L)).as("__n"),
        coalesce(length(regexp_replace(col("text"), " ", "")).cast("long"), lit(0L))
          .as("__ch"),
        coalesce(size(array_distinct(w)).cast("long"), lit(0L)).as("__nd"),
        coalesce(size(bg).cast("long"), lit(0L)).as("__nbg"),
        coalesce(size(array_distinct(bg)).cast("long"), lit(0L)).as("__ndbg"))
      .select(col("*"),
        col("__n").as("n_tokens"),
        expr("(__ch * 100) div greatest(__n, 1)").as("mwl_c"),
        expr("(__nd * 10000) div greatest(__n, 1)").as("diversity_bp"),
        expr("((__nbg - __ndbg) * 10000) div greatest(__nbg, 1)").as("dup2_bp"))
      .drop("__n", "__ch", "__nd", "__nbg", "__ndbg")
      .select(col("*"),
        col("n_tokens").between(30L, 1000L).as("r_len"),
        col("mwl_c").between(380L, 500L).as("r_wordlen"),
        (col("diversity_bp") >= 3500L).as("r_diversity"),
        (col("dup2_bp") <= 600L).as("r_repetition"))
      .withColumn("keep",
        col("r_len") && col("r_wordlen") && col("r_diversity") && col("r_repetition"))
  }

  /** The Gopher metric CTE chain (tables `d`, `s`, `m`; `m` has doc_id +
    * the four integer metrics) and the keep predicate over `m`'s columns
    * — ONE DuckDB copy of the teacher rule shared by [[qualityGopherSql]]
    * and `Scoring.qualityClassifierSql`, so the student's oracle can
    * never compute `n_keep` against a stale teacher definition. */
  private[operators] val GopherMetricCtesSql: String = {
    val sh2 = Portable.shinglesSql(2)
    s"""d AS (
       |  SELECT doc_id, string_split(text, ' ') AS w,
       |    length(replace(text, ' ', '')) AS ch
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, len(w) AS n, ch,
       |    len(list_distinct(w)) AS nd,
       |    len($sh2) AS nbg,
       |    len(list_distinct($sh2)) AS ndbg
       |  FROM d),
       |m AS (
       |  SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       |    CAST((ch * 100) // greatest(n, 1) AS BIGINT) AS mwl_c,
       |    CAST((nd * 10000) // greatest(n, 1) AS BIGINT) AS diversity_bp,
       |    CAST(((nbg - ndbg) * 10000) // greatest(nbg, 1) AS BIGINT) AS dup2_bp
       |  FROM s)""".stripMargin
  }
  private[operators] val GopherKeepSqlFrag: String =
    """(n_tokens BETWEEN 30 AND 1000) AND (mwl_c BETWEEN 380 AND 500)
      |    AND diversity_bp >= 3500 AND dup2_bp <= 600""".stripMargin

  val qualityGopherSql: String =
    s"""WITH $GopherMetricCtesSql
       |SELECT doc_id, n_tokens, mwl_c, diversity_bp, dup2_bp,
       |  n_tokens BETWEEN 30 AND 1000 AS r_len,
       |  mwl_c BETWEEN 380 AND 500 AS r_wordlen,
       |  diversity_bp >= 3500 AS r_diversity,
       |  dup2_bp <= 600 AS r_repetition,
       |  $GopherKeepSqlFrag AS keep
       |FROM m ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- gate rule matrix
  /** Gopher-rule co-failure matrix — which gate rules are REDUNDANT:
    * for every ordered rule pair (including the diagonal — the rule's
    * own failure count), how many documents fail both. A rule whose
    * failures are a subset of another's adds no selectivity and costs a
    * full metric computation per document at 100 TB; a rule with many
    * solo failures carries unique signal. The verdict columns come from
    * [[gopherVerdicts]] — one definition of the rules — and the 4×4
    * matrix is ONE aggregate of 16 conditional sums, unpivoted via
    * `stack` (no per-pair scan, no shuffle except the 1-row exchange).
    */
  def gateRuleMatrix(s: SparkSession, d: String): DataFrame = {
    val rules = Seq("r_len", "r_wordlen", "r_diversity", "r_repetition")
    val verdicts = gopherVerdicts(
      Tables.documents(s, d).select(col("doc_id"), col("text")))
    val sums = for { a <- rules; b <- rules } yield
      sum(when(!col(a) && !col(b), 1L).otherwise(0L)).as(s"${a}__$b")
    val stackArgs = (for { a <- rules; b <- rules } yield
      s"'$a', '$b', ${a}__$b").mkString(", ")
    verdicts.agg(sums.head, sums.tail: _*)
      .select(expr(
        s"stack(${rules.size * rules.size}, $stackArgs) AS (rule_a, rule_b, n_both_fail)"))
      .orderBy("rule_a", "rule_b")
  }

  val gateRuleMatrixSql: String = {
    val rules = Seq(
      "r_len" -> "NOT (n_tokens BETWEEN 30 AND 1000)",
      "r_wordlen" -> "NOT (mwl_c BETWEEN 380 AND 500)",
      "r_diversity" -> "NOT (diversity_bp >= 3500)",
      "r_repetition" -> "NOT (dup2_bp <= 600)")
    val cells = (for { (a, fa) <- rules; (b, fb) <- rules } yield
      s"SELECT '$a' AS rule_a, '$b' AS rule_b, " +
        s"CAST(sum(CASE WHEN ($fa) AND ($fb) THEN 1 ELSE 0 END) AS BIGINT) " +
        s"AS n_both_fail FROM m").mkString("\n|UNION ALL\n|")
    s"""WITH $GopherMetricCtesSql
       |$cells
       |ORDER BY rule_a, rule_b""".stripMargin
  }

  // ------------------------------------------------------------- token count
  /** Whitespace vs BPE-ish (regex subword) token counts, rolled up per
    * source. The regex `[a-z]+|[0-9]+|\S` is a stand-in for a BPE
    * pre-tokenizer's coarse split.
    */
  def tokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("source"),
        size(Portable.tokens(col("text"))).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|\\S"), lit(0)))
          .cast("long").as("bpe_tokens"))
      .groupBy("source")
      .agg(
        sum("ws_tokens").as("sum_ws_tokens"),
        sum("bpe_tokens").as("sum_bpe_tokens"),
        count(lit(1)).as("n_docs"))
      .orderBy("source")

  val tokenCountSql: String =
    """SELECT source,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_ws_tokens,
      |  CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|\S'))) AS BIGINT) AS sum_bpe_tokens,
      |  CAST(count(*) AS BIGINT) AS n_docs
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------------- fingerprint
  /** Content-defined fingerprint: md5 of the whitespace-normalized,
    * lowercased text. Grouping by it is the scalable exact-dedup key (the
    * fingerprint, not the full text, is what shuffles).
    */
  def textFingerprint(s: SparkSession, d: String): DataFrame = {
    // size-conditional local repartition: a single small parquet file is
    // ONE scan split, so the regex+md5 pass runs single-threaded — but
    // below ~4 MB the exchange costs more than the parallelism buys
    // (measured both ways; the closing-bench gate caught the
    // unconditional version at 3× its warm floor). At cluster scale the
    // scan has real splits and this is a no-op either way.
    Tables.parallelizeIfLarge(s, Tables.documents(s, d))
      .select(col("doc_id"), Portable.docFingerprint.as("fingerprint"))
      .groupBy("fingerprint")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc_id"))
      .orderBy("min_doc_id")
  }

  val textFingerprintSql: String =
    """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  min(doc_id) AS min_doc_id
      |FROM documents GROUP BY 1 ORDER BY min_doc_id""".stripMargin

  // ------------------------------------------------------------- rolling hash
  /** Polynomial rolling hash (base 31 mod 2^31−1) of the document text,
    * implemented as a plain Scala `udf` — the deliberate UDF-surface
    * coverage (SURVEY.md §2.2 last row). The DuckDB oracle replays the same
    * fold with `list_reduce`, proving the UDF's semantics are reproducible.
    */
  private val rollingHash = udf { (text: String) =>
    // Fold Unicode code points, not UTF-16 code units: the oracle's
    // ascii(string_split(text, '')) yields one code point per character,
    // so charAt would diverge on non-BMP input (surrogate pairs).
    var h = 0L
    var i = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      h = (h * 31 + cp.toLong) % 2147483647L
      i += Character.charCount(cp)
    }
    h
  }

  def textRollingHash(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), rollingHash(col("text")).as("rhash"))
      .orderBy("doc_id")

  val textRollingHashSql: String =
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(0::BIGINT,
      |      list_transform(string_split(text, ''), c -> ascii(c)::BIGINT)),
      |    (acc, x) -> (acc * 31 + x) % 2147483647) AS rhash
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- edit distance
  /** Edit-distance threshold for the near-dup join — segment count for the
    * pigeonhole blocking is `EditDistK + 1`. */
  private val EditDistK = 2

  /** PassJoin-style pigeonhole candidate generation over a `name` frame:
    * distinct unordered string pairs that could be within Levenshtein
    * distance ≤ [[EditDistK]] — the COMPLETE filter (no true pair is ever
    * missed), so the verify step downstream makes the join exact, not
    * approximate.
    *
    * Soundness (Li, Deng, Feng — PassJoin, VLDB 2011): split the build
    * string into K+1 contiguous segments; with at most K edits, at least
    * one segment survives untouched and appears verbatim in the probe
    * string, its start position shifted by at most K (net
    * insertions−deletions before it). So the BUILD side emits each name's
    * K+1 canonical segments keyed by `(build_len, seg_idx, seg)`; the
    * PROBE side emits, for every candidate build length within the
    * ±K band and every segment index, the substrings at the canonical
    * start ±K — a bounded constant (≤ (2K+1)²·(K+1) = 75) of probe keys
    * per name, NEVER O(len) substrings. The equi-join on the triple is the
    * block: candidate volume scales with block occupancy, not n².
    *
    * Contract: names of length ≥ K+1 (segments must be non-empty; part
    * names are ≥ 7 chars). Callers feed DISTINCT names — duplicate
    * strings belong in the caller's exact-match leg, not the ed ≥ 1 path.
    */
  /** BUILD half of the PassJoin block key space: each name's K+1
    * canonical segments keyed by `(blk_len, blk_i, seg)` — the relation
    * [[writeEditIndex]] persists as the edit-distance screen index. */
  private[graft] def editSegmentsBuild(names: DataFrame): DataFrame = {
    val k = EditDistK
    // canonical segment geometry for a string of length L split into K+1
    // parts, i = 0..K: len_i = L div (K+1) + (1 if i < L mod (K+1)),
    // start_i = 1 + i*(L div (K+1)) + least(i, L mod (K+1))   (1-based)
    // Non-`name` input columns pass through (candidate-stage signature
    // plumbing); a bare `name` frame keeps the persisted-index schema.
    names.select(col("name").as("name_b") +:
      names.columns.filterNot(_ == "name").map(col) :+
      expr(
        s"""inline(transform(sequence(0, $k), i -> struct(
           |  length(name) AS blk_len, i AS blk_i,
           |  substring(name,
           |    1 + i * (length(name) div ${k + 1}) + least(i, length(name) % ${k + 1}),
           |    (length(name) div ${k + 1}) + IF(i < length(name) % ${k + 1}, 1, 0)
           |  ) AS seg)))""".stripMargin.replace("\n", " ")): _*)
  }

  /** PROBE half: ≤ (2K+1)²·(K+1) candidate keys per name — the
    * substrings at each candidate build length's canonical starts ±K. */
  private[graft] def editProbeKeys(names: DataFrame): DataFrame = {
    val k = EditDistK
    names.select(col("name").as("name_a") +:
      names.columns.filterNot(_ == "name").map(col) :+
      expr(
        s"""inline(flatten(transform(
           |  filter(sequence(length(name) - $k, length(name) + $k), L -> L >= ${k + 1}),
           |  L -> flatten(transform(sequence(0, $k), i ->
           |    transform(
           |      filter(sequence(-$k, $k), d ->
           |        1 + i * (L div ${k + 1}) + least(i, L % ${k + 1}) + d >= 1 AND
           |        i * (L div ${k + 1}) + least(i, L % ${k + 1}) + d +
           |          (L div ${k + 1}) + IF(i < L % ${k + 1}, 1, 0) <= length(name)),
           |      d -> struct(
           |        L AS blk_len, i AS blk_i,
           |        substring(name,
           |          1 + i * (L div ${k + 1}) + least(i, L % ${k + 1}) + d,
           |          (L div ${k + 1}) + IF(i < L % ${k + 1}, 1, 0)) AS seg)))))))"""
          .stripMargin.replace("\n", " ")): _*)
  }

  /** Packed character-histogram signature: 16 saturating 8-bit counters
    * packed into two longs. Chars a–z, 0–9 and space are bucketed by
    * `ascii % 16` (via one codegen'd `translate` onto bucket tags
    * 'A'–'P', each tag counted by a length−replace scan — NO higher-order
    * lambdas, which run interpreted and cost seconds per million names).
    * Uppercase 'A'–'P' already present in a name self-bucket (translate
    * leaves them in place and the tag scan counts them — still a
    * consistent partial bucketing); only chars outside 'A'–'P' AFTER the
    * translate fall through uncounted. A unit edit moves at most one
    * char out of one bucket and one into another (uncounted chars
    * contribute 0 on BOTH sides), so ed(a,b) ≤ K ⟹
    * Σ|cnt_a[i] − cnt_b[i]| ≤ 2K for ANY consistent partial bucketing;
    * saturation at 255 only shrinks per-bucket deltas
    * (|min(x,255) − min(y,255)| ≤ |x − y|), so the bound — and the
    * filter's completeness — survives it. */
  private val EditSigFrom: String =
    (('a' to 'z') ++ ('0' to '9') :+ ' ').mkString
  private val EditSigTo: String =
    EditSigFrom.map(c => ('A' + (c.toInt % 16)).toChar).mkString

  private def withEditSigs(names: DataFrame, p: String): DataFrame = {
    def cnt(b: Int): String =
      s"least(length(tr) - length(replace(tr, '${('A' + b).toChar}', '')), 255)"
    def packed(lo: Int): String =
      (0 to 7).map(i => s"shiftleft(CAST(${cnt(lo + i)} AS BIGINT), ${8 * i})")
        .mkString("(", " + ", ")")
    names
      .withColumn("tr", expr(s"translate(name, '$EditSigFrom', '$EditSigTo')"))
      .withColumn(s"${p}1", expr(packed(0)))
      .withColumn(s"${p}2", expr(packed(8)))
      .drop("tr")
  }

  /** Σ byte-wise |a_i − b_i| over one packed-counter long pair. */
  private def byteL1(a: String, b: String): String =
    (0 to 7).map(i =>
      s"abs((($a >> ${8 * i}) & 255) - (($b >> ${8 * i}) & 255))")
      .mkString("(", " + ", ")")

  private[graft] def editDistanceCandidates(names: DataFrame): DataFrame =
    editProbeKeys(withEditSigs(names, "sa"))
      .join(editSegmentsBuild(withEditSigs(names, "sb")),
        Seq("blk_len", "blk_i", "seg"))
      .filter(col("name_a") =!= col("name_b"))
      // char-histogram prefilter: complete for ed ≤ K (scaladoc above),
      // and the block-join's dominant false-positive class — long shared
      // prefixes with divergent tails (template families, versioned
      // names) — fails it, so the pair mass entering the distinct
      // exchange and the Levenshtein verify tracks TRUE near-dup
      // density, not shared-prefix block occupancy
      .filter(expr(
        s"${byteL1("sa1", "sb1")} + ${byteL1("sa2", "sb2")} <= ${2 * EditDistK}"))
      .select(
        least(col("name_a"), col("name_b")).as("name_a"),
        greatest(col("name_a"), col("name_b")).as("name_b"))
      .distinct()

  /** Edit-distance near-dup join over part names: ALL key pairs whose
    * names are within Levenshtein distance ≤ 2 — the WHOLE corpus, no key
    * slice. Scale shape: (1) dedupe to distinct names FIRST, so the
    * expensive pair work runs on the name space, never the row space
    * (identical rows are the dominant duplicate class); (2) candidate
    * generation is the pigeonhole block equi-join of
    * [[editDistanceCandidates]] — complete, occupancy-proportional;
    * (3) Levenshtein verifies only within blocks; (4) key expansion is
    * two name-keyed equi-joins plus the exact-match self-join (ed = 0).
    * The brute-force oracle (length-band theta join) is independent of
    * the blocking, so a blocking bug that loses pairs turns the row/hash
    * compare red.
    *
    * SCALE CONTRACT — OUTPUT-bound, adjudicated ≤×300 as a whole-corpus
    * report (drilled: 31.1 s / 777M result pairs at ×100, 14.9 s at
    * ×300 floors): true pair mass grows linearly with the corpus, so
    * ×1000 of the drill fixture means ~7.8B result pairs whose distinct
    * exchange alone is ~0.5 TB of shuffled name pairs — 4–8× the scratch
    * disk that already killed the jaccard ×1000 leg, before one row of
    * output is useful to anyone. A 7.8B-row near-dup REPORT is the wrong
    * artifact at that scale; the measured far-decade path for the family
    * is [[editScreen]] (probe-bounded: screen arrivals against the
    * corpus — 15.8 s / exponent 0.464 at ×1000), exactly as
    * `dedup_simhash`'s all-pairs oracle was adjudicated at ×100.
    */
  def textEditDistance(s: SparkSession, d: String): DataFrame = {
    val p = Tables.parallelize(s,
      Tables.part(s, d).select(col("p_partkey"), col("p_name")))
      .localCheckpoint() // read by the name-dedupe leg and both key expansions
    val names = p.select(col("p_name").as("name")).distinct()
    val matched = editDistanceCandidates(names)
      // threshold form (r18): banded O(K·len) DP per candidate — exact
      // for pairs within K, -1 past it (excluded by the filter either way)
      .withColumn("edit_dist",
        levenshtein(col("name_a"), col("name_b"), EditDistK))
      .filter(col("edit_dist") >= 0 && col("edit_dist") <= EditDistK)
    val crossName = matched
      .join(p.select(col("p_name").as("name_a"), col("p_partkey").as("ka")), "name_a")
      .join(p.select(col("p_name").as("name_b"), col("p_partkey").as("kb")), "name_b")
      .select(least(col("ka"), col("kb")).as("key_a"),
        greatest(col("ka"), col("kb")).as("key_b"), col("edit_dist"))
    val sameName = p.as("a")
      .join(p.as("b"),
        col("a.p_name") === col("b.p_name") &&
          col("a.p_partkey") < col("b.p_partkey"))
      .select(col("a.p_partkey").as("key_a"), col("b.p_partkey").as("key_b"),
        lit(0).as("edit_dist"))
    crossName.unionAll(sameName).orderBy("key_a", "key_b")
  }

  val textEditDistanceSql: String =
    """SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
      |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist
      |FROM part a JOIN part b ON a.p_partkey < b.p_partkey
      |  AND abs(length(a.p_name) - length(b.p_name)) <= 2
      |WHERE levenshtein(a.p_name, b.p_name) <= 2
      |ORDER BY key_a, key_b""".stripMargin

  // --------------------------------------------- edit-distance screen serving
  /** Persist the PassJoin segment index over the corpus's distinct part
    * names — the train-offline half of the edit-distance family's serving
    * split (the `writeWinnowIndex` discipline, VERDICT r11 item 5: the
    * one dedup family that had no streaming twin). |index| = (K+1) rows
    * per distinct name, keyed by the pigeonhole block triple; an ingest
    * pipeline screens arriving names against FROZEN history without
    * regenerating corpus segments. */
  def writeEditIndex(s: SparkSession, d: String, dir: String): Unit = {
    graft.models.ModelManifest.invalidate(s, dir)
    editSegmentsBuild(
      Tables.parallelize(s, Tables.part(s, d))
        .select(col("p_name").as("name")).distinct())
      .write.mode("overwrite").parquet(s"$dir/segments")
    graft.models.ModelManifest.write(s, dir, "edit_index", d, Seq("part"),
      Seq("k" -> EditDistK.toString))
  }

  /** Validated read half of the edit-index serving split. */
  def editIndexSegments(s: SparkSession, dir: String): DataFrame = {
    graft.models.ModelManifest.validate(s, dir, "edit_index")
    s.read.parquet(s"$dir/segments")
  }

  /** Offline compaction for an index grown by
    * `Streams.streamEditScreenGrow`: folds every `appended/batch_id=*`
    * segment batch into the base relation (exact-duplicate rows from
    * re-screened names collapse) and removes the appended tree, so the
    * per-batch screen goes back to scanning ONE compact relation — the
    * maintenance job that keeps the incremental-index trade bounded.
    * Crash-safe by the retrain discipline: the manifest is invalidated
    * FIRST and rewritten LAST, with the new segments staged beside the
    * old and swapped by rename — an interruption at any point leaves a
    * manifest-less dir every serving path refuses. No-op (manifest
    * untouched) when nothing was appended. */
  def compactEditIndex(s: SparkSession, dir: String): Unit = {
    val m = graft.models.ModelManifest.validate(s, dir, "edit_index")
    if (!graft.models.IndexMaintenance.exists(s, s"$dir/appended")) return
    val merged = s.read.parquet(s"$dir/segments")
      .unionByName(s.read.parquet(s"$dir/appended")
        .select("name_b", "blk_len", "blk_i", "seg"))
      .distinct()
    graft.models.ModelManifest.invalidate(s, dir)
    graft.models.IndexMaintenance.stagedSwap(s, dir, "segments",
      Seq("appended")) { staged =>
      merged.write.mode("overwrite").parquet(staged)
    }
    graft.models.ModelManifest.write(s, dir, "edit_index", m.sourceDir,
      m.tables, graft.models.IndexMaintenance.bumpCompactions(m))
  }

  /** Screen a batch of `(key, name)` rows against a persisted segment
    * index: probe-side candidate keys for the ARRIVING names only (≤ 75
    * per name — the index is never re-segmented), block equi-join,
    * Levenshtein verify. A probe name identical to an indexed name
    * surfaces at `best_dist` 0 through the same path (the d = 0 probe
    * keys hit its own segments) — no separate exact leg. TOTAL: every
    * input row surfaces; no hit → `n_matches` 0, `best_dist` -1.
    * Contract: names of length ≥ K+1 on both sides (PassJoin
    * completeness needs non-empty segments). Output UNORDERED (the
    * serving contract). */
  def editScreenBatch(batch: DataFrame, segIndex: DataFrame): DataFrame = {
    val matched = editProbeKeys(batch.select(col("name")).distinct())
      .join(segIndex, Seq("blk_len", "blk_i", "seg"))
      .select(col("name_a"), col("name_b")).distinct()
      // threshold form (r18): banded O(K·len) DP instead of the full
      // O(len²) matrix per candidate — exact for every pair within K
      // (the only rows that survive), -1 past it (excluded either way)
      .withColumn("edit_dist",
        levenshtein(col("name_a"), col("name_b"), EditDistK))
      .filter(col("edit_dist") >= 0 && col("edit_dist") <= EditDistK)
      .groupBy(col("name_a").as("name"))
      .agg(count(lit(1)).as("n_matches"), min("edit_dist").as("best_dist"))
    batch.join(matched, Seq("name"), "left")
      .select(col("key"), col("name"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("best_dist"), lit(-1)).as("best_dist"),
        (coalesce(col("n_matches"), lit(0L)) > 0).as("suspect"))
  }

  /** Oracle-closed registered form of the edit-distance screen: index
    * ALL distinct part names, screen the held-out 20% key slice after a
    * deterministic perturbation (even keys lose their last character —
    * a guaranteed distance-1 near-dup of history; odd keys arrive
    * verbatim — exact dups at distance 0), so every probe has a known
    * floor and a blocking bug that loses candidates turns the count/hash
    * compare red. The DuckDB oracle re-screens by brute force
    * (length-band theta join), independent of the PassJoin blocking. */
  def editScreen(s: SparkSession, d: String): DataFrame = {
    val p = Tables.parallelize(s,
      Tables.part(s, d).select(col("p_partkey"), col("p_name")))
      .localCheckpoint() // feeds both the index build and the probe slice
    val segIndex = editSegmentsBuild(
      p.select(col("p_name").as("name")).distinct())
    val probes = p.filter(col("p_partkey") % 10 >= 8)
      .select(col("p_partkey").as("key"),
        when(col("p_partkey") % 2 === 0,
          expr("substring(p_name, 1, length(p_name) - 1)"))
          .otherwise(col("p_name")).as("name"))
    editScreenBatch(probes, segIndex).orderBy("key")
  }

  val editScreenSql: String =
    """WITH probes AS (
      |  SELECT p_partkey AS key,
      |    CASE WHEN p_partkey % 2 = 0
      |      THEN substring(p_name, 1, length(p_name) - 1)
      |      ELSE p_name END AS name
      |  FROM part WHERE p_partkey % 10 >= 8),
      |names AS (SELECT DISTINCT p_name AS nb FROM part),
      |m AS (
      |  SELECT p.name,
      |    CAST(count(*) AS BIGINT) AS n_matches,
      |    CAST(min(levenshtein(p.name, n.nb)) AS INTEGER) AS best_dist
      |  FROM (SELECT DISTINCT name FROM probes) p JOIN names n
      |    ON abs(length(p.name) - length(n.nb)) <= 2
      |      AND levenshtein(p.name, n.nb) <= 2
      |  GROUP BY p.name)
      |SELECT key, probes.name AS name,
      |  CAST(coalesce(n_matches, 0) AS BIGINT) AS n_matches,
      |  CAST(coalesce(best_dist, -1) AS INTEGER) AS best_dist,
      |  coalesce(n_matches, 0) > 0 AS suspect
      |FROM probes LEFT JOIN m ON m.name = probes.name
      |ORDER BY key""".stripMargin

  /** Oracle-closed registered form of the GROWN edit screen
    * (`Streams.streamEditScreenGrow` semantics as one relational
    * composition): history names (p_partkey % 3 != 0) are the base
    * index; the % 6 = 0 keys arrive as NEW names (their fixture name
    * reversed — the raw fixture duplicates every p_name across key
    * slices, which made a raw-name append vacuous: measured zero
    * growth-dependent rows) and their segments join the index. Probes
    * are the arrivals deterministically perturbed (even keys lose the
    * last character — distance 1 from their own arrival; odd keys probe
    * verbatim — distance 0), so EVERY probe's guaranteed witness lives
    * in the APPENDED half: an engine that serves only the frozen base
    * flips all 334 rows of the sf0.01 count/hash compare (measured).
    * The DuckDB oracle re-screens by brute force, independent of the
    * PassJoin blocking. */
  def editScreenGrow(s: SparkSession, d: String): DataFrame = {
    val p = Tables.parallelize(s,
      Tables.part(s, d).select(col("p_partkey"), col("p_name")))
      .localCheckpoint() // feeds the index build and the probe slice
    val arrivals = p.filter(col("p_partkey") % 6 === 0)
      .select(col("p_partkey"), reverse(col("p_name")).as("aname"))
    val cands = p.filter(col("p_partkey") % 3 =!= 0)
      .select(col("p_name").as("name"))
      .union(arrivals.select(col("aname").as("name")))
      .distinct()
    val probes = arrivals
      .select(col("p_partkey").as("key"),
        when(col("p_partkey") % 2 === 0,
          expr("substring(aname, 1, length(aname) - 1)"))
          .otherwise(col("aname")).as("name"))
    editScreenBatch(probes, editSegmentsBuild(cands)).orderBy("key")
  }

  val editScreenGrowSql: String =
    """WITH arrivals AS (
      |  SELECT p_partkey, reverse(p_name) AS aname
      |  FROM part WHERE p_partkey % 6 = 0),
      |probes AS (
      |  SELECT p_partkey AS key,
      |    CASE WHEN p_partkey % 2 = 0
      |      THEN substring(aname, 1, length(aname) - 1)
      |      ELSE aname END AS name
      |  FROM arrivals),
      |names AS (
      |  SELECT DISTINCT p_name AS nb FROM part WHERE p_partkey % 3 <> 0
      |  UNION SELECT DISTINCT aname FROM arrivals),
      |m AS (
      |  SELECT p.name,
      |    CAST(count(*) AS BIGINT) AS n_matches,
      |    CAST(min(levenshtein(p.name, n.nb)) AS INTEGER) AS best_dist
      |  FROM (SELECT DISTINCT name FROM probes) p JOIN names n
      |    ON abs(length(p.name) - length(n.nb)) <= 2
      |      AND levenshtein(p.name, n.nb) <= 2
      |  GROUP BY p.name)
      |SELECT key, probes.name AS name,
      |  CAST(coalesce(n_matches, 0) AS BIGINT) AS n_matches,
      |  CAST(coalesce(best_dist, -1) AS INTEGER) AS best_dist,
      |  coalesce(n_matches, 0) > 0 AS suspect
      |FROM probes LEFT JOIN m ON probes.name = m.name
      |ORDER BY key""".stripMargin

  // ------------------------------------------------------------- language id
  /** Character-bigram language-ID heuristic. Profiles are fixed constants
    * (top bigrams of seed phrases per language); the document's bigram set
    * is scored against each profile and the argmax wins, ties broken to the
    * alphabetically largest language. Pure Catalyst expressions — no UDF.
    * The DuckDB oracle replicates the struct-greatest argmax with a
    * sortable key: `printf('%02d', score) || lang` compares score first
    * (zero-padded) then language, exactly Spark's field-wise struct max.
    */
  private val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("th", "he", "in", "er", "an", "re", "on", "at", "en", "nd"),
    "de" -> Seq("en", "er", "ch", "de", "ei", "ie", "in", "te", "nd", "ge"),
    "es" -> Seq("de", "en", "os", "es", "la", "ar", "el", "ra", "as", "do"),
    "fr" -> Seq("es", "le", "de", "en", "re", "nt", "on", "er", "ou", "ai"),
    "zh" -> Seq("sh", "zh", "ng", "ia", "ua", "ao", "ei", "ou", "an", "en"))

  def textLangId(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("stripped", regexp_replace(col("text"), " ", ""))
      .withColumn("bigrams", array_distinct(
        expr("transform(sequence(1, greatest(length(stripped) - 1, 1))," +
          " i -> substr(stripped, i, 2))")))
    val scored = langProfiles.toSeq.sortBy(_._1).map { case (lang, prof) =>
      struct(
        size(array_intersect(col("bigrams"), array(prof.map(lit): _*))).as("score"),
        lit(lang).as("plang"))
    }
    docs
      // struct greatest = field-wise compare: highest score wins, ties break
      // to the alphabetically largest language — deterministic either way
      .withColumn("best", greatest(scored: _*))
      .select(
        col("doc_id"), col("lang").as("labeled_lang"),
        col("best.plang").as("predicted_lang"),
        col("best.score").as("score"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------- pii scrub
  /** PII scrubbing: redact email addresses, URLs, and long digit runs
    * (phone/account numbers) with typed placeholders — the standard
    * pre-training text-cleaning pass. Pure regexp_replace chain (codegen'd,
    * one projection, no shuffle until the tiny audit aggregate). Output is
    * a per-source audit: how many documents were touched by each rule and
    * the total redactions, which is what a pipeline operator reports at
    * 100 TB (the scrubbed text itself stays in the data path, not the
    * driver).
    */
  def piiScrub(s: SparkSession, d: String): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val urlRe = "https?://[^ ]+"
    val digitsRe = "[0-9]{7,}"
    val scrubbed = Tables.documents(s, d).select(
      col("doc_id"), col("source"),
      (size(split(col("text"), emailRe, -1)) - 1).as("n_email"),
      (size(split(col("text"), urlRe, -1)) - 1).as("n_url"),
      // mask emails AND urls first so their digits are not double-counted
      (size(split(
        regexp_replace(regexp_replace(col("text"), emailRe, "<EMAIL>"),
          urlRe, "<URL>"),
        digitsRe, -1)) - 1).as("n_digits"))
    scrubbed.groupBy("source")
      .agg(
        sum(when(col("n_email") > 0, 1L).otherwise(0L)).as("docs_with_email"),
        sum(when(col("n_url") > 0, 1L).otherwise(0L)).as("docs_with_url"),
        sum(when(col("n_digits") > 0, 1L).otherwise(0L)).as("docs_with_digits"),
        sum(col("n_email") + col("n_url") + col("n_digits")).as("total_redactions"))
      .orderBy("source")
  }

  val piiScrubSql: String =
    """WITH c AS (
      |  SELECT doc_id, source,
      |    len(string_split_regex(text,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) - 1 AS n_email,
      |    len(string_split_regex(text, 'https?://[^ ]+')) - 1 AS n_url,
      |    len(string_split_regex(
      |      regexp_replace(
      |        regexp_replace(text,
      |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |        'https?://[^ ]+', '<URL>', 'g'),
      |      '[0-9]{7,}')) - 1 AS n_digits
      |  FROM documents)
      |SELECT source,
      |  CAST(sum(CASE WHEN n_email > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_email,
      |  CAST(sum(CASE WHEN n_url > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_url,
      |  CAST(sum(CASE WHEN n_digits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_digits,
      |  CAST(sum(n_email + n_url + n_digits) AS BIGINT) AS total_redactions
      |FROM c GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------------- repetition
  /** Repetition ratio — the share of the document taken by its single most
    * frequent token, in integer basis points (max_tf * 10000 div n_tokens).
    * High values flag boilerplate/spam for pre-training filtering. The
    * mode-token count comes from one explode + two-level aggregate; basis
    * points via integer division keep the exact-rational result free of
    * rounding-tie divergence (see text_quality).
    */
  def textRepetition(s: SparkSession, d: String): DataFrame = {
    Tables.tuneSession(s) // token arrays get exploded
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(Portable.tokens(col("text"))).as("tok"))
    toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .groupBy("doc_id")
      .agg(max("tf").as("max_tf"), sum("tf").as("n_tokens"))
      .select(col("doc_id"), col("max_tf"), col("n_tokens"),
        expr("(max_tf * 10000) div n_tokens").as("repetition_bp"))
      .orderBy("doc_id")
  }

  val textRepetitionSql: String =
    """WITH tf AS (
      |  SELECT doc_id, tok, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |        FROM documents)
      |  GROUP BY 1, 2)
      |SELECT doc_id,
      |  CAST(max(tf) AS BIGINT) AS max_tf,
      |  CAST(sum(tf) AS BIGINT) AS n_tokens,
      |  CAST((max(tf) * 10000) // sum(tf) AS BIGINT) AS repetition_bp
      |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- tf-idf
  /** Top-3 terms per document by tf-idf (idf = ln(N/df)). The classic
    * keyword-extraction primitive of a training-data pipeline. Shape at
    * scale: ONE corpus-wide exchange — the input is hash-partitioned by
    * doc_id up front, and because `HashPartitioning(doc_id)` satisfies the
    * clustered distribution of both the (doc_id, term) aggregate and the
    * per-doc rank window, the entire tf → tf-idf → top-3 pipeline then
    * runs exchange-free; df is a tiny per-term aggregate that rides back
    * in as a broadcast alongside N. Scores are rounded to 4 dp BEFORE
    * ranking so both engines agree at rank boundaries; ties broken by
    * term.
    */
  def textTfidf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.tuneSession(s) // token arrays get exploded
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .repartition(col("doc_id"))
    val terms = docs.select(col("doc_id"),
      explode(Portable.tokens(col("text"))).as("term"))
    // tf is materialized once (it is already doc_id-partitioned), so the df
    // branch reads the aggregate instead of re-scanning and re-tokenizing
    // the corpus — Catalyst plans sibling branches independently and would
    // otherwise run the scan+explode+aggregate three times
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4)
          .as("tfidf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("doc_id", "rank", "term", "tfidf")
      .orderBy("doc_id", "rank")
  }

  val textTfidfSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df
      |       FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term,
      |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS tfidf
      |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
      |ranked AS (
      |  SELECT doc_id, term, tfidf,
      |    CAST(row_number() OVER
      |      (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INTEGER) AS rank
      |  FROM scored)
      |SELECT doc_id, rank, term, tfidf FROM ranked
      |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  val textLangIdSql: String = {
    val scoreCols = langProfiles.toSeq.sortBy(_._1).map { case (lang, prof) =>
      val lst = prof.map(p => s"'$p'").mkString(", ")
      s"len(list_intersect(bigrams, [$lst])) AS s_$lang"
    }.mkString(",\n      |    ").stripMargin
    val keys = langProfiles.keys.toSeq.sorted
      .map(l => s"printf('%02d', s_$l) || '$l'").mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id, lang AS labeled_lang, replace(text, ' ', '') AS stripped
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, labeled_lang,
       |    list_distinct(list_transform(
       |      range(1, greatest(length(stripped) - 1, 1) + 1),
       |      i -> substring(stripped, CAST(i AS INTEGER), 2))) AS bigrams
       |  FROM d),
       |s AS (SELECT doc_id, labeled_lang,
       |    $scoreCols
       |  FROM b),
       |k AS (SELECT doc_id, labeled_lang, greatest($keys) AS best FROM s)
       |SELECT doc_id, labeled_lang,
       |  substring(best, 3) AS predicted_lang,
       |  CAST(substring(best, 1, 2) AS INTEGER) AS score
       |FROM k ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------- funnel
  /** Corpus curation funnel: the composition a pretraining pipeline runs
    * end-to-end — raw corpus → length gate (≥ 40 tokens) → quality gate
    * (quality_bp ≥ 8500, the [[textQuality]] formula verbatim) →
    * exact-dedup survivors — reported as one row per stage with doc and
    * token counts, the numbers a curation run is judged by.
    *
    * One-pass shape: the corpus is scanned (and tokenized/fingerprinted)
    * ONCE into a localCheckpoint'd narrow frame; the three scan stages are
    * CONDITIONAL aggregates over that frame (`stack` unpivots the one
    * result row) and only the dedup stage adds a shuffle — keyed by the
    * md5 fingerprint of quality-passed docs, min-doc_id survivor via a
    * struct min. At 100 TB: one corpus scan + one fingerprint-keyed
    * exchange (a union of two aggregations would otherwise re-scan and
    * re-tokenize per branch — Spark does not dedupe common sub-plans
    * across union arms).
    */
  def corpusFunnel(s: SparkSession, d: String): DataFrame = {
    val w = Portable.tokens(col("text"))
    val staged = Tables.documents(s, d)
      .select(
        col("doc_id"),
        size(w).cast("long").as("n"),
        size(filter(w, t => t === "the" || t === "a")).cast("long").as("nstop"),
        size(array_distinct(w)).cast("long").as("ndist"),
        Portable.docFingerprint.as("fp"))
      .select(col("doc_id"), col("n"), col("fp"),
        qualityBpExpr.as("quality_bp"))
      .select(col("doc_id"), col("n"), col("fp"),
        (col("n") >= 40).as("pass_len"),
        (col("n") >= 40 && col("quality_bp") >= 8500).as("pass_q"))
      .localCheckpoint()
    val scanStages = staged.agg(
      count(lit(1)).as("raw_docs"), sum(col("n")).as("raw_toks"),
      sum(when(col("pass_len"), 1L).otherwise(0L)).as("len_docs"),
      sum(when(col("pass_len"), col("n")).otherwise(0L)).as("len_toks"),
      sum(when(col("pass_q"), 1L).otherwise(0L)).as("q_docs"),
      sum(when(col("pass_q"), col("n")).otherwise(0L)).as("q_toks"))
      .select(expr(
        "stack(3, '1_raw', raw_docs, raw_toks, " +
          "'2_min_length', len_docs, len_toks, " +
          "'3_quality', q_docs, q_toks) AS (stage, n_docs, n_tokens)"))
    val dedupStage = staged.filter(col("pass_q"))
      .groupBy("fp")
      .agg(min(struct(col("doc_id"), col("n"))).as("surv"))
      .agg(count(lit(1)).as("n_docs"), sum(col("surv.n")).as("n_tokens"))
      .select(lit("4_dedup").as("stage"), col("n_docs"), col("n_tokens"))
    scanStages.union(dedupStage).orderBy("stage")
  }

  val corpusFunnelSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
      |    len(list_filter(string_split(text, ' '), x -> x = 'the' OR x = 'a')) AS nstop,
      |    len(list_distinct(string_split(text, ' '))) AS ndist,
      |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      |  FROM documents),
      |staged AS (
      |  SELECT doc_id, n, fp,
      |    n >= 40 AS pass_len,
      |    n >= 40 AND ((10*n - 5*nstop - 3*(n - ndist)) * 10000) // (10*n) >= 8500 AS pass_q
      |  FROM t),
      |survivors AS (
      |  SELECT fp, min(doc_id) AS sid FROM staged WHERE pass_q GROUP BY fp)
      |SELECT '1_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n) AS BIGINT) AS n_tokens FROM staged
      |UNION ALL
      |SELECT '2_min_length', CAST(sum(CASE WHEN pass_len THEN 1 ELSE 0 END) AS BIGINT),
      |       CAST(sum(CASE WHEN pass_len THEN n ELSE 0 END) AS BIGINT) FROM staged
      |UNION ALL
      |SELECT '3_quality', CAST(sum(CASE WHEN pass_q THEN 1 ELSE 0 END) AS BIGINT),
      |       CAST(sum(CASE WHEN pass_q THEN n ELSE 0 END) AS BIGINT) FROM staged
      |UNION ALL
      |SELECT '4_dedup', CAST(count(*) AS BIGINT), CAST(sum(s.n) AS BIGINT)
      |FROM survivors v JOIN staged s ON v.sid = s.doc_id
      |ORDER BY stage""".stripMargin

  // ------------------------------------------------------------- source mix
  /** Per-source corpus mix report — the numbers a pretraining run uses to
    * set mixture weights: docs, tokens, token share (integer basis points
    * via integer division, per the exact-rational-tie rule), and the
    * exact-duplicate rate within each source. One scan, one shuffle keyed
    * by source; the global token total for the share column is a window
    * over the per-source aggregate, which is bounded by the number of
    * sources (a handful) at any corpus size.
    */
  def sourceMixReport(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Portable.tokens(col("text"))
    Tables.documents(s, d)
      .select(
        col("source"),
        size(w).cast("long").as("n"),
        Portable.docFingerprint.as("fp"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n")).as("n_tokens"),
        countDistinct(col("fp")).as("n_unique"))
      .withColumn("total_tokens", sum(col("n_tokens")).over(Window.partitionBy()))
      .select(
        col("source"),
        col("n_docs"),
        col("n_tokens"),
        expr("(n_tokens * 10000) div total_tokens").as("token_share_bp"),
        expr("((n_docs - n_unique) * 10000) div n_docs").as("dup_rate_bp"))
      .orderBy("source")
  }

  val sourceMixReportSql: String =
    """WITH t AS (
      |  SELECT source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
      |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      |  FROM documents),
      |g AS (
      |  SELECT source, count(*) AS n_docs, sum(n) AS n_tokens,
      |         count(DISTINCT fp) AS n_unique
      |  FROM t GROUP BY 1)
      |SELECT source,
      |  CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST((n_tokens * 10000) // (SELECT sum(n_tokens) FROM g) AS BIGINT) AS token_share_bp,
      |  CAST(((n_docs - n_unique) * 10000) // n_docs AS BIGINT) AS dup_rate_bp
      |FROM g ORDER BY source""".stripMargin

  // ------------------------------------------------------------- heavy hitters
  /** Exact corpus-wide heavy hitters: terms holding at least 1% (100 bp) of
    * all token occurrences. The term-frequency table is vocabulary-sized —
    * orders of magnitude smaller than the corpus — so it is materialized
    * once and the global total is derived from it and broadcast back;
    * shares are integer basis points (integer division — no rounding-tie
    * semantics). One corpus scan, one vocabulary-keyed exchange.
    */
  def heavyHittersExact(s: SparkSession, d: String): DataFrame = {
    Tables.tuneSession(s) // token arrays get exploded
    val tf = Tables.parallelize(s,
        Tables.documents(s, d).select(col("text")))
      .select(explode(Portable.tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    tf.crossJoin(broadcast(tf.agg(sum("cnt").as("total"))))
      .select(col("term"), col("cnt"),
        expr("(cnt * 10000) div total").as("share_bp"))
      .filter(col("share_bp") >= 100)
      .orderBy(col("cnt").desc, col("term").asc)
  }

  val heavyHittersExactSql: String =
    """WITH tf AS (
      |  SELECT term, count(*) AS cnt
      |  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      |  GROUP BY 1),
      |tot AS (SELECT sum(cnt) AS total FROM tf)
      |SELECT term, CAST(cnt AS BIGINT) AS cnt,
      |       CAST((cnt * 10000) // total AS BIGINT) AS share_bp
      |FROM tf, tot
      |WHERE (cnt * 10000) // total >= 100
      |ORDER BY cnt DESC, term""".stripMargin

  /** Top-10 terms from the mergeable Misra–Gries sketch
    * ([[graft.functions.FrequentItemsAggregator]]) — the 100 TB
    * heavy-hitters path: O(capacity) state per executor, map-side partial
    * aggregation, one tiny final merge; the corpus-wide exchange of the
    * exact variant disappears entirely.
    *
    * Oracle-checkable BECAUSE the fixtures' token vocabulary (31 terms at
    * every sf — the generator's fixed word list) is under the 256-counter
    * capacity: no decrement ever fires, so the sketch provably degenerates
    * to the exact frequency table with err_bound 0 and the DuckDB oracle
    * can assert equality. The lossy regime (capacity < vocabulary) is
    * exercised by the unit spec instead.
    */
  def frequentItemsSketch(s: SparkSession, d: String): DataFrame = {
    Tables.tuneSession(s)
    val fi = udaf(new graft.functions.FrequentItemsAggregator(256))
    Tables.parallelize(s, Tables.documents(s, d).select(col("text")))
      .select(explode(Portable.tokens(col("text"))).as("term"))
      .agg(fi(col("term")).as("summary"))
      .select(posexplode(col("summary")).as(Seq("i", "f")))
      .filter(col("i") < 10)
      .select((col("i") + 1).cast("int").as("rank"),
        col("f.item").as("term"),
        col("f.est_count").as("est_count"),
        col("f.err_bound").as("err_bound"))
      .orderBy("rank")
  }

  val frequentItemsSketchSql: String =
    """WITH tf AS (
      |  SELECT term, count(*) AS cnt
      |  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      |  GROUP BY 1),
      |ranked AS (
      |  SELECT term, cnt,
      |    CAST(row_number() OVER (ORDER BY cnt DESC, term) AS INTEGER) AS rank
      |  FROM tf)
      |SELECT rank, term, CAST(cnt AS BIGINT) AS est_count,
      |       CAST(0 AS BIGINT) AS err_bound
      |FROM ranked WHERE rank <= 10 ORDER BY rank""".stripMargin

  /** Adjacent-token-pair counts — the statistic behind the first BPE merge
    * decision when training a tokenizer on the corpus: top-20 pairs by
    * global frequency (ties broken by pair text). One scan, shingle n=2 via
    * the native [[graft.functions.WordShingles]] expression, one
    * vocabulary²-bounded exchange with map-side partial aggregation.
    */
  def bpePairCounts(s: SparkSession, d: String): DataFrame = {
    Tables.tuneSession(s) // pair arrays get exploded
    Tables.parallelize(s, Tables.documents(s, d).select(col("text")))
      .select(explode(Portable.shingles(Portable.tokens(col("text")), 2)).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(20)
  }

  val bpePairCountsSql: String = {
    val shingles2 = Portable.shinglesSql(2)
    s"""WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
       |pairs AS (SELECT unnest($shingles2) AS pair FROM w)
       |SELECT pair, CAST(count(*) AS BIGINT) AS cnt
       |FROM pairs GROUP BY 1
       |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin
  }

  /** Tokenizer APPLICATION — the other half of BPE next to
    * [[bpePairCounts]]' training statistic: the learned top-20 merges are
    * applied to every document in rank order, turning adjacent token
    * pairs into single `a▁b` tokens. The merge table is collected to
    * the driver (≤20 rows — the codebook pattern of `ann_ivf_trained`)
    * and unrolled into ONE whole-stage-codegen projection of chained
    * literal `replace` calls — no per-row interpretation, no UDF, one
    * narrow corpus pass, which is how a 100 TB corpus gets tokenized:
    * tiny broadcast vocabulary, embarrassingly parallel map.
    *
    * Merge semantics (pinned, engine-portable): each merge rewrites
    * space-delimited occurrences left-to-right, non-overlapping, TWICE —
    * the second sweep catches occurrences whose shared boundary space the
    * first sweep consumed ("a b a b"). Both engines' `replace` scans
    * identically, so parity holds by construction; chained re-merging
    * cannot occur because learned pairs contain only original tokens
    * (never `▁`). Word-level merges, trained once over the corpus —
    * the word2phrase shape rather than character-level BPE training,
    * whose per-iteration re-counting is [[bpePairCounts]] run k times.
    */
  def bpeApplyMerges(s: SparkSession, d: String): DataFrame = {
    val merges: Seq[String] =
      bpePairCounts(s, d).collect().map(_.getString(0)).toSeq
    bpeApplyFrozen(Tables.documents(s, d).select(col("doc_id"), col("text")), merges)
      .orderBy("doc_id")
  }

  /** The df-level seam of [[bpeApplyMerges]]: apply a FROZEN merge table
    * to any frame carrying `(doc_id, text)` — the serving half a
    * tokenization pipeline runs over arriving documents
    * ([[graft.streaming.Streams.streamBpeApply]] is the micro-batch
    * twin). One chained-literal-`replace` codegen projection, no
    * training statistics, no shuffle; output UNORDERED (the
    * [[graft.operators.Scoring]] serving contract — the oracle-facing
    * entry adds its presentation sort).
    */
  def bpeApplyFrozen(docs: DataFrame, merges: Seq[String]): DataFrame = {
    val sep = "▁"
    val init = concat(lit(" "), col("text"), lit(" "))
    val merged = merges.foldLeft(init) { (c, pair) =>
      val pat = lit(s" $pair ")
      val rep = lit(" " + pair.replace(" ", sep) + " ")
      val once = call_function("replace", c, pat, rep)
      call_function("replace", once, pat, rep)
    }
    docs
      .select(col("doc_id"), col("text"), merged.as("s"))
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).as("n_tok_before"),
        (size(split(col("s"), " ")) - 2).as("n_tok_after"),
        (length(col("s")) - length(call_function("replace", col("s"), lit(sep), lit(""))))
          .cast("long").as("n_merges_applied"),
        get(expr(s"filter(split(s, ' '), t -> contains(t, '$sep'))"), lit(0))
          .as("first_merged"))
  }

  /** Iterative BPE merge TRAINING — the real BPE loop the one-shot
    * [[bpePairCounts]]→[[bpeApplyMerges]] pair approximates: re-count
    * adjacent symbol pairs after every merge, take the most frequent
    * (ties: lexicographic on (a, b) — pinned so the brute-force twin can
    * replicate it), rewrite the corpus greedily left-to-right, repeat.
    * Returns the learned merge list (a, b, pair count at selection time);
    * stops early when no pair occurs twice.
    *
    * Shape at scale: the corpus lives as a symbol-array column the whole
    * time; each iteration is ONE pair-count aggregate (vocabulary²-bounded
    * out) + ONE narrow rewrite pass, with a `localCheckpoint` per round so
    * the plan never accumulates k rewrites of lineage. Driver state is the
    * merge list and one top-pair row per round — the bounded codebook
    * class (`ann_ivf_trained`'s k-means loop is the same shape). The
    * rewrite is an `aggregate` fold lambda (interpreted, not codegen) —
    * acceptable for a TRAINING job that runs once; serving-side
    * application of a FROZEN merge table is [[bpeApplyMerges]]' chained
    * codegen replaces. Greedy-left semantics: merging (a,a) over
    * "a a a" yields [a▁a, a] — the fold consumes the left occurrence
    * first, exactly as the spec's reference fold does.
    */
  def bpeTrain(s: SparkSession, d: String, nMerges: Int): Seq[(String, String, Long)] = {
    val sep = "▁"
    Tables.tuneSession(s)
    var syms = Tables.parallelize(s, Tables.documents(s, d).select(col("text")))
      .select(Portable.tokens(col("text")).as("syms"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var continue = true
    while (merges.size < nMerges && continue) {
      val top = syms
        .select(explode(zip_with(
          slice(col("syms"), lit(1), greatest(size(col("syms")) - 1, lit(0))),
          slice(col("syms"), lit(2), greatest(size(col("syms")) - 1, lit(0))),
          (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.isEmpty || top(0).getAs[Long]("cnt") < 2L) continue = false
      else {
        val (a, b, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((a, b, c))
        syms = syms.select(aggregate(col("syms"),
            array().cast("array<string>"),
            (acc, x) => when(
              size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + sep + b))))
              .otherwise(concat(acc, array(x)))).as("syms"))
          .localCheckpoint()
      }
    }
    merges.toSeq
  }

  val bpeApplyMergesSql: String = {
    val shingles2 = Portable.shinglesSql(2)
    s"""WITH RECURSIVE
       |w AS (SELECT string_split(text, ' ') AS w FROM documents),
       |prs AS (SELECT unnest($shingles2) AS pair FROM w),
       |top AS (
       |  SELECT pair, count(*) AS cnt FROM prs GROUP BY 1
       |  ORDER BY cnt DESC, pair LIMIT 20),
       |m AS (
       |  SELECT ' ' || pair || ' ' AS pat,
       |    ' ' || replace(pair, ' ', '▁') || ' ' AS rep,
       |    row_number() OVER (ORDER BY cnt DESC, pair) AS rnk
       |  FROM top),
       |apply(doc_id, s, i) AS (
       |  SELECT doc_id, ' ' || text || ' ', 0 FROM documents
       |  UNION ALL
       |  SELECT a.doc_id, replace(replace(a.s, m.pat, m.rep), m.pat, m.rep),
       |    a.i + 1
       |  FROM apply a JOIN m ON m.rnk = a.i + 1),
       |fin AS (
       |  SELECT doc_id, s FROM apply WHERE i = (SELECT count(*) FROM m))
       |SELECT f.doc_id,
       |  CAST(len(string_split(d.text, ' ')) AS INTEGER) AS n_tok_before,
       |  CAST(len(string_split(f.s, ' ')) - 2 AS INTEGER) AS n_tok_after,
       |  CAST(length(f.s) - length(replace(f.s, '▁', '')) AS BIGINT)
       |    AS n_merges_applied,
       |  list_filter(string_split(f.s, ' '), t -> contains(t, '▁'))[1]
       |    AS first_merged
       |FROM fin f JOIN documents d ON d.doc_id = f.doc_id
       |ORDER BY f.doc_id""".stripMargin
  }

  /** Curriculum bucketing by token-count quantiles — the length-ordered
    * curriculum a pretraining schedule consumes (short/simple docs first,
    * long docs later): every document is assigned to one of four buckets
    * by the exact quartiles of the corpus token-count distribution, and
    * the query reports each bucket's document/token mass and bounds.
    *
    * Shape at scale — deliberately NOT `ntile()`: a global ntile is a
    * single-partition window over the whole corpus. Instead the three
    * quartile thresholds are ONE exact-percentile aggregate (three
    * doubles, broadcast via cross join) and bucket assignment is a narrow
    * integer-comparison projection — no global sort, no window, the plan
    * that buckets 100 TB in one aggregate + one map pass. `percentile` ↔
    * `quantile_cont` is the established portable pair
    * (`percentile_exact`); thresholds are rounded to 4 dp on both engines
    * before comparison so bucket boundaries cannot float-drift.
    */
  def curriculumBuckets(s: SparkSession, d: String): DataFrame = {
    val perDoc = Tables.documents(s, d)
      .select(col("doc_id"),
        size(Portable.tokens(col("text"))).cast("long").as("n"))
    val q = perDoc.agg(
      round(expr("percentile(n, 0.25)"), 4).as("q25"),
      round(expr("percentile(n, 0.5)"), 4).as("q50"),
      round(expr("percentile(n, 0.75)"), 4).as("q75"))
    perDoc.crossJoin(broadcast(q))
      .select(col("doc_id"), col("n"),
        (lit(1) + (col("n") > col("q25")).cast("int")
          + (col("n") > col("q50")).cast("int")
          + (col("n") > col("q75")).cast("int")).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("sum_tokens"),
        min("n").as("min_tokens"), max("n").as("max_tokens"))
      .orderBy("bucket")
  }

  val curriculumBucketsSql: String =
    """WITH t AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |  FROM documents),
      |q AS (
      |  SELECT round(quantile_cont(n, 0.25), 4) AS q25,
      |         round(quantile_cont(n, 0.5), 4) AS q50,
      |         round(quantile_cont(n, 0.75), 4) AS q75
      |  FROM t),
      |b AS (
      |  SELECT doc_id, n,
      |    1 + CAST(n > q25 AS INT) + CAST(n > q50 AS INT)
      |      + CAST(n > q75 AS INT) AS bucket
      |  FROM t CROSS JOIN q)
      |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n) AS BIGINT) AS sum_tokens,
      |  CAST(min(n) AS BIGINT) AS min_tokens,
      |  CAST(max(n) AS BIGINT) AS max_tokens
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Per-source top bigrams — the boilerplate detector a curation team
    * runs per domain: the 3 most frequent word bigrams within each
    * source (ties broken by bigram text), with each bigram's share of
    * the source's bigram mass in basis points (integer arithmetic). A
    * bigram dominating a source's mass is template/boilerplate text the
    * span-dedup pass (`dedup_spans`) should be tuned toward.
    *
    * Shape at scale (r18): one tokenize+shingle pass, one (source,
    * bigram) partial-aggregated exchange, then ONE source-keyed aggregate
    * that computes the source's bigram mass AND its top-3 in the same
    * pass — [[graft.functions.BoundedTopK]] on (cnt desc, bg asc), the
    * `row_number` window's own SortOrder, UTF-8-byte tie-break included.
    * The former `counts → window` + `counts → sum → join` pair planned
    * the tokenize+shingle+count subtree TWICE (no exchange reuse across
    * the differing parents) and paid a partition-local sort under the
    * WindowGroupLimit; both are gone.
    */
  def ngramTopPerSource(s: SparkSession, d: String): DataFrame = {
    Tables.tuneSession(s)
    val counts = Tables.parallelize(s,
        Tables.documents(s, d).select(col("source"), col("text")))
      .select(col("source"),
        explode(Portable.shingles(Portable.tokens(col("text")), 2)).as("bg"))
      .groupBy("source", "bg").agg(count(lit(1)).as("cnt"))
    counts.groupBy("source")
      .agg(sum("cnt").as("tot"),
        graft.functions.BoundedTopK.topK(3, Seq(col("cnt").desc, col("bg").asc)).as("tk"))
      .select(col("source"), col("tot"), posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("source"), (col("pos") + 1).cast("int").as("rank"),
        col("s._2").as("bg"), col("s._1").as("cnt"),
        expr("cnt * 10000 div tot").as("share_bp"))
      .orderBy("source", "rank")
  }

  val ngramTopPerSourceSql: String = {
    val sh2 = Portable.shinglesSql(2)
    s"""WITH w AS (SELECT source, string_split(text, ' ') AS w FROM documents),
       |bg AS (SELECT source, unnest($sh2) AS bg FROM w),
       |c AS (SELECT source, bg, count(*) AS cnt FROM bg GROUP BY 1, 2),
       |t AS (SELECT source, sum(cnt) AS tot FROM c GROUP BY 1),
       |r AS (
       |  SELECT source, bg, cnt,
       |    CAST(row_number() OVER (
       |      PARTITION BY source ORDER BY cnt DESC, bg) AS INTEGER) AS rank
       |  FROM c)
       |SELECT r.source, r.rank, r.bg, CAST(r.cnt AS BIGINT) AS cnt,
       |  CAST(r.cnt * 10000 // t.tot AS BIGINT) AS share_bp
       |FROM r JOIN t ON r.source = t.source
       |WHERE r.rank <= 3 ORDER BY r.source, r.rank""".stripMargin
  }

  /** Vocabulary size for [[vocabCoverage]] — the tokenizer-budget knob. */
  val VocabTopK: Int = 1000

  /** Tokenizer vocabulary-coverage audit: take the top-[[VocabTopK]]
    * corpus tokens by global frequency (ties broken by token text — the
    * deterministic vocabulary a frequency-based tokenizer would freeze)
    * and report, per source, the token mass that vocabulary covers and
    * the out-of-vocabulary rate in basis points. The audit a tokenizer
    * budget decision reads: a source with a high OOV rate under the
    * candidate vocabulary will fragment into bytes/unknowns at training
    * time.
    *
    * Shape at scale: one tokenize pass into (source, token) partial
    * counts; the global vocabulary is a vocabulary-bounded aggregate of
    * that frame, cut to K rows with ONE TakeOrderedAndProject (no global
    * sort), and broadcast back; per-source coverage is a ≤|sources|
    * aggregate. The per-doc frame is never materialized twice
    * (`localCheckpoint`, the textTfidf sibling-scan discipline).
    */
  def vocabCoverage(s: SparkSession, d: String,
      topK: Int = VocabTopK): DataFrame = {
    Tables.tuneSession(s)
    val toks = Tables.parallelize(s,
        Tables.documents(s, d).select(col("source"), col("text")))
      .select(col("source"), explode(Portable.tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val vocab = toks.groupBy("tok").agg(sum("cnt").as("gcnt"))
      .orderBy(col("gcnt").desc, col("tok").asc)
      .limit(topK)
      .select(col("tok"))
    coverageTail(toks, vocab).orderBy("source")
  }

  /** THE definition of the coverage report — one copy of the left-join +
    * aggregate + integer-bp arithmetic shared by [[vocabCoverage]] (vocab
    * derived in-query) and the serving path ([[vocabCoverageBatch]],
    * frozen persisted vocabulary) — the `bm25ScoreTail` discipline.
    * `toks` is a `(source, tok, cnt)` frame; `vocab` a `tok` relation
    * (K-bounded → broadcast). Output UNORDERED.
    */
  private def coverageTail(toks: DataFrame, vocab: DataFrame): DataFrame =
    toks
      .join(broadcast(vocab.select(col("tok")).withColumn("in_vocab", lit(1L))),
        Seq("tok"), "left")
      .groupBy("source")
      .agg(sum("cnt").as("n_tokens"),
        sum(when(col("in_vocab").isNotNull, col("cnt")).otherwise(0L))
          .as("covered_tokens"),
        countDistinct(when(col("in_vocab").isNull, col("tok"))).as("oov_types"))
      .select(col("source"), col("n_tokens"), col("covered_tokens"),
        expr("(n_tokens - covered_tokens) * 10000 div n_tokens").as("oov_bp"),
        col("oov_types"))

  // ------------------------------------------- persisted tokenizer models
  /** Persist the frozen tokenizer artifacts — merges and vocabulary are
    * MODEL artifacts exactly like the LM/DSIR/BM25 statistics: trained
    * once on the corpus, served everywhere (batch backfills, streaming
    * ingest), bounded (≤20 merge rows, K vocab rows), and versioned as
    * parquet. `writeBpeMerges` persists the learned merge table in rank
    * order; `writeVocabModel` the top-K frequency vocabulary with counts
    * (the counts are audit metadata; serving reads only `tok`).
    */
  def writeBpeMerges(s: SparkSession, d: String, dir: String): Unit = {
    graft.models.ModelManifest.invalidate(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("pair").asc)
    bpePairCounts(s, d)
      .withColumn("rank", row_number().over(w))
      .repartition(1) // ≤20 rows: one tiny file
      .write.mode("overwrite").parquet(s"$dir/merges")
    graft.models.ModelManifest.write(s, dir, "bpe_merges", d,
      Seq("documents"))
  }

  /** Read the persisted merge table back in application order (≤20-row
    * driver collect — the bounded codebook class). */
  def bpeMergesFromModel(s: SparkSession, dir: String): Seq[String] = {
    graft.models.ModelManifest.validate(s, dir, "bpe_merges")
    s.read.parquet(s"$dir/merges").orderBy("rank")
      .collect().map(_.getAs[String]("pair")).toSeq
  }

  def writeVocabModel(s: SparkSession, d: String, dir: String,
      topK: Int = VocabTopK): Unit = {
    graft.models.ModelManifest.invalidate(s, dir)
    Tables.tuneSession(s)
    Tables.parallelize(s, Tables.documents(s, d).select(col("text")))
      .select(explode(Portable.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("gcnt"))
      .orderBy(col("gcnt").desc, col("tok").asc)
      .limit(topK)
      .repartition(1) // K rows: one tiny file
      .write.mode("overwrite").parquet(s"$dir/vocab")
    graft.models.ModelManifest.write(s, dir, "tokenizer_vocab", d,
      Seq("documents"), Seq("top_k" -> topK.toString))
  }

  /** Coverage report of a probe batch `(source, text)` under a FROZEN
    * vocabulary relation — the serving half ([[coverageTail]] shared with
    * the in-corpus query): one probe tokenize, one broadcast join, one
    * ≤|sources| aggregate; the training corpus is never scanned. The
    * OOV-rate-under-the-frozen-vocab drift signal an ingest pipeline
    * watches. Output UNORDERED.
    */
  def vocabCoverageBatch(probes: DataFrame, vocab: DataFrame): DataFrame = {
    Tables.tuneSession(probes.sparkSession)
    val toks = probes
      .select(col("source"), explode(Portable.tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
    coverageTail(toks, vocab)
  }

  /** Convenience serving entry: read the persisted vocabulary and report. */
  def vocabCoverageFromModel(s: SparkSession, modelDir: String,
      probes: DataFrame): DataFrame = {
    graft.models.ModelManifest.validate(s, modelDir, "tokenizer_vocab")
    vocabCoverageBatch(probes, s.read.parquet(s"$modelDir/vocab"))
  }

  val vocabCoverageSql: String =
    s"""WITH toks AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
       |c AS (SELECT source, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
       |v AS (SELECT tok FROM (
       |    SELECT tok, sum(cnt) AS gcnt FROM c GROUP BY 1
       |    ORDER BY gcnt DESC, tok LIMIT $VocabTopK)),
       |j AS (
       |  SELECT c.source, c.tok, c.cnt,
       |    CASE WHEN v.tok IS NULL THEN 0 ELSE 1 END AS in_vocab
       |  FROM c LEFT JOIN v ON c.tok = v.tok)
       |SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN in_vocab = 1 THEN cnt ELSE 0 END) AS BIGINT)
       |    AS covered_tokens,
       |  CAST((sum(cnt) - sum(CASE WHEN in_vocab = 1 THEN cnt ELSE 0 END))
       |    * 10000 // sum(cnt) AS BIGINT) AS oov_bp,
       |  CAST(count(DISTINCT CASE WHEN in_vocab = 0 THEN tok END) AS BIGINT)
       |    AS oov_types
       |FROM j GROUP BY source ORDER BY source""".stripMargin

  /** Quality-cutoff thresholds (basis points) swept by
    * [[qualityThresholdSweep]]. */
  val SweepThresholds: Seq[Long] = Seq(0L, 7000L, 8000L, 8500L, 9000L, 9500L)

  /** Quality-threshold sweep — the retention curve a curation team reads to
    * pick a cutoff: for each candidate threshold, the docs and tokens that
    * would survive `quality_bp >= t` (the [[textQuality]] formula
    * verbatim). One corpus scan computes each doc's (quality_bp, n_tokens)
    * once; a 6-row literal threshold table cross-joins in (explode of a
    * plan-time array — no second scan, no shuffle except the 6-group
    * aggregate). All integer arithmetic.
    */
  def qualityThresholdSweep(s: SparkSession, d: String): DataFrame = {
    Tables.tuneSession(s)
    val perDoc = withQualityCounts(Tables.documents(s, d).select(col("text")))
      .select(col("n"),
        qualityBpExpr.as("quality_bp"))
    perDoc
      .select(col("n"), col("quality_bp"),
        explode(lit(SweepThresholds.toArray)).as("threshold_bp"))
      .groupBy("threshold_bp")
      .agg(
        sum(when(col("quality_bp") >= col("threshold_bp"), 1L).otherwise(0L))
          .as("n_docs_kept"),
        sum(when(col("quality_bp") >= col("threshold_bp"), col("n")).otherwise(0L))
          .as("n_tokens_kept"))
      .orderBy("threshold_bp")
  }

  val qualityThresholdSweepSql: String = {
    val ts = SweepThresholds.mkString(", ")
    s"""WITH t AS (
       |  SELECT len(string_split(text, ' ')) AS n,
       |    len(list_filter(string_split(text, ' '), x -> x = 'the' OR x = 'a')) AS nstop,
       |    len(list_distinct(string_split(text, ' '))) AS ndist
       |  FROM documents),
       |q AS (
       |  SELECT n,
       |    ${QualityBpSqlFrag} AS quality_bp
       |  FROM t),
       |th AS (SELECT unnest([$ts]) AS threshold_bp)
       |SELECT CAST(threshold_bp AS BIGINT) AS threshold_bp,
       |  CAST(sum(CASE WHEN quality_bp >= threshold_bp THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_docs_kept,
       |  CAST(sum(CASE WHEN quality_bp >= threshold_bp THEN n ELSE 0 END) AS BIGINT)
       |    AS n_tokens_kept
       |FROM q CROSS JOIN th
       |GROUP BY 1 ORDER BY threshold_bp""".stripMargin
  }

  /** Token-length histogram (fixed 50-token buckets) — the length
    * distribution every corpus report leads with; integer bucketing, one
    * scan, one tiny aggregate.
    */
  def lengthHistogram(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(size(Portable.tokens(col("text"))).cast("long").as("n"))
      .select(expr("n div 50").as("bucket"), col("n"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"),
        min("n").as("min_tokens"), max("n").as("max_tokens"))
      .orderBy("bucket")

  val lengthHistogramSql: String =
    """WITH t AS (SELECT len(string_split(text, ' ')) AS n FROM documents)
      |SELECT CAST(n // 50 AS BIGINT) AS bucket,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n) AS BIGINT) AS n_tokens,
      |  CAST(min(n) AS BIGINT) AS min_tokens,
      |  CAST(max(n) AS BIGINT) AS max_tokens
      |FROM t GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Mixture rebalancing — the planning step after [[sourceMixReport]]:
    * given a UNIFORM target token share across sources, compute each
    * source's sampling keep-rate (capped at 100%) and the tokens the
    * rebalanced mixture would draw from it. All arithmetic is integer
    * basis points (no rounding-tie semantics); the per-source token table
    * is vocabulary-of-sources-sized, so the global total/count ride back
    * in as a broadcast. In a real pipeline the keep-rate feeds the
    * deterministic hash sampler (`sample_split`'s mechanism) per source.
    */
  def mixtureRebalance(s: SparkSession, d: String): DataFrame = {
    val per = Tables.documents(s, d)
      .select(col("source"), size(Portable.tokens(col("text"))).cast("long").as("n"))
      .groupBy("source").agg(sum("n").as("n_tokens"))
      .localCheckpoint()
    per.crossJoin(broadcast(
        per.agg(sum("n_tokens").as("total"), count(lit(1)).as("k"))))
      .select(col("source"), col("n_tokens"),
        expr("total div k").as("target_tokens"),
        least(lit(10000L), expr("((total div k) * 10000) div n_tokens"))
          .as("keep_rate_bp"))
      .withColumn("planned_tokens", expr("(n_tokens * keep_rate_bp) div 10000"))
      .orderBy("source")
  }

  val mixtureRebalanceSql: String =
    """WITH per AS (
      |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |tot AS (SELECT sum(n_tokens) AS total, count(*) AS k FROM per)
      |SELECT source, n_tokens,
      |  CAST(total // k AS BIGINT) AS target_tokens,
      |  CAST(least(10000, ((total // k) * 10000) // n_tokens) AS BIGINT) AS keep_rate_bp,
      |  CAST((n_tokens * least(10000, ((total // k) * 10000) // n_tokens)) // 10000 AS BIGINT)
      |    AS planned_tokens
      |FROM per, tot ORDER BY source""".stripMargin

  /** Temperature-based mixture reweighting — the standard multilingual/
    * multi-source sampling recipe (q_i ∝ p_i^α with α < 1 upsamples
    * low-resource sources; XLM-style): per source, the raw token share,
    * the temperature-adjusted sampling share, and the boost factor.
    * α = 0.5 here so the power is `sqrt` — bit-portable across engines
    * (general `pow` can differ in the last ulp; sqrt cannot). The α knob
    * generalizes; the registered query pins the portable value. Shares
    * rounded to 4 dp before the boost division so both engines agree at
    * every emitted digit. One corpus scan, ≤|sources| aggregate, one-row
    * broadcast totals — the `mixture_rebalance` plan shape.
    */
  def mixtureTemperature(s: SparkSession, d: String): DataFrame = {
    val per = Tables.documents(s, d)
      .select(col("source"), size(Portable.tokens(col("text"))).cast("long").as("n"))
      .groupBy("source").agg(sum("n").as("n_tokens"))
      .localCheckpoint()
    val tot = per.agg(sum("n_tokens").as("total"))
    val shares = per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("total")).as("p"),
        sqrt(col("n_tokens").cast("double") / col("total")).as("pq"))
    val zsum = shares.agg(sum("pq").as("z"))
    shares.crossJoin(broadcast(zsum))
      .select(col("source"), col("n_tokens"),
        round(col("p"), 4).as("share"),
        round(col("pq") / col("z"), 4).as("sample_share"),
        round((col("pq") / col("z")) / col("p"), 4).as("boost"))
      .orderBy("source")
  }

  val mixtureTemperatureSql: String =
    """WITH per AS (
      |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |tot AS (SELECT sum(n_tokens) AS total FROM per),
      |sh AS (
      |  SELECT source, n_tokens,
      |    CAST(n_tokens AS DOUBLE) / total AS p,
      |    sqrt(CAST(n_tokens AS DOUBLE) / total) AS pq
      |  FROM per CROSS JOIN tot),
      |z AS (SELECT sum(pq) AS z FROM sh)
      |SELECT source, n_tokens,
      |  round(p, 4) AS share,
      |  round(pq / z, 4) AS sample_share,
      |  round((pq / z) / p, 4) AS boost
      |FROM sh CROSS JOIN z ORDER BY source""".stripMargin

  /** Deterministic training-shard assignment — the "global shuffle" a
    * pretraining run needs WITHOUT a global sort: every document gets a
    * portable-hash shard (content-independent, reproducible across runs
    * and engines) and a position within its shard from a SECOND
    * independent hash, so shard choice and within-shard order are
    * decoupled. The per-shard `row_number` window partitions by shard —
    * 8 parallel sorts of n/8 rows each, never one global ordering; at
    * 100 TB each shard's window is its own task set, and the written
    * layout is `partitionBy(shard)` with files internally ordered by the
    * position key.
    */
  /** Shard count and THE shard-key expression — one definition shared by
    * [[shardAssignment]] and [[shardMixAudit]], so the audit can never
    * describe a different sharding than the assignment produces. */
  val ShardCount = 8
  private[graft] def shardKey: org.apache.spark.sql.Column =
    Portable.hash28(concat(lit("shard_"), col("doc_id"))) % ShardCount
  private def shardKeySql: String =
    s"(${Portable.hash28Sql("'shard_' || doc_id")} % $ShardCount)"

  def shardAssignment(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("k"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(Portable.tokens(col("text"))).cast("long").as("n_tokens"),
        shardKey.as("shard"),
        Portable.hash28(concat(lit("pos_"), col("doc_id"))).as("k"))
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("shard"), col("pos"), col("n_tokens"))
      .orderBy("doc_id")
  }

  /** Shard mixing audit — the check that makes [[shardAssignment]]'s
    * output TRUSTABLE for training: per shard, how far its source
    * token-mixture deviates from the global mixture (total-variation
    * distance in integer basis points — half the sum of absolute
    * per-source share differences). A training run that consumes shards
    * sequentially sees each shard's mixture, not the global one, so a
    * shard with high TV silently biases the early curriculum; random
    * hashing should keep every shard's TV small and this report proves
    * it per corpus rather than assuming it.
    *
    * Shape at scale: one corpus scan into (shard × source) partial
    * counts — everything after that aggregate is ≤ shards×sources rows.
    * A dense grid (shard total ⨯ source total) restores combinations a
    * shard happens to miss, so an absent source still contributes its
    * global share to that shard's TV. All-integer arithmetic.
    */
  def shardMixAudit(s: SparkSession, d: String): DataFrame = {
    val cell = Tables.documents(s, d)
      .select(col("source"),
        size(Portable.tokens(col("text"))).cast("long").as("n"),
        shardKey.as("shard"))
      .groupBy("shard", "source")
      .agg(count(lit(1)).as("docs"), sum("n").as("toks"))
    val shardTot = cell.groupBy("shard")
      .agg(sum("docs").as("sdocs"), sum("toks").as("stoks"))
    val srcTot = cell.groupBy("source").agg(sum("toks").as("gtoks"))
    val allTot = cell.agg(sum("toks").as("atoks"))
    shardTot.crossJoin(broadcast(srcTot)).crossJoin(broadcast(allTot))
      .join(cell, Seq("shard", "source"), "left")
      .select(col("shard"), col("sdocs"), col("stoks"),
        expr("coalesce(toks, 0L) * 10000 div greatest(stoks, 1L)").as("shard_bp"),
        expr("gtoks * 10000 div greatest(atoks, 1L)").as("global_bp"))
      .groupBy("shard")
      .agg(first("sdocs").as("n_docs"), first("stoks").as("n_tokens"),
        expr("sum(abs(shard_bp - global_bp)) div 2").as("tv_bp"))
      .orderBy("shard")
  }

  val shardMixAuditSql: String =
    s"""WITH base AS (
       |  SELECT source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
       |    $shardKeySql AS shard
       |  FROM documents),
       |cell AS (
       |  SELECT shard, source, count(*) AS docs, sum(n) AS toks
       |  FROM base GROUP BY 1, 2),
       |st AS (SELECT shard, sum(docs) AS sdocs, sum(toks) AS stoks
       |       FROM cell GROUP BY 1),
       |gt AS (SELECT source, sum(toks) AS gtoks FROM cell GROUP BY 1),
       |at AS (SELECT sum(toks) AS atoks FROM cell),
       |grid AS (
       |  SELECT st.shard, st.sdocs, st.stoks,
       |    coalesce(c.toks, 0) * 10000 // greatest(st.stoks, 1) AS shard_bp,
       |    gt.gtoks * 10000 // greatest(at.atoks, 1) AS global_bp
       |  FROM st CROSS JOIN gt CROSS JOIN at
       |  LEFT JOIN cell c ON c.shard = st.shard AND c.source = gt.source)
       |SELECT shard, CAST(any_value(sdocs) AS BIGINT) AS n_docs,
       |  CAST(any_value(stoks) AS BIGINT) AS n_tokens,
       |  CAST(sum(abs(shard_bp - global_bp)) // 2 AS BIGINT) AS tv_bp
       |FROM grid GROUP BY shard ORDER BY shard""".stripMargin

  val shardAssignmentSql: String = {
    val hs = Portable.hash28Sql("'shard_' || doc_id")
    val hp = Portable.hash28Sql("'pos_' || doc_id")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    ($hs % 8) AS shard, $hp AS k
       |  FROM documents)
       |SELECT doc_id, shard,
       |  CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)
       |    AS INTEGER) AS pos,
       |  n_tokens
       |FROM t ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------- text chunking
  /** Tokens per chunk window (the RAG/pretraining context budget). */
  val ChunkWindow = 64
  /** Window stride — `ChunkWindow - stride` tokens of overlap carry
    * context across chunk boundaries. */
  val ChunkStride = 48

  /** Overlapping token-window chunking — the step that turns curated
    * documents into retrieval/pretraining units: windows of [[ChunkWindow]]
    * tokens starting every [[ChunkStride]] (16-token overlap), the last
    * window truncated at the document end. Emits one row per chunk with
    * its token span and a portable fingerprint of the chunk text (the
    * dedup/lineage key a chunk store indexes on). Pure per-row expression
    * work — `sequence` + `explode` + `slice`, no shuffle before the
    * output sort; at 100 TB chunking is embarrassingly parallel and the
    * fan-out (rows × ~n_tok/stride) is the honest output size.
    */
  def textChunks(s: SparkSession, d: String): DataFrame = {
    Tables.tuneSession(s) // the chunk explode's input is an expensive array
    Tables.parallelize(s, Tables.documents(s, d))
      .select(col("doc_id"), Portable.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
      // n = 0 would make sequence(0, n-1, stride) throw ("Illegal sequence
      // boundaries") where the oracle's range(0, n, stride) silently emits
      // nothing; unreachable while Portable.tokens maps "" to [""], but the
      // filter keeps both sides at the same semantics (drop the document)
      // if tokenization ever learns to drop empty tokens
      .filter(col("n") > 0)
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0), col("n") - 1, lit(ChunkStride))).as("start"))
      .select(
        col("doc_id"),
        (col("start") / ChunkStride).cast("int").as("chunk_id"),
        col("start").cast("long").as("chunk_start"),
        least(lit(ChunkWindow), col("n") - col("start")).cast("long")
          .as("n_chunk_tokens"),
        graft.functions.Portable.hash28(
          concat_ws(" ", slice(col("toks"), col("start") + 1, lit(ChunkWindow))))
          .as("chunk_fp"))
      .orderBy("doc_id", "chunk_id")
  }

  val textChunksSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |    len(string_split(text, ' ')) AS n
       |  FROM documents),
       |starts AS (
       |  SELECT doc_id, toks, n, unnest(range(0, n, $ChunkStride)) AS start
       |  FROM t)
       |SELECT doc_id,
       |  CAST(start // $ChunkStride AS INTEGER) AS chunk_id,
       |  CAST(start AS BIGINT) AS chunk_start,
       |  CAST(least($ChunkWindow, n - start) AS BIGINT) AS n_chunk_tokens,
       |  ${graft.functions.Portable.hash28Sql(
            s"array_to_string(list_slice(toks, start + 1, start + $ChunkWindow), ' ')")}
       |    AS chunk_fp
       |FROM starts ORDER BY doc_id, chunk_id""".stripMargin

  // ------------------------------------------------------------- novelty
  /** Per-document n-gram novelty — the "how much of this document exists
    * nowhere else" selection signal (the inverse of the dup-mass signals in
    * [[graft.operators.Dedup]]): for each document, the share of its
    * DISTINCT word bigrams whose corpus document-frequency is exactly 1,
    * in integer basis points. High-novelty documents carry unique content
    * a selection pass up-weights; near-zero novelty marks template mass.
    *
    * Shape at scale: one tokenize+shingle pass into a per-doc distinct
    * bigram frame (localCheckpoint'd — the textTfidf sibling-scan
    * discipline), one gram-keyed exchange for document frequencies, one
    * doc_id-keyed aggregate back. Totality: every document gets a row —
    * a short doc with zero bigrams reports (0, 0, 0) via the left join +
    * coalesce, never NULL (the quality-gate lesson).
    */
  /** THE distinct-bigram projection `(doc_id, bg)` the novelty family
    * derives from — one copy of the shingle + distinct shape shared by
    * [[ngramNovelty]], [[writeNoveltyModel]] and [[noveltyScoreBatch]],
    * so the in-corpus signal, the persisted document frequencies and the
    * serving path can never disagree about what a "gram" is. */
  private def docBigramsDistinct(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(array_distinct(
      Portable.shingles(Portable.tokens(col("text")), 2))).as("bg"))

  def ngramNovelty(s: SparkSession, d: String): DataFrame = {
    Tables.tuneSession(s) // shingle arrays get exploded
    val grams = docBigramsDistinct(Tables.parallelize(s,
        Tables.documents(s, d).select(col("doc_id"), col("text"))))
      .localCheckpoint()
    val dfq = grams.groupBy("bg").agg(count(lit(1)).as("df"))
    val perDoc = grams.join(dfq, "bg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("novel_grams"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("novel_grams"), lit(0L)).as("novel_grams"))
      .withColumn("novelty_bp",
        expr("(novel_grams * 10000) div greatest(n_grams, 1L)"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------- persisted novelty model
  /** Persist the corpus bigram document frequencies — the novelty family's
    * train-offline/serve-online split (the LM/DSIR/BM25/tokenizer
    * contract): the corpus-wide df relation is computed ONCE and an
    * ingest pipeline scores arriving batches against it without
    * rescanning the corpus. The model is bigram-vocabulary-bounded —
    * the same key space (and therefore the same serving-join class) as
    * the LM's c2 relation: broadcast when it fits, gram-keyed shuffle
    * join when it doesn't.
    */
  def writeNoveltyModel(s: SparkSession, d: String, dir: String): Unit = {
    graft.models.ModelManifest.invalidate(s, dir)
    Tables.tuneSession(s)
    docBigramsDistinct(Tables.parallelize(s,
        Tables.documents(s, d).select(col("doc_id"), col("text"))))
      .groupBy("bg").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$dir/gramdf")
    graft.models.ModelManifest.write(s, dir, "ngram_novelty", d,
      Seq("documents"))
  }

  /** Score a probe batch `(doc_id, text)` against a FROZEN df relation —
    * the serving half of the novelty family, with the generalization the
    * in-corpus query never needs: grams ABSENT from the model
    * (`unseen_grams` — content the corpus has never produced, the
    * ingest-time novelty signal) alongside grams seen exactly once
    * (`rare_grams`, which equals the in-corpus `novel_grams` when the
    * probes ARE the training corpus — the identity NoveltyModelSpec
    * pins). Total: every probe gets a row, zero-gram probes report
    * (0, 0, 0, 0). Output UNORDERED (the serving-path contract).
    */
  def noveltyScoreBatch(probes: DataFrame, gramDf: DataFrame): DataFrame = {
    Tables.tuneSession(probes.sparkSession)
    val perDoc = docBigramsDistinct(probes)
      .join(gramDf, Seq("bg"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df").isNull, 1L).otherwise(0L)).as("unseen_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("rare_grams"))
    probes.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("unseen_grams"), lit(0L)).as("unseen_grams"),
        coalesce(col("rare_grams"), lit(0L)).as("rare_grams"))
      .withColumn("unseen_bp",
        expr("(unseen_grams * 10000) div greatest(n_grams, 1L)"))
  }

  /** Convenience serving entry: read the persisted df relation and score. */
  def noveltyScoreFromModel(s: SparkSession, modelDir: String,
      probes: DataFrame): DataFrame = {
    graft.models.ModelManifest.validate(s, modelDir, "ngram_novelty")
    noveltyScoreBatch(probes, s.read.parquet(s"$modelDir/gramdf"))
  }

  val ngramNoveltySql: String = {
    val sh2 = Portable.shinglesSql(2)
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |g AS (SELECT doc_id, unnest(list_distinct($sh2)) AS bg FROM d),
       |df AS (SELECT bg, count(*) AS df FROM g GROUP BY 1),
       |p AS (SELECT g.doc_id, count(*) AS n_grams,
       |        sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS novel_grams
       |      FROM g JOIN df USING (bg) GROUP BY 1)
       |SELECT docs.doc_id,
       |  CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
       |  CAST(coalesce(p.novel_grams, 0) AS BIGINT) AS novel_grams,
       |  CAST(coalesce(p.novel_grams, 0) * 10000
       |    // greatest(coalesce(p.n_grams, 0), 1) AS BIGINT) AS novelty_bp
       |FROM (SELECT doc_id FROM documents) docs LEFT JOIN p USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------- PMI collocations
  /** Minimum adjacent-pair count for a collocation candidate and the
    * report size. */
  val PmiMinCount: Long = 3L
  val PmiTopK: Int = 10

  /** Corpus collocations by pointwise mutual information — the phrase
    * detector a tokenizer/vocabulary-budget decision reads (which adjacent
    * word pairs co-occur far above chance and deserve a merged vocabulary
    * entry — the statistical cousin of the BPE pair statistic, normalized
    * for marginal frequency instead of raw count):
    *
    *   pmi(x y) = ln(N · c(xy) / (c(x ·) · c(· y)))
    *
    * with the marginals and total N taken over the adjacent-pair relation
    * (the standard contingency-table formulation), a [[PmiMinCount]]
    * support floor to kill one-off flukes, and the top [[PmiTopK]] by
    * (pmi, pair) — pmi rounded to 4 dp BEFORE ranking so both engines
    * agree at rank boundaries (the bm25 contract).
    *
    * Shape at scale: ONE tokenize+shingle pass into pair counts
    * (localCheckpoint'd); marginals and N are vocabulary-bounded
    * aggregates OF that frame (broadcast back); the top-k is a
    * TakeOrderedAndProject, never a global sort.
    */
  def collocationsPmi(s: SparkSession, d: String): DataFrame = {
    Tables.tuneSession(s) // shingle arrays get exploded
    val pairs = Tables.parallelize(s,
        Tables.documents(s, d).select(col("text")))
      .select(explode(Portable.shingles(Portable.tokens(col("text")), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val cx = pairs.groupBy(substring_index(col("bg"), " ", 1).as("x"))
      .agg(sum("cnt").as("cx"))
    val cy = pairs.groupBy(substring_index(col("bg"), " ", -1).as("y"))
      .agg(sum("cnt").as("cy"))
    val tot = pairs.agg(sum("cnt").as("n"))
    pairs.filter(col("cnt") >= PmiMinCount)
      .join(broadcast(cx), substring_index(col("bg"), " ", 1) === col("x"))
      .join(broadcast(cy), substring_index(col("bg"), " ", -1) === col("y"))
      .crossJoin(broadcast(tot))
      .select(col("bg"), col("cnt"),
        // multiply in DOUBLE (matching the oracle's CAST): long N × long
        // cnt overflows 2^63 at real corpus scale (N ~ 10^13) and ANSI
        // mode would throw where the oracle keeps computing
        round(log(col("n").cast("double") * col("cnt") /
          (col("cx").cast("double") * col("cy"))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("bg").asc)
      .limit(PmiTopK)
  }

  val collocationsPmiSql: String = {
    val sh2 = Portable.shinglesSql(2)
    s"""WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
       |bg AS (SELECT unnest($sh2) AS bg FROM w),
       |c AS (SELECT bg, count(*) AS cnt FROM bg GROUP BY 1),
       |cx AS (SELECT split_part(bg, ' ', 1) AS x, sum(cnt) AS cx FROM c GROUP BY 1),
       |cy AS (SELECT split_part(bg, ' ', 2) AS y, sum(cnt) AS cy FROM c GROUP BY 1),
       |n AS (SELECT sum(cnt) AS n FROM c)
       |SELECT c.bg, CAST(c.cnt AS BIGINT) AS cnt,
       |  round(ln(CAST(n.n AS DOUBLE) * c.cnt / (cx.cx * cy.cy)), 4) AS pmi
       |FROM c
       |JOIN cx ON split_part(c.bg, ' ', 1) = cx.x
       |JOIN cy ON split_part(c.bg, ' ', 2) = cy.y
       |CROSS JOIN n
       |WHERE c.cnt >= $PmiMinCount
       |ORDER BY pmi DESC, bg LIMIT $PmiTopK""".stripMargin
  }

  // ------------------------------------------------------- epoch budget
  /** Training token budget the epoch plan is computed for — a plan-time
    * constant standing in for the run's compute budget. */
  val EpochBudgetTokens: Long = 1000000L

  /** Per-source epoch plan — the table a pretraining run derives from its
    * mixture weights (the LLaMA/Gopher recipe tables): allocate the token
    * budget across sources by the TEMPERATURE sampling shares
    * ([[mixtureTemperature]]'s oracle-checked output, consumed verbatim —
    * one definition of the share), then report how many epochs of each
    * source that allocation implies (allocated ÷ available) and the
    * repeat count a data loader provisions (⌈epochs⌉). epochs > 1 is the
    * upsampling-by-repetition regime the temperature boost creates for
    * small sources; a planner reads this table to see repetition BEFORE
    * it trains on it.
    *
    * Shape at scale: everything after [[mixtureTemperature]]'s one scan
    * is arithmetic over a ≤|sources| frame. Derived values come from the
    * ROUNDED 4-dp share (the engine-agreed value), so both engines
    * compute the plan from identical inputs.
    */
  def epochBudget(s: SparkSession, d: String): DataFrame =
    mixtureTemperature(s, d)
      .select(col("source"), col("n_tokens"), col("sample_share"))
      .withColumn("alloc_tokens",
        round(col("sample_share") * EpochBudgetTokens, 0).cast("long"))
      .withColumn("epochs",
        round(col("alloc_tokens").cast("double") / col("n_tokens"), 4))
      .withColumn("n_repeats", ceil(col("epochs")).cast("long"))
      .orderBy("source")

  val epochBudgetSql: String =
    s"""WITH per AS (
       |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT sum(n_tokens) AS total FROM per),
       |sh AS (
       |  SELECT source, n_tokens,
       |    sqrt(CAST(n_tokens AS DOUBLE) / total) AS pq
       |  FROM per CROSS JOIN tot),
       |z AS (SELECT sum(pq) AS z FROM sh),
       |mt AS (SELECT source, n_tokens, round(pq / z, 4) AS sample_share
       |       FROM sh CROSS JOIN z),
       |plan AS (
       |  SELECT source, n_tokens, sample_share,
       |    CAST(round(sample_share * $EpochBudgetTokens) AS BIGINT) AS alloc_tokens
       |  FROM mt)
       |SELECT source, n_tokens, sample_share, alloc_tokens,
       |  round(CAST(alloc_tokens AS DOUBLE) / n_tokens, 4) AS epochs,
       |  CAST(ceil(round(CAST(alloc_tokens AS DOUBLE) / n_tokens, 4)) AS BIGINT)
       |    AS n_repeats
       |FROM plan ORDER BY source""".stripMargin

  // ------------------------------------------------------ source profile
  /** Per-source distribution profile — the length/quality percentile
    * matrix a mixture decision reads next to the share table: token-count
    * quartiles + max and the median surface quality per source. Quartile
    * probabilities only (p·(n−1) lands on exact quarter fractions, so
    * interpolation over the integer values is exactly representable and
    * the `percentile` ↔ `quantile_cont` portable pair cannot float-drift
    * — the curriculum_buckets lesson applied per group).
    *
    * Shape at scale: ONE scan computing (n, quality counts) per doc, one
    * source-keyed aggregate; percentile state is per-group.
    */
  def sourceProfile(s: SparkSession, d: String): DataFrame =
    withQualityCounts(
        Tables.documents(s, d).select(col("source"), col("text")))
      .select(col("source"), col("n"), qualityBpExpr.as("quality_bp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(expr("percentile(n, 0.25)"), 4).as("p25_tokens"),
        round(expr("percentile(n, 0.5)"), 4).as("p50_tokens"),
        round(expr("percentile(n, 0.75)"), 4).as("p75_tokens"),
        max("n").as("max_tokens"),
        round(expr("percentile(quality_bp, 0.5)"), 4).as("p50_quality_bp"))
      .orderBy("source")

  val sourceProfileSql: String =
    s"""WITH t AS (
       |  SELECT source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
       |    len(list_filter(string_split(text, ' '), x -> x = 'the' OR x = 'a')) AS nstop,
       |    len(list_distinct(string_split(text, ' '))) AS ndist
       |  FROM documents),
       |q AS (SELECT source, n, CAST($QualityBpSqlFrag AS BIGINT) AS quality_bp FROM t)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  round(quantile_cont(CAST(n AS DOUBLE), 0.25), 4) AS p25_tokens,
       |  round(quantile_cont(CAST(n AS DOUBLE), 0.5), 4) AS p50_tokens,
       |  round(quantile_cont(CAST(n AS DOUBLE), 0.75), 4) AS p75_tokens,
       |  CAST(max(n) AS BIGINT) AS max_tokens,
       |  round(quantile_cont(CAST(quality_bp AS DOUBLE), 0.5), 4) AS p50_quality_bp
       |FROM q GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------------- entropy
  /** Per-document token-distribution statistics: Shannon entropy (bits),
    * vocabulary size, and hapax count — the standard gibberish / spam /
    * boilerplate detectors a curation pass runs next to the Gopher rules
    * (low entropy = repeated boilerplate; hapax-heavy = OCR noise).
    *
    * Shape: one scan → explode to (doc_id, token) → count → per-doc
    * aggregate. Two exchanges — (doc_id, token) then doc_id — both with
    * map-side partial aggregation and per-key state bounded by the doc
    * vocabulary — linear and executor-local at 100 TB.
    * Entropy uses the shuffle-free identity
    * H = log2(n) − (Σ c·log2 c)/n over per-token counts c.
    */
  def tokenEntropy(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(Portable.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(
        sum("cnt").as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax"),
        round(
          log2(sum("cnt")) -
            sum(col("cnt") * log2(col("cnt"))) / sum("cnt"),
          4).as("entropy_bits"))
      .orderBy("doc_id")

  val tokenEntropySql: String =
    """WITH tk AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |c AS (
      |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS cnt
      |  FROM tk GROUP BY doc_id, tok)
      |SELECT doc_id,
      |  CAST(sum(cnt) AS BIGINT) AS n_tokens,
      |  CAST(count(*) AS BIGINT) AS vocab,
      |  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
      |  round(log2(sum(cnt)) - sum(cnt * log2(cnt)) / sum(cnt), 4)
      |    AS entropy_bits
      |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- readability
  /** Flesch–Kincaid readability per document — the classic quality prior
    * (C4/Gopher-era pipelines bucket on it): grade level and reading-ease
    * from words-per-sentence and syllables-per-word, with syllables
    * approximated by vowel-group runs (`[aeiouy]+`) — the standard
    * dictionary-free heuristic.
    *
    * Pure regexp/arithmetic projection: one codegen'd scan, no shuffle,
    * no UDF — the 100 TB plan is a narrow map over the text column.
    * Sentence count is `max(count of [.!?] runs, 1)` so punctuation-free
    * documents (the fixture's shape) are one sentence, not a div-0.
    */
  def textReadability(s: SparkSession, d: String): DataFrame = {
    val nw = greatest(size(Portable.tokens(col("text"))), lit(1)).cast("double")
    val ns = greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))), lit(1))
      .cast("double")
    val nsyl = size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
      .cast("double")
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        nw.cast("long").as("n_words"),
        ns.cast("long").as("n_sentences"),
        nsyl.cast("long").as("n_syllables"),
        round(lit(0.39) * (nw / ns) + lit(11.8) * (nsyl / nw) - lit(15.59), 4)
          .as("fk_grade"),
        round(lit(206.835) - lit(1.015) * (nw / ns) - lit(84.6) * (nsyl / nw), 4)
          .as("flesch_ease"))
      .orderBy("doc_id")
  }

  val textReadabilitySql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    greatest(len(string_split(text, ' ')), 1)::DOUBLE AS nw,
      |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::DOUBLE AS ns,
      |    len(regexp_extract_all(lower(text), '[aeiouy]+'))::DOUBLE AS nsyl
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(nw AS BIGINT) AS n_words,
      |  CAST(ns AS BIGINT) AS n_sentences,
      |  CAST(nsyl AS BIGINT) AS n_syllables,
      |  round(0.39 * (nw / ns) + 11.8 * (nsyl / nw) - 15.59, 4) AS fk_grade,
      |  round(206.835 - 1.015 * (nw / ns) - 84.6 * (nsyl / nw), 4) AS flesch_ease
      |FROM m ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- blocklist
  /** The blocked-term lexicon for [[blocklistScreen]] — stands in for a
    * C4-style bad-words list; real deployments swap in the full list (the
    * mechanism — broadcast literal array membership inside a codegen'd
    * array filter — is unchanged by lexicon size up to the usual broadcast
    * budget). */
  private[graft] val Blocklist: Seq[String] = Seq("slow", "dup", "big")

  /** C4-style blocklist screen: per-document blocked-term hit rate in
    * integer basis points (hits·10⁴ ÷ tokens — integer division, the
    * [[qualityBpExpr]] discipline, so no rounding semantics cross the
    * oracle boundary), flag at ≥ 800 bp, reported per source.
    *
    * One scan; the lexicon is a plan literal (no join); the only shuffle
    * is the final per-source aggregate with map-side partials.
    */
  /** Per-document blocklist verdict appended to any frame carrying `text`
    * — the df-level seam shared by [[blocklistScreen]] (per-source report
    * tail) and `Streams.streamBlocklistScreen` (ingest-time clean/flagged
    * routing), so the streamed screen can never drift from the batch
    * report. TOTAL by construction: NULL text is scored as empty (0
    * hits → clean) and the bp division is `greatest(n, 1)`-guarded, so no
    * row can fall out of both routes — the quality gate's
    * row-conservation discipline.
    */
  /** Blocklist flag threshold (basis points of blocked-term hits) — ONE
    * definition interpolated into both the Column verdict and the SQL
    * mirror, so tuning it cannot desynchronize the batch report, the
    * oracle, and the streaming clean/flagged routes (which all consume
    * the `flagged` verdict this constant defines). */
  private val BlocklistFlagBp = 800L

  def blocklistVerdicts(docs: DataFrame): DataFrame = {
    val w = Portable.tokens(coalesce(col("text"), lit("")))
    val lex = Blocklist.map(lit)
    docs
      .withColumn("n", size(w).cast("long"))
      .withColumn("hits",
        size(filter(w, t => lex.map(t === _).reduce(_ || _))).cast("long"))
      .withColumn("hit_bp", expr("hits * 10000 div greatest(n, 1)"))
      .withColumn("flagged", col("hit_bp") >= BlocklistFlagBp)
  }

  def blocklistScreen(s: SparkSession, d: String): DataFrame =
    blocklistVerdicts(Tables.documents(s, d).select(col("source"), col("text")))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
        sum("hits").as("total_hits"),
        expr("sum(hits) * 10000 div greatest(sum(n), 1)").as("corpus_hit_bp"))
      .orderBy("source")

  val blocklistScreenSql: String = {
    val inList = Blocklist.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    s"""WITH c AS (
       |  SELECT source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
       |    CAST(len(list_filter(string_split(text, ' '),
       |      t -> t IN ($inList))) AS BIGINT) AS hits
       |  FROM documents),
       |b AS (SELECT source, n, hits,
       |        hits * 10000 // greatest(n, 1) AS hit_bp FROM c)
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN hit_bp >= $BlocklistFlagBp THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       |  CAST(sum(hits) AS BIGINT) AS total_hits,
       |  CAST(sum(hits) * 10000 // greatest(sum(n), 1) AS BIGINT) AS corpus_hit_bp
       |FROM b GROUP BY source ORDER BY source""".stripMargin
  }

  // ------------------------------------------------------------- zipf fit
  /** Corpus-level Zipf law fit: least-squares slope/intercept/R² of
    * log-frequency vs log-rank over the top-1000 token vocabulary — the
    * standard corpus-health check (natural text fits slope ≈ −1; machine
    * spam and template farms bend the curve).
    *
    * Shape: one scan → token counts (map-side partial) →
    * TakeOrderedAndProject for the bounded top-K (distributed top-k, no
    * global window over the full vocabulary) → rank + regression on the
    * ≤ K-row frame. K is the scale knob: the full-vocabulary frame never
    * materializes on one node. The regression uses explicit Σx/Σy/Σxy/Σx²
    * sums — the same arithmetic DuckDB's mirror runs — rather than each
    * engine's regr_* implementation, so the two cannot diverge in
    * accumulation algorithm.
    */
  def zipfFit(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val topK = 1000
    val counts = Tables.documents(s, d)
      .select(explode(Portable.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val top = counts.orderBy(col("cnt").desc, col("tok").asc).limit(topK)
    val ranked = top
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("tok").asc)))
      .select(log(col("rank").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
    ranked.agg(
      count(lit(1)).as("k_tokens"),
      count(lit(1)).cast("double").as("nn"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
      // nullif guards: a degenerate corpus (single distinct token → one
      // regression point) zeroes both variance terms; NULL is the portable
      // "fit undefined" answer, where bare division would produce
      // engine-specific NaN/Inf that hash-compare differently
      .withColumn("cov", col("nn") * col("sxy") - col("sx") * col("sy"))
      .withColumn("dx", expr("nullif(nn * sxx - sx * sx, 0.0)"))
      .withColumn("dy", expr("nullif(nn * syy - sy * sy, 0.0)"))
      .select(
        col("k_tokens"),
        round(col("cov") / col("dx"), 4).as("zipf_slope"),
        round((col("sy") - col("sx") * (col("cov") / col("dx"))) / col("nn"), 4)
          .as("zipf_intercept"),
        round(col("cov") * col("cov") / (col("dx") * col("dy")), 4).as("r2"))
  }

  val zipfFitSql: String =
    """WITH c AS (
      |  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
      |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY tok ORDER BY cnt DESC, tok LIMIT 1000),
      |r AS (
      |  SELECT ln(row_number() OVER (ORDER BY cnt DESC, tok)::DOUBLE) AS x,
      |         ln(cnt::DOUBLE) AS y
      |  FROM c),
      |s AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k_tokens, count(*)::DOUBLE AS nn,
      |    sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
      |    sum(x*x) AS sxx, sum(y*y) AS syy
      |  FROM r),
      |g AS (
      |  SELECT k_tokens, nn, sx, sy,
      |    nn*sxy - sx*sy AS cov,
      |    nullif(nn*sxx - sx*sx, 0.0) AS dx,
      |    nullif(nn*syy - sy*sy, 0.0) AS dy
      |  FROM s)
      |SELECT k_tokens,
      |  round(cov / dx, 4) AS zipf_slope,
      |  round((sy - sx * (cov / dx)) / nn, 4) AS zipf_intercept,
      |  round(cov * cov / (dx * dy), 4) AS r2
      |FROM g""".stripMargin

  // ------------------------------------------------------------- fertility
  /** Tokenizer fertility audit per language: how well the frozen BPE merge
    * table compresses each language's text — tokens-after over
    * tokens-before in integer basis points, plus characters per post-BPE
    * token. The standard multilingual-tokenizer health check: a merge
    * table trained on the majority language under-compresses the others,
    * and this report is where that shows up.
    *
    * Reuses [[bpeApplyFrozen]]'s chained-literal-replace projection (one
    * codegen corpus pass, ≤ 20-row driver merge list — the sanctioned
    * bounded collect) joined back to the language column; the only
    * shuffle is the per-language aggregate. Ratios are integer bp or
    * 4-dp-rounded sums-of-longs, so the oracle cannot drift.
    */
  def tokenizerFertility(s: SparkSession, d: String): DataFrame = {
    val merges: Seq[String] =
      bpePairCounts(s, d).collect().map(_.getString(0)).toSeq
    val applied = bpeApplyFrozen(
      Tables.documents(s, d).select(col("doc_id"), col("text")), merges)
    val langs = Tables.documents(s, d).select(col("doc_id"), col("lang"),
      length(regexp_replace(col("text"), " ", "")).cast("long").as("nchars"))
    applied.join(langs, "doc_id")
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok_before").cast("long")).as("tokens_before"),
        sum(col("n_tok_after").cast("long")).as("tokens_after"),
        sum("n_merges_applied").as("merges_applied"),
        expr("sum(CAST(n_tok_after AS BIGINT)) * 10000" +
          " div sum(CAST(n_tok_before AS BIGINT))").as("compression_bp"),
        round(sum(col("nchars")).cast("double") /
          sum(col("n_tok_after").cast("long")), 4).as("chars_per_token"))
      .orderBy("lang")
  }

  val tokenizerFertilitySql: String = {
    val shingles2 = Portable.shinglesSql(2)
    s"""WITH RECURSIVE
       |w AS (SELECT string_split(text, ' ') AS w FROM documents),
       |prs AS (SELECT unnest($shingles2) AS pair FROM w),
       |top AS (
       |  SELECT pair, count(*) AS cnt FROM prs GROUP BY 1
       |  ORDER BY cnt DESC, pair LIMIT 20),
       |m AS (
       |  SELECT ' ' || pair || ' ' AS pat,
       |    ' ' || replace(pair, ' ', '▁') || ' ' AS rep,
       |    row_number() OVER (ORDER BY cnt DESC, pair) AS rnk
       |  FROM top),
       |apply(doc_id, s, i) AS (
       |  SELECT doc_id, ' ' || text || ' ', 0 FROM documents
       |  UNION ALL
       |  SELECT a.doc_id, replace(replace(a.s, m.pat, m.rep), m.pat, m.rep),
       |    a.i + 1
       |  FROM apply a JOIN m ON m.rnk = a.i + 1),
       |fin AS (
       |  SELECT doc_id, s FROM apply WHERE i = (SELECT count(*) FROM m)),
       |per AS (
       |  SELECT d.lang,
       |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS tb,
       |    CAST(len(string_split(f.s, ' ')) - 2 AS BIGINT) AS ta,
       |    CAST(length(f.s) - length(replace(f.s, '▁', '')) AS BIGINT) AS ma,
       |    CAST(length(replace(d.text, ' ', '')) AS BIGINT) AS nchars
       |  FROM fin f JOIN documents d ON d.doc_id = f.doc_id)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(tb) AS BIGINT) AS tokens_before,
       |  CAST(sum(ta) AS BIGINT) AS tokens_after,
       |  CAST(sum(ma) AS BIGINT) AS merges_applied,
       |  CAST(sum(ta) * 10000 // sum(tb) AS BIGINT) AS compression_bp,
       |  round(CAST(sum(nchars) AS DOUBLE) / sum(ta), 4) AS chars_per_token
       |FROM per GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ------------------------------------------------------------- code-switch
  /** Code-switching / mixed-language detection: language-ID the document
    * in 20-token windows and report how many distinct languages its
    * chunks vote for — mixed documents are the class whole-document
    * language-ID silently mislabels, and a multilingual curation pass
    * routes them separately (split, re-ID, or drop).
    *
    * Reuses [[textLangId]]'s bigram-profile argmax verbatim per chunk
    * (literal profile arrays, struct-greatest, ties to the alphabetically
    * largest language). One scan → chunk explode (bounded fan-out:
    * tokens/20 rows per doc) → per-chunk narrow projection → two
    * doc-keyed aggregates. The dominant language is a field-wise struct
    * max over (count, lang) — the oracle replays it with a zero-padded
    * sortable key, the [[textLangId]] printf discipline.
    */
  def codeSwitchReport(s: SparkSession, d: String): DataFrame = {
    val cs = 20
    // coalesce: a NULL text would null the chunk array and explode() would
    // silently drop the row from the report — the anti-totality failure
    // mode the gate discipline forbids; as empty text it votes one chunk
    val chunks = Tables.documents(s, d)
      .select(col("doc_id"),
        Portable.tokens(coalesce(col("text"), lit(""))).as("w"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, CAST((size(w) + ${cs - 1}) div $cs AS INT) - 1)," +
          s" i -> concat_ws(' ', slice(w, i * $cs + 1, $cs)))")).as("chunk"))
      .withColumn("stripped", regexp_replace(col("chunk"), " ", ""))
      .withColumn("bigrams", array_distinct(
        expr("transform(sequence(1, greatest(length(stripped) - 1, 1))," +
          " i -> substr(stripped, i, 2))")))
    val scored = langProfiles.toSeq.sortBy(_._1).map { case (lang, prof) =>
      struct(
        size(array_intersect(col("bigrams"), array(prof.map(lit): _*))).as("score"),
        lit(lang).as("plang"))
    }
    val perChunk = chunks
      .withColumn("best", greatest(scored: _*))
      .select(col("doc_id"), col("best.plang").as("plang"))
    perChunk.groupBy("doc_id", "plang").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(
        sum("cnt").as("n_chunks"),
        count(lit(1)).as("n_langs"),
        max(struct(col("cnt"), col("plang"))).as("dm"))
      .select(col("doc_id"), col("n_chunks"), col("n_langs"),
        col("dm.plang").as("dominant_lang"),
        (col("n_langs") > 1).as("mixed"))
      .orderBy("doc_id")
  }

  val codeSwitchReportSql: String = {
    val scoreCols = langProfiles.toSeq.sortBy(_._1).map { case (lang, prof) =>
      val lst = prof.map(p => s"'$p'").mkString(", ")
      s"len(list_intersect(bigrams, [$lst])) AS s_$lang"
    }.mkString(",\n      |    ").stripMargin
    val keys = langProfiles.keys.toSeq.sorted
      .map(l => s"printf('%02d', s_$l) || '$l'").mkString(", ")
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |ch AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(0, (len(w) + 19) // 20),
       |    i -> array_to_string(w[(i * 20 + 1):(i * 20 + 20)], ' '))) AS chunk
       |  FROM w),
       |st AS (SELECT doc_id, replace(chunk, ' ', '') AS stripped FROM ch),
       |b AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(length(stripped) - 1, 1) + 1),
       |    i -> substring(stripped, CAST(i AS INTEGER), 2))) AS bigrams
       |  FROM st),
       |s AS (SELECT doc_id, $scoreCols FROM b),
       |k AS (SELECT doc_id, substring(greatest($keys), 3) AS plang FROM s),
       |c AS (SELECT doc_id, plang, CAST(count(*) AS BIGINT) AS cnt
       |      FROM k GROUP BY 1, 2)
       |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chunks,
       |  CAST(count(*) AS BIGINT) AS n_langs,
       |  substring(max(printf('%06d', cnt) || plang), 7) AS dominant_lang,
       |  count(*) > 1 AS mixed
       |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------- source KL
  /** Per-source token-distribution divergence from the corpus:
    * add-1-smoothed KL(source ‖ corpus) over the corpus's top-500 token
    * support — the domain-shift diagnostic next to `mixture_drift` (which
    * compares source SHARES; this compares what each source actually
    * SAYS). A source whose KL spikes is off-distribution — new crawl
    * seed, template farm, or language drift — before any model sees it.
    *
    * Shape: one scan → (source, token) counts (map-side partials) →
    * bounded top-K support (TakeOrderedAndProject, never a full-vocab
    * window) → sources × support (both bounded, broadcast) left-joined
    * to counts. All probabilities are explicit double ratios with the
    * identical formula in the oracle; KL in nats, round 6.
    */
  def sourceTokenKl(s: SparkSession, d: String): DataFrame = {
    val topK = 500
    val tok = Tables.documents(s, d)
      .select(col("source"), explode(Portable.tokens(col("text"))).as("tok"))
    val bySrc = tok.groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // support, totals, and the join all read it
    val support = bySrc.groupBy("tok").agg(sum("cnt").as("ccnt"))
      .orderBy(col("ccnt").desc, col("tok").asc).limit(topK)
    // kk is the ACTUAL support size (≤ topK — a small vocabulary yields
    // fewer), used in the smoothing denominator exactly as the oracle
    // does. sn is the source's SUPPORT-restricted token count, so the
    // smoothed p sums to exactly 1 over the support — off-support tokens
    // must not siphon probability mass, or an entirely-novel source
    // would score NEAR-ZERO KL instead of spiking (the failure mode the
    // drift spec plants).
    val corpusN = support.agg(
      count(lit(1)).cast("double").as("kk"), sum("ccnt").cast("double").as("cn"))
    val srcTotals = bySrc.select("source").distinct()
      .join(bySrc.join(broadcast(support.select("tok")), "tok")
        .groupBy("source").agg(sum("cnt").as("snr")), Seq("source"), "left")
      .select(col("source"), coalesce(col("snr"), lit(0L)).as("sn"))
    val grid = srcTotals.crossJoin(broadcast(support))
      .join(bySrc, Seq("source", "tok"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .crossJoin(broadcast(corpusN))
      .withColumn("p", (col("cnt") + lit(1.0)) / (col("sn") + col("kk")))
      .withColumn("q", col("ccnt").cast("double") / col("cn"))
    grid.groupBy("source")
      .agg(
        count(lit(1)).as("k_support"),
        round(sum(col("p") * log(col("p") / col("q"))), 6).as("kl_nats"))
      .orderBy("source")
  }

  val sourceTokenKlSql: String =
    """WITH tk AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
      |bysrc AS (
      |  SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
      |  FROM tk GROUP BY 1, 2),
      |support AS (
      |  SELECT tok, sum(cnt) AS ccnt FROM bysrc GROUP BY tok
      |  ORDER BY ccnt DESC, tok LIMIT 500),
      |k AS (SELECT count(*)::DOUBLE AS kk, sum(ccnt)::DOUBLE AS cn FROM support),
      |tsup AS (
      |  SELECT b.source, sum(b.cnt) AS snr
      |  FROM bysrc b JOIN support s ON b.tok = s.tok GROUP BY b.source),
      |tot AS (
      |  SELECT source, coalesce(t.snr, 0) AS sn
      |  FROM (SELECT DISTINCT source FROM bysrc) src
      |  LEFT JOIN tsup t USING (source)),
      |grid AS (
      |  SELECT t.source, s.tok, s.ccnt, t.sn, coalesce(b.cnt, 0) AS cnt
      |  FROM tot t CROSS JOIN support s
      |  LEFT JOIN bysrc b ON b.source = t.source AND b.tok = s.tok),
      |pq AS (
      |  SELECT source,
      |    (cnt + 1.0) / (sn + (SELECT kk FROM k)) AS p,
      |    ccnt::DOUBLE / (SELECT cn FROM k) AS q
      |  FROM grid)
      |SELECT source, CAST(count(*) AS BIGINT) AS k_support,
      |  round(sum(p * ln(p / q)), 6) AS kl_nats
      |FROM pq GROUP BY source ORDER BY source""".stripMargin

  /** Persist the corpus token-distribution model behind [[sourceTokenKl]]
    * — the top-500 support with corpus probabilities (plus the support
    * size and mass as a one-row meta) — the train-offline half of the
    * drift monitor's serving split. |model| = support rows + 1. */
  def writeTokenKlModel(s: SparkSession, d: String, dir: String): Unit = {
    graft.models.ModelManifest.invalidate(s, dir)
    val topK = 500
    val support = Tables.documents(s, d)
      .select(explode(Portable.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("ccnt"))
      .orderBy(col("ccnt").desc, col("tok").asc).limit(topK)
      .localCheckpoint() // written AND aggregated below
    support.write.mode("overwrite").parquet(s"$dir/support")
    support.agg(count(lit(1)).cast("double").as("kk"),
        sum("ccnt").cast("double").as("cn"))
      .write.mode("overwrite").parquet(s"$dir/meta")
    graft.models.ModelManifest.write(s, dir, "token_kl", d,
      Seq("documents"), Seq("top_k" -> topK.toString))
  }

  /** Score one batch of `(doc_id, text)` rows against the persisted
    * token-distribution model: the batch's pooled add-1-smoothed KL vs
    * the training corpus — the ingest drift alarm ([[sourceTokenKl]]'s
    * per-source arithmetic, served). Returns ONE row (n_docs, n_tokens,
    * kl_nats): a spiking series of these is the earliest signal that a
    * crawl went off-distribution. The model relations are
    * caller-provided so a stream caches them once. */
  def tokenKlScoreBatch(batch: DataFrame, support: DataFrame,
      meta: DataFrame): DataFrame = {
    val cnt = batch
      .select(explode(Portable.tokens(coalesce(col("text"), lit("")))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // read by the support total and the score join
    // support-restricted total sn: the smoothed p must sum to 1 over the
    // support, or an all-novel batch scores ~0 instead of spiking.
    // n_tokens stays the FULL batch total, and in_support_bp reports
    // coverage — the second drift signal (an off-distribution crawl shows
    // up as coverage collapse even before the KL over support moves)
    val totals = cnt
      .join(broadcast(support.select(col("tok"), lit(1).as("insup"))),
        Seq("tok"), "left")
      .agg(
        coalesce(sum("cnt"), lit(0L)).as("n_total"),
        coalesce(sum(when(col("insup") === 1, col("cnt"))), lit(0L))
          .cast("double").as("sn"))
    val ndocs = batch.agg(count(lit(1)).as("n_docs"))
    broadcast(support)
      .join(cnt, Seq("tok"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .crossJoin(broadcast(meta))
      .crossJoin(broadcast(totals))
      .withColumn("p", (col("cnt") + lit(1.0)) / (col("sn") + col("kk")))
      .withColumn("q", col("ccnt").cast("double") / col("cn"))
      .agg(round(sum(col("p") * log(col("p") / col("q"))), 6).as("kl_nats"),
        first(col("n_total")).as("n_tokens"),
        round(first(col("sn")) * 10000.0 /
          greatest(first(col("n_total")).cast("double"), lit(1.0)), 0)
          .cast("long").as("in_support_bp"))
      .crossJoin(broadcast(ndocs))
      .select(col("n_docs"), col("n_tokens"), col("in_support_bp"),
        col("kl_nats"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "source_token_kl" -> (sourceTokenKl _),
    "code_switch_report" -> (codeSwitchReport _),
    "tokenizer_fertility" -> (tokenizerFertility _),
    "token_entropy" -> (tokenEntropy _),
    "text_readability" -> (textReadability _),
    "blocklist_screen" -> (blocklistScreen _),
    "zipf_fit" -> (zipfFit _),
    "epoch_budget" -> (epochBudget _),
    "source_profile" -> (sourceProfile _),
    "ngram_novelty" -> (ngramNovelty _),
    "collocations_pmi" -> (collocationsPmi _),
    "text_chunks" -> (textChunks _),
    "quality_threshold_sweep" -> (qualityThresholdSweep _),
    "curriculum_buckets" -> (curriculumBuckets _),
    "ngram_top_per_source" -> (ngramTopPerSource _),
    "mixture_temperature" -> (mixtureTemperature _),
    "shard_assignment" -> (shardAssignment _),
    "shard_mix_audit" -> (shardMixAudit _),
    "vocab_coverage" -> ((s: SparkSession, d: String) => vocabCoverage(s, d)),
    "length_histogram" -> (lengthHistogram _),
    "mixture_rebalance" -> (mixtureRebalance _),
    "bpe_pair_counts" -> (bpePairCounts _),
    "bpe_apply_merges" -> (bpeApplyMerges _),
    "heavy_hitters_exact" -> (heavyHittersExact _),
    "frequent_items_sketch" -> (frequentItemsSketch _),
    "source_mix_report" -> (sourceMixReport _),
    "corpus_funnel" -> (corpusFunnel _),
    "pii_scrub" -> (piiScrub _),
    "text_repetition" -> (textRepetition _),
    "text_tfidf" -> (textTfidf _),
    "text_token_stats" -> (textTokenStats _),
    "text_quality" -> (textQuality _),
    "quality_gopher" -> (qualityGopher _),
    "gate_rule_matrix" -> (gateRuleMatrix _),
    "token_count" -> (tokenCount _),
    "text_fingerprint" -> (textFingerprint _),
    "text_rolling_hash" -> (textRollingHash _),
    "text_edit_distance" -> (textEditDistance _),
    "edit_screen" -> (editScreen _),
    "edit_screen_grow" -> (editScreenGrow _),
    "text_langid" -> (textLangId _))

  def oracles: Map[String, String] = Map(
    "source_token_kl" -> sourceTokenKlSql,
    "code_switch_report" -> codeSwitchReportSql,
    "tokenizer_fertility" -> tokenizerFertilitySql,
    "token_entropy" -> tokenEntropySql,
    "text_readability" -> textReadabilitySql,
    "blocklist_screen" -> blocklistScreenSql,
    "zipf_fit" -> zipfFitSql,
    "epoch_budget" -> epochBudgetSql,
    "source_profile" -> sourceProfileSql,
    "ngram_novelty" -> ngramNoveltySql,
    "collocations_pmi" -> collocationsPmiSql,
    "text_chunks" -> textChunksSql,
    "quality_threshold_sweep" -> qualityThresholdSweepSql,
    "curriculum_buckets" -> curriculumBucketsSql,
    "ngram_top_per_source" -> ngramTopPerSourceSql,
    "mixture_temperature" -> mixtureTemperatureSql,
    "shard_assignment" -> shardAssignmentSql,
    "shard_mix_audit" -> shardMixAuditSql,
    "vocab_coverage" -> vocabCoverageSql,
    "length_histogram" -> lengthHistogramSql,
    "mixture_rebalance" -> mixtureRebalanceSql,
    "bpe_pair_counts" -> bpePairCountsSql,
    "bpe_apply_merges" -> bpeApplyMergesSql,
    "heavy_hitters_exact" -> heavyHittersExactSql,
    "frequent_items_sketch" -> frequentItemsSketchSql,
    "source_mix_report" -> sourceMixReportSql,
    "corpus_funnel" -> corpusFunnelSql,
    "pii_scrub" -> piiScrubSql,
    "text_repetition" -> textRepetitionSql,
    "text_tfidf" -> textTfidfSql,
    "text_token_stats" -> textTokenStatsSql,
    "text_quality" -> textQualitySql,
    "quality_gopher" -> qualityGopherSql,
    "gate_rule_matrix" -> gateRuleMatrixSql,
    "token_count" -> tokenCountSql,
    "text_fingerprint" -> textFingerprintSql,
    "text_rolling_hash" -> textRollingHashSql,
    "text_edit_distance" -> textEditDistanceSql,
    "edit_screen" -> editScreenSql,
    "edit_screen_grow" -> editScreenGrowSql,
    "text_langid" -> textLangIdSql)
}
