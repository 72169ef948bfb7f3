package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.operators.Checkpoints

/** Data-governance operators for the curation pipeline (round 10, second
  * half): the release-gate checks a training-data platform runs BEFORE a
  * corpus ships — k-anonymity profiling of quasi-identifier groups,
  * exact-integer distribution-drift measurement between corpus
  * generations, and blocked edit-distance fuzzy matching (the
  * low-tech complement to MinHash for short fields like titles).
  *
  * Scale posture (100 TB):
  *  - k-anonymity is two hash aggregates: (lang, source, bucket) group
  *    sizes with map-side partials, then a per-lang rollup of the group
  *    table — the second input is group-cardinality-sized, never
  *    corpus-sized.
  *  - Drift compares per-(lang, bucket) histograms of two generations.
  *    Each histogram is one aggregation of its generation; the compare
  *    joins histogram-sized tables. Total-variation distance is kept in
  *    EXACT BIGINT arithmetic (|n1·N2 − n2·N1| summed, then one integer
  *    division) so both engines agree bit-for-bit — no float probability
  *    ever materializes.
  *  - Fuzzy match generates candidates ONLY within (lang, first-token,
  *    length-bucket) blocks — an equi-join, so pair volume scales with
  *    Σ block² not corpus², and the quadratic term is bounded by the
  *    largest block (the standard blocking argument; skewed blocks are
  *    AQE skew-join territory). Levenshtein runs on 32-char prefixes,
  *    codegen'd, scan-local after the join.
  */
object GovernanceOps {

  // ======================================================== k-anonymity

  /** k-anonymity profile over the quasi-identifier (lang, source,
    * 128-char length bucket) at k=5 — the suppression accounting a
    * privacy review asks for: how many QI groups are too small to
    * release, how many documents they strand, and the k actually
    * achieved by the surviving groups. */
  def hKAnonymity(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(kAnonymityBody("DIV"))
  }

  private def kAnonymityBody(div: String): String =
    s"""WITH g AS (
      |  SELECT lang, source, n_chars $div 128 AS len_bucket, count(*) AS n
      |  FROM documents GROUP BY lang, source, n_chars $div 128)
      |SELECT lang,
      |  count(*) AS n_groups,
      |  CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS suppressed_groups,
      |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS suppressed_docs,
      |  CAST(sum(CASE WHEN n >= 5 THEN n ELSE 0 END) AS BIGINT) AS kept_docs,
      |  CAST(coalesce(min(CASE WHEN n >= 5 THEN n END), 0) AS BIGINT) AS k_achieved
      |FROM g GROUP BY lang ORDER BY lang""".stripMargin

  val hKAnonymitySql: String = kAnonymityBody("//")

  // ================================================== distribution drift

  /** Distribution drift between two corpus generations — the monitoring
    * check a recurring crawl runs to catch a changed upstream: per-lang
    * total-variation distance between the 64-char length-bucket
    * histograms of v1 (the corpus) and v2 (the same deterministic
    * derivation h_corpus_diff uses: every 11th doc dropped, every 7th
    * mutated by the first-word strip, every 13th replayed as new).
    *
    * TVD = ½ Σ_b |n1_b/N1 − n2_b/N2| is computed as the exact integer
    * Σ|n1·N2 − n2·N1| and reported in millis via one integer division —
    * partitioning-independent, bit-identical cross-engine. */
  def hDistDrift(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(distDriftBody("DIV", "'^\\\\S+\\\\s+'"))
  }

  private def distDriftBody(div: String, stripRe: String): String =
    s"""WITH v1 AS (SELECT lang, length(text) $div 64 AS b FROM documents),
      |v2 AS (
      |  SELECT lang, length(CASE WHEN doc_id % 7 = 0
      |    THEN regexp_replace(text, $stripRe, '') ELSE text END) $div 64 AS b
      |  FROM documents WHERE doc_id % 11 <> 0
      |  UNION ALL
      |  SELECT lang, length(concat('new ', text)) $div 64 AS b
      |  FROM documents WHERE doc_id % 13 = 0),
      |c1 AS (SELECT lang, b, count(*) AS n FROM v1 GROUP BY lang, b),
      |c2 AS (SELECT lang, b, count(*) AS n FROM v2 GROUP BY lang, b),
      |j AS (
      |  SELECT coalesce(c1.lang, c2.lang) AS lang,
      |    coalesce(c1.n, 0) AS n1, coalesce(c2.n, 0) AS n2
      |  FROM c1 FULL OUTER JOIN c2 ON c1.lang = c2.lang AND c1.b = c2.b),
      |w AS (
      |  SELECT lang, n1, n2,
      |    CAST(sum(n1) OVER (PARTITION BY lang) AS BIGINT) AS na,
      |    CAST(sum(n2) OVER (PARTITION BY lang) AS BIGINT) AS nb
      |  FROM j)
      |SELECT lang, min(na) AS n_v1, min(nb) AS n_v2,
      |  count(*) AS n_buckets,
      |  CAST(sum(abs(n1 * nb - n2 * na)) AS BIGINT) AS tvd_num,
      |  CAST(sum(abs(n1 * nb - n2 * na)) * 500 $div (min(na) * min(nb)) AS BIGINT) AS tvd_millis
      |FROM w GROUP BY lang ORDER BY lang""".stripMargin

  val hDistDriftSql: String = distDriftBody("//", raw"'^\S+\s+'")

  // ====================================================== fuzzy matching

  /** Blocked fuzzy matching on 32-char document prefixes ("titles"):
    * candidate pairs share (lang, first token, 64-char total-length
    * bucket) — an equi-join block key — and are scored by Levenshtein
    * edit distance, the near-dup signal for SHORT fields where MinHash
    * shingles are degenerate. Reports per-lang candidate volume, exact
    * collisions (d=0), fuzzy matches (1 ≤ d ≤ 5), and the summed
    * distance of the fuzzy band. */
  def hFuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(fuzzyBody("DIV"))
  }

  private def fuzzyBody(div: String): String =
    s"""WITH t AS (
      |  SELECT doc_id, lang, substring(text, 1, 32) AS title,
      |    split_part(text, ' ', 1) AS w0, length(text) $div 64 AS lb
      |  FROM documents),
      |p AS (
      |  SELECT a.lang AS lang, levenshtein(a.title, b.title) AS d
      |  FROM t a JOIN t b
      |    ON a.lang = b.lang AND a.w0 = b.w0 AND a.lb = b.lb
      |    AND a.doc_id < b.doc_id)
      |SELECT lang, count(*) AS n_candidates,
      |  CAST(sum(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
      |  CAST(sum(CASE WHEN d BETWEEN 1 AND 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_fuzzy,
      |  CAST(sum(CASE WHEN d BETWEEN 1 AND 5 THEN d ELSE 0 END) AS BIGINT) AS sum_dist
      |FROM p GROUP BY lang ORDER BY lang""".stripMargin

  val hFuzzyMatchSql: String = fuzzyBody("//")

  // ============================================================ DP release

  /** Differentially-private AGGREGATE RELEASE mechanics — the noised
    * statistics table a corpus platform publishes when exact per-group
    * counts are themselves sensitive (the k-anonymity report's
    * complement: suppress small groups there, noise the released numbers
    * here), with the ε ledger a privacy review audits. Per (lang,
    * metric ∈ {docs, tokens}): the true value, a symmetric-geometric
    * noise draw (the discrete-Laplace family at scale b = 1/ln 2 ⇒
    * ε = ln 2 per release), the clamped released value, and the
    * sequential-composition ledger (two releases per lang ⇒ 2·ln 2
    * spent). The noise is DETERMINISTIC-BY-DRAW so the release is
    * reproducible and cross-engine exact: the draw is the first 24 md5
    * bits of (metric | lang); the magnitude is the draw's TRAILING-ZERO
    * count (a uniform integer's trailing zeros are exactly
    * Geometric(½): P(k) = 2^(−k−1), capped at 20 by OR-ing bit 20 in),
    * the sign is draw bit 21 — giving P(0) = ½, P(±k) = 2^(−k−2), the
    * two-sided geometric ratio-½ ladder (spec-pinned by exhaustive
    * enumeration). A production system swaps the md5 draw for a real
    * RNG; every other number in the release is unchanged.
    *
    * Scale shape: one scan collapses to |langs|×2 rows; everything after
    * is control-plane algebra on that dimension-sized table. */
  def hDpRelease(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(dpReleaseBody(
      draw = "CAST(conv(substring(md5(concat(metric, '|', lang)), 1, 6), 16, 10) AS BIGINT)",
      ntoks = "size(split(text, ' '))"))
  }

  private def dpReleaseBody(draw: String, ntoks: String): String =
    s"""WITH m AS (
      |  SELECT lang, 'docs' AS metric, CAST(count(*) AS BIGINT) AS true_value
      |  FROM documents GROUP BY lang
      |  UNION ALL
      |  SELECT lang, 'tokens' AS metric, CAST(sum($ntoks) AS BIGINT) AS true_value
      |  FROM documents GROUP BY lang),
      |d AS (
      |  SELECT lang, metric, true_value, $draw AS draw FROM m),
      |n AS (
      |  SELECT lang, metric, true_value,
      |    (CASE WHEN (draw >> 21) & 1 = 1 THEN 1 ELSE -1 END)
      |      * (length(bin((draw | 1048576) & -(draw | 1048576))) - 1) AS noise
      |  FROM d)
      |SELECT lang, metric, true_value,
      |  CAST(noise AS BIGINT) AS noise,
      |  CAST(greatest(0, true_value + noise) AS BIGINT) AS released,
      |  CAST(abs(greatest(0, true_value + noise) - true_value) AS BIGINT) AS abs_err,
      |  CAST(1 AS BIGINT) AS eps_ln2_units,
      |  CAST(2 AS BIGINT) AS lang_total_eps_ln2
      |FROM n ORDER BY lang, metric""".stripMargin

  /** DuckDB twin: identical draw, trailing-zeros noise and ledger. */
  val hDpReleaseSql: String = dpReleaseBody(
    draw = "CAST(concat('0x', substring(md5(concat(metric, '|', lang)), 1, 6)) AS BIGINT)",
    ntoks = "len(string_split(text, ' '))")

  // =========================================================== PII census

  /** PII pattern census + scrub VERIFICATION — the detection side the
    * governance family lacked (round-19 verdict item 4a):
    * [[LlmOps.hScrubRedact]] accounts for a replacement pass but never
    * proves what it caught. Since the synthetic corpus plants no true PII
    * (TESTDATA.md), the audit deterministically plants email/phone/ID-shaped
    * spans from an md5(doc_id) draw (~1/5 of docs get an email, ~1/7 a
    * phone, ~1/11 an ID) PLUS, on ~1/3 of docs, a DECOY suffix
    * (`u@ mail`, `555-012345678`, `ID-12-Q`) sharing each pattern's
    * surface shape but deliberately outside it — an over-greedy detector
    * catches decoys and fails `detect_exact`; an under-greedy one misses
    * planted spans and fails it from the other side. The scrub pass
    * replaces each pattern with its tag and the detectors re-run on the
    * scrubbed text: `n_resid` must be 0. Per (lang, pattern): doc counts,
    * hit counts, planted counts, both verification flags, hit density ‰
    * and total matched span chars — the census a privacy review reads
    * before shipping a corpus. Regexes are RE2-safe (no lookaround), so
    * both engines run the identical patterns.
    *
    * Scale shape: planting, the three detectors, the scrub and the
    * residual re-detection are ALL scan-local; per-doc counts unpivot
    * through a bounded 3-element explode and collapse in ONE
    * (lang, pattern)-keyed aggregate with map-side partials — one
    * exchange at any corpus size. */
  /** The deterministic PII planting (synthesis side): docs → planted text
    * + per-pattern expectation flags. Batch-only — the twin consumes the
    * planted crawl stream the way StreamingDomainRollup consumes the
    * fetch log. */
  private[graft] def piiPlanted(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH p AS (
        |  SELECT doc_id, lang, text,
        |    CAST(conv(substr(md5(concat('pii', CAST(doc_id AS STRING))), 1, 15), 16, 10)
        |      AS BIGINT) AS h
        |  FROM documents)
        |SELECT doc_id, lang,
        |  concat(text,
        |    CASE WHEN h % 5 = 0 THEN concat(' contact u', CAST(h % 97 AS STRING),
        |      '@mail', CAST(h % 7 AS STRING), '.example.com now') ELSE '' END,
        |    CASE WHEN h % 7 = 0 THEN concat(' call 555-01',
        |      lpad(CAST(h % 100 AS STRING), 2, '0'), ' today') ELSE '' END,
        |    CASE WHEN h % 11 = 0 THEN concat(' ref ID-',
        |      lpad(CAST((h DIV 11) % 10000 AS STRING), 4, '0'), '-Q end') ELSE '' END,
        |    CASE WHEN h % 3 = 0 THEN ' decoy u@ mail 555-012345678 ID-12-Q' ELSE '' END
        |  ) AS text,
        |  CAST(CASE WHEN h % 5 = 0 THEN 1 ELSE 0 END AS BIGINT) AS e_email,
        |  CAST(CASE WHEN h % 7 = 0 THEN 1 ELSE 0 END AS BIGINT) AS e_phone,
        |  CAST(CASE WHEN h % 11 = 0 THEN 1 ELSE 0 END AS BIGINT) AS e_id
        |FROM p""".stripMargin)
  }

  /** The three detectors + scrub + residual re-detection as a reusable
    * scan-local projection over any frame carrying (lang, text) — works
    * on batch AND streaming frames (plain selectExpr, no
    * window/aggregate), so [[graft.streaming.StreamingPiiCensus]] applies
    * the IDENTICAL rule (the [[graft.operators.CorpusOps
    * .canonicalizeUrls]] sharing discipline). Adds per-pattern hit
    * counts, matched-span chars, and post-scrub residual counts. */
  private[graft] def piiDetect(df: DataFrame): DataFrame =
    df.selectExpr("*",
        """regexp_replace(regexp_replace(regexp_replace(text,
          |  '[a-z0-9._]+@[a-z0-9.-]+\\.[a-z][a-z]+', '<EMAIL>'),
          |  '\\b555-01[0-9][0-9]\\b', '<PHONE>'),
          |  '\\bID-[0-9]{4}-[A-Z]\\b', '<ID>') AS scrubbed""".stripMargin)
      .selectExpr("*",
        """CAST(size(regexp_extract_all(text,
          |  '[a-z0-9._]+@[a-z0-9.-]+\\.[a-z][a-z]+', 0)) AS BIGINT) AS n_email""".stripMargin,
        """CAST(size(regexp_extract_all(text, '\\b555-01[0-9][0-9]\\b', 0)) AS BIGINT) AS n_phone""",
        """CAST(size(regexp_extract_all(text, '\\bID-[0-9]{4}-[A-Z]\\b', 0)) AS BIGINT) AS n_id""",
        """CAST(length(text) - length(regexp_replace(text,
          |  '[a-z0-9._]+@[a-z0-9.-]+\\.[a-z][a-z]+', '')) AS BIGINT) AS sp_email""".stripMargin,
        """CAST(length(text) - length(regexp_replace(text,
          |  '\\b555-01[0-9][0-9]\\b', '')) AS BIGINT) AS sp_phone""".stripMargin,
        """CAST(length(text) - length(regexp_replace(text,
          |  '\\bID-[0-9]{4}-[A-Z]\\b', '')) AS BIGINT) AS sp_id""".stripMargin)
      .selectExpr("*",
        """CAST(size(regexp_extract_all(scrubbed,
          |  '[a-z0-9._]+@[a-z0-9.-]+\\.[a-z][a-z]+', 0)) AS BIGINT) AS r_email""".stripMargin,
        """CAST(size(regexp_extract_all(scrubbed, '\\b555-01[0-9][0-9]\\b', 0)) AS BIGINT) AS r_phone""",
        """CAST(size(regexp_extract_all(scrubbed, '\\bID-[0-9]{4}-[A-Z]\\b', 0)) AS BIGINT) AS r_id""")

  def hPiiCensus(s: SparkSession, dir: String): DataFrame = {
    // round 20: widen the planted stream before the regex detection
    // projection (see Checkpoints.widen) — identity on a wide cluster scan
    piiDetect(Checkpoints.widen(piiPlanted(s, dir))).createOrReplaceTempView("pii_det")
    s.sql(
      """WITH u AS (
        |  SELECT lang, pat.p AS pattern, pat.n AS n, pat.e AS e,
        |    pat.sp AS span_chars, pat.r AS resid
        |  FROM pii_det LATERAL VIEW explode(array(
        |    named_struct('p', 'email', 'n', n_email, 'e', e_email, 'sp', sp_email, 'r', r_email),
        |    named_struct('p', 'phone', 'n', n_phone, 'e', e_phone, 'sp', sp_phone, 'r', r_phone),
        |    named_struct('p', 'id', 'n', n_id, 'e', e_id, 'sp', sp_id, 'r', r_id))) t AS pat)
        |SELECT lang, pattern,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_hit,
        |  CAST(sum(n) AS BIGINT) AS n_hits,
        |  CAST(sum(e) AS BIGINT) AS n_planted,
        |  sum(n) = sum(e) AS detect_exact,
        |  CAST(1000 * sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) DIV count(*)
        |    AS BIGINT) AS density_milli,
        |  CAST(sum(span_chars) AS BIGINT) AS span_chars,
        |  CAST(sum(resid) AS BIGINT) AS n_resid,
        |  sum(resid) = 0 AS scrub_clean
        |FROM u GROUP BY lang, pattern ORDER BY lang, pattern""".stripMargin)
  }

  /** DuckDB twin: 0x-concat hex cast, `len`/`unnest`-of-struct-list
    * unpivot, g-flagged replaces (DuckDB defaults to first-match),
    * single-backslash regex literals (no escape processing). */
  val hPiiCensusSql: String =
    """WITH p AS (
      |  SELECT doc_id, lang, text,
      |    CAST(concat('0x', substr(md5(concat('pii', CAST(doc_id AS VARCHAR))), 1, 15))
      |      AS BIGINT) AS h
      |  FROM documents),
      |pl AS (
      |  SELECT doc_id, lang,
      |    concat(text,
      |      CASE WHEN h % 5 = 0 THEN concat(' contact u', CAST(h % 97 AS VARCHAR),
      |        '@mail', CAST(h % 7 AS VARCHAR), '.example.com now') ELSE '' END,
      |      CASE WHEN h % 7 = 0 THEN concat(' call 555-01',
      |        lpad(CAST(h % 100 AS VARCHAR), 2, '0'), ' today') ELSE '' END,
      |      CASE WHEN h % 11 = 0 THEN concat(' ref ID-',
      |        lpad(CAST((h // 11) % 10000 AS VARCHAR), 4, '0'), '-Q end') ELSE '' END,
      |      CASE WHEN h % 3 = 0 THEN ' decoy u@ mail 555-012345678 ID-12-Q' ELSE '' END
      |    ) AS text,
      |    CAST(CASE WHEN h % 5 = 0 THEN 1 ELSE 0 END AS BIGINT) AS e_email,
      |    CAST(CASE WHEN h % 7 = 0 THEN 1 ELSE 0 END AS BIGINT) AS e_phone,
      |    CAST(CASE WHEN h % 11 = 0 THEN 1 ELSE 0 END AS BIGINT) AS e_id
      |  FROM p),
      |d AS (
      |  SELECT lang, e_email, e_phone, e_id, text,
      |    regexp_replace(regexp_replace(regexp_replace(text,
      |      '[a-z0-9._]+@[a-z0-9.-]+\.[a-z][a-z]+', '<EMAIL>', 'g'),
      |      '\b555-01[0-9][0-9]\b', '<PHONE>', 'g'),
      |      '\bID-[0-9]{4}-[A-Z]\b', '<ID>', 'g') AS scrubbed,
      |    CAST(len(regexp_extract_all(text,
      |      '[a-z0-9._]+@[a-z0-9.-]+\.[a-z][a-z]+')) AS BIGINT) AS n_email,
      |    CAST(len(regexp_extract_all(text,
      |      '\b555-01[0-9][0-9]\b')) AS BIGINT) AS n_phone,
      |    CAST(len(regexp_extract_all(text,
      |      '\bID-[0-9]{4}-[A-Z]\b')) AS BIGINT) AS n_id
      |  FROM pl),
      |u AS (
      |  SELECT lang, pat.p AS pattern, pat.n AS n, pat.e AS e,
      |    pat.sp AS span_chars, pat.r AS resid
      |  FROM (
      |    SELECT lang, unnest([
      |      {'p': 'email', 'n': n_email, 'e': e_email,
      |       'sp': CAST(length(text) - length(regexp_replace(text,
      |         '[a-z0-9._]+@[a-z0-9.-]+\.[a-z][a-z]+', '', 'g')) AS BIGINT),
      |       'r': CAST(len(regexp_extract_all(scrubbed,
      |         '[a-z0-9._]+@[a-z0-9.-]+\.[a-z][a-z]+')) AS BIGINT)},
      |      {'p': 'phone', 'n': n_phone, 'e': e_phone,
      |       'sp': CAST(length(text) - length(regexp_replace(text,
      |         '\b555-01[0-9][0-9]\b', '', 'g')) AS BIGINT),
      |       'r': CAST(len(regexp_extract_all(scrubbed,
      |         '\b555-01[0-9][0-9]\b')) AS BIGINT)},
      |      {'p': 'id', 'n': n_id, 'e': e_id,
      |       'sp': CAST(length(text) - length(regexp_replace(text,
      |         '\bID-[0-9]{4}-[A-Z]\b', '', 'g')) AS BIGINT),
      |       'r': CAST(len(regexp_extract_all(scrubbed,
      |         '\bID-[0-9]{4}-[A-Z]\b')) AS BIGINT)}]) AS pat
      |    FROM d))
      |SELECT lang, pattern,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_hit,
      |  CAST(sum(n) AS BIGINT) AS n_hits,
      |  CAST(sum(e) AS BIGINT) AS n_planted,
      |  sum(n) = sum(e) AS detect_exact,
      |  CAST(1000 * sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) // count(*)
      |    AS BIGINT) AS density_milli,
      |  CAST(sum(span_chars) AS BIGINT) AS span_chars,
      |  CAST(sum(resid) AS BIGINT) AS n_resid,
      |  sum(resid) = 0 AS scrub_clean
      |FROM u GROUP BY lang, pattern ORDER BY lang, pattern""".stripMargin

  // ================================================================ registry

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "h_k_anonymity" -> (hKAnonymity _),
    "h_dist_drift" -> (hDistDrift _),
    "h_fuzzy_match" -> (hFuzzyMatch _),
    "h_dp_release" -> (hDpRelease _),
    "h_pii_census" -> (hPiiCensus _)
  )

  def oracleSql: Map[String, String] = Map(
    "h_k_anonymity" -> hKAnonymitySql,
    "h_dist_drift" -> hDistDriftSql,
    "h_fuzzy_match" -> hFuzzyMatchSql,
    "h_dp_release" -> hDpReleaseSql,
    "h_pii_census" -> hPiiCensusSql
  )
}
