package graft.operators

import graft.operators.Checkpoints.MatOps
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.functions.GraftFunctions

/** Corpus-level retrieval scoring, mixture planning, and index/vocab
  * lifecycle operators — the round-12 additions on top of
  * [[TrainingOps]]' curation pipelines.
  *
  * Shared scale posture:
  *  - every per-document decision is scan-local or rides an aggregation
  *    key ((lang, term) / (doc, term) / (lang, gram) / lang), so shuffles
  *    carry vocabulary- or doc-count-sized rows, never pairs;
  *  - reported numbers are exact BIGINT arithmetic (integer DIV,
  *    bit-length logs, cross-multiplied thresholds) wherever a float
  *    could diverge cross-engine; cosine paths round only at the sink;
  *  - windows are top-k (`rn <= k`) forms that plan as WindowGroupLimit
  *    (map-side top-k before the exchange), and tiny multi-consumer
  *    intermediates are localCheckpointed so CTE re-inlining cannot
  *    re-expand a corpus scan.
  */
object CorpusOps {

  // ======================================================== BM25 retrieval

  /** BM25 scoring — the retrieval-quality complement to [[LlmOps.hTfidf]]
    * (which ranks terms per doc; this ranks DOCS per query). The query per
    * language is its own top-3 document-frequency terms (deterministic:
    * df desc, then lexicographic), each matching doc scores
    * `Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))` with the
    * standard k1=1.2, b=0.75, and the top-5 docs per language report.
    *
    * Exact-integer form: idf is the bit-length log `length(bin(N DIV df))`
    * (= ⌊log2(N/df)⌋+1, the same integer-idf [[LlmOps.hTfidf]] uses), and
    * with avg = (1000·T) DIV N (milli-tokens mean doc length) the term
    * score in millis reduces to
    * `(44000·idf·tf·avg) DIV (20·avg·tf + 6·avg + 18000·dl)` — every
    * factor BIGINT, both engines land the identical quotient. Bounds:
    * the numerator stays inside BIGINT while idf·tf·avg < 2·10^14, i.e.
    * mean doc length up to ~10^8 milli-tokens with tf ≤ 10^4 — far past
    * any real corpus row.
    *
    * Scale shape: the doc length dl folds into the (doc, term)-keyed tf
    * aggregate scan-locally (`size(split(..))` before the explode), so no
    * separate per-doc aggregate exists; per-lang N/avgdl come from one
    * explode-free corpus scan; df aggregates tf (vocabulary-sized, not
    * corpus-sized); the 3-terms-per-lang query table is tiny and joins
    * back onto tf; the per-doc score sum rides a doc-keyed aggregate; and
    * both `rn <= k` windows are WindowGroupLimit top-k, so the final
    * exchanges carry k·strata rows. Spark inlines the tf CTE into its two
    * consumers (df and the score join) — two explode passes, each a pure
    * map-side-combined aggregate; nothing is ever pairwise. */
  def hBm25(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH x AS (
        |  SELECT doc_id, lang, size(t) AS dl, tk
        |  FROM (SELECT doc_id, lang, split(text, ' ') AS t FROM documents)
        |  LATERAL VIEW explode(t) e AS tk),
        |tf AS (
        |  SELECT doc_id, lang, tk, count(*) AS tf, CAST(max(dl) AS BIGINT) AS dl
        |  FROM x GROUP BY doc_id, lang, tk),
        |st AS (
        |  SELECT lang, count(*) AS n,
        |    CAST(1000L * sum(size(split(text, ' '))) DIV count(*) AS BIGINT) AS avg
        |  FROM documents GROUP BY lang),
        |df AS (SELECT lang, tk, count(*) AS df FROM tf GROUP BY lang, tk),
        |q AS (
        |  SELECT lang, tk, df FROM (
        |    SELECT lang, tk, df,
        |      row_number() OVER (PARTITION BY lang ORDER BY df DESC, tk) AS rn
        |    FROM df)
        |  WHERE rn <= 3),
        |term_scores AS (
        |  SELECT t.doc_id, t.lang,
        |    (44000L * (length(bin(st.n DIV q.df))) * t.tf * st.avg)
        |      DIV (20L * st.avg * t.tf + 6L * st.avg + 18000L * t.dl) AS sc
        |  FROM tf t
        |  JOIN q ON t.lang = q.lang AND t.tk = q.tk
        |  JOIN st ON t.lang = st.lang),
        |doc_scores AS (
        |  SELECT lang, doc_id, CAST(sum(sc) AS BIGINT) AS score_milli,
        |    count(*) AS n_terms
        |  FROM term_scores GROUP BY lang, doc_id)
        |SELECT lang, doc_id, score_milli, n_terms, CAST(rn AS BIGINT) AS rnk
        |FROM (
        |  SELECT lang, doc_id, score_milli, n_terms,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY score_milli DESC, doc_id) AS rn
        |  FROM doc_scores)
        |WHERE rn <= 5
        |ORDER BY lang, rnk""".stripMargin)
  }

  val hBm25Sql: String =
    """WITH x AS (
      |  SELECT doc_id, lang, len(string_split(text, ' ')) AS dl,
      |    unnest(string_split(text, ' ')) AS tk
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, lang, tk, count(*) AS tf, CAST(max(dl) AS BIGINT) AS dl
      |  FROM x GROUP BY doc_id, lang, tk),
      |st AS (
      |  SELECT lang, count(*) AS n,
      |    CAST(1000 * sum(len(string_split(text, ' '))) // count(*) AS BIGINT) AS avg
      |  FROM documents GROUP BY lang),
      |df AS (SELECT lang, tk, count(*) AS df FROM tf GROUP BY lang, tk),
      |q AS (
      |  SELECT lang, tk, df FROM (
      |    SELECT lang, tk, df,
      |      row_number() OVER (PARTITION BY lang ORDER BY df DESC, tk) AS rn
      |    FROM df)
      |  WHERE rn <= 3),
      |term_scores AS (
      |  SELECT t.doc_id, t.lang,
      |    (44000 * length(bin(st.n // q.df)) * t.tf * st.avg)
      |      // (20 * st.avg * t.tf + 6 * st.avg + 18000 * t.dl) AS sc
      |  FROM tf t
      |  JOIN q ON t.lang = q.lang AND t.tk = q.tk
      |  JOIN st ON t.lang = st.lang),
      |doc_scores AS (
      |  SELECT lang, doc_id, CAST(sum(sc) AS BIGINT) AS score_milli,
      |    count(*) AS n_terms
      |  FROM term_scores GROUP BY lang, doc_id)
      |SELECT lang, doc_id, score_milli, n_terms, CAST(rn AS BIGINT) AS rnk
      |FROM (
      |  SELECT lang, doc_id, score_milli, n_terms,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY score_milli DESC, doc_id) AS rn
      |  FROM doc_scores)
      |WHERE rn <= 5
      |ORDER BY lang, rnk""".stripMargin

  // ========================================== hybrid retrieval (RRF fusion)

  /** Reciprocal-rank-fusion HYBRID retrieval — the op that completes the
    * engine's retrieval family (tf-idf keywords → BM25 lexical ranking →
    * inverted index → exact/ANN vector search): fuse a LEXICAL arm and a
    * SEMANTIC arm per query with the standard RRF rule
    * `score(d) = Σ_arms 1/(60 + rank_arm(d))` (Cormack et al. SIGIR'09 —
    * rank-based, so the two arms' incomparable score scales never need
    * calibration), which is exactly how production RAG stacks combine
    * BM25 with embedding search. Fully integer here: each arm
    * contributes `10⁶ DIV (60 + rank)` micros, absent docs contribute 0,
    * so both engines land identical fused scores.
    *
    * Queries are the 10 lowest-id docs of the PAIRED corpus
    * (documents ⋈ embeddings on doc_id = vec_id — the
    * [[LlmOps.hModalityJoin]] pairing). Lexical arm: each query is
    * represented by its 8 RAREST distinct tokens (df asc — the
    * query-likelihood practice, and the term cut that keeps the posting
    * join off the stopword mass); candidates score Σ integer-idf
    * `length(bin(N DIV df))` over matched terms, top-20 kept. Semantic
    * arm: exact cosine of the paired embeddings ranked desc on the
    * engine's standard `(round(cos, 4) DESC, id)` deterministic order
    * ([[LlmOps.hAnnBrute]]'s contract), top-20 kept. Fusion: full outer
    * join of the two 20-deep lists per query, RRF micros summed, top-5
    * reported with each arm's rank (−1 = not retrieved by that arm) —
    * the overlap structure IS the diagnostic: a doc fused from both arms
    * at middling ranks outranks either arm's solo #1 only when both
    * agree, which is RRF's entire point.
    *
    * Scale shape: the query panel is FIXED (10 docs → ≤80 query terms,
    * broadcast), so the lexical arm is a broadcast equi-join on the term
    * key whose volume is the rare terms' posting mass (never the corpus'
    * stopword mass), collapsing into a (q, d)-keyed aggregate; the
    * semantic arm is the hAnnBrute shape — panel broadcast onto one
    * corpus scan, scan-local cosine, per-query top-k as WindowGroupLimit
    * (map-side top-20 before the exchange); the fusion join runs on two
    * ≤200-row rank tables. The paired corpus materializes ONCE as two
    * checkpointed reductions (`rrf_dt` distinct postings, `rrf_nv`
    * vector+norm — round 20; the CTE form re-inlined the pair join six
    * times and the explode three). At 100 TB the semantic arm swaps to
    * the IVF path ([[LlmOps.hAnnIvf]]) — the fusion algebra is rank-only
    * and does not change. */
  def hRrfFusion(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents", "embeddings")
    // Round 20: the paired-corpus projection `pc` had SIX consumers and
    // Catalyst re-inlines CTEs — six documents⋈embeddings rebuilds and
    // THREE full explodes per audit. The two reduced intermediates are
    // checkpointed once instead: `rrf_dt` (distinct doc-term pairs — one
    // explode, sized at the distinct posting volume) and `rrf_nv` (per-doc
    // double vector + norm); every arm below derives from them.
    s.sql(
      """SELECT DISTINCT d.doc_id, tk
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |LATERAL VIEW explode(split(d.text, ' ')) x AS tk""".stripMargin)
      .graftCheckpoint().createOrReplaceTempView("rrf_dt")
    s.sql(
      """WITH rrf_nv AS (
        |  SELECT d.doc_id, v, sqrt(dot_product(v, v)) AS nrm FROM (
        |    SELECT d.doc_id, transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v
        |    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id) d),
        |n AS (SELECT count(*) AS n FROM rrf_nv),
        |dt AS (SELECT doc_id, tk FROM rrf_dt),
        |df AS (SELECT tk, count(*) AS df FROM dt GROUP BY tk),
        |qt AS (
        |  SELECT doc_id AS q_id, tk, df FROM (
        |    SELECT d.doc_id, d.tk, f.df,
        |      row_number() OVER (PARTITION BY d.doc_id
        |        ORDER BY f.df ASC, d.tk) AS rn
        |    FROM dt d JOIN df f ON d.tk = f.tk
        |    WHERE d.doc_id < 10)
        |  WHERE rn <= 8),
        |lex AS (
        |  SELECT q.q_id, d.doc_id AS d_id,
        |    CAST(sum(length(bin(n.n DIV q.df))) AS BIGINT) AS lex_score
        |  FROM qt q
        |  JOIN dt d ON q.tk = d.tk AND d.doc_id <> q.q_id
        |  CROSS JOIN n
        |  GROUP BY q.q_id, d.doc_id),
        |lr AS (
        |  SELECT q_id, d_id, rn AS lex_rank FROM (
        |    SELECT q_id, d_id,
        |      row_number() OVER (PARTITION BY q_id
        |        ORDER BY lex_score DESC, d_id) AS rn
        |    FROM lex)
        |  WHERE rn <= 20),
        |nv AS (SELECT doc_id, v, nrm FROM rrf_nv),
        |sem AS (
        |  SELECT /*+ BROADCAST(q) */ q.doc_id AS q_id, c.doc_id AS d_id,
        |    round(dot_product(q.v, c.v) / (q.nrm * c.nrm), 4) AS cosine
        |  FROM (SELECT * FROM nv WHERE doc_id < 10) q
        |  JOIN nv c ON c.doc_id <> q.doc_id),
        |sr AS (
        |  SELECT q_id, d_id, rn AS sem_rank FROM (
        |    SELECT q_id, d_id,
        |      row_number() OVER (PARTITION BY q_id
        |        ORDER BY cosine DESC, d_id) AS rn
        |    FROM sem)
        |  WHERE rn <= 20),
        |fused AS (
        |  SELECT coalesce(l.q_id, s.q_id) AS q_id,
        |    coalesce(l.d_id, s.d_id) AS d_id,
        |    coalesce(l.lex_rank, -1) AS lex_rank,
        |    coalesce(s.sem_rank, -1) AS sem_rank,
        |    coalesce(1000000L DIV (60 + l.lex_rank), 0L)
        |      + coalesce(1000000L DIV (60 + s.sem_rank), 0L) AS rrf_micro
        |  FROM lr l
        |  FULL OUTER JOIN sr s ON l.q_id = s.q_id AND l.d_id = s.d_id)
        |SELECT CAST(q_id AS BIGINT) AS q_id, CAST(d_id AS BIGINT) AS d_id,
        |  CAST(lex_rank AS BIGINT) AS lex_rank,
        |  CAST(sem_rank AS BIGINT) AS sem_rank,
        |  CAST(rrf_micro AS BIGINT) AS rrf_micro, CAST(rnk AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
        |        ORDER BY rrf_micro DESC, d_id) AS rnk
        |      FROM fused)
        |WHERE rnk <= 5
        |ORDER BY q_id, rnk""".stripMargin)
  }

  /** DuckDB twin: list_dot_product cosine (the proven hAnnBrute idiom),
    * unnest explode, `//` floor on non-negative operands. */
  val hRrfFusionSql: String =
    """WITH pc AS (
      |  SELECT d.doc_id, string_split(d.text, ' ') AS t,
      |    CAST(e.embedding AS DOUBLE[]) AS v
      |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
      |n AS (SELECT count(*) AS n FROM pc),
      |dt AS (SELECT DISTINCT doc_id, unnest(t) AS tk FROM pc),
      |df AS (SELECT tk, count(*) AS df FROM dt GROUP BY tk),
      |qt AS (
      |  SELECT doc_id AS q_id, tk, df FROM (
      |    SELECT d.doc_id, d.tk, f.df,
      |      row_number() OVER (PARTITION BY d.doc_id
      |        ORDER BY f.df ASC, d.tk) AS rn
      |    FROM dt d JOIN df f ON d.tk = f.tk
      |    WHERE d.doc_id < 10)
      |  WHERE rn <= 8),
      |lex AS (
      |  SELECT q.q_id, d.doc_id AS d_id,
      |    CAST(sum(length(bin(n.n // q.df))) AS BIGINT) AS lex_score
      |  FROM qt q
      |  JOIN dt d ON q.tk = d.tk AND d.doc_id <> q.q_id
      |  CROSS JOIN n
      |  GROUP BY q.q_id, d.doc_id),
      |lr AS (
      |  SELECT q_id, d_id, rn AS lex_rank FROM (
      |    SELECT q_id, d_id,
      |      row_number() OVER (PARTITION BY q_id
      |        ORDER BY lex_score DESC, d_id) AS rn
      |    FROM lex)
      |  WHERE rn <= 20),
      |nv AS (SELECT doc_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM pc),
      |sem AS (
      |  SELECT q.doc_id AS q_id, c.doc_id AS d_id,
      |    round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4) AS cosine
      |  FROM (SELECT * FROM nv WHERE doc_id < 10) q
      |  JOIN nv c ON c.doc_id <> q.doc_id),
      |sr AS (
      |  SELECT q_id, d_id, rn AS sem_rank FROM (
      |    SELECT q_id, d_id,
      |      row_number() OVER (PARTITION BY q_id
      |        ORDER BY cosine DESC, d_id) AS rn
      |    FROM sem)
      |  WHERE rn <= 20),
      |fused AS (
      |  SELECT coalesce(l.q_id, s.q_id) AS q_id,
      |    coalesce(l.d_id, s.d_id) AS d_id,
      |    coalesce(l.lex_rank, -1) AS lex_rank,
      |    coalesce(s.sem_rank, -1) AS sem_rank,
      |    coalesce(1000000 // (60 + l.lex_rank), 0)
      |      + coalesce(1000000 // (60 + s.sem_rank), 0) AS rrf_micro
      |  FROM lr l
      |  FULL OUTER JOIN sr s ON l.q_id = s.q_id AND l.d_id = s.d_id)
      |SELECT CAST(q_id AS BIGINT) AS q_id, CAST(d_id AS BIGINT) AS d_id,
      |  CAST(lex_rank AS BIGINT) AS lex_rank,
      |  CAST(sem_rank AS BIGINT) AS sem_rank,
      |  CAST(rrf_micro AS BIGINT) AS rrf_micro, CAST(rnk AS BIGINT) AS rnk
      |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
      |        ORDER BY rrf_micro DESC, d_id) AS rnk
      |      FROM fused)
      |WHERE rnk <= 5
      |ORDER BY q_id, rnk""".stripMargin

  // ============================================ MMR diversified retrieval

  /** MMR DIVERSIFIED top-k (Carbonell & Goldstein, SIGIR 1998) — the
    * result-diversification pass RAG stacks run after retrieval: a
    * near-duplicate-heavy corpus fills a plain top-k with copies of one
    * answer, so the context window buys k slots of one fact. MMR picks
    * greedily by `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)` (λ = 0.7
    * here), trading relevance against redundancy — the selection-side
    * complement of the corpus-side dedup family ([[LlmOps.hSemdedup]]
    * removes near-dups from the INDEX; this tolerates them and
    * de-duplicates each QUERY's answer set).
    *
    * Exactly the engine's ANN conventions: queries are the 10 lowest
    * vec_ids, candidates each query's top-20 by the standard
    * `(round(cos, 4) DESC, id)` deterministic order, and every
    * rel/sim the greedy reads is a `round(cos, 4)` double both engines
    * land bit-identically (the proven hAnnBrute contract) — then
    * IMMEDIATELY integerized to BIGINT ten-thousandths, because a linear
    * combination of two 4-dp-quantized doubles (`0.7·rel − 0.3·ms`)
    * lands ON the 1e-5 grid, i.e. exactly at round-4 midpoints where
    * the engines' double-rounding rules disagree (observed: 0.20805 →
    * 0.2081 vs 0.208). The greedy therefore runs in EXACT integers:
    * score_e5 = 7·rel_t − 3·ms_t (units of 1e-5), argmax and d_id
    * tie-break integer-exact. It is UNROLLED: five selection rounds,
    * each one argmax per query over the ≤20-row remaining set with
    * `max(sim_t)` against the ≤4 already-picked docs; round 1 is pure
    * relevance (nothing selected yet — score = 7·rel_t).
    *
    * Scale shape: the ONLY corpus-sized work is the candidate build —
    * one panel-broadcast scan ranked by WindowGroupLimit (the hAnnBrute
    * shape; at 100 TB it swaps to the IVF path unchanged). Candidates
    * (200 rows, vectors attached) and their pairwise sims (10·20·19
    * rows) are localCheckpointed; all five greedy rounds run on those
    * control tables — re-inlining would otherwise replay the corpus
    * scan once per round (the h_bpe_train lesson). State never touches
    * the driver. */
  def hMmrDiversify(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "embeddings")
    s.sql(
      """WITH normed AS (
        |  SELECT vec_id, v, sqrt(dot_product(v, v)) AS nrm FROM (
        |    SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |    FROM embeddings)),
        |scored AS (
        |  SELECT /*+ BROADCAST(q) */ q.vec_id AS q_id, c.vec_id AS d_id,
        |    round(dot_product(q.v, c.v) / (q.nrm * c.nrm), 4) AS rel,
        |    c.v, c.nrm
        |  FROM (SELECT * FROM normed WHERE vec_id < 10) q
        |  JOIN normed c ON c.vec_id <> q.vec_id)
        |SELECT q_id, d_id,
        |  CAST(round(rel * 10000e0, 0) AS BIGINT) AS rel_t, v, nrm
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |    ORDER BY rel DESC, d_id) AS rn
        |  FROM scored)
        |WHERE rn <= 20""".stripMargin)
      .graftCheckpoint().createOrReplaceTempView("mmr_cand")
    s.sql(
      """SELECT a.q_id, a.d_id AS a_id, b.d_id AS b_id,
        |  CAST(round(round(dot_product(a.v, b.v) / (a.nrm * b.nrm), 4)
        |    * 10000e0, 0) AS BIGINT) AS sim_t
        |FROM mmr_cand a JOIN mmr_cand b
        |  ON a.q_id = b.q_id AND a.d_id <> b.d_id""".stripMargin)
      .graftCheckpoint().createOrReplaceTempView("mmr_psim")
    // round 1: pure relevance. Rounds 2..5 run as a Scala loop with the
    // accumulated pick set checkpointed each round — the single-statement
    // unrolled form re-inlines the pick chain EXPONENTIALLY (p4 = p3 ∪
    // sel4 = ((p1 ∪ sel2) ∪ sel3) ∪ sel4 ...; measured 362 exchanges);
    // this plans ~5 small dags over the two control tables (the
    // h_bpe_train iterative-rounds pattern).
    var sel = s.sql(
      """SELECT q_id, d_id, rel_t, CAST(NULL AS BIGINT) AS ms_t, 1 AS rnk
        |FROM (
        |  SELECT q_id, d_id, rel_t, row_number() OVER (PARTITION BY q_id
        |    ORDER BY rel_t DESC, d_id) AS rn
        |  FROM mmr_cand) x
        |WHERE rn = 1""".stripMargin).graftCheckpoint()
    sel.createOrReplaceTempView("mmr_sel")
    for (k <- 2 to 5) {
      val nxt = s.sql(
        s"""WITH r AS (
           |  SELECT c.q_id, c.d_id, c.rel_t, max(ps.sim_t) AS ms_t
           |  FROM mmr_cand c
           |  JOIN mmr_psim ps ON ps.q_id = c.q_id AND ps.a_id = c.d_id
           |  JOIN mmr_sel p ON p.q_id = ps.q_id AND p.d_id = ps.b_id
           |  WHERE NOT EXISTS (SELECT 1 FROM mmr_sel e
           |                    WHERE e.q_id = c.q_id AND e.d_id = c.d_id)
           |  GROUP BY c.q_id, c.d_id, c.rel_t)
           |SELECT q_id, d_id, rel_t, ms_t, $k AS rnk FROM (
           |  SELECT q_id, d_id, rel_t, ms_t, row_number() OVER (PARTITION BY q_id
           |    ORDER BY (7 * rel_t - 3 * ms_t) DESC, d_id) AS rn
           |  FROM r) x
           |WHERE rn = 1""".stripMargin)
      sel = sel.unionAll(nxt).graftCheckpoint()
      sel.createOrReplaceTempView("mmr_sel")
    }
    s.sql(
      """SELECT CAST(q_id AS BIGINT) AS q_id, CAST(d_id AS BIGINT) AS d_id,
        |  CAST(rnk AS BIGINT) AS rnk, CAST(rel_t AS BIGINT) AS rel_tenk,
        |  CAST(coalesce(7 * rel_t - 3 * ms_t, 7 * rel_t) AS BIGINT) AS mmr_score_e5
        |FROM mmr_sel
        |ORDER BY q_id, rnk""".stripMargin)
  }

  /** The unrolled 5-round greedy as ONE statement — the DuckDB oracle's
    * form (DuckDB evaluates the pick-set CTE chain fine; Spark re-inlines
    * it exponentially, so the engine side runs the same algebra as an
    * iterative checkpointed loop instead — see [[hMmrDiversify]]).
    * `candSql`/`psimSql` plug in the candidate derivation. */
  private def selectionSql(candSql: String, psimSql: String): String =
    s"""WITH c AS ($candSql),
       |ps AS ($psimSql),
       |sel1 AS (
       |  SELECT q_id, d_id, rel_t, CAST(NULL AS BIGINT) AS ms_t, 1 AS rnk FROM (
       |    SELECT q_id, d_id, rel_t,
       |      row_number() OVER (PARTITION BY q_id ORDER BY rel_t DESC, d_id) AS rn
       |    FROM c) x WHERE rn = 1),
       |p1 AS (SELECT q_id, d_id FROM sel1),
       |r2 AS (
       |  SELECT c.q_id, c.d_id, c.rel_t, max(ps.sim_t) AS ms_t
       |  FROM c
       |  JOIN ps ON ps.q_id = c.q_id AND ps.a_id = c.d_id
       |  JOIN p1 ON p1.q_id = ps.q_id AND p1.d_id = ps.b_id
       |  WHERE NOT EXISTS (SELECT 1 FROM p1 e
       |                    WHERE e.q_id = c.q_id AND e.d_id = c.d_id)
       |  GROUP BY c.q_id, c.d_id, c.rel_t),
       |sel2 AS (
       |  SELECT q_id, d_id, rel_t, ms_t, 2 AS rnk FROM (
       |    SELECT q_id, d_id, rel_t, ms_t, row_number() OVER (PARTITION BY q_id
       |      ORDER BY (7 * rel_t - 3 * ms_t) DESC, d_id) AS rn
       |    FROM r2) x WHERE rn = 1),
       |p2 AS (SELECT q_id, d_id FROM p1 UNION ALL SELECT q_id, d_id FROM sel2),
       |r3 AS (
       |  SELECT c.q_id, c.d_id, c.rel_t, max(ps.sim_t) AS ms_t
       |  FROM c
       |  JOIN ps ON ps.q_id = c.q_id AND ps.a_id = c.d_id
       |  JOIN p2 ON p2.q_id = ps.q_id AND p2.d_id = ps.b_id
       |  WHERE NOT EXISTS (SELECT 1 FROM p2 e
       |                    WHERE e.q_id = c.q_id AND e.d_id = c.d_id)
       |  GROUP BY c.q_id, c.d_id, c.rel_t),
       |sel3 AS (
       |  SELECT q_id, d_id, rel_t, ms_t, 3 AS rnk FROM (
       |    SELECT q_id, d_id, rel_t, ms_t, row_number() OVER (PARTITION BY q_id
       |      ORDER BY (7 * rel_t - 3 * ms_t) DESC, d_id) AS rn
       |    FROM r3) x WHERE rn = 1),
       |p3 AS (SELECT q_id, d_id FROM p2 UNION ALL SELECT q_id, d_id FROM sel3),
       |r4 AS (
       |  SELECT c.q_id, c.d_id, c.rel_t, max(ps.sim_t) AS ms_t
       |  FROM c
       |  JOIN ps ON ps.q_id = c.q_id AND ps.a_id = c.d_id
       |  JOIN p3 ON p3.q_id = ps.q_id AND p3.d_id = ps.b_id
       |  WHERE NOT EXISTS (SELECT 1 FROM p3 e
       |                    WHERE e.q_id = c.q_id AND e.d_id = c.d_id)
       |  GROUP BY c.q_id, c.d_id, c.rel_t),
       |sel4 AS (
       |  SELECT q_id, d_id, rel_t, ms_t, 4 AS rnk FROM (
       |    SELECT q_id, d_id, rel_t, ms_t, row_number() OVER (PARTITION BY q_id
       |      ORDER BY (7 * rel_t - 3 * ms_t) DESC, d_id) AS rn
       |    FROM r4) x WHERE rn = 1),
       |p4 AS (SELECT q_id, d_id FROM p3 UNION ALL SELECT q_id, d_id FROM sel4),
       |r5 AS (
       |  SELECT c.q_id, c.d_id, c.rel_t, max(ps.sim_t) AS ms_t
       |  FROM c
       |  JOIN ps ON ps.q_id = c.q_id AND ps.a_id = c.d_id
       |  JOIN p4 ON p4.q_id = ps.q_id AND p4.d_id = ps.b_id
       |  WHERE NOT EXISTS (SELECT 1 FROM p4 e
       |                    WHERE e.q_id = c.q_id AND e.d_id = c.d_id)
       |  GROUP BY c.q_id, c.d_id, c.rel_t),
       |sel5 AS (
       |  SELECT q_id, d_id, rel_t, ms_t, 5 AS rnk FROM (
       |    SELECT q_id, d_id, rel_t, ms_t, row_number() OVER (PARTITION BY q_id
       |      ORDER BY (7 * rel_t - 3 * ms_t) DESC, d_id) AS rn
       |    FROM r5) x WHERE rn = 1),
       |allsel AS (
       |  SELECT * FROM sel1 UNION ALL SELECT * FROM sel2
       |  UNION ALL SELECT * FROM sel3 UNION ALL SELECT * FROM sel4
       |  UNION ALL SELECT * FROM sel5)
       |SELECT CAST(q_id AS BIGINT) AS q_id, CAST(d_id AS BIGINT) AS d_id,
       |  CAST(rnk AS BIGINT) AS rnk, CAST(rel_t AS BIGINT) AS rel_tenk,
       |  CAST(coalesce(7 * rel_t - 3 * ms_t, 7 * rel_t) AS BIGINT) AS mmr_score_e5
       |FROM allsel
       |ORDER BY q_id, rnk""".stripMargin

  /** DuckDB twin: candidates + pairwise sims derived inline (list ops),
    * then the IDENTICAL unrolled greedy text. */
  val hMmrDiversifySql: String = {
    val cand =
      """SELECT q_id, d_id, rel_t FROM mmr_cand_d"""
    val psim =
      """SELECT a.q_id, a.d_id AS a_id, b.d_id AS b_id,
        |  CAST(round(round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4)
        |    * 10000, 0) AS BIGINT) AS sim_t
        |FROM mmr_cand_d a JOIN mmr_cand_d b
        |  ON a.q_id = b.q_id AND a.d_id <> b.d_id""".stripMargin
    val inner = selectionSql(cand, psim)
    s"""WITH normed AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |                          CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, cc.vec_id AS d_id,
       |    round(list_dot_product(q.v, cc.v) / (q.nrm * cc.nrm), 4) AS rel,
       |    cc.v, cc.nrm
       |  FROM (SELECT * FROM normed WHERE vec_id < 10) q
       |  JOIN normed cc ON cc.vec_id <> q.vec_id),
       |mmr_cand_d AS (
       |  SELECT q_id, d_id,
       |    CAST(round(rel * 10000, 0) AS BIGINT) AS rel_t, v, nrm
       |  FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY rel DESC, d_id) AS rn
       |    FROM scored)
       |  WHERE rn <= 20),
       |${inner.stripPrefix("WITH ")}""".stripMargin
  }

  // ============================================ RAG context packing

  /** RAG CONTEXT-WINDOW packing — the step after retrieval: assemble
    * each query's retrieved documents, in rank order, into a fixed
    * 512-token context budget, and report what actually fits. This is
    * the consumer-side complement of [[TrainingOps.hSeqPacking]] (which
    * packs the TRAINING corpus): a RAG stack retrieves top-k but serves
    * only what the prompt window holds, and this table — per query: docs
    * packed, tokens used, exact milli fill, the first rank cut — is the
    * budget/recall trade the k and the window size are tuned against.
    *
    * Semantics: the engine's standard top-20-by-`(round(cos,4), id)`
    * candidates, packed GREEDILY IN RANK ORDER with the prefix-cut rule
    * ([[TrainingOps.hTokenBudgetMix]]'s convention): a document is
    * packed iff its running token total fits, and the first overflow
    * ends the context — no skip-and-refill, so the packed set is a rank
    * prefix and the decision is one cumulative window, deterministic on
    * both engines. `packed_checksum = Σ d_id·rank` pins the packed
    * ORDER, not just its size, cross-engine.
    *
    * Scale shape: one panel-broadcast corpus scan (the hAnnBrute shape)
    * ranked by WindowGroupLimit; the packing window and the per-query
    * report run on ≤20 rows per query. Token counts fold scan-locally
    * into the candidate row (`size(split(text))` before the rank cut). */
  def hRagContextPack(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents", "embeddings")
    s.sql(
      """WITH pc AS (
        |  SELECT d.doc_id, size(split(d.text, ' ')) AS ntok,
        |    transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
        |nv AS (SELECT doc_id, ntok, v, sqrt(dot_product(v, v)) AS nrm FROM pc),
        |cand AS (
        |  SELECT q_id, d_id, ntok, rn FROM (
        |    SELECT /*+ BROADCAST(q) */ q.doc_id AS q_id, c.doc_id AS d_id,
        |      c.ntok,
        |      row_number() OVER (PARTITION BY q.doc_id
        |        ORDER BY round(dot_product(q.v, c.v) / (q.nrm * c.nrm), 4) DESC,
        |                 c.doc_id) AS rn
        |    FROM (SELECT * FROM nv WHERE doc_id < 10) q
        |    JOIN nv c ON c.doc_id <> q.doc_id)
        |  WHERE rn <= 20),
        |packed AS (
        |  SELECT q_id, d_id, ntok, rn,
        |    sum(ntok) OVER (PARTITION BY q_id ORDER BY rn) AS cum
        |  FROM cand),
        |cut AS (
        |  SELECT q_id,
        |    coalesce(CAST(min(CASE WHEN cum > 512 THEN rn END) AS BIGINT), 21L)
        |      AS first_cut_rank
        |  FROM packed GROUP BY q_id)
        |SELECT CAST(p.q_id AS BIGINT) AS q_id,
        |  CAST(count(CASE WHEN p.rn < c.first_cut_rank THEN 1 END) AS BIGINT)
        |    AS n_packed,
        |  CAST(coalesce(sum(CASE WHEN p.rn < c.first_cut_rank THEN p.ntok END), 0L)
        |    AS BIGINT) AS tokens_packed,
        |  CAST(1000L * coalesce(sum(CASE WHEN p.rn < c.first_cut_rank
        |    THEN p.ntok END), 0L) DIV 512 AS BIGINT) AS fill_milli,
        |  c.first_cut_rank,
        |  CAST(coalesce(sum(CASE WHEN p.rn < c.first_cut_rank
        |    THEN p.d_id * p.rn END), 0L) AS BIGINT) AS packed_checksum
        |FROM packed p JOIN cut c ON p.q_id = c.q_id
        |GROUP BY p.q_id, c.first_cut_rank
        |ORDER BY q_id""".stripMargin)
  }

  /** DuckDB twin: list_dot_product cosine, identical prefix-cut window. */
  val hRagContextPackSql: String =
    """WITH pc AS (
      |  SELECT d.doc_id, len(string_split(d.text, ' ')) AS ntok,
      |    CAST(e.embedding AS DOUBLE[]) AS v
      |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
      |nv AS (SELECT doc_id, ntok, v, sqrt(list_dot_product(v, v)) AS nrm FROM pc),
      |cand AS (
      |  SELECT q_id, d_id, ntok, rn FROM (
      |    SELECT q.doc_id AS q_id, c.doc_id AS d_id, c.ntok,
      |      row_number() OVER (PARTITION BY q.doc_id
      |        ORDER BY round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4) DESC,
      |                 c.doc_id) AS rn
      |    FROM (SELECT * FROM nv WHERE doc_id < 10) q
      |    JOIN nv c ON c.doc_id <> q.doc_id)
      |  WHERE rn <= 20),
      |packed AS (
      |  SELECT q_id, d_id, ntok, rn,
      |    sum(ntok) OVER (PARTITION BY q_id ORDER BY rn) AS cum
      |  FROM cand),
      |cut AS (
      |  SELECT q_id,
      |    coalesce(CAST(min(CASE WHEN cum > 512 THEN rn END) AS BIGINT), 21)
      |      AS first_cut_rank
      |  FROM packed GROUP BY q_id)
      |SELECT CAST(p.q_id AS BIGINT) AS q_id,
      |  CAST(count(CASE WHEN p.rn < c.first_cut_rank THEN 1 END) AS BIGINT)
      |    AS n_packed,
      |  CAST(coalesce(sum(CASE WHEN p.rn < c.first_cut_rank THEN p.ntok END), 0)
      |    AS BIGINT) AS tokens_packed,
      |  CAST(1000 * coalesce(sum(CASE WHEN p.rn < c.first_cut_rank
      |    THEN p.ntok END), 0) // 512 AS BIGINT) AS fill_milli,
      |  c.first_cut_rank,
      |  CAST(coalesce(sum(CASE WHEN p.rn < c.first_cut_rank
      |    THEN p.d_id * p.rn END), 0) AS BIGINT) AS packed_checksum
      |FROM packed p JOIN cut c ON p.q_id = c.q_id
      |GROUP BY p.q_id, c.first_cut_rank
      |ORDER BY q_id""".stripMargin

  // ============================================== PMI collocation mining

  /** PMI collocation mining — the top-15 adjacent-word pairs per language
    * ranked by pointwise mutual information, the classic phrase-detection
    * pass (word2vec's phrase pre-join, "new york"-style compound
    * discovery) that complements [[LlmOps.hBpePairs]]: BPE ranks pairs by
    * RAW count (merge order), PMI by LIFT over independence
    * `p(xy)/(p(x)p(y))`, which surfaces rare-but-coupled compounds raw
    * counting never sees. A min-support c_xy ≥ 5 cut keeps hapax pairs
    * (PMI's textbook failure mode) out of the ranking.
    *
    * Exact-integer form: since log is monotone, ranking by PMI equals
    * ranking by the lift ratio itself, so the score is
    * `pmi_micro = (10⁶·c_xy·N) DIV (c_x·c_y)` — the floor'd
    * micro-lift in DECIMAL(38,0) products (Spark) / HUGEINT (DuckDB),
    * identical on both engines with no libm anywhere. The quotient is ≤
    * 10⁶·N (BIGINT-safe to N ~ 10¹², i.e. a trillion-bigram corpus) while
    * the 38-digit products are safe to 10³⁰ — headroom past 100 TB.
    *
    * Scale shape: unigram and bigram counts are explode → map-side-combined
    * hash aggregates (shuffle volume is vocabulary / vocabulary², never
    * corpus); the per-lang bigram total N is a window over the ALREADY
    * AGGREGATED bigram table (the [[AnalyticsOps.gMarkovTransitions]]
    * no-self-join trick); the two unigram lookups are vocab-sized
    * equi-joins on (lang, word); and the `rn <= 15` window plans as
    * WindowGroupLimit, so the final exchange carries 15·langs rows. */
  def hPmiCollocations(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH tok AS (SELECT lang, split(text, ' ') AS t FROM documents),
        |uni AS (
        |  SELECT lang, tk, count(*) AS c
        |  FROM tok LATERAL VIEW explode(t) e AS tk
        |  GROUP BY lang, tk),
        |big AS (
        |  SELECT lang, element_at(t, i) AS w1, element_at(t, i + 1) AS w2,
        |    count(*) AS cxy
        |  FROM tok LATERAL VIEW explode(sequence(1, size(t) - 1)) x AS i
        |  WHERE size(t) >= 2
        |  GROUP BY lang, element_at(t, i), element_at(t, i + 1)),
        |bign AS (
        |  SELECT lang, w1, w2, cxy,
        |    sum(cxy) OVER (PARTITION BY lang) AS n
        |  FROM big),
        |sc AS (
        |  SELECT b.lang, b.w1, b.w2, b.cxy,
        |    (CAST(1000000 AS DECIMAL(38, 0)) * CAST(b.cxy AS DECIMAL(38, 0))
        |       * CAST(b.n AS DECIMAL(38, 0)))
        |      DIV (CAST(u1.c AS DECIMAL(38, 0)) * CAST(u2.c AS DECIMAL(38, 0)))
        |      AS pmi_micro
        |  FROM bign b
        |  JOIN uni u1 ON b.lang = u1.lang AND b.w1 = u1.tk
        |  JOIN uni u2 ON b.lang = u2.lang AND b.w2 = u2.tk
        |  WHERE b.cxy >= 5)
        |SELECT lang, w1, w2, cxy, CAST(pmi_micro AS BIGINT) AS pmi_micro,
        |  CAST(rn AS BIGINT) AS rnk
        |FROM (
        |  SELECT lang, w1, w2, cxy, pmi_micro,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY pmi_micro DESC, w1, w2) AS rn
        |  FROM sc)
        |WHERE rn <= 15
        |ORDER BY lang, rnk""".stripMargin)
  }

  val hPmiCollocationsSql: String =
    """WITH tok AS (SELECT lang, string_split(text, ' ') AS t FROM documents),
      |uni AS (
      |  SELECT lang, unnest(t) AS tk FROM tok),
      |unic AS (SELECT lang, tk, count(*) AS c FROM uni GROUP BY lang, tk),
      |big AS (
      |  SELECT lang,
      |    unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
      |    unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS w2
      |  FROM tok WHERE len(t) >= 2),
      |bigc AS (SELECT lang, w1, w2, count(*) AS cxy FROM big GROUP BY lang, w1, w2),
      |bign AS (
      |  SELECT lang, w1, w2, cxy, sum(cxy) OVER (PARTITION BY lang) AS n
      |  FROM bigc),
      |sc AS (
      |  SELECT b.lang, b.w1, b.w2, b.cxy,
      |    (CAST(1000000 AS HUGEINT) * b.cxy * b.n)
      |      // (CAST(u1.c AS HUGEINT) * u2.c) AS pmi_micro
      |  FROM bign b
      |  JOIN unic u1 ON b.lang = u1.lang AND b.w1 = u1.tk
      |  JOIN unic u2 ON b.lang = u2.lang AND b.w2 = u2.tk
      |  WHERE b.cxy >= 5)
      |SELECT lang, w1, w2, cxy, CAST(pmi_micro AS BIGINT) AS pmi_micro,
      |  CAST(rn AS BIGINT) AS rnk
      |FROM (
      |  SELECT lang, w1, w2, cxy, pmi_micro,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY pmi_micro DESC, w1, w2) AS rn
      |  FROM sc)
      |WHERE rn <= 15
      |ORDER BY lang, rnk""".stripMargin

  // ============================================== quality-gate waterfall

  /** First-failing-gate rejection waterfall — the audit table a curation
    * report publishes next to its filter stack (the Dolma/RefinedWeb-style
    * "why was each doc dropped" breakdown). Gates apply IN ORDER and each
    * rejected doc is attributed to the FIRST gate it fails, so the
    * per-verdict counts sum exactly to the corpus and re-ordering the
    * stack visibly reallocates mass between rows — the property that makes
    * the waterfall actionable when tuning thresholds:
    *   1. too_short   — under 16 whitespace tokens
    *   2. too_long    — over 2,000 whitespace tokens
    *   3. low_diversity — distinct/total token ratio < 35 %
    *   4. low_stopword  — function-word density < 2 %
    *   5. pass
    *
    * Every signal is scan-local (split + array ops inside whole-stage
    * codegen — no UDF, no join), densities are exact-integer comparisons
    * cross-multiplied to avoid float thresholds (100·distinct < 35·total),
    * and the single exchange is the (lang, verdict)-keyed final aggregate
    * with map-side partials. 100 TB: a pure map-reduce with a ≤
    * 5·langs-row result. */
  def hQualityEnsemble(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH sig AS (
        |  SELECT lang,
        |    size(split(text, ' ')) AS n_tok,
        |    size(array_distinct(split(text, ' '))) AS n_distinct,
        |    size(filter(split(text, ' '), t -> t IN ('the', 'a', 'of', 'and'))) AS n_stop
        |  FROM documents),
        |verdicts AS (
        |  SELECT lang, n_tok,
        |    CASE WHEN n_tok < 16 THEN 'too_short'
        |         WHEN n_tok > 2000 THEN 'too_long'
        |         WHEN 100L * n_distinct < 35L * n_tok THEN 'low_diversity'
        |         WHEN 100L * n_stop < 2L * n_tok THEN 'low_stopword'
        |         ELSE 'pass' END AS verdict
        |  FROM sig)
        |SELECT lang, verdict, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens
        |FROM verdicts
        |GROUP BY lang, verdict
        |ORDER BY lang, verdict""".stripMargin)
  }

  val hQualityEnsembleSql: String =
    """WITH sig AS (
      |  SELECT lang,
      |    len(string_split(text, ' ')) AS n_tok,
      |    len(list_distinct(string_split(text, ' '))) AS n_distinct,
      |    len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and'))) AS n_stop
      |  FROM documents),
      |verdicts AS (
      |  SELECT lang, n_tok,
      |    CASE WHEN n_tok < 16 THEN 'too_short'
      |         WHEN n_tok > 2000 THEN 'too_long'
      |         WHEN 100 * n_distinct < 35 * n_tok THEN 'low_diversity'
      |         WHEN 100 * n_stop < 2 * n_tok THEN 'low_stopword'
      |         ELSE 'pass' END AS verdict
      |  FROM sig)
      |SELECT lang, verdict, count(*) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens
      |FROM verdicts
      |GROUP BY lang, verdict
      |ORDER BY lang, verdict""".stripMargin

  // ============================================ data-constrained epochs

  /** Multi-epoch repetition planning under a token budget — the
    * data-constrained-scaling allocation (Muennighoff et al. 2023,
    * arXiv:2305.16264): when the training budget exceeds the unique-token
    * supply of some languages, those languages repeat for multiple epochs
    * (capped — returns diminish past ~4 epochs) and the freed budget
    * redistributes to languages that still have unique data. Complements
    * [[TrainingOps.hDomainMix]] (probability reweighting) and
    * [[TrainingOps.hTokenBudgetMix]] (single-epoch prefix cut): this is
    * the plan for budgets LARGER than the corpus.
    *
    * Allocation, all in exact milli-token BIGINT arithmetic:
    *   1. budget B = 2× total corpus tokens; each language's initial share
    *      is ∝ ⌊√U⌋ of its unique tokens U (the same √-temperature weight
    *      hDomainMix uses);
    *   2. a language whose share exceeds cap = 4·U trains capped at 4
    *      epochs; the surplus pools;
    *   3. the pool redistributes ∝ ⌊√U⌋ over uncapped languages (one
    *      round — with a 4-epoch cap and B = 2×supply a second round
    *      cannot re-cap: post-redistribution shares stay under cap unless
    *      ALL languages cap, which B < 4×supply forbids).
    * Reported per language: unique tokens, final allocated tokens, epochs
    * in millis (1000 = one pass), and whether the cap bound.
    *
    * Scale shape: ONE corpus scan into a lang-keyed map-side-partial
    * aggregate, localCheckpointed at langs rows so the CTE chain (which
    * consumes it four times: weights, totals, first pass, pool) cannot
    * re-expand into repeat corpus scans; everything after runs on the
    * langs-sized table. The 100 TB cost is the single scan. */
  def hRepeatEpochs(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """SELECT lang, CAST(sum(size(split(text, ' '))) AS BIGINT) AS uniq
        |FROM documents GROUP BY lang""".stripMargin)
      .graftCheckpoint().createOrReplaceTempView("epoch_u")
    s.sql(
      """WITH w AS (SELECT lang, uniq,
        |        CAST(floor(sqrt(CAST(uniq AS DOUBLE))) AS BIGINT) AS rw FROM epoch_u),
        |tot AS (SELECT CAST(sum(rw) AS BIGINT) AS s,
        |               CAST(2 * sum(uniq) AS BIGINT) AS b FROM w),
        |first_pass AS (
        |  SELECT w.lang, w.uniq, w.rw,
        |    t.b * w.rw DIV t.s AS share,
        |    CASE WHEN t.b * w.rw DIV t.s > 4 * w.uniq THEN 1 ELSE 0 END AS capped
        |  FROM w CROSS JOIN tot t),
        |pool AS (
        |  SELECT CAST(sum(CASE WHEN capped = 1 THEN share - 4 * uniq ELSE 0 END) AS BIGINT) AS surplus,
        |         CAST(sum(CASE WHEN capped = 0 THEN rw ELSE 0 END) AS BIGINT) AS open_rw
        |  FROM first_pass),
        |alloc AS (
        |  SELECT f.lang, f.uniq, f.capped,
        |    CASE WHEN f.capped = 1 THEN 4 * f.uniq
        |         ELSE f.share + CASE WHEN p.open_rw > 0
        |                             THEN p.surplus * f.rw DIV p.open_rw
        |                             ELSE 0L END
        |    END AS tokens
        |  FROM first_pass f CROSS JOIN pool p)
        |SELECT lang, uniq AS unique_tokens, CAST(tokens AS BIGINT) AS alloc_tokens,
        |  CAST(1000 * tokens DIV uniq AS BIGINT) AS epochs_milli,
        |  CAST(capped AS BIGINT) AS capped
        |FROM alloc
        |ORDER BY lang""".stripMargin)
  }

  val hRepeatEpochsSql: String =
    """WITH u AS (
      |  SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS uniq
      |  FROM documents GROUP BY lang),
      |w AS (SELECT lang, uniq,
      |        CAST(floor(sqrt(CAST(uniq AS DOUBLE))) AS BIGINT) AS rw FROM u),
      |tot AS (SELECT CAST(sum(rw) AS BIGINT) AS s,
      |               CAST(2 * sum(uniq) AS BIGINT) AS b FROM w),
      |first_pass AS (
      |  SELECT w.lang, w.uniq, w.rw,
      |    t.b * w.rw // t.s AS share,
      |    CASE WHEN t.b * w.rw // t.s > 4 * w.uniq THEN 1 ELSE 0 END AS capped
      |  FROM w CROSS JOIN tot t),
      |pool AS (
      |  SELECT CAST(sum(CASE WHEN capped = 1 THEN share - 4 * uniq ELSE 0 END) AS BIGINT) AS surplus,
      |         CAST(sum(CASE WHEN capped = 0 THEN rw ELSE 0 END) AS BIGINT) AS open_rw
      |  FROM first_pass),
      |alloc AS (
      |  SELECT f.lang, f.uniq, f.capped,
      |    CASE WHEN f.capped = 1 THEN 4 * f.uniq
      |         ELSE f.share + CASE WHEN p.open_rw > 0
      |                             THEN p.surplus * f.rw // p.open_rw
      |                             ELSE 0 END
      |    END AS tokens
      |  FROM first_pass f CROSS JOIN pool p)
      |SELECT lang, uniq AS unique_tokens, CAST(tokens AS BIGINT) AS alloc_tokens,
      |  CAST(1000 * tokens // uniq AS BIGINT) AS epochs_milli,
      |  CAST(capped AS BIGINT) AS capped
      |FROM alloc
      |ORDER BY lang""".stripMargin

  // ============================================== rendezvous resharding

  /** Rendezvous-hash (HRW, Thaler & Ravishankar 1998) shard assignment
    * plus the reshard-movement audit — the question a serving/index
    * deployment asks before growing the fleet: "if I add a ninth shard,
    * how much data moves?" Consistent placement means ONLY ~1/9 of docs
    * relocate (all onto the new shard); a mod-N scheme would move 8/9.
    * This query assigns every doc under N=8 and N=9 and reports, per
    * current shard, how many docs leave.
    *
    * Determinism: the per-(doc, shard) weight is a 56-bit md5-slice
    * integer; packing the shard id into the low 4 bits (`h·16 + s`) makes
    * the argmax a plain `max()` with a built-in unambiguous tie-break, so
    * both engines agree bit-for-bit — no arg_max tie semantics to
    * diverge on. `max(hh) % 16` recovers the winning shard.
    *
    * Scale shape: explode to 9 weight rows per doc, collapse back to one
    * row per doc in the doc-keyed hash aggregate — partial aggregation
    * eats the 9× blow-up map-side, so the exchange carries one row per
    * doc; the per-shard rollup is 8 rows. Both argmaxes (s<8 and s<9)
    * ride the SAME aggregate — the corpus is scanned and exploded once. */
  def hShardRebalance(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH w AS (
        |  SELECT doc_id,
        |    CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), '|',
        |      CAST(s AS STRING))), 1, 14), 16, 10) AS BIGINT) * 16 + s AS hh,
        |    s
        |  FROM documents LATERAL VIEW explode(sequence(0, 8)) t AS s),
        |assign AS (
        |  SELECT doc_id,
        |    max(CASE WHEN s < 8 THEN hh END) % 16 AS shard8,
        |    max(hh) % 16 AS shard9
        |  FROM w GROUP BY doc_id)
        |SELECT CAST(shard8 AS BIGINT) AS shard, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
        |  CAST(1000L * sum(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END)
        |       DIV count(*) AS BIGINT) AS moved_milli
        |FROM assign GROUP BY shard8 ORDER BY shard""".stripMargin)
  }

  val hShardRebalanceSql: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    CAST(concat('0x', substring(md5(concat(CAST(doc_id AS VARCHAR), '|',
      |      CAST(s AS VARCHAR))), 1, 14)) AS BIGINT) * 16 + s AS hh,
      |    s
      |  FROM documents, (SELECT unnest(range(9)) AS s)),
      |assign AS (
      |  SELECT doc_id,
      |    max(CASE WHEN s < 8 THEN hh END) % 16 AS shard8,
      |    max(hh) % 16 AS shard9
      |  FROM w GROUP BY doc_id)
      |SELECT CAST(shard8 AS BIGINT) AS shard, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
      |  CAST(1000 * sum(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END)
      |       // count(*) AS BIGINT) AS moved_milli
      |FROM assign GROUP BY shard8 ORDER BY shard""".stripMargin

  // ============================================== hard-negative mining

  /** Hard-negative mining for contrastive/retrieval training (the DPR /
    * sentence-transformers data-prep step): for each query vector, the
    * top-3 most-similar vectors with a DIFFERENT label — the negatives
    * that actually teach the model — plus the triplet margin against the
    * best same-label positive. A negative with margin ≤ 0 outranks the
    * positive: the "hardest" kind, and the rows a training run oversamples.
    *
    * Queries are the first 10 corpus vectors ([[LlmOps.hAnnBrute]]'s
    * reporting bound); cosines ride the codegen `dot_product` expression
    * and round to 4 dp only at the sink (both engines compute the same
    * IEEE doubles in the same order, so the rounding agrees).
    *
    * Scale shape: the 10-row query set broadcasts onto the corpus scan
    * (scored is a broadcast nested-loop over the tiny side — the base
    * side never shuffles); positives collapse in a q-keyed 10-row
    * aggregate;
    * the `rn <= 3` ranking plans as WindowGroupLimit. At real scale the
    * query set is batched and the same plan pipelines per batch — or the
    * candidate side pre-filters through [[LlmOps.hAnnLsh]]'s bucket join
    * when brute force stops paying. */
  def hHardNegatives(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "embeddings")
    s.sql(
      """WITH base AS (
        |  SELECT vec_id, label, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |normed AS (
        |  SELECT vec_id, label, v, sqrt(dot_product(v, v)) AS nrm FROM base),
        |q AS (SELECT * FROM normed WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.vec_id AS q_id, q.label AS q_label,
        |    n.vec_id AS n_id, n.label AS n_label,
        |    dot_product(q.v, n.v) / (q.nrm * n.nrm) AS cosine
        |  FROM q JOIN normed n ON q.vec_id <> n.vec_id),
        |pos AS (
        |  SELECT q_id, max(cosine) AS pos_cos
        |  FROM scored WHERE q_label = n_label GROUP BY q_id),
        |neg AS (
        |  SELECT q_id, n_id, cosine,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk
        |  FROM scored WHERE q_label <> n_label)
        |SELECT n.q_id, n.n_id, round(n.cosine, 4) AS neg_cosine,
        |  round(p.pos_cos - n.cosine, 4) AS margin,
        |  CAST(n.rnk AS BIGINT) AS rnk
        |FROM neg n JOIN pos p ON n.q_id = p.q_id
        |WHERE n.rnk <= 3
        |ORDER BY q_id, rnk""".stripMargin)
  }

  val hHardNegativesSql: String =
    """WITH base AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |normed AS (
      |  SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM base),
      |q AS (SELECT * FROM normed WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.vec_id AS q_id, q.label AS q_label,
      |    n.vec_id AS n_id, n.label AS n_label,
      |    list_dot_product(q.v, n.v) / (q.nrm * n.nrm) AS cosine
      |  FROM q JOIN normed n ON q.vec_id <> n.vec_id),
      |pos AS (
      |  SELECT q_id, max(cosine) AS pos_cos
      |  FROM scored WHERE q_label = n_label GROUP BY q_id),
      |neg AS (
      |  SELECT q_id, n_id, cosine,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk
      |  FROM scored WHERE q_label <> n_label)
      |SELECT n.q_id, n.n_id, round(n.cosine, 4) AS neg_cosine,
      |  round(p.pos_cos - n.cosine, 4) AS margin,
      |  CAST(n.rnk AS BIGINT) AS rnk
      |FROM neg n JOIN pos p ON n.q_id = p.q_id
      |WHERE n.rnk <= 3
      |ORDER BY n.q_id, rnk""".stripMargin

  // ============================================ tokenizer compatibility

  /** Tokenizer-version migration audit — the go/no-go table before
    * swapping a retrained vocabulary into a serving/training stack:
    * v1 is the shipped tokenizer (top-64 tokens per lang by FULL-corpus
    * frequency, rank = id, the [[LlmOps.hTokenizeIds]] assignment), v2 is
    * the retrained candidate (same rule over the NEW data generation —
    * the even-doc_id half standing in for the fresh snapshot). Reported
    * per lang over every token occurrence: id-churn rate (occurrences
    * whose id changes, including OOV transitions) and both OOV rates —
    * the numbers that decide whether embeddings must be re-trained or
    * re-mapped.
    *
    * Determinism: both vocabularies rank by (freq DESC, token), so rank
    * ids are total-ordered on both engines; OOV id is 0; every reported
    * rate is exact integer millis.
    *
    * Scale shape: ONE explode pass builds BOTH generation frequencies
    * (conditional sums in the same (lang, token)-keyed aggregate), and
    * that vocabulary-sized table is localCheckpointed so the two ranking
    * windows and the scoring join re-read it instead of re-expanding the
    * corpus — 2 corpus explodes total (frequency build + scoring). The
    * rank filters plan as WindowGroupLimit (map-side top-k per lang); the
    * ≤64·langs-row vocab maps broadcast onto the scoring pass. At 100 TB
    * the checkpoint is unigram-vocabulary-sized (~10⁸ rows worst case) —
    * the same class as [[TrainingOps]]' checkpointed band/gram indexes. */
  def hTokenizerCompat(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """SELECT lang, tk, count(*) AS f_all,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS f_new
        |FROM (SELECT doc_id, lang, tk
        |      FROM (SELECT doc_id, lang, split(text, ' ') AS t FROM documents)
        |      LATERAL VIEW explode(t) e AS tk)
        |GROUP BY lang, tk""".stripMargin)
      .graftCheckpoint().createOrReplaceTempView("tokfreq")
    s.sql(
      """WITH v1 AS (
        |  SELECT lang, tk, rn AS id1 FROM (
        |    SELECT lang, tk,
        |      row_number() OVER (PARTITION BY lang ORDER BY f_all DESC, tk) AS rn
        |    FROM tokfreq)
        |  WHERE rn <= 64),
        |v2 AS (
        |  SELECT lang, tk, rn AS id2 FROM (
        |    SELECT lang, tk,
        |      row_number() OVER (PARTITION BY lang ORDER BY f_new DESC, tk) AS rn
        |    FROM tokfreq WHERE f_new > 0)
        |  WHERE rn <= 64),
        |sc AS (
        |  SELECT t.lang,
        |    coalesce(v1.id1, 0) AS id1, coalesce(v2.id2, 0) AS id2
        |  FROM (SELECT lang, tk
        |        FROM (SELECT lang, split(text, ' ') AS t FROM documents)
        |        LATERAL VIEW explode(t) e AS tk) t
        |  LEFT JOIN v1 ON t.lang = v1.lang AND t.tk = v1.tk
        |  LEFT JOIN v2 ON t.lang = v2.lang AND t.tk = v2.tk)
        |SELECT lang, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN id1 <> id2 THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(1000L * sum(CASE WHEN id1 <> id2 THEN 1 ELSE 0 END) DIV count(*) AS BIGINT) AS churn_milli,
        |  CAST(1000L * sum(CASE WHEN id1 = 0 THEN 1 ELSE 0 END) DIV count(*) AS BIGINT) AS oov_v1_milli,
        |  CAST(1000L * sum(CASE WHEN id2 = 0 THEN 1 ELSE 0 END) DIV count(*) AS BIGINT) AS oov_v2_milli
        |FROM sc GROUP BY lang ORDER BY lang""".stripMargin)
  }

  val hTokenizerCompatSql: String =
    """WITH tok AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tk FROM documents),
      |tokfreq AS (
      |  SELECT lang, tk, count(*) AS f_all,
      |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS f_new
      |  FROM tok GROUP BY lang, tk),
      |v1 AS (
      |  SELECT lang, tk, rn AS id1 FROM (
      |    SELECT lang, tk,
      |      row_number() OVER (PARTITION BY lang ORDER BY f_all DESC, tk) AS rn
      |    FROM tokfreq)
      |  WHERE rn <= 64),
      |v2 AS (
      |  SELECT lang, tk, rn AS id2 FROM (
      |    SELECT lang, tk,
      |      row_number() OVER (PARTITION BY lang ORDER BY f_new DESC, tk) AS rn
      |    FROM tokfreq WHERE f_new > 0)
      |  WHERE rn <= 64),
      |sc AS (
      |  SELECT t.lang,
      |    coalesce(v1.id1, 0) AS id1, coalesce(v2.id2, 0) AS id2
      |  FROM tok t
      |  LEFT JOIN v1 ON t.lang = v1.lang AND t.tk = v1.tk
      |  LEFT JOIN v2 ON t.lang = v2.lang AND t.tk = v2.tk)
      |SELECT lang, count(*) AS n_tokens,
      |  CAST(sum(CASE WHEN id1 <> id2 THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
      |  CAST(1000 * sum(CASE WHEN id1 <> id2 THEN 1 ELSE 0 END) // count(*) AS BIGINT) AS churn_milli,
      |  CAST(1000 * sum(CASE WHEN id1 = 0 THEN 1 ELSE 0 END) // count(*) AS BIGINT) AS oov_v1_milli,
      |  CAST(1000 * sum(CASE WHEN id2 = 0 THEN 1 ELSE 0 END) // count(*) AS BIGINT) AS oov_v2_milli
      |FROM sc GROUP BY lang ORDER BY lang""".stripMargin

  // ============================================== sign-LSH calibration

  /** The embedding-side LSH trust audit — the companion to
    * [[TrainingOps.hMinhashCalibration]]: an empirical band-agreement vs
    * exact-cosine curve for sign-random-projection banding, the evidence
    * that sign-LSH banding actually separates near-dups from noise before
    * anyone trusts [[LlmOps.hNeardupEmbedding]]'s candidate sweep at
    * 100 TB. Planted ±2 % perturbed copies populate the high-cosine end;
    * deterministic `vec_id % modulus` blocks (modulus auto-sized from the
    * corpus count on the same geometric 1-2-5 decade ladder as the MinHash
    * audit — see [[TrainingOps.hMinhashCalibration]] for the rung
    * arithmetic — so per-block pair cost stays within ~2.5× of the linear
    * target at any scale and planted pairs always land in-block since
    * every rung divides the 10^6 replay offset) sample the rest.
    *
    * Engine-agnostic by construction, like the MinHash audit: hyperplane
    * signs come from md5 of the (plane, dim) pair — not from the engine's
    * splitmix64 kernel — and vectors quantize to integer 1/1024 units
    * first, so every projection is an exact-BIGINT dot product and every
    * sign bit lands identically on both engines (a raw double projection
    * would hinge on float summation order at the margin). Cosine is
    * computed from the SAME quantized integers in a fixed expression
    * order, floored to millis; the mean rides the +1000 offset so integer
    * division never sees a negative numerator (Spark DIV truncates,
    * DuckDB // floors — they only agree on non-negatives).
    *
    * Scale shape: the signature pipeline runs ONCE into a
    * localCheckpointed one-row-per-vector table (signature + quantized
    * array + norm²; embeddings-table-sized, the same class as the
    * checkpointed LSH band indexes) because the pair self-join consumes
    * it twice and CTE re-inlining would otherwise re-run the projection
    * per side (measured 2.6× slower). Round 20: the 32×64 hyperplane
    * sign matrix depends on NO input data — it is md5 of the (plane,
    * dim) pair — so it folds to 32 constant `array<double>` literals
    * computed driver-side (same md5, same `< '8'` nibble rule) and each
    * projection becomes a scan-local codegen `dot_product` against a
    * constant plane: the old (vectors × 64 dims) explode ⋈ 2048-row
    * plane table → (vec, plane)-keyed aggregate (corpus × 2048
    * intermediate rows through a hash-agg) and the sig ⋈ qarr re-join
    * disappear entirely — the signature build is now a single
    * narrow-dependency projection over the quantized vectors (solo
    * sf0.1 best-of-3: 2.88–2.90 → 1.56–1.66 s; the censused returned
    * plan was already the 2-exchange pair join, the removed stages
    * lived in the checkpoint build). The
    * quantized values are integer-valued doubles ≪ 2⁵³, so each
    * constant-plane dot product is the SAME exact integer the BIGINT
    * sum produced — sign bits land identically on both engines; the
    * DuckDB twin keeps the declarative explode⋈planes form and the
    * hash-compare pins the equivalence. Pair generation is the (blk)
    * equi-join — never all-pairs — and each pair's cosine is one
    * scan-local `dot_product` over the stored arrays: integer-valued
    * doubles, so every partial sum is exact and the result is
    * order-independent. */
  def hCosineCalibration(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "embeddings")
    // 32 constant plane literals: sign(p, i) = +1 iff the first hex char of
    // md5("p|i") is < '8' — exactly the SQL rule the DuckDB twin evaluates
    // (hex char '0'..'7' ⇔ high nibble of byte 0 < 8, md5 hex is lowercase)
    def planeLit(p: Int): String = (0 to 63).map { i =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$p|$i".getBytes("UTF-8"))
      if (((md(0) >> 4) & 0xf) < 8) "1D" else "-1D"
    }.mkString("array(", ",", ")")
    // band key b = Σ_{j=0..3} 2^j · [dot(qv, plane_{4b+j}) > 0]; each plane
    // literal appears exactly once so no expression is ever re-evaluated
    val keyCols = (0 to 7).map { b =>
      (0 to 3).map { j =>
        s"(CASE WHEN dot_product(qv, ${planeLit(4 * b + j)}) > 0D THEN ${1L << j}L ELSE 0L END)"
      }.mkString("    (", " +\n      ", s") AS k$b")
    }.mkString(",\n")
    s.sql(
      s"""WITH base AS (
        |  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |pert AS (
        |  SELECT vec_id + 1000000 AS vec_id,
        |    zip_with(v, sequence(1, size(v)), (x, i) ->
        |      x * CASE WHEN i % 2 = 0 THEN CAST(1.02 AS DOUBLE)
        |               ELSE CAST(0.98 AS DOUBLE) END) AS v
        |  FROM base),
        |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
        |m AS (
        |  SELECT least(1000000L, greatest(100L,
        |    CASE WHEN q <= p THEN p WHEN q <= 2 * p THEN 2 * p
        |         WHEN q <= 5 * p THEN 5 * p ELSE 10 * p END)) AS m
        |  FROM (SELECT q, CAST(pow(10, length(CAST(q AS STRING)) - 1) AS BIGINT) AS p
        |        FROM (SELECT (count(*) + 49) DIV 50 AS q FROM base))),
        |qarr AS (
        |  SELECT vec_id,
        |    transform(v, x -> CAST(CAST(round(x * 1024) AS BIGINT) AS DOUBLE)) AS qv
        |  FROM corpus)
        |SELECT vec_id, vec_id % (SELECT m FROM m) AS blk,
        |$keyCols,
        |  qv, dot_product(qv, qv) AS nrm2
        |FROM qarr""".stripMargin)
      .graftCheckpoint().createOrReplaceTempView("cos_sig")
    s.sql(
      """WITH cosed AS (
        |  SELECT
        |    (CASE WHEN a.k0 = b.k0 THEN 1 ELSE 0 END) +
        |    (CASE WHEN a.k1 = b.k1 THEN 1 ELSE 0 END) +
        |    (CASE WHEN a.k2 = b.k2 THEN 1 ELSE 0 END) +
        |    (CASE WHEN a.k3 = b.k3 THEN 1 ELSE 0 END) +
        |    (CASE WHEN a.k4 = b.k4 THEN 1 ELSE 0 END) +
        |    (CASE WHEN a.k5 = b.k5 THEN 1 ELSE 0 END) +
        |    (CASE WHEN a.k6 = b.k6 THEN 1 ELSE 0 END) +
        |    (CASE WHEN a.k7 = b.k7 THEN 1 ELSE 0 END) AS agree,
        |    CAST(floor(1000.0 * dot_product(a.qv, b.qv)
        |         / (sqrt(a.nrm2) * sqrt(b.nrm2))) AS BIGINT) AS cm
        |  FROM cos_sig a JOIN cos_sig b
        |    ON a.blk = b.blk AND a.vec_id < b.vec_id
        |  WHERE a.nrm2 > 0 AND b.nrm2 > 0)
        |SELECT CAST(agree AS BIGINT) AS agree, count(*) AS n_pairs,
        |  CAST((sum(cm) + 1000 * count(*)) DIV count(*) - 1000 AS BIGINT) AS mean_cos_milli
        |FROM cosed GROUP BY agree ORDER BY agree""".stripMargin)
  }

  val hCosineCalibrationSql: String =
    """WITH base AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |pert AS (
      |  SELECT vec_id + 1000000 AS vec_id,
      |    list_transform(list_zip(v, range(1, len(v) + 1)),
      |      p -> p[1] * CASE WHEN p[2] % 2 = 0 THEN CAST(1.02 AS DOUBLE)
      |                       ELSE CAST(0.98 AS DOUBLE) END) AS v
      |  FROM base),
      |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
      |m AS (
      |  SELECT least(1000000, greatest(100,
      |    CASE WHEN q <= p THEN p WHEN q <= 2 * p THEN 2 * p
      |         WHEN q <= 5 * p THEN 5 * p ELSE 10 * p END)) AS m
      |  FROM (SELECT q, CAST(power(10, length(CAST(q AS VARCHAR)) - 1) AS BIGINT) AS p
      |        FROM (SELECT (count(*) + 49) // 50 AS q FROM base))),
      |qarr AS (
      |  SELECT vec_id,
      |    list_transform(v, x -> CAST(CAST(round(x * 1024) AS BIGINT) AS DOUBLE)) AS qv
      |  FROM corpus),
      |quant AS (
      |  SELECT vec_id, i, CAST(qv[i + 1] AS BIGINT) AS xi
      |  FROM qarr, unnest(range(len(qv))) AS t(i)),
      |planes AS (
      |  SELECT p, i,
      |    CASE WHEN substring(md5(concat(CAST(p AS VARCHAR), '|', CAST(i AS VARCHAR))), 1, 1) < '8'
      |         THEN 1 ELSE -1 END AS sgn
      |  FROM (SELECT unnest(range(32)) AS p), (SELECT unnest(range(64)) AS i)),
      |proj AS (
      |  SELECT q.vec_id, pl.p, CAST(sum(q.xi * pl.sgn) AS BIGINT) AS d
      |  FROM quant q JOIN planes pl ON q.i = pl.i
      |  GROUP BY q.vec_id, pl.p),
      |bands AS (
      |  SELECT vec_id, p // 4 AS b,
      |    CAST(sum(CASE WHEN d > 0
      |      THEN CAST(power(2, p % 4) AS BIGINT) ELSE 0 END) AS BIGINT) AS key
      |  FROM proj GROUP BY vec_id, p // 4),
      |sig AS (
      |  SELECT vec_id, vec_id % (SELECT m FROM m) AS blk,
      |    max(CASE WHEN b = 0 THEN key END) AS k0,
      |    max(CASE WHEN b = 1 THEN key END) AS k1,
      |    max(CASE WHEN b = 2 THEN key END) AS k2,
      |    max(CASE WHEN b = 3 THEN key END) AS k3,
      |    max(CASE WHEN b = 4 THEN key END) AS k4,
      |    max(CASE WHEN b = 5 THEN key END) AS k5,
      |    max(CASE WHEN b = 6 THEN key END) AS k6,
      |    max(CASE WHEN b = 7 THEN key END) AS k7
      |  FROM bands GROUP BY vec_id),
      |sigq AS (
      |  SELECT s.*, q.qv, list_dot_product(q.qv, q.qv) AS nrm2
      |  FROM sig s JOIN qarr q ON s.vec_id = q.vec_id),
      |cosed AS (
      |  SELECT
      |    (CASE WHEN a.k0 = b.k0 THEN 1 ELSE 0 END) +
      |    (CASE WHEN a.k1 = b.k1 THEN 1 ELSE 0 END) +
      |    (CASE WHEN a.k2 = b.k2 THEN 1 ELSE 0 END) +
      |    (CASE WHEN a.k3 = b.k3 THEN 1 ELSE 0 END) +
      |    (CASE WHEN a.k4 = b.k4 THEN 1 ELSE 0 END) +
      |    (CASE WHEN a.k5 = b.k5 THEN 1 ELSE 0 END) +
      |    (CASE WHEN a.k6 = b.k6 THEN 1 ELSE 0 END) +
      |    (CASE WHEN a.k7 = b.k7 THEN 1 ELSE 0 END) AS agree,
      |    CAST(floor(1000.0 * list_dot_product(a.qv, b.qv)
      |         / (sqrt(a.nrm2) * sqrt(b.nrm2))) AS BIGINT) AS cm
      |  FROM sigq a JOIN sigq b ON a.blk = b.blk AND a.vec_id < b.vec_id
      |  WHERE a.nrm2 > 0 AND b.nrm2 > 0)
      |SELECT CAST(agree AS BIGINT) AS agree, count(*) AS n_pairs,
      |  CAST((sum(cm) + 1000 * count(*)) // count(*) - 1000 AS BIGINT) AS mean_cos_milli
      |FROM cosed GROUP BY agree ORDER BY agree""".stripMargin

  // ====================================================== source overlap

  /** Cross-source content-overlap matrix — the crawl-dump dedup planning
    * table: for every source pair, how many distinct word-8-grams they
    * share, and the containment ratio against the SMALLER side
    * (`1000·shared DIV min(|A|, |B|)` — the asymmetric-size-robust
    * overlap measure: a mirror fully contained in a larger dump reads
    * 1000 where plain Jaccard would dilute it). This is the table that
    * decides which dump pairs are worth a full cross-dedup pass and
    * which sources are mirrors of each other. Top-20 pairs by shared
    * volume, ties broken lexicographically.
    *
    * Scale shape: ONE corpus pass — grams ride the proven codegen
    * explode + flat `concat_ws` projection (the 11× lesson) into a
    * gram-keyed `collect_set(source)` aggregate (set bounded by the
    * source domain, map-side partials eat within-source repeats); each
    * gram's sorted source set then double-explodes under `sa <= sb`, so
    * ONE (sa, sb)-keyed count carries both the pair-overlap counts
    * (off-diagonal) and every source's total gram count (the `sa = sb`
    * diagonal — a gram contributes (x, x) exactly when x contains it).
    * That ≤ s·(s+1)/2-row table is localCheckpointed (the
    * small-intermediates rule: the naive gr-CTE form re-inlined the
    * corpus chain four times — 4 Generates in the plan) and the final
    * top-20 reshape is a 3-way self-join on domain-sized rows. */
  def hSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH tok AS (SELECT source, split(text, ' ') AS t FROM documents),
        |gr0 AS (
        |  SELECT source,
        |    concat_ws('|', element_at(t, i), element_at(t, i + 1), element_at(t, i + 2),
        |      element_at(t, i + 3), element_at(t, i + 4), element_at(t, i + 5),
        |      element_at(t, i + 6), element_at(t, i + 7)) AS gram
        |  FROM tok LATERAL VIEW explode(sequence(1, size(t) - 7)) x AS i
        |  WHERE size(t) >= 8),
        |gmap AS (SELECT gram, sort_array(collect_set(source)) AS srcs
        |  FROM gr0 GROUP BY gram)
        |SELECT sa, sb, count(*) AS n
        |FROM gmap
        |LATERAL VIEW explode(srcs) x AS sa
        |LATERAL VIEW explode(srcs) y AS sb
        |WHERE sa <= sb
        |GROUP BY sa, sb""".stripMargin)
      .graftCheckpoint().createOrReplaceTempView("overlap_pairs")
    s.sql(
      """SELECT p.sa AS src_a, p.sb AS src_b, p.n AS n_shared,
        |  CAST(1000L * p.n DIV least(ta.n, tb.n) AS BIGINT)
        |    AS containment_milli
        |FROM overlap_pairs p
        |JOIN overlap_pairs ta ON ta.sa = p.sa AND ta.sb = p.sa
        |JOIN overlap_pairs tb ON tb.sa = p.sb AND tb.sb = p.sb
        |WHERE p.sa < p.sb
        |ORDER BY p.n DESC, src_a, src_b
        |LIMIT 20""".stripMargin)
  }

  val hSourceOverlapSql: String =
    """WITH tok AS (SELECT source, string_split(text, ' ') AS t FROM documents),
      |gr0 AS (
      |  SELECT source, unnest(list_transform(range(1, len(t) - 6),
      |    i -> t[i] || '|' || t[i+1] || '|' || t[i+2] || '|' || t[i+3] || '|' ||
      |         t[i+4] || '|' || t[i+5] || '|' || t[i+6] || '|' || t[i+7])) AS gram
      |  FROM tok WHERE len(t) >= 8),
      |gr AS (SELECT DISTINCT source, gram FROM gr0),
      |tot AS (SELECT source, count(*) AS n_grams FROM gr GROUP BY source),
      |shared AS (
      |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
      |  FROM gr a JOIN gr b ON a.gram = b.gram AND a.source < b.source
      |  GROUP BY a.source, b.source)
      |SELECT s.src_a, s.src_b, s.n_shared,
      |  CAST(1000 * s.n_shared // least(ta.n_grams, tb.n_grams) AS BIGINT)
      |    AS containment_milli
      |FROM shared s
      |JOIN tot ta ON s.src_a = ta.source
      |JOIN tot tb ON s.src_b = tb.source
      |ORDER BY s.n_shared DESC, s.src_a, s.src_b
      |LIMIT 20""".stripMargin

  // ================================================= Bloom FPR calibration

  /** Bloom-filter FPR calibration curve — the sizing audit behind
    * [[LlmOps.hDedupBloom]]'s single-rung contract, in the same
    * measure-the-cheap-operator-against-theory family as
    * [[hCosineCalibration]] and [[TrainingOps.hMinhashCalibration]]: build
    * the history filter at FOUR bits-per-key rungs (4/8/12/16), probe a
    * disjoint non-member key set of the same size, and report the measured
    * false-positive count against the textbook rate. This is the table a
    * team reads to PICK bits-per-key for a target FPR before committing a
    * 10⁹-key memory budget — theory says 8 bits ≈ 2.2 % and 16 bits ≈
    * 0.05 %, and the audit proves the shipped implementation (Spark's
    * `BloomFilterAggregate`, k = round(b·ln 2) hashes) actually lands
    * there on this corpus's keys.
    *
    * Determinism: members are distinct fnv64a(text) keys, probes are
    * distinct fnv64a(text ‖ '|probe') keys (non-members up to a 64-bit
    * collision), the filter's bit array is an order-insensitive OR-merge,
    * and the design-rate `fpp = (1 − e^(−k/b))^k` micros are source
    * literals (identical in both engines by construction, no FP-boundary
    * risk). The contract booleans: zero false negatives (Bloom's hard
    * guarantee), and measured fp·10⁶ ≤ 3·design_micro·n_probes + 5·10⁶ —
    * three-times-theory plus an absolute 5-probe floor so the low-rate
    * rungs stay deterministic-stable at small probe counts.
    *
    * Scale shape: each rung is one distributed partial-then-merge sketch
    * build (only the ~b·n/8-byte filter reaches the driver — at 10⁹ keys
    * the 16-bit rung is a ~2 GB broadcast, the documented ceiling; the
    * sharded path past it exists as [[LlmOps.hDedupBloomSharded]]'s
    * shard-keyed filter table + `bloom_probe` join, round 14) plus ONE
    * codegen probe pass over the tagged member∪probe union. The 4-rung
    * loop is driver control-plane like [[FormatOps.dHeavyHitters]]'s
    * probe loop. */
  def hBloomCalibration(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val d = Tables.load(s, dir, "documents")
    val members = d.select(GraftFunctions.fnv64a(col("text")).as("k")).distinct()
    val probes = d.select(
      GraftFunctions.fnv64a(concat(col("text"), lit("|probe"))).as("k")).distinct()
    val tagged = members.withColumn("is_member", lit(true))
      .unionAll(probes.withColumn("is_member", lit(false)))
      .graftCheckpoint() // four probe passes; never re-derive the key sets
    val n = math.max(members.count(), 1L)
    // k = round(b·ln2); micros are (1 − e^(−k/b))^k · 1e6, precomputed
    val rungs = Seq((4L, 146891L), (8L, 21577L), (12L, 3142L), (16L, 458L))
    val rows = rungs.map { case (bitsPerKey, designMicro) =>
      val bytes = members
        .select(org.apache.spark.sql.graft.BloomCols
          .bloomFilterAgg(col("k"), n, bitsPerKey * n).as("bf"))
        .head.getAs[Array[Byte]](0)
      val probe = org.apache.spark.sql.graft.BloomCols.mightContain(bytes, col("k"))
      val r = tagged.agg(
        sum(when(col("is_member"), 1L).otherwise(0L)).as("nm"),
        sum(when(!col("is_member"), 1L).otherwise(0L)).as("np"),
        sum(when(col("is_member") && !probe, 1L).otherwise(0L)).as("fn"),
        sum(when(!col("is_member") && probe, 1L).otherwise(0L)).as("fp")).head
      val (nm, np, fn, fp) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      (bitsPerKey, nm, np, designMicro,
        fn == 0L,
        1000000L * fp <= 3L * designMicro * np + 5000000L)
    }
    import s.implicits._
    rows.toDF("bits_per_key", "n_members", "n_probes", "fpp_design_micro",
        "no_false_negatives", "fpr_within")
      .orderBy(col("bits_per_key"))
  }

  /** DuckDB supplies the exact key-population counts; the booleans carry
    * the Bloom verdicts (zero false negatives by construction, measured
    * FPR within three-times-theory + 5-probe floor). */
  val hBloomCalibrationSql: String =
    """WITH m AS (SELECT count(DISTINCT text) AS nm FROM documents)
      |SELECT CAST(bits_per_key AS BIGINT) AS bits_per_key,
      |  nm AS n_members, nm AS n_probes,
      |  CAST(fpp_design_micro AS BIGINT) AS fpp_design_micro,
      |  true AS no_false_negatives, true AS fpr_within
      |FROM m CROSS JOIN (
      |  SELECT unnest([4, 8, 12, 16]) AS bits_per_key,
      |         unnest([146891, 21577, 3142, 458]) AS fpp_design_micro)
      |ORDER BY bits_per_key""".stripMargin

  // ============================================ quality classifier (NB)

  /** The CCNet/GPT-3-style QUALITY CLASSIFIER — the curation pass that
    * made WebText-quality filtering famous (GPT-3 appendix A; CCNet §4;
    * phi-1's "textbook quality" gate): train a linear model to separate
    * curated reference text from raw crawl, score everything, keep what
    * scores curated. This is the ENGINE's trainable-filter primitive, as
    * distinct from its fixed-rule gates ([[hQualityEnsemble]]'s
    * length/diversity/stopword waterfall) and from
    * [[TrainingOps.hImportanceSample]]'s DSIR, which weights docs for
    * RESAMPLING from full-corpus bigram stats with no held-out
    * evaluation — this one is a train/score/EVALUATE classifier: a naive
    * Bayes over 512 hashed unigram buckets, trained on the doc_id%3=0
    * split (the [[LlmOps.hBigramLm]] convention), scored on held-out
    * docs, and reported as the per-lang confusion matrix with exact
    * milli precision/recall/accuracy — the table that decides whether
    * the classifier is trustworthy enough to gate a 100 TB crawl.
    *
    * Exact-integer NB: with bucket counts p_b (curated) / q_b (raw) over
    * TRAIN token occurrences, a doc's log-odds is
    * `prior + Σ_tokens [bl(p_b+1) − bl(q_b+1)] − n_tok·K`, where
    * bl(x) = length(bin(x)) is the bit-length log (⌊log₂x⌋+1 — the
    * engine's standard no-libm log), K = bl(ΣP+512) − bl(ΣQ+512) is the
    * per-token class-mass normalizer, and prior = bl(docs_pos+1) −
    * bl(docs_neg+1); predict curated iff the score is > 0 (ties → raw,
    * deterministic). Every term is BIGINT, so both engines agree
    * bit-for-bit. "Curated" truth = source ∈ src1–src4, the corpus'
    * DSIR target convention. On THIS synthetic corpus the langs share
    * one vocabulary, so the honest measured verdict is near-chance —
    * exactly the audit (like [[LlmOps.hLangidConfusion]]) that stops a
    * pipeline from trusting a classifier it never evaluated.
    *
    * Scale shape: the train and test halves are each exploded ONCE into
    * aggregation-keyed flows — train → the 512-row (bucket, p, q)
    * weight table (map-side combined; vocabulary-sized shuffle), test →
    * a doc-keyed score aggregate behind a BROADCAST left join to the
    * weight table (a bucket unseen in training weighs 0); the
    * normalizer K folds from the 512-row table, the prior from an
    * explode-free documents scan, and the confusion matrix is a final
    * lang-keyed aggregate over doc-count rows. Nothing is pairwise; no
    * model state touches the driver. The trained MODEL — the 512-row
    * bucket-count table — is checkpointed and shared: its two in-query
    * consumers (the normalizer fold and the scoring join) would
    * otherwise re-inline the training explode twice (plan-pinned: ≤ 2
    * corpus explodes), and since round 20 the calibration sweep reads
    * the same sharedTable entry instead of retraining. (This note
    * documents [[hQualityClassifier]] below; the helpers that follow are
    * its factored pieces.) */
  /** Register the classifier's checkpointed 512-row weight table as
    * `qc_weights` — ONE training pass shared by [[hQualityClassifier]]
    * and [[hQualityCalibration]] via [[Checkpoints.sharedTable]] (the
    * componentLabels precedent: at cluster scale the trained model is a
    * written-once table every consumer reads, so rebuilding the corpus
    * explode per consumer is both a bench tax and the wrong shape).
    * Released by releaseShared, not the per-query release. */
  private def registerQcWeights(s: SparkSession, dir: String): Unit =
    Checkpoints.sharedTable(s, s"qc_weights:$dir")(s.sql(
      """SELECT CAST(conv(substr(md5(tk), 1, 15), 16, 10) AS BIGINT) % 512 AS bk,
        |  coalesce(CAST(sum(CASE WHEN source IN ('src1', 'src2', 'src3', 'src4')
        |    THEN 1 END) AS BIGINT), 0L) AS p,
        |  coalesce(CAST(sum(CASE WHEN NOT source IN ('src1', 'src2', 'src3', 'src4')
        |    THEN 1 END) AS BIGINT), 0L) AS q
        |FROM documents LATERAL VIEW explode(split(text, ' ')) e AS tk
        |WHERE doc_id % 3 = 0
        |GROUP BY CAST(conv(substr(md5(tk), 1, 15), 16, 10) AS BIGINT) % 512""".stripMargin)
      .graftCheckpoint()).createOrReplaceTempView("qc_weights")

  /** The classifier's score chain (WITH b…ds over the registered
    * `qc_weights` view) — shared VERBATIM by [[hQualityClassifier]] (the
    * decision at threshold 0) and [[hQualityCalibration]] (the threshold
    * sweep), so the shipped rule and its calibration curve can never
    * diverge. */
  private val qcScoreCtes: String =
    """WITH b AS (
      |  SELECT doc_id, lang, (doc_id % 3 = 0) AS is_train,
      |    source IN ('src1', 'src2', 'src3', 'src4') AS pos,
      |    CAST(conv(substr(md5(tk), 1, 15), 16, 10) AS BIGINT) % 512 AS bk
      |  FROM documents LATERAL VIEW explode(split(text, ' ')) e AS tk),
      |w AS (SELECT * FROM qc_weights),
      |k AS (
      |  SELECT CAST(length(bin(sum(p) + 512)) - length(bin(sum(q) + 512)) AS BIGINT) AS k
      |  FROM w),
      |pr AS (
      |  SELECT CAST(length(bin(count(CASE WHEN source IN ('src1', 'src2', 'src3', 'src4')
      |           THEN 1 END) + 1))
      |       - length(bin(count(CASE WHEN NOT source IN ('src1', 'src2', 'src3', 'src4')
      |           THEN 1 END) + 1)) AS BIGINT) AS prior
      |  FROM documents WHERE doc_id % 3 = 0),
      |ds AS (
      |  SELECT t.doc_id, t.lang, max(CASE WHEN t.pos THEN 1 ELSE 0 END) AS actual,
      |    count(*) AS n_tok,
      |    CAST(sum(coalesce(length(bin(w.p + 1)) - length(bin(w.q + 1)), 0))
      |      AS BIGINT) AS swgt
      |  FROM b t LEFT JOIN w ON t.bk = w.bk
      |  WHERE NOT t.is_train
      |  GROUP BY t.doc_id, t.lang)""".stripMargin

  def hQualityClassifier(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    registerQcWeights(s, dir)
    s.sql(qcScoreCtes +
      """,
        |pred AS (
        |  SELECT lang, actual,
        |    CASE WHEN pr.prior + ds.swgt - ds.n_tok * k.k > 0 THEN 1 ELSE 0 END AS p
        |  FROM ds CROSS JOIN k CROSS JOIN pr)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_test,
        |  CAST(sum(actual) AS BIGINT) AS n_pos,
        |  CAST(sum(CASE WHEN p = 1 AND actual = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |  CAST(sum(CASE WHEN p = 1 AND actual = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |  CAST(sum(CASE WHEN p = 0 AND actual = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |  CAST(sum(CASE WHEN p = 0 AND actual = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
        |  CAST(CASE WHEN sum(p) > 0
        |    THEN 1000L * sum(CASE WHEN p = 1 AND actual = 1 THEN 1 ELSE 0 END) DIV sum(p)
        |    ELSE -1L END AS BIGINT) AS precision_milli,
        |  CAST(CASE WHEN sum(actual) > 0
        |    THEN 1000L * sum(CASE WHEN p = 1 AND actual = 1 THEN 1 ELSE 0 END) DIV sum(actual)
        |    ELSE -1L END AS BIGINT) AS recall_milli,
        |  CAST(1000L * sum(CASE WHEN p = actual THEN 1 ELSE 0 END) DIV count(*)
        |    AS BIGINT) AS accuracy_milli
        |FROM pred GROUP BY lang
        |ORDER BY lang""".stripMargin)
  }

  /** Quality-classifier CALIBRATION CURVE — the go/no-go table a filter
    * threshold ships with (round-19 verdict item 4d): the shipped
    * [[hQualityClassifier]] decides at log-odds > 0, but a production gate
    * picks its operating point off a precision/recall/F1-vs-threshold
    * sweep. The sweep rides the classifier's OWN score chain
    * ([[qcScoreCtes]], verbatim) and thresholds the per-TOKEN milli
    * log-odds on a fixed 17-point grid (−500…1500 ‰bits/token, step 125 —
    * brackets both saturation ends with 8 points across the measured
    * transition band): `predict positive ⟺ 1000·score > thr·n_tok`, a
    * pure integer cross-multiplication, so no engine ever divides a
    * NEGATIVE number (Spark DIV truncates toward zero, DuckDB // floors —
    * the one place the engines disagree). The thr=0 row reproduces the
    * shipped classifier's confusion matrix exactly (spec-pinned).
    *
    * Scale shape: one corpus explode into the checkpointed weight join
    * (the classifier's own plan), then the doc-count-sized score table
    * crosses a BROADCAST 17-row grid straight into a 17-group aggregate
    * with map-side partials — the sweep adds one domain-bounded exchange
    * to the classifier, never a second corpus pass. */
  def hQualityCalibration(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    registerQcWeights(s, dir)
    s.sql(qcScoreCtes +
      """,
        |scored AS (
        |  SELECT ds.actual, ds.n_tok,
        |    pr.prior + ds.swgt - ds.n_tok * k.k AS score
        |  FROM ds CROSS JOIN k CROSS JOIN pr),
        |thr AS (
        |  SELECT CAST(i * 125 AS BIGINT) AS thr
        |  FROM (SELECT explode(sequence(-4, 12)) AS i)),
        |cm AS (
        |  SELECT t.thr,
        |    CAST(count(*) AS BIGINT) AS n_test,
        |    CAST(sum(CASE WHEN 1000 * score > t.thr * n_tok AND actual = 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN 1000 * score > t.thr * n_tok AND actual = 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN 1000 * score <= t.thr * n_tok AND actual = 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(sum(CASE WHEN 1000 * score <= t.thr * n_tok AND actual = 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM scored CROSS JOIN thr t GROUP BY t.thr)
        |SELECT thr AS thr_milli, n_test, tp, fp, fn, tn,
        |  CAST(CASE WHEN tp + fp > 0 THEN 1000 * tp DIV (tp + fp)
        |    ELSE -1 END AS BIGINT) AS precision_milli,
        |  CAST(CASE WHEN tp + fn > 0 THEN 1000 * tp DIV (tp + fn)
        |    ELSE -1 END AS BIGINT) AS recall_milli,
        |  CAST(CASE WHEN 2 * tp + fp + fn > 0 THEN 2000 * tp DIV (2 * tp + fp + fn)
        |    ELSE -1 END AS BIGINT) AS f1_milli
        |FROM cm ORDER BY thr_milli""".stripMargin)
  }

  /** The DuckDB replica of [[qcScoreCtes]] (b…ds, with `w` inlined as a
    * CTE since the oracle has no temp view) — shared by the classifier
    * and calibration twins. Unnest explode, concat-0x hex cast, `//`
    * floor: the divisions run on non-negative counts, so floor ≡
    * truncation. */
  private val qcScoreDuckCtes: String =
    """WITH b AS (
      |  SELECT doc_id, lang, (doc_id % 3 = 0) AS is_train,
      |    source IN ('src1', 'src2', 'src3', 'src4') AS pos,
      |    CAST(concat('0x', substr(md5(tk), 1, 15)) AS BIGINT) % 512 AS bk
      |  FROM (SELECT doc_id, lang, source,
      |          unnest(string_split(text, ' ')) AS tk
      |        FROM documents)),
      |w AS (
      |  SELECT bk,
      |    coalesce(CAST(sum(CASE WHEN pos THEN 1 END) AS BIGINT), 0) AS p,
      |    coalesce(CAST(sum(CASE WHEN NOT pos THEN 1 END) AS BIGINT), 0) AS q
      |  FROM b WHERE is_train GROUP BY bk),
      |k AS (
      |  SELECT CAST(length(bin(CAST(sum(p) AS BIGINT) + 512))
      |       - length(bin(CAST(sum(q) AS BIGINT) + 512)) AS BIGINT) AS k
      |  FROM w),
      |pr AS (
      |  SELECT CAST(length(bin(count(CASE WHEN source IN ('src1', 'src2', 'src3', 'src4')
      |           THEN 1 END) + 1))
      |       - length(bin(count(CASE WHEN NOT source IN ('src1', 'src2', 'src3', 'src4')
      |           THEN 1 END) + 1)) AS BIGINT) AS prior
      |  FROM documents WHERE doc_id % 3 = 0),
      |ds AS (
      |  SELECT t.doc_id, t.lang, max(CASE WHEN t.pos THEN 1 ELSE 0 END) AS actual,
      |    count(*) AS n_tok,
      |    CAST(sum(coalesce(length(bin(w.p + 1)) - length(bin(w.q + 1)), 0))
      |      AS BIGINT) AS swgt
      |  FROM b t LEFT JOIN w ON t.bk = w.bk
      |  WHERE NOT t.is_train
      |  GROUP BY t.doc_id, t.lang)""".stripMargin

  val hQualityClassifierSql: String = qcScoreDuckCtes +
    """,
      |pred AS (
      |  SELECT lang, actual,
      |    CASE WHEN pr.prior + ds.swgt - ds.n_tok * k.k > 0 THEN 1 ELSE 0 END AS p
      |  FROM ds CROSS JOIN k CROSS JOIN pr)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_test,
      |  CAST(sum(actual) AS BIGINT) AS n_pos,
      |  CAST(sum(CASE WHEN p = 1 AND actual = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      |  CAST(sum(CASE WHEN p = 1 AND actual = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      |  CAST(sum(CASE WHEN p = 0 AND actual = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      |  CAST(sum(CASE WHEN p = 0 AND actual = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
      |  CAST(CASE WHEN sum(p) > 0
      |    THEN 1000 * sum(CASE WHEN p = 1 AND actual = 1 THEN 1 ELSE 0 END) // sum(p)
      |    ELSE -1 END AS BIGINT) AS precision_milli,
      |  CAST(CASE WHEN sum(actual) > 0
      |    THEN 1000 * sum(CASE WHEN p = 1 AND actual = 1 THEN 1 ELSE 0 END) // sum(actual)
      |    ELSE -1 END AS BIGINT) AS recall_milli,
      |  CAST(1000 * sum(CASE WHEN p = actual THEN 1 ELSE 0 END) // count(*)
      |    AS BIGINT) AS accuracy_milli
      |FROM pred GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** DuckDB twin of the calibration sweep — rides [[qcScoreDuckCtes]];
    * the threshold compare is the same integer cross-multiplication, so
    * the Spark-DIV-vs-DuckDB-// negative-division divergence never
    * arises; the milli ratios divide non-negative counts only. */
  val hQualityCalibrationSql: String = qcScoreDuckCtes +
    """,
      |scored AS (
      |  SELECT ds.actual, ds.n_tok,
      |    pr.prior + ds.swgt - ds.n_tok * k.k AS score
      |  FROM ds CROSS JOIN k CROSS JOIN pr),
      |thr AS (SELECT CAST(i * 125 AS BIGINT) AS thr FROM range(-4, 13) t(i)),
      |cm AS (
      |  SELECT t.thr,
      |    CAST(count(*) AS BIGINT) AS n_test,
      |    CAST(sum(CASE WHEN 1000 * score > t.thr * n_tok AND actual = 1
      |      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      |    CAST(sum(CASE WHEN 1000 * score > t.thr * n_tok AND actual = 0
      |      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      |    CAST(sum(CASE WHEN 1000 * score <= t.thr * n_tok AND actual = 1
      |      THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      |    CAST(sum(CASE WHEN 1000 * score <= t.thr * n_tok AND actual = 0
      |      THEN 1 ELSE 0 END) AS BIGINT) AS tn
      |  FROM scored CROSS JOIN thr t GROUP BY t.thr)
      |SELECT thr AS thr_milli, n_test, tp, fp, fn, tn,
      |  CAST(CASE WHEN tp + fp > 0 THEN 1000 * tp // (tp + fp)
      |    ELSE -1 END AS BIGINT) AS precision_milli,
      |  CAST(CASE WHEN tp + fn > 0 THEN 1000 * tp // (tp + fn)
      |    ELSE -1 END AS BIGINT) AS recall_milli,
      |  CAST(CASE WHEN 2 * tp + fp + fn > 0 THEN 2000 * tp // (2 * tp + fp + fn)
      |    ELSE -1 END AS BIGINT) AS f1_milli
      |FROM cm ORDER BY thr_milli""".stripMargin

  // ================================================ percentile normalize

  /** Per-language PERCENTILE normalization of a quality score — the
    * cross-lingual thresholding fix every multilingual curation pipeline
    * ships: a raw score cut (here: token count, the simplest quality
    * proxy) removes wildly different fractions per language because
    * score DISTRIBUTIONS differ by language, while a within-language
    * percentile cut removes the same fraction everywhere by
    * construction. The report puts both cuts side by side per language —
    * n_docs, survivors and milli pass-rate under the GLOBAL raw-score
    * p80 cut, survivors and milli pass-rate under the within-lang
    * percentile ≥ 800‰ cut — so the skew the raw cut would have caused
    * is visible next to the uniform rate the normalized cut delivers.
    *
    * Exactness: the percentile is the exact integer percent_rank
    * `1000·(rank−1) DIV (n−1)` (rank() so equal scores share a
    * percentile; n=1 languages degrade to percentile 0 and never pass).
    * The global p80 threshold is the smallest score with cumulative
    * count ≥ 0.8·N, computed by value-histogram selection
    * (`10·cum ≥ 8·tot` — the [[ProfileOps.hEmbedOutliers]] distributed
    * selection idiom): token counts are a bounded value domain, so the
    * quantile costs one domain-sized census, never a global sort.
    *
    * Scale shape: one corpus scan → per-lang rank window (one lang
    * exchange; lang is the partition key a mixture pipeline shards by
    * anyway) + the score histogram census; the 1-row threshold
    * broadcasts back. Everything else is ≤|langs| rows. */
  def hPercentileNorm(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH scored AS (
        |  SELECT lang, CAST(size(split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |hist AS (SELECT toks AS sc, count(*) AS c FROM scored GROUP BY toks),
        |cum AS (
        |  SELECT sc, sum(c) OVER (ORDER BY sc) AS cum, sum(c) OVER () AS tot
        |  FROM hist),
        |cut AS (SELECT min(sc) AS raw_cut FROM cum WHERE 10 * cum >= 8 * tot),
        |pr AS (
        |  SELECT lang, toks,
        |    CASE WHEN count(*) OVER (PARTITION BY lang) > 1
        |         THEN 1000L * (rank() OVER (PARTITION BY lang ORDER BY toks) - 1)
        |              DIV (count(*) OVER (PARTITION BY lang) - 1)
        |         ELSE 0L END AS pr_milli
        |  FROM scored)
        |SELECT /*+ BROADCAST(cut) */ lang,
        |  count(*) AS n_docs,
        |  CAST(min(raw_cut) AS BIGINT) AS raw_cut,
        |  CAST(sum(CASE WHEN toks >= raw_cut THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_raw_pass,
        |  CAST(1000L * sum(CASE WHEN toks >= raw_cut THEN 1 ELSE 0 END)
        |    DIV count(*) AS BIGINT) AS raw_pass_milli,
        |  CAST(sum(CASE WHEN pr_milli >= 800 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_norm_pass,
        |  CAST(1000L * sum(CASE WHEN pr_milli >= 800 THEN 1 ELSE 0 END)
        |    DIV count(*) AS BIGINT) AS norm_pass_milli
        |FROM pr CROSS JOIN cut
        |GROUP BY lang ORDER BY lang""".stripMargin)
  }

  /** DuckDB twin: identical rank/histogram algebra; `//` floors. */
  val hPercentileNormSql: String =
    """WITH scored AS (
      |  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
      |  FROM documents),
      |hist AS (SELECT toks AS sc, count(*) AS c FROM scored GROUP BY toks),
      |cum AS (
      |  SELECT sc, sum(c) OVER (ORDER BY sc) AS cum, sum(c) OVER () AS tot
      |  FROM hist),
      |cut AS (SELECT min(sc) AS raw_cut FROM cum WHERE 10 * cum >= 8 * tot),
      |pr AS (
      |  SELECT lang, toks,
      |    CASE WHEN count(*) OVER (PARTITION BY lang) > 1
      |         THEN 1000 * (rank() OVER (PARTITION BY lang ORDER BY toks) - 1)
      |              // (count(*) OVER (PARTITION BY lang) - 1)
      |         ELSE 0 END AS pr_milli
      |  FROM scored)
      |SELECT lang,
      |  count(*) AS n_docs,
      |  CAST(min(raw_cut) AS BIGINT) AS raw_cut,
      |  CAST(sum(CASE WHEN toks >= raw_cut THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_raw_pass,
      |  CAST(1000 * sum(CASE WHEN toks >= raw_cut THEN 1 ELSE 0 END)
      |    // count(*) AS BIGINT) AS raw_pass_milli,
      |  CAST(sum(CASE WHEN pr_milli >= 800 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_norm_pass,
      |  CAST(1000 * sum(CASE WHEN pr_milli >= 800 THEN 1 ELSE 0 END)
      |    // count(*) AS BIGINT) AS norm_pass_milli
      |FROM pr CROSS JOIN cut
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ======================================================== Zipf audit

  /** ZIPF-LAW fit audit — the corpus-health screen that catches synthetic,
    * templated, or spam-heavy text before any frequency-based pipeline
    * trusts it: natural language's rank-frequency curve is a power law
    * with slope ≈ −1 on log-log axes, and machine-generated or boilerplate
    * corpora bend it (flat head = template spam, cliff tail = tiny
    * effective vocabulary). Per language: OLS of log₂-frequency on
    * log₂-rank over the top-64 terms — both logs as the exact bit-length
    * integer `length(bin(n)) − 1` (the [[hBm25]] idf idiom: no libm, so
    * the six OLS moments are bit-identical BIGINTs cross-engine and the
    * slope/r² finish is the [[AnalyticsOps.dRegression]] fixed IEEE dag
    * on exactly-agreed integers) — plus the head-mass share
    * `1000·c₁ DIV Σcnt` (a second template-spam tell: one token owning
    * the corpus).
    *
    * Scale shape: one corpus explode collapses map-side into the
    * vocabulary-sized (lang, term) count table; the rank and total
    * windows share ONE lang exchange over that table (subset
    * clustering); the moment aggregate is ≤64 rows per lang. At 100 TB:
    * one map-reduce over tokens, everything after vocabulary-sized. */
  def hZipfAudit(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH tf AS (
        |  SELECT lang, t AS term, count(*) AS cnt
        |  FROM documents LATERAL VIEW explode(split(text, ' ')) x AS t
        |  GROUP BY lang, t),
        |ranked AS (
        |  SELECT lang, term, cnt,
        |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, term) AS rnk,
        |    sum(cnt) OVER (PARTITION BY lang) AS tot
        |  FROM tf),
        |pts AS (
        |  SELECT lang, tot, cnt, rnk,
        |    CAST(length(bin(rnk)) - 1 AS BIGINT) AS x,
        |    CAST(length(bin(cnt)) - 1 AS BIGINT) AS y
        |  FROM ranked WHERE rnk <= 64),
        |m AS (
        |  SELECT lang, count(*) AS n, max(tot) AS tot,
        |    max(CASE WHEN rnk = 1 THEN cnt END) AS c1,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM pts GROUP BY lang)
        |SELECT lang, CAST(n AS BIGINT) AS n_terms,
        |  CAST(sx AS BIGINT) AS sx, CAST(sy AS BIGINT) AS sy,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0)
        |    AS slope,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / nullif((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |       * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0)
        |    AS r2,
        |  CAST(1000L * c1 DIV tot AS BIGINT) AS head_share_milli
        |FROM m ORDER BY lang""".stripMargin)
  }

  /** DuckDB twin: identical bit-length points and moment finish. */
  val hZipfAuditSql: String =
    """WITH tf AS (
      |  SELECT lang, t.term, count(*) AS cnt
      |  FROM documents, unnest(string_split(text, ' ')) AS t(term)
      |  GROUP BY lang, t.term),
      |ranked AS (
      |  SELECT lang, term, cnt,
      |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, term) AS rnk,
      |    sum(cnt) OVER (PARTITION BY lang) AS tot
      |  FROM tf),
      |pts AS (
      |  SELECT lang, tot, cnt, rnk,
      |    CAST(length(bin(rnk)) - 1 AS BIGINT) AS x,
      |    CAST(length(bin(cnt)) - 1 AS BIGINT) AS y
      |  FROM ranked WHERE rnk <= 64),
      |m AS (
      |  SELECT lang, count(*) AS n, CAST(max(tot) AS BIGINT) AS tot,
      |    CAST(max(CASE WHEN rnk = 1 THEN cnt END) AS BIGINT) AS c1,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM pts GROUP BY lang)
      |SELECT lang, CAST(n AS BIGINT) AS n_terms, sx, sy,
      |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0)
      |    AS slope,
      |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / nullif((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |       * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0)
      |    AS r2,
      |  CAST(1000 * c1 // tot AS BIGINT) AS head_share_milli
      |FROM m ORDER BY lang""".stripMargin

  // ===================================================== c-TF-IDF topics

  /** Class-based TF-IDF topic labeling (the BERTopic c-TF-IDF reduction):
    * where [[LlmOps.hTfidf]] names each DOCUMENT's distinctive terms,
    * this names each CLASS's — concatenate every document of a class
    * (here: `source`, the crawl/feed a doc arrived from) into one
    * pseudo-document, weight each term by class frequency × an inverse
    * CLASS-frequency log, and report the top-3 terms per class. This is
    * the standard cluster-labeling step after any corpus clustering
    * (what IS src7?) and the fastest spam-feed tell (a source whose top
    * terms are navigation boilerplate). The idf is the exact bit-length
    * log `length(bin(4·n_src DIV src_df))` ([[hBm25]]'s idiom, ×4 so
    * near-ubiquitous terms still separate into ≥3 integer weight tiers);
    * everything stays BIGINT so both engines agree exactly.
    *
    * Scale shape: ONE corpus explode collapses map-side into the
    * (source, term) class-vocabulary table, which is localCheckpointed
    * because THREE consumers read it (the class-df rollup, the class
    * count, and the score join) — un-checkpointed, Spark re-inlines each
    * into its own corpus explode. Everything downstream is
    * classes×vocabulary-sized; the top-3 window plans as
    * WindowGroupLimit (map-side top-k per source before the one source
    * exchange). At 100 TB: one map-reduce over tokens, then control-
    * table algebra. */
  /** The (source, term) class-vocabulary table, materialized ONCE per
    * (context, dir) via [[Checkpoints.sharedTable]] and registered as
    * `ctfidf_ctf` — [[hCtfidfTopics]] and [[hTopicCoherence]] both read
    * it (the shared componentLabels discipline: a write-once index table,
    * not a per-query rebuild). */
  private def classVocab(s: SparkSession, dir: String): Unit =
    Checkpoints.sharedTable(s, s"ctfidf_ctf:$dir")(s.sql(
      """SELECT source, t AS term, count(*) AS ctf
        |FROM documents LATERAL VIEW explode(split(text, ' ')) x AS t
        |GROUP BY source, t""".stripMargin)
      .graftCheckpoint()).createOrReplaceTempView("ctfidf_ctf")

  def hCtfidfTopics(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    classVocab(s, dir)
    s.sql(
      """WITH ctf AS (SELECT source, term, ctf FROM ctfidf_ctf),
        |ns AS (SELECT count(DISTINCT source) AS nsrc FROM ctf),
        |sdf AS (SELECT term, count(*) AS src_df FROM ctf GROUP BY term),
        |sc AS (
        |  SELECT c.source, c.term,
        |    c.ctf * length(bin((4 * n.nsrc) DIV d.src_df)) AS score
        |  FROM ctf c JOIN sdf d ON c.term = d.term CROSS JOIN ns n)
        |SELECT source, term, CAST(score AS BIGINT) AS score,
        |  CAST(rnk AS BIGINT) AS rnk
        |FROM (
        |  SELECT source, term, score,
        |    row_number() OVER (PARTITION BY source ORDER BY score DESC, term)
        |      AS rnk
        |  FROM sc)
        |WHERE rnk <= 3
        |ORDER BY source, rnk""".stripMargin)
  }

  /** DuckDB twin: identical class-vocab table (MATERIALIZED — three
    * consumers) and bit-length idf. */
  val hCtfidfTopicsSql: String =
    """WITH ctf AS MATERIALIZED (
      |  SELECT source, t.term, count(*) AS ctf
      |  FROM documents, unnest(string_split(text, ' ')) AS t(term)
      |  GROUP BY source, t.term),
      |ns AS (SELECT count(DISTINCT source) AS nsrc FROM ctf),
      |sdf AS (SELECT term, count(*) AS src_df FROM ctf GROUP BY term),
      |sc AS (
      |  SELECT c.source, c.term,
      |    c.ctf * length(bin((4 * n.nsrc) // d.src_df)) AS score
      |  FROM ctf c JOIN sdf d ON c.term = d.term CROSS JOIN ns n)
      |SELECT source, term, CAST(score AS BIGINT) AS score,
      |  CAST(rnk AS BIGINT) AS rnk
      |FROM (
      |  SELECT source, term, score,
      |    row_number() OVER (PARTITION BY source ORDER BY score DESC, term)
      |      AS rnk
      |  FROM sc)
      |WHERE rnk <= 3
      |ORDER BY source, rnk""".stripMargin

  // ===================================================== topic coherence

  /** UMass TOPIC-COHERENCE audit of the [[hCtfidfTopics]] labels — the
    * quality gate run on ANY topic model's output before the labels are
    * trusted (Mimno et al. 2011): a class's top terms are a coherent
    * topic only if they actually CO-OCCUR in that class's documents.
    * Recomputes each source's c-TF-IDF top-3 (the exact bit-length-idf
    * ranking the labeling query ships) and scores the three ordered
    * pairs by the UMass statistic — integer micro-ratio
    * `10⁶·(D(wᵢ,wⱼ)+1) DIV D(wⱼ)` through the engine's bit-length log,
    * summed — where D counts within-class documents. Reported per class:
    * the three terms, their document frequencies, all three pair
    * co-occurrence counts, and the coherence score (higher = terms
    * travel together = a real topic; a boilerplate/spam class scores
    * low). Everything BIGINT, so the audit hash-matches cross-engine.
    * Degenerate-panel guard (round-19 advice): a class whose vocabulary
    * has under 2 distinct terms leaves t2 NULL and d2 = 0, and an
    * unguarded `DIV d2` would silently NULL the whole coherence column
    * for that class; the denominators ride `greatest(d, 1)` in BOTH
    * engines, so a degenerate class instead surfaces a conspicuous
    * ~20-bit score next to its NULL terms — visible in the audit rather
    * than swallowed.
    *
    * Scale shape: the class-vocab table comes from the SHARED
    * `ctfidf_ctf` checkpoint ([[classVocab]] — built once per context,
    * also serving hCtfidfTopics); the corpus explode for co-occurrence
    * is filtered by the broadcast 3-terms-per-class panel BEFORE the
    * distinct, so the flags aggregate sees only panel hits (≤ 3 rows per
    * (doc, class)); everything downstream is classes-sized. */
  def hTopicCoherence(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    classVocab(s, dir)
    s.sql(
      """WITH top3 AS (
        |  SELECT source, term, rnk FROM (
        |    SELECT c.source, c.term,
        |      row_number() OVER (PARTITION BY c.source
        |        ORDER BY c.ctf * length(bin((4 * n.nsrc) DIV d.src_df)) DESC,
        |                 c.term) AS rnk
        |    FROM ctfidf_ctf c
        |    JOIN (SELECT term, count(*) AS src_df FROM ctfidf_ctf GROUP BY term) d
        |      ON c.term = d.term
        |    CROSS JOIN (SELECT count(DISTINCT source) AS nsrc FROM ctfidf_ctf) n)
        |  WHERE rnk <= 3),
        |hits AS (
        |  SELECT e.source, e.doc_id, p.rnk
        |  FROM (SELECT source, doc_id, t AS term
        |        FROM documents LATERAL VIEW explode(split(text, ' ')) x AS t) e
        |  JOIN top3 p ON e.source = p.source AND e.term = p.term),
        |flags AS (
        |  SELECT source, doc_id,
        |    max(CASE WHEN rnk = 1 THEN 1 ELSE 0 END) AS a1,
        |    max(CASE WHEN rnk = 2 THEN 1 ELSE 0 END) AS a2,
        |    max(CASE WHEN rnk = 3 THEN 1 ELSE 0 END) AS a3
        |  FROM hits GROUP BY source, doc_id),
        |agg AS (
        |  SELECT source,
        |    sum(a1) AS d1, sum(a2) AS d2, sum(a3) AS d3,
        |    sum(a1 * a2) AS d12, sum(a1 * a3) AS d13, sum(a2 * a3) AS d23
        |  FROM flags GROUP BY source),
        |terms AS (
        |  SELECT source,
        |    max(CASE WHEN rnk = 1 THEN term END) AS t1,
        |    max(CASE WHEN rnk = 2 THEN term END) AS t2,
        |    max(CASE WHEN rnk = 3 THEN term END) AS t3
        |  FROM top3 GROUP BY source)
        |SELECT a.source, t.t1, t.t2, t.t3,
        |  CAST(a.d1 AS BIGINT) AS d1, CAST(a.d2 AS BIGINT) AS d2,
        |  CAST(a.d3 AS BIGINT) AS d3,
        |  CAST(a.d12 AS BIGINT) AS d12, CAST(a.d13 AS BIGINT) AS d13,
        |  CAST(a.d23 AS BIGINT) AS d23,
        |  CAST(length(bin(1000000 * (a.d12 + 1) DIV greatest(a.d1, 1)))
        |     + length(bin(1000000 * (a.d13 + 1) DIV greatest(a.d1, 1)))
        |     + length(bin(1000000 * (a.d23 + 1) DIV greatest(a.d2, 1))) AS BIGINT)
        |    AS coherence
        |FROM agg a JOIN terms t ON a.source = t.source
        |ORDER BY a.source""".stripMargin)
  }

  /** DuckDB twin: identical top-3 ranking, flag algebra and bit-length
    * UMass statistic. */
  val hTopicCoherenceSql: String =
    """WITH ctf AS MATERIALIZED (
      |  SELECT source, t.term, count(*) AS ctf
      |  FROM documents, unnest(string_split(text, ' ')) AS t(term)
      |  GROUP BY source, t.term),
      |top3 AS (
      |  SELECT source, term, rnk FROM (
      |    SELECT c.source, c.term,
      |      row_number() OVER (PARTITION BY c.source
      |        ORDER BY c.ctf * length(bin((4 * n.nsrc) // d.src_df)) DESC,
      |                 c.term) AS rnk
      |    FROM ctf c
      |    JOIN (SELECT term, count(*) AS src_df FROM ctf GROUP BY term) d
      |      ON c.term = d.term
      |    CROSS JOIN (SELECT count(DISTINCT source) AS nsrc FROM ctf) n)
      |  WHERE rnk <= 3),
      |hits AS (
      |  SELECT e.source, e.doc_id, p.rnk
      |  FROM (SELECT source, doc_id, t.term
      |        FROM documents, unnest(string_split(text, ' ')) AS t(term)) e
      |  JOIN top3 p ON e.source = p.source AND e.term = p.term),
      |flags AS (
      |  SELECT source, doc_id,
      |    max(CASE WHEN rnk = 1 THEN 1 ELSE 0 END) AS a1,
      |    max(CASE WHEN rnk = 2 THEN 1 ELSE 0 END) AS a2,
      |    max(CASE WHEN rnk = 3 THEN 1 ELSE 0 END) AS a3
      |  FROM hits GROUP BY source, doc_id),
      |agg AS (
      |  SELECT source,
      |    sum(a1) AS d1, sum(a2) AS d2, sum(a3) AS d3,
      |    sum(a1 * a2) AS d12, sum(a1 * a3) AS d13, sum(a2 * a3) AS d23
      |  FROM flags GROUP BY source),
      |terms AS (
      |  SELECT source,
      |    max(CASE WHEN rnk = 1 THEN term END) AS t1,
      |    max(CASE WHEN rnk = 2 THEN term END) AS t2,
      |    max(CASE WHEN rnk = 3 THEN term END) AS t3
      |  FROM top3 GROUP BY source)
      |SELECT a.source, t.t1, t.t2, t.t3,
      |  CAST(a.d1 AS BIGINT) AS d1, CAST(a.d2 AS BIGINT) AS d2,
      |  CAST(a.d3 AS BIGINT) AS d3,
      |  CAST(a.d12 AS BIGINT) AS d12, CAST(a.d13 AS BIGINT) AS d13,
      |  CAST(a.d23 AS BIGINT) AS d23,
      |  CAST(length(bin(1000000 * (a.d12 + 1) // greatest(a.d1, 1)))
      |     + length(bin(1000000 * (a.d13 + 1) // greatest(a.d1, 1)))
      |     + length(bin(1000000 * (a.d23 + 1) // greatest(a.d2, 1))) AS BIGINT)
      |    AS coherence
      |FROM agg a JOIN terms t ON a.source = t.source
      |ORDER BY a.source""".stripMargin

  // ==================================================== boilerplate strip

  /** BOILERPLATE EXTRACTION audit — the crawl step between fetch and every
    * text operator in this suite: raw HTML must be reduced to its content
    * block (the trafilatura/readability job), and the extraction
    * heuristic's failure rate is a per-source number a crawl review reads
    * before trusting downstream quality stats. The testdata has no HTML,
    * so each document's fetched page is SYNTHESIZED deterministically —
    * per-source nav boilerplate, a cookie banner on every third doc, the
    * content in `<p>…</p>`, and a fixed ~140-char legal-disclaimer footer
    * — and the extractor is the fully-specified text-density rule
    * readability-style tools reduce to: of all inter-tag text blocks
    * (`>([^<>]+)<`), keep the LONGEST (ties by block text). The footer is
    * the PLANTED adversary: any document whose content is shorter than
    * the disclaimer extracts boilerplate instead — so the audit's
    * exact-match rate per source (720–920‰ measured at sf0.01) is the
    * heuristic's real failure surface, not a vacuous 100 %. Reported per
    * source: docs, exact extractions, the exact-rate in ‰, and the
    * content-to-HTML ratio (the fetch-bandwidth tax boilerplate levies —
    * ~55 % here, the number a crawl's storage budget multiplies by).
    *
    * Scale shape: scan-local synthesis + one block explode (bounded: ≤ 4
    * blocks per doc) into a per-doc top-1 window on doc_id, then ONE
    * source-keyed aggregate — token-linear, one exchange pair. */
  def hBoilerplateStrip(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH wrapped AS (
        |  SELECT doc_id, source, text,
        |    concat('<html><body><nav>home | about | ', source, ' topics</nav>',
        |      CASE WHEN doc_id % 3 = 0 THEN '<div>we use cookies accept decline</div>' ELSE '' END,
        |      '<p>', text, '</p>',
        |      '<footer>', repeat('all rights reserved ', 7), source, ' terms</footer>',
        |      '</body></html>') AS html
        |  FROM documents),
        |blocks AS (
        |  SELECT doc_id, source, text, html, b
        |  FROM wrapped LATERAL VIEW explode(regexp_extract_all(html, '>([^<>]+)<', 1)) t AS b),
        |best AS (
        |  SELECT doc_id, source, text, html, b AS extracted FROM (
        |    SELECT doc_id, source, text, html, b,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY length(b) DESC, b) AS rn
        |    FROM blocks) WHERE rn = 1)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN extracted = text THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
        |  CAST(1000 * sum(CASE WHEN extracted = text THEN 1 ELSE 0 END) DIV count(*) AS BIGINT) AS exact_milli,
        |  CAST(1000 * sum(length(text)) DIV sum(length(html)) AS BIGINT) AS content_milli
        |FROM best GROUP BY source ORDER BY source""".stripMargin)
  }

  /** DuckDB twin: identical synthesis, block regex, tie-break and rates. */
  val hBoilerplateStripSql: String =
    """WITH wrapped AS (
      |  SELECT doc_id, source, text,
      |    '<html><body><nav>home | about | ' || source || ' topics</nav>' ||
      |    CASE WHEN doc_id % 3 = 0 THEN '<div>we use cookies accept decline</div>' ELSE '' END ||
      |    '<p>' || text || '</p>' ||
      |    '<footer>' || repeat('all rights reserved ', 7) || source || ' terms</footer>' ||
      |    '</body></html>' AS html
      |  FROM documents),
      |blocks AS (
      |  SELECT doc_id, source, text, html,
      |    unnest(regexp_extract_all(html, '>([^<>]+)<', 1)) AS b
      |  FROM wrapped),
      |best AS (
      |  SELECT doc_id, source, text, html, b AS extracted FROM (
      |    SELECT doc_id, source, text, html, b,
      |      row_number() OVER (PARTITION BY doc_id ORDER BY length(b) DESC, b) AS rn
      |    FROM blocks) WHERE rn = 1)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN extracted = text THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
      |  CAST(1000 * sum(CASE WHEN extracted = text THEN 1 ELSE 0 END) // count(*) AS BIGINT) AS exact_milli,
      |  CAST(1000 * sum(length(text)) // sum(length(html)) AS BIGINT) AS content_milli
      |FROM best GROUP BY source ORDER BY source""".stripMargin

  // ==================================================== compression screen

  /** COMPRESSION-RATIO GIBBERISH SCREEN — the Gopher/Dolma filter-family
    * member the suite lacked next to repetition ([[TrainingOps
    * .hDocRepetition]]) and LM surprisal ([[LlmOps.hLmQuality]]): natural
    * text compresses into a characteristic band; far BELOW it is
    * boilerplate/repetition spam, far ABOVE it is base64/minified/
    * encrypted junk — both poison for a training mix. Real zlib is not
    * expressible cross-engine, so the screen scores each document with a
    * deterministic ORDER-0 ENTROPY-CODING BOUND — the character-level
    * term zlib's Huffman stage exploits — through the engine's exact
    * bit-length log: `est_bits = Σ_c n_c · bitlen(len DIV n_c)`,
    * `ratio_milli = 1000 · est_bits DIV (8 · len)` (raw = 8 bits/char).
    * Verdict bands: ≤ 300‰ repetitive, ≥ 700‰ suspect_noise, else clean
    * (measured corpus band 517–604‰). Two probe docs are PLANTED per
    * language so both flag paths fire on any input (the gAnomaly spike
    * convention): `'aa '×80` scores exactly 166‰ and a 64-distinct-char
    * string scores exactly 875‰; probe ids derive from the lang bytes so
    * they never collide with corpus ids. Reported per (lang, verdict):
    * doc count and the min/max/mean ratio — the band table a filter
    * threshold review reads.
    *
    * Scale shape: ONE char-level explode (≈ n_chars rows) collapsing
    * map-side into the per-doc ALPHABET-BOUNDED histogram (≤ ~100 rows
    * per doc), the doc length folded back as `sum(nc) OVER (PARTITION BY
    * doc_id)` on that bounded table (round 20 — the earlier hist⋈lens
    * self-join made Catalyst re-inline the whole explode chain TWICE),
    * then a langs×3 aggregate — token-linear, nothing corpus-squared
    * anywhere. */
  def hCompressionScreen(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH probes AS (
        |  SELECT DISTINCT lang,
        |    -(CAST(ascii(substring(lang, 1, 1)) AS BIGINT) * 256
        |      + ascii(substring(lang, 2, 1))) AS pid
        |  FROM documents),
        |corpus AS (
        |  SELECT doc_id, lang, text FROM documents
        |  UNION ALL
        |  SELECT pid, lang, repeat('aa ', 80) FROM probes
        |  UNION ALL
        |  SELECT pid - 100000, lang,
        |    concat_ws('', transform(sequence(0, 63), i -> char(48 + i)))
        |  FROM probes),
        |chars AS (
        |  SELECT doc_id, lang, c
        |  FROM corpus LATERAL VIEW explode(split(text, '')) t AS c),
        |hist AS (
        |  SELECT doc_id, lang, c, count(*) AS nc FROM chars GROUP BY 1, 2, 3),
        |withlen AS (
        |  SELECT doc_id, lang, nc,
        |    sum(nc) OVER (PARTITION BY doc_id) AS len
        |  FROM hist),
        |bits AS (
        |  SELECT doc_id, lang,
        |    CAST(sum(nc * length(bin(len DIV nc))) AS BIGINT) AS est_bits,
        |    max(len) AS len
        |  FROM withlen GROUP BY 1, 2),
        |ratio AS (
        |  SELECT doc_id, lang,
        |    CAST(1000 * est_bits DIV (8 * len) AS BIGINT) AS rm FROM bits),
        |verdicts AS (
        |  SELECT lang, rm,
        |    CASE WHEN rm <= 300 THEN 'repetitive'
        |         WHEN rm >= 700 THEN 'suspect_noise'
        |         ELSE 'clean' END AS verdict
        |  FROM ratio)
        |SELECT lang, verdict, CAST(count(*) AS BIGINT) AS n_docs,
        |  min(rm) AS min_milli, max(rm) AS max_milli,
        |  CAST(sum(rm) DIV count(*) AS BIGINT) AS avg_milli
        |FROM verdicts GROUP BY lang, verdict ORDER BY lang, verdict""".stripMargin)
  }

  /** DuckDB twin: identical probes (string_agg over a range where Spark
    * transforms a sequence), char explode, bit-length bound and bands. */
  val hCompressionScreenSql: String =
    """WITH probes AS (
      |  SELECT DISTINCT lang,
      |    -(CAST(ascii(substring(lang, 1, 1)) AS BIGINT) * 256
      |      + ascii(substring(lang, 2, 1))) AS pid
      |  FROM documents),
      |corpus AS (
      |  SELECT doc_id, lang, text FROM documents
      |  UNION ALL
      |  SELECT pid, lang, repeat('aa ', 80) FROM probes
      |  UNION ALL
      |  SELECT pid - 100000, lang,
      |    (SELECT string_agg(chr(CAST(48 + i AS INT)), '' ORDER BY i)
      |     FROM range(64) t(i))
      |  FROM probes),
      |chars AS (
      |  SELECT doc_id, lang, unnest(string_split(text, '')) AS c FROM corpus),
      |hist AS (
      |  SELECT doc_id, lang, c, count(*) AS nc FROM chars GROUP BY 1, 2, 3),
      |lens AS (SELECT doc_id, sum(nc) AS len FROM hist GROUP BY 1),
      |bits AS (
      |  SELECT h.doc_id, h.lang,
      |    CAST(sum(h.nc * length(bin(l.len // h.nc))) AS BIGINT) AS est_bits,
      |    max(l.len) AS len
      |  FROM hist h JOIN lens l ON h.doc_id = l.doc_id GROUP BY 1, 2),
      |ratio AS (
      |  SELECT doc_id, lang,
      |    CAST(1000 * est_bits // (8 * len) AS BIGINT) AS rm FROM bits),
      |verdicts AS (
      |  SELECT lang, rm,
      |    CASE WHEN rm <= 300 THEN 'repetitive'
      |         WHEN rm >= 700 THEN 'suspect_noise'
      |         ELSE 'clean' END AS verdict
      |  FROM ratio)
      |SELECT lang, verdict, CAST(count(*) AS BIGINT) AS n_docs,
      |  min(rm) AS min_milli, max(rm) AS max_milli,
      |  CAST(sum(rm) // count(*) AS BIGINT) AS avg_milli
      |FROM verdicts GROUP BY lang, verdict ORDER BY lang, verdict""".stripMargin

  // ==================================================== domain rollup

  /** URL CANONICALIZATION + eTLD+1 DOMAIN ROLLUP — the missing half of
    * [[TrainingOps.hDomainCap]]'s cap policy: a crawl pipeline caps by
    * REGISTRABLE DOMAIN (the public-suffix-list eTLD+1 — `co.uk` is a
    * suffix, `bbc.co.uk` is the capping unit), and before any domain can
    * be counted its URLs must be canonicalized, because a re-crawl
    * stores the same resource under case/`www.`/default-port/tracking-
    * param/fragment noise. The testdata carries no URL column, so each
    * document's crawl URL is SYNTHESIZED deterministically from
    * (source, lang, doc_id) via md5-digit draws — scheme, optional
    * `www.`, a public suffix from {com, org, net, co.uk, com.au,
    * github.io}, upper-case noise, default/explicit/:8080 ports, utm_*
    * tracking params in both positions, fragments — plus ONE re-crawl
    * variant per URL (different surface form, same resource), built
    * identically in both engines so the PARSING is what's under test.
    *
    * Canonicalization spec: strip fragment → drop `utm_*` params
    * (keeping real ones) → lowercase host → strip one leading `www.` →
    * drop scheme-default ports (443/https, 80/http), keep others. eTLD+1:
    * longest public-suffix match from the list above, plus one label.
    * Rollup per registrable domain: docs, raw vs canonical URL counts
    * (canonical == docs is the collapse invariant the re-crawl variants
    * prove), distinct hosts, corpus share in ‰, and the ≥1% cap flag —
    * the [[TrainingOps.hDomainCap]] decision input at the right
    * granularity.
    *
    * Scale shape: scan-local string algebra (md5, regexp) per document,
    * one UNION ALL doubling, then ONE etld1-keyed aggregate with
    * map-side partials; the corpus-total is a 1-row scalar subquery
    * (broadcast). Nothing but the domain-cardinality table crosses an
    * exchange — linear at any K. */
  /** The synthesized crawl log: (doc_id, url) — every document's stored
    * URL plus its re-crawl variant (see [[hDomainRollup]]'s doc). Shared
    * with [[graft.streaming.StreamingDomainRollup]]'s twin spec, which
    * streams exactly these rows through the ingest-time rollup. */
  private[graft] def domainRawUrls(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH seed AS (
        |  SELECT doc_id, lang, source,
        |    md5(concat(source, ':', CAST(doc_id AS STRING))) AS h
        |  FROM documents),
        |dig AS (
        |  SELECT doc_id, lang, source,
        |    CAST(conv(substring(h, 1, 1), 16, 10) AS BIGINT) AS d1,
        |    CAST(conv(substring(h, 2, 1), 16, 10) AS BIGINT) AS d2,
        |    CAST(conv(substring(h, 3, 1), 16, 10) AS BIGINT) AS d3,
        |    CAST(conv(substring(h, 4, 1), 16, 10) AS BIGINT) AS d4,
        |    CAST(conv(substring(h, 5, 1), 16, 10) AS BIGINT) AS d5,
        |    CAST(conv(substring(h, 6, 1), 16, 10) AS BIGINT) AS d6
        |  FROM seed),
        |parts AS (
        |  SELECT doc_id, d1, d2, d3, d5,
        |    CASE WHEN d1 % 2 = 0 THEN 'https' ELSE 'http' END AS scheme,
        |    concat(source, '-', lang, '.',
        |      CASE d4 % 6 WHEN 0 THEN 'com' WHEN 1 THEN 'org' WHEN 2 THEN 'net'
        |                  WHEN 3 THEN 'co.uk' WHEN 4 THEN 'com.au'
        |                  ELSE 'github.io' END) AS hostbase,
        |    CASE WHEN d6 % 3 = 0 THEN concat('?utm_source=feed&ref=', lang)
        |         WHEN d6 % 3 = 1 THEN concat('?id=', CAST(doc_id AS STRING), '&utm_campaign=x')
        |         ELSE '' END AS q,
        |    concat('/p/', CAST(doc_id AS STRING)) AS pth
        |  FROM dig)
        |SELECT doc_id, concat(scheme, '://',
        |  CASE WHEN d3 % 4 = 0
        |    THEN upper(concat(CASE WHEN d2 % 2 = 0 THEN 'www.' ELSE '' END, hostbase))
        |    ELSE concat(CASE WHEN d2 % 2 = 0 THEN 'www.' ELSE '' END, hostbase) END,
        |  CASE WHEN d5 % 4 = 0 THEN CASE WHEN scheme = 'https' THEN ':443' ELSE ':80' END
        |       WHEN d5 % 4 = 1 THEN ':8080' ELSE '' END,
        |  pth, q, CASE WHEN d1 % 3 = 0 THEN '#sec1' ELSE '' END) AS url
        |FROM parts
        |UNION ALL
        |SELECT doc_id, concat(scheme, '://WWW.', upper(hostbase),
        |  CASE WHEN d5 % 4 = 1 THEN ':8080'
        |       ELSE CASE WHEN scheme = 'https' THEN ':443' ELSE ':80' END END,
        |  pth,
        |  CASE WHEN q = '' THEN '?utm_medium=rss' ELSE concat(q, '&utm_medium=rss') END,
        |  '#top') AS url
        |FROM parts""".stripMargin)
  }

  /** The canonicalization spec as a reusable projection over (doc_id, url)
    * — works on batch AND streaming frames (plain selectExpr chain, no
    * window/aggregate), so the ingest-time twin applies the IDENTICAL
    * rule: strip fragment → drop utm_* params → lowercase host → strip
    * one leading `www.` → drop scheme-default ports → eTLD+1 by longest
    * public-suffix match. Output: doc_id, url, host, canon_url, etld1.
    *
    * The utm strip anchors on a param BOUNDARY (round-19 advice: the old
    * unanchored `utm_[^&#]*&` also matched inside a longer param name,
    * corrupting e.g. `?a=1&myutm_x=2` to `?a=1&my`): `&utm_…` params drop
    * with their `&`; a leading `?utm_…&` collapses to `?`; a lone
    * `?utm_…$` drops whole. RE2 has no lookbehind, so the three-pass form
    * is the cross-engine-safe anchoring. */
  private[graft] def canonicalizeUrls(df: DataFrame): DataFrame =
    df.selectExpr("doc_id", "url",
        """regexp_replace(regexp_replace(regexp_replace(regexp_replace(url,
          |  '#.*$', ''), '&utm_[^&#]*', ''), '[?]utm_[^&#]*&', '?'), '[?]utm_[^&#]*$', '') AS u1""".stripMargin)
      .selectExpr("doc_id", "url",
        "regexp_extract(u1, '^(https?)://', 1) AS sch",
        """regexp_replace(lower(regexp_extract(u1, '^https?://([^/:?#]+)', 1)), '^www\\.', '') AS host""",
        "regexp_extract(u1, '^https?://[^/:?#]+:([0-9]+)', 1) AS port",
        "regexp_extract(u1, '^https?://[^/?#]+(/[^?#]*)', 1) AS pth",
        """regexp_extract(u1, '\\?(.*)$', 1) AS qq""")
      .selectExpr("doc_id", "url", "host",
        """concat(sch, '://', host,
          |  CASE WHEN port = '' OR (sch = 'https' AND port = '443')
          |            OR (sch = 'http' AND port = '80')
          |       THEN '' ELSE concat(':', port) END,
          |  pth, CASE WHEN qq = '' THEN '' ELSE concat('?', qq) END) AS canon_url""".stripMargin,
        """CASE WHEN regexp_extract(host, '([^.]+\\.(co\\.uk|com\\.au|github\\.io))$', 1) <> ''
          |     THEN regexp_extract(host, '([^.]+\\.(co\\.uk|com\\.au|github\\.io))$', 1)
          |     ELSE regexp_extract(host, '([^.]+\\.[^.]+)$', 1) END AS etld1""".stripMargin)

  /** Round 20: the synthesized-and-canonicalized crawl log — scan-local
    * but regex-HEAVY string algebra — is consumed by [[hDomainRollup]]
    * and (twice, via CTE re-inlining) by [[hLicenseCompliance]]. One
    * [[Checkpoints.sharedTable]] materialization per (context, dir); at
    * cluster scale this is the canonical-URL column a crawl frontier
    * writes once and every domain-keyed job reads. */
  private def domainCurl(s: SparkSession, dir: String): DataFrame =
    Checkpoints.sharedTable(s, s"domainCurl:$dir")(
      canonicalizeUrls(domainRawUrls(s, dir)).graftCheckpoint())

  def hDomainRollup(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    domainCurl(s, dir).createOrReplaceTempView("domain_curl")
    s.sql(
      """SELECT etld1,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_raw_urls,
        |  CAST(count(DISTINCT canon_url) AS BIGINT) AS n_canon_urls,
        |  CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
        |  CAST(1000 * count(DISTINCT doc_id) DIV (SELECT count(*) FROM documents) AS BIGINT) AS share_milli,
        |  1000 * count(DISTINCT doc_id) >= 10 * (SELECT count(*) FROM documents) AS cap_flag
        |FROM domain_curl GROUP BY etld1 ORDER BY etld1""".stripMargin)
  }

  /** DuckDB twin: identical synthesis draws, canonicalization regexes
    * (g-flagged where DuckDB defaults to first-match) and suffix-list
    * matching. */
  /** The DuckDB replica of [[domainRawUrls]] + [[canonicalizeUrls]] (the
    * WITH chain through `curl(doc_id, host, canon_url, etld1)`) — shared
    * by every twin that reaches documents through the canonicalized
    * domain (h_domain_rollup, h_license_compliance), so the oracle-side
    * canonicalization can never drift between them. */
  private val domainCanonDuckCtes: String =
    """WITH seed AS (
      |  SELECT doc_id, lang, source,
      |    md5(source || ':' || CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |dig AS (
      |  SELECT doc_id, lang, source,
      |    CAST(concat('0x', substring(h, 1, 1)) AS BIGINT) AS d1,
      |    CAST(concat('0x', substring(h, 2, 1)) AS BIGINT) AS d2,
      |    CAST(concat('0x', substring(h, 3, 1)) AS BIGINT) AS d3,
      |    CAST(concat('0x', substring(h, 4, 1)) AS BIGINT) AS d4,
      |    CAST(concat('0x', substring(h, 5, 1)) AS BIGINT) AS d5,
      |    CAST(concat('0x', substring(h, 6, 1)) AS BIGINT) AS d6
      |  FROM seed),
      |parts AS (
      |  SELECT doc_id, d1, d2, d3, d5,
      |    CASE WHEN d1 % 2 = 0 THEN 'https' ELSE 'http' END AS scheme,
      |    source || '-' || lang || '.' ||
      |      CASE d4 % 6 WHEN 0 THEN 'com' WHEN 1 THEN 'org' WHEN 2 THEN 'net'
      |                  WHEN 3 THEN 'co.uk' WHEN 4 THEN 'com.au'
      |                  ELSE 'github.io' END AS hostbase,
      |    CASE WHEN d6 % 3 = 0 THEN '?utm_source=feed&ref=' || lang
      |         WHEN d6 % 3 = 1 THEN '?id=' || CAST(doc_id AS VARCHAR) || '&utm_campaign=x'
      |         ELSE '' END AS q,
      |    '/p/' || CAST(doc_id AS VARCHAR) AS pth
      |  FROM dig),
      |raw AS (
      |  SELECT doc_id, scheme || '://' ||
      |    CASE WHEN d3 % 4 = 0
      |      THEN upper(CASE WHEN d2 % 2 = 0 THEN 'www.' ELSE '' END || hostbase)
      |      ELSE CASE WHEN d2 % 2 = 0 THEN 'www.' ELSE '' END || hostbase END ||
      |    CASE WHEN d5 % 4 = 0 THEN CASE WHEN scheme = 'https' THEN ':443' ELSE ':80' END
      |         WHEN d5 % 4 = 1 THEN ':8080' ELSE '' END ||
      |    pth || q || CASE WHEN d1 % 3 = 0 THEN '#sec1' ELSE '' END AS url
      |  FROM parts
      |  UNION ALL
      |  SELECT doc_id, scheme || '://WWW.' || upper(hostbase) ||
      |    CASE WHEN d5 % 4 = 1 THEN ':8080'
      |         ELSE CASE WHEN scheme = 'https' THEN ':443' ELSE ':80' END END ||
      |    pth ||
      |    CASE WHEN q = '' THEN '?utm_medium=rss' ELSE q || '&utm_medium=rss' END ||
      |    '#top' AS url
      |  FROM parts),
      |canon AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(url,
      |      '#.*$', ''), '&utm_[^&#]*', '', 'g'), '[?]utm_[^&#]*&', '?', 'g'), '[?]utm_[^&#]*$', '') AS u1
      |  FROM raw),
      |cparts AS (
      |  SELECT doc_id,
      |    regexp_extract(u1, '^(https?)://', 1) AS sch,
      |    regexp_replace(lower(regexp_extract(u1, '^https?://([^/:?#]+)', 1)), '^www\.', '') AS host,
      |    regexp_extract(u1, '^https?://[^/:?#]+:([0-9]+)', 1) AS port,
      |    regexp_extract(u1, '^https?://[^/?#]+(/[^?#]*)', 1) AS pth,
      |    regexp_extract(u1, '\?(.*)$', 1) AS qq
      |  FROM canon),
      |curl AS (
      |  SELECT doc_id, host,
      |    sch || '://' || host ||
      |    CASE WHEN port = '' OR (sch = 'https' AND port = '443')
      |              OR (sch = 'http' AND port = '80')
      |         THEN '' ELSE ':' || port END ||
      |    pth || CASE WHEN qq = '' THEN '' ELSE '?' || qq END AS canon_url,
      |    CASE WHEN regexp_extract(host, '([^.]+\.(co\.uk|com\.au|github\.io))$', 1) <> ''
      |         THEN regexp_extract(host, '([^.]+\.(co\.uk|com\.au|github\.io))$', 1)
      |         ELSE regexp_extract(host, '([^.]+\.[^.]+)$', 1) END AS etld1
      |  FROM cparts)""".stripMargin

  val hDomainRollupSql: String = domainCanonDuckCtes +
    """
      |SELECT etld1,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_raw_urls,
      |  CAST(count(DISTINCT canon_url) AS BIGINT) AS n_canon_urls,
      |  CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
      |  CAST(1000 * count(DISTINCT doc_id) // (SELECT count(*) FROM documents) AS BIGINT) AS share_milli,
      |  1000 * count(DISTINCT doc_id) >= 10 * (SELECT count(*) FROM documents) AS cap_flag
      |FROM curl GROUP BY etld1 ORDER BY etld1""".stripMargin

  // ==================================================== license compliance

  /** License / opt-out compliance accounting — the dataset-card column
    * next to [[TrainingOps.hSurvivorProvenance]] (round-19 verdict item
    * 4b): every crawl-sourced corpus ships a per-source ledger of how much
    * token mass sits under each usage policy, because the allow/exclude
    * decision is made per REGISTRABLE DOMAIN (robots/ai.txt, licensing
    * deals, opt-out registries), not per document. The policy table is
    * synthesized per eTLD+1 from an md5 draw (allow 60 % / nc 20 % /
    * nd 10 % / optout 10 %) and every doc reaches its domain through
    * [[canonicalizeUrls]] — the SAME parse h_domain_rollup audits, so a
    * canonicalization bug would break this ledger's conservation
    * invariant (`ambiguous_docs` > 0, or n_docs not summing to the
    * corpus) before it silently mis-binned token mass. Per (source,
    * policy): docs, whitespace-token mass, the source's milli share, and
    * the excluded flag (nd/optout — what a compliant train run must
    * drop).
    *
    * Scale shape: the fetch-log canonicalization is scan-local string
    * algebra; the doc→domain collapse is ONE doc_id-keyed aggregate whose
    * output joins documents on the same doc_id key; the policy table is
    * domain-count-sized (hosts derive from (source, lang) — bounded) and
    * BROADCASTs onto the stream; the ledger is a (source, policy)
    * aggregate (≤ sources×4 rows) with a window over that tiny result.
    * No corpus² anywhere; the one data-sized exchange is keyed on
    * doc_id. */
  def hLicenseCompliance(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    domainCurl(s, dir).createOrReplaceTempView("lic_curl")
    s.sql(
      """WITH dd AS (
        |  SELECT doc_id, min(etld1) AS etld1,
        |    CAST(count(DISTINCT etld1) AS BIGINT) AS n_dom
        |  FROM lic_curl GROUP BY doc_id),
        |pol AS (
        |  SELECT etld1,
        |    CASE WHEN h % 10 <= 5 THEN 'allow'
        |         WHEN h % 10 <= 7 THEN 'nc'
        |         WHEN h % 10 = 8 THEN 'nd'
        |         ELSE 'optout' END AS policy
        |  FROM (SELECT etld1,
        |          CAST(conv(substr(md5(concat('lic', etld1)), 1, 15), 16, 10)
        |            AS BIGINT) AS h
        |        FROM (SELECT DISTINCT etld1 FROM lic_curl))),
        |j AS (
        |  SELECT d.source, p.policy, dd.n_dom,
        |    CAST(size(split(d.text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents d JOIN dd ON d.doc_id = dd.doc_id
        |  JOIN pol p ON dd.etld1 = p.etld1)
        |SELECT source, policy,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS tok_mass,
        |  CAST(1000 * sum(n_tok) DIV (sum(sum(n_tok)) OVER (PARTITION BY source))
        |    AS BIGINT) AS share_milli,
        |  policy IN ('nd', 'optout') AS excluded,
        |  CAST(sum(CASE WHEN n_dom > 1 THEN 1 ELSE 0 END) AS BIGINT) AS ambiguous_docs
        |FROM j GROUP BY source, policy ORDER BY source, policy""".stripMargin)
  }

  /** DuckDB twin rides [[domainCanonDuckCtes]] — the identical synthesis
    * and canonicalization text the domain-rollup twin replays. */
  val hLicenseComplianceSql: String = domainCanonDuckCtes +
    """,
      |dd AS (
      |  SELECT doc_id, min(etld1) AS etld1,
      |    CAST(count(DISTINCT etld1) AS BIGINT) AS n_dom
      |  FROM curl GROUP BY doc_id),
      |pol AS (
      |  SELECT etld1,
      |    CASE WHEN h % 10 <= 5 THEN 'allow'
      |         WHEN h % 10 <= 7 THEN 'nc'
      |         WHEN h % 10 = 8 THEN 'nd'
      |         ELSE 'optout' END AS policy
      |  FROM (SELECT etld1,
      |          CAST(concat('0x', substr(md5(concat('lic', etld1)), 1, 15))
      |            AS BIGINT) AS h
      |        FROM (SELECT DISTINCT etld1 FROM curl))),
      |j AS (
      |  SELECT d.source, p.policy, dd.n_dom,
      |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents d JOIN dd ON d.doc_id = dd.doc_id
      |  JOIN pol p ON dd.etld1 = p.etld1)
      |SELECT source, policy,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS tok_mass,
      |  CAST(1000 * sum(n_tok) // (sum(sum(n_tok)) OVER (PARTITION BY source))
      |    AS BIGINT) AS share_milli,
      |  policy IN ('nd', 'optout') AS excluded,
      |  CAST(sum(CASE WHEN n_dom > 1 THEN 1 ELSE 0 END) AS BIGINT) AS ambiguous_docs
      |FROM j GROUP BY source, policy ORDER BY source, policy""".stripMargin

  // ====================================================== encoding audit

  /** ENCODING-HEALTH census — the byte-sanity gate a crawl runs between
    * fetch and every text operator here: real corpora arrive with
    * UTF-8-decoded-as-Latin-1 mojibake ("Ã©" where "é" was meant),
    * U+FFFD replacement characters (a lossy transcode already happened),
    * stray C0 control bytes, and CRLF line endings — each a distinct
    * upstream failure with a distinct fix (re-fetch, re-transcode, strip,
    * normalize). The synthetic corpus is clean (TESTDATA.md), so the
    * audit plants each artifact deterministically from an md5(doc_id)
    * draw (~1/17 mojibake, ~1/23 replacement char, ~1/29 a BEL byte,
    * ~1/31 a CRLF) PLUS, on ~1/3 of docs, two DECOYS a sloppy detector
    * miscounts: a bare '©' (legitimate symbol — only the 'Ã'-prefixed
    * pair is mojibake) and a TAB (a C0 byte that is VALID whitespace —
    * the control-char class must exclude \t \n \r). Detection: exact
    * substring probes for the two fixed artifacts, the RE2-safe class
    * [\x00-\x08\x0B\x0C\x0E-\x1F] for controls, a CR probe for CRLF; per
    * (lang, source) the census reports doc counts per artifact, the
    * planted expectation, a per-artifact `*_exact` verification flag
    * (fails if the detector over- or under-counts, e.g. flags the TAB
    * decoy), and the unhealthy-docs rate in ‰ — the number that decides
    * whether a source needs re-fetching before it enters the mix.
    *
    * Scale shape: planting and all four detectors are scan-local string
    * probes; everything collapses in ONE (lang, source)-keyed aggregate
    * with map-side partials — one exchange pair at any corpus size.
    * (This note documents [[hEncodingAudit]] below; the two helpers that
    * follow are its factored synthesis and detection halves.) */
  /** The deterministic artifact PLANTING (synthesis side): docs → the
    * corrupted fetch text + per-artifact expectation flags. Batch-only —
    * the streaming twin consumes the corrupted crawl the way
    * [[graft.streaming.StreamingPiiCensus]] consumes the planted one. */
  private[graft] def encPlanted(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH p AS (
        |  SELECT doc_id, lang, source, text,
        |    CAST(conv(substr(md5(concat('enc', CAST(doc_id AS STRING))), 1, 15), 16, 10)
        |      AS BIGINT) AS h
        |  FROM documents)
        |SELECT doc_id, lang, source,
        |  concat(text,
        |    CASE WHEN h % 17 = 0 THEN ' cafÃ© menu' ELSE '' END,
        |    CASE WHEN h % 23 = 0 THEN ' bad�byte' ELSE '' END,
        |    CASE WHEN h % 29 = 0 THEN concat(' x', chr(7), 'y') ELSE '' END,
        |    CASE WHEN h % 31 = 0 THEN concat(' dos', chr(13), chr(10), 'line') ELSE '' END,
        |    CASE WHEN h % 3 = 0 THEN concat(' tab', chr(9), 'stop © mark') ELSE '' END
        |  ) AS text,
        |  CAST(CASE WHEN h % 17 = 0 THEN 1 ELSE 0 END AS BIGINT) AS e_moji,
        |  CAST(CASE WHEN h % 23 = 0 THEN 1 ELSE 0 END AS BIGINT) AS e_repl,
        |  CAST(CASE WHEN h % 29 = 0 THEN 1 ELSE 0 END AS BIGINT) AS e_ctrl,
        |  CAST(CASE WHEN h % 31 = 0 THEN 1 ELSE 0 END AS BIGINT) AS e_crlf
        |FROM p""".stripMargin)
  }

  /** The four detectors as a reusable scan-local projection over any
    * frame carrying `text` — works on batch AND streaming frames (plain
    * selectExpr, no window/aggregate), so
    * [[graft.streaming.StreamingEncodingAudit]] applies the IDENTICAL
    * rule (the [[GovernanceOps.piiDetect]] sharing discipline). */
  private[graft] def encDetect(df: DataFrame): DataFrame =
    df.selectExpr("*",
      "CAST(CASE WHEN position('Ã©' IN text) > 0 THEN 1 ELSE 0 END AS BIGINT) AS m_moji",
      "CAST(CASE WHEN position('�' IN text) > 0 THEN 1 ELSE 0 END AS BIGINT) AS m_repl",
      """CAST(CASE WHEN text RLIKE '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]'
        |  THEN 1 ELSE 0 END AS BIGINT) AS m_ctrl""".stripMargin,
      "CAST(CASE WHEN position(chr(13) IN text) > 0 THEN 1 ELSE 0 END AS BIGINT) AS m_crlf")

  def hEncodingAudit(s: SparkSession, dir: String): DataFrame = {
    encDetect(encPlanted(s, dir)).createOrReplaceTempView("enc_det")
    s.sql(
      """SELECT lang, source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(m_moji) AS BIGINT) AS n_moji,
        |  CAST(sum(m_repl) AS BIGINT) AS n_repl,
        |  CAST(sum(m_ctrl) AS BIGINT) AS n_ctrl,
        |  CAST(sum(m_crlf) AS BIGINT) AS n_crlf,
        |  sum(m_moji) = sum(e_moji) AS moji_exact,
        |  sum(m_repl) = sum(e_repl) AS repl_exact,
        |  sum(m_ctrl) = sum(e_ctrl) AS ctrl_exact,
        |  sum(m_crlf) = sum(e_crlf) AS crlf_exact,
        |  CAST(1000 * sum(CASE WHEN m_moji + m_repl + m_ctrl + m_crlf > 0
        |    THEN 1 ELSE 0 END) DIV count(*) AS BIGINT) AS unhealthy_milli
        |FROM enc_det GROUP BY lang, source ORDER BY lang, source""".stripMargin)
  }

  /** DuckDB twin: 0x-concat hex cast, single-backslash regex class (no
    * escape processing in standard strings), regexp_matches for RLIKE,
    * // division; the planted literals are byte-identical. */
  val hEncodingAuditSql: String =
    """WITH p AS (
      |  SELECT doc_id, lang, source, text,
      |    CAST(concat('0x', substr(md5(concat('enc', CAST(doc_id AS VARCHAR))), 1, 15))
      |      AS BIGINT) AS h
      |  FROM documents),
      |c AS (
      |  SELECT lang, source,
      |    concat(text,
      |      CASE WHEN h % 17 = 0 THEN ' cafÃ© menu' ELSE '' END,
      |      CASE WHEN h % 23 = 0 THEN ' bad�byte' ELSE '' END,
      |      CASE WHEN h % 29 = 0 THEN concat(' x', chr(7), 'y') ELSE '' END,
      |      CASE WHEN h % 31 = 0 THEN concat(' dos', chr(13), chr(10), 'line') ELSE '' END,
      |      CASE WHEN h % 3 = 0 THEN concat(' tab', chr(9), 'stop © mark') ELSE '' END
      |    ) AS t2,
      |    CAST(CASE WHEN h % 17 = 0 THEN 1 ELSE 0 END AS BIGINT) AS e_moji,
      |    CAST(CASE WHEN h % 23 = 0 THEN 1 ELSE 0 END AS BIGINT) AS e_repl,
      |    CAST(CASE WHEN h % 29 = 0 THEN 1 ELSE 0 END AS BIGINT) AS e_ctrl,
      |    CAST(CASE WHEN h % 31 = 0 THEN 1 ELSE 0 END AS BIGINT) AS e_crlf
      |  FROM p),
      |d AS (
      |  SELECT lang, source, e_moji, e_repl, e_ctrl, e_crlf,
      |    CASE WHEN position('Ã©' IN t2) > 0 THEN 1 ELSE 0 END AS m_moji,
      |    CASE WHEN position('�' IN t2) > 0 THEN 1 ELSE 0 END AS m_repl,
      |    CASE WHEN regexp_matches(t2, '[\x00-\x08\x0B\x0C\x0E-\x1F]')
      |      THEN 1 ELSE 0 END AS m_ctrl,
      |    CASE WHEN position(chr(13) IN t2) > 0 THEN 1 ELSE 0 END AS m_crlf
      |  FROM c)
      |SELECT lang, source,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(m_moji) AS BIGINT) AS n_moji,
      |  CAST(sum(m_repl) AS BIGINT) AS n_repl,
      |  CAST(sum(m_ctrl) AS BIGINT) AS n_ctrl,
      |  CAST(sum(m_crlf) AS BIGINT) AS n_crlf,
      |  sum(m_moji) = sum(e_moji) AS moji_exact,
      |  sum(m_repl) = sum(e_repl) AS repl_exact,
      |  sum(m_ctrl) = sum(e_ctrl) AS ctrl_exact,
      |  sum(m_crlf) = sum(e_crlf) AS crlf_exact,
      |  CAST(1000 * sum(CASE WHEN m_moji + m_repl + m_ctrl + m_crlf > 0
      |    THEN 1 ELSE 0 END) // count(*) AS BIGINT) AS unhealthy_milli
      |FROM d GROUP BY lang, source ORDER BY lang, source""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "h_boilerplate_strip" -> (hBoilerplateStrip _),
    "h_compression_screen" -> (hCompressionScreen _),
    "h_encoding_audit" -> (hEncodingAudit _),
    "h_domain_rollup" -> (hDomainRollup _),
    "h_license_compliance" -> (hLicenseCompliance _),
    "h_topic_coherence" -> (hTopicCoherence _),
    "h_ctfidf_topics" -> (hCtfidfTopics _),
    "h_zipf_audit" -> (hZipfAudit _),
    "h_percentile_norm" -> (hPercentileNorm _),
    "h_quality_classifier" -> (hQualityClassifier _),
    "h_quality_calibration" -> (hQualityCalibration _),
    "h_rrf_fusion" -> (hRrfFusion _),
    "h_mmr_diversify" -> (hMmrDiversify _),
    "h_rag_context_pack" -> (hRagContextPack _),
    "h_bloom_calibration" -> (hBloomCalibration _),
    "h_source_overlap" -> (hSourceOverlap _),
    "h_bm25" -> (hBm25 _),
    "h_pmi_collocations" -> (hPmiCollocations _),
    "h_quality_ensemble" -> (hQualityEnsemble _),
    "h_repeat_epochs" -> (hRepeatEpochs _),
    "h_shard_rebalance" -> (hShardRebalance _),
    "h_hard_negatives" -> (hHardNegatives _),
    "h_tokenizer_compat" -> (hTokenizerCompat _),
    "h_cosine_calibration" -> (hCosineCalibration _)
  )

  def oracle: Map[String, String] = Map(
    "h_boilerplate_strip" -> hBoilerplateStripSql,
    "h_compression_screen" -> hCompressionScreenSql,
    "h_encoding_audit" -> hEncodingAuditSql,
    "h_domain_rollup" -> hDomainRollupSql,
    "h_license_compliance" -> hLicenseComplianceSql,
    "h_topic_coherence" -> hTopicCoherenceSql,
    "h_ctfidf_topics" -> hCtfidfTopicsSql,
    "h_zipf_audit" -> hZipfAuditSql,
    "h_percentile_norm" -> hPercentileNormSql,
    "h_quality_classifier" -> hQualityClassifierSql,
    "h_quality_calibration" -> hQualityCalibrationSql,
    "h_rrf_fusion" -> hRrfFusionSql,
    "h_mmr_diversify" -> hMmrDiversifySql,
    "h_rag_context_pack" -> hRagContextPackSql,
    "h_bloom_calibration" -> hBloomCalibrationSql,
    "h_source_overlap" -> hSourceOverlapSql,
    "h_bm25" -> hBm25Sql,
    "h_pmi_collocations" -> hPmiCollocationsSql,
    "h_quality_ensemble" -> hQualityEnsembleSql,
    "h_repeat_epochs" -> hRepeatEpochsSql,
    "h_shard_rebalance" -> hShardRebalanceSql,
    "h_hard_negatives" -> hHardNegativesSql,
    "h_tokenizer_compat" -> hTokenizerCompatSql,
    "h_cosine_calibration" -> hCosineCalibrationSql
  )
}
