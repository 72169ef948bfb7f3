package graft.operators

import graft.operators.Checkpoints.MatOps
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Corpus- and embedding-space PROFILING operators — the audit tables a
  * training-data pipeline publishes about itself: per-source dataset
  * cards, corpus-version embedding drift, norm-outlier screens, and LSH
  * bucket-balance reports. These are the round-12 third wave, extending
  * [[CorpusOps]]' retrieval/lifecycle ops with the observability surface.
  *
  * Shared scale posture (same contract as [[CorpusOps]]):
  *  - every reported number rides an aggregation key whose cardinality is
  *    BOUNDED BY A DOMAIN, not by the corpus — (source), (label, half,
  *    dim), (label, distinct-norm), (bucket) — so the final exchanges
  *    carry at most domain-sized rows regardless of corpus size;
  *  - float inputs are quantized to integer-valued doubles
  *    (`round(x·1024)`, the [[CorpusOps.hCosineCalibration]] idiom) so
  *    every partial sum is exact and order-independent, and the only
  *    float division happens once at the sink under `floor(1000·…)`;
  *  - exact medians/selections are computed over VALUE HISTOGRAMS
  *    (group-by-value then cumulative-count selection), never by sorting
  *    the corpus inside a per-group window — the distributed-selection
  *    form survives a Zipfian group mix where a bare
  *    `PARTITION BY label ORDER BY x` window would funnel the dominant
  *    group through one task (the h_token_budget_mix lesson).
  */
object ProfileOps {

  // ============================================================ dataset card

  /** Per-source dataset card — the one-row-per-source summary a corpus
    * release ships next to the data (HF dataset-card / Dolma datasheet
    * style): volume (docs, whitespace tokens), language spread (distinct
    * langs, dominant language and its share), length profile (mean chars,
    * short-doc rate), and an exact-duplication proxy (distinct-text
    * ratio). Every rate is exact integer milli (`1000·x DIV n`) so both
    * engines land identical BIGINTs.
    *
    * Scale shape: one corpus scan feeds two source-keyed aggregates — the
    * main card (with two DISTINCT aggregates, planned as one expand +
    * partial-aggregate pass) and the (source, lang) counts whose top-1 is
    * a WindowGroupLimit rank over a ≤ sources×langs table; the final join
    * is source-keyed over ≤ |sources| rows. Nothing is ever pairwise and
    * no window partitions the corpus itself — at 100 TB the exchanges
    * carry (source)- and (source, lang)-sized rows only. */
  def hDatasetCard(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH base AS (
        |  SELECT source, lang, n_chars, text,
        |    size(split(text, ' ')) AS toks
        |  FROM documents),
        |card AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |    CAST(sum(toks) AS BIGINT) AS tokens_total,
        |    CAST(sum(n_chars) DIV count(*) AS BIGINT) AS avg_chars,
        |    CAST(1000L * sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END)
        |         DIV count(*) AS BIGINT) AS short_milli,
        |    CAST(1000L * count(DISTINCT text) DIV count(*) AS BIGINT)
        |      AS distinct_text_milli
        |  FROM base GROUP BY source),
        |langs AS (
        |  SELECT source, lang, count(*) AS c FROM base GROUP BY source, lang),
        |top AS (
        |  SELECT source, lang AS top_lang, c FROM (
        |    SELECT source, lang, c,
        |      row_number() OVER (PARTITION BY source ORDER BY c DESC, lang) AS rn
        |    FROM langs)
        |  WHERE rn = 1)
        |SELECT a.source, a.n_docs, a.n_langs, t.top_lang,
        |  CAST(1000L * t.c DIV a.n_docs AS BIGINT) AS top_lang_milli,
        |  a.tokens_total, a.avg_chars, a.short_milli, a.distinct_text_milli
        |FROM card a JOIN top t ON a.source = t.source
        |ORDER BY a.source""".stripMargin)
  }

  val hDatasetCardSql: String =
    """WITH base AS (
      |  SELECT source, lang, n_chars, text,
      |    len(string_split(text, ' ')) AS toks
      |  FROM documents),
      |card AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |    CAST(sum(toks) AS BIGINT) AS tokens_total,
      |    CAST(sum(n_chars) // count(*) AS BIGINT) AS avg_chars,
      |    CAST(1000 * sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END)
      |         // count(*) AS BIGINT) AS short_milli,
      |    CAST(1000 * count(DISTINCT text) // count(*) AS BIGINT)
      |      AS distinct_text_milli
      |  FROM base GROUP BY source),
      |langs AS (
      |  SELECT source, lang, count(*) AS c FROM base GROUP BY source, lang),
      |top AS (
      |  SELECT source, lang AS top_lang, c FROM (
      |    SELECT source, lang, c,
      |      row_number() OVER (PARTITION BY source ORDER BY c DESC, lang) AS rn
      |    FROM langs)
      |  WHERE rn = 1)
      |SELECT a.source, a.n_docs, a.n_langs, t.top_lang,
      |  CAST(1000 * t.c // a.n_docs AS BIGINT) AS top_lang_milli,
      |  a.tokens_total, a.avg_chars, a.short_milli, a.distinct_text_milli
      |FROM card a JOIN top t ON a.source = t.source
      |ORDER BY a.source""".stripMargin

  // ======================================================== embedding drift

  /** Corpus-version embedding drift — did re-embedding (or a new crawl
    * snapshot) MOVE the per-class embedding space? Splits the table into
    * two versions by `vec_id % 2` (the stand-in for version tags) and
    * reports, per label, the cosine between the two versions' centroids.
    * Centroid cosine is computed on per-dimension INTEGER SUMS — cosine is
    * scale-invariant, so cos(mean₀, mean₁) = cos(sum₀, sum₁) and the
    * per-vector 1/n division never happens: every number that crosses an
    * exchange is an exact BIGINT. Bounds: |x| < 1 ⇒ |Σ xi·1024| <
    * 1024·n_vecs per dim, so the dot of two sum-vectors stays inside
    * BIGINT (and double-exact 2^53) up to ~10⁷ vectors per (label,
    * version) — past that, raise the quantizer granularity audit-side.
    *
    * Scale shape: quantize scan-local → posexplode to (vec, dim) rows →
    * (label, half, dim)-keyed SUM with map-side partials (the only
    * corpus-sized exchange, carrying labels×2×dims ≈ thousands of result
    * rows) → pivot halves and fold 64 dims per label. The mean-norm²
    * columns ride the same scan. No window touches corpus-sized data.
    *
    * Degenerate-parity guard: a label whose vec_ids all share one parity
    * has an EMPTY version half — there is no drift to measure, and the
    * unguarded arithmetic would divide by zero (Spark yields NULL, DuckDB
    * may error — an oracle-parity hazard). Both engines emit the explicit
    * sentinels m2 = −1 and centroid_cos_milli = −2000 (outside the valid
    * [−1000, 1000] range) for such labels instead. */
  def hEmbeddingDrift(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "embeddings")
    s.sql(
      """WITH qv AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label, vec_id % 2 AS half,
        |    transform(embedding, x ->
        |      CAST(CAST(round(CAST(x AS DOUBLE) * 1024) AS BIGINT) AS DOUBLE)) AS q
        |  FROM embeddings),
        |n2 AS (
        |  SELECT label, half, CAST(dot_product(q, q) AS BIGINT) AS nrm2 FROM qv),
        |counts AS (
        |  SELECT label,
        |    CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_v0,
        |    CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_v1,
        |    CAST(CASE WHEN sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) = 0 THEN -1
        |         ELSE sum(CASE WHEN half = 0 THEN nrm2 ELSE 0 END)
        |              DIV sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) END AS BIGINT) AS m2_v0,
        |    CAST(CASE WHEN sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) = 0 THEN -1
        |         ELSE sum(CASE WHEN half = 1 THEN nrm2 ELSE 0 END)
        |              DIV sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) END AS BIGINT) AS m2_v1
        |  FROM n2 GROUP BY label),
        |dims AS (
        |  SELECT label, half, i, CAST(element_at(q, i + 1) AS BIGINT) AS xi
        |  FROM qv LATERAL VIEW explode(sequence(0, size(q) - 1)) t AS i),
        |cent AS (
        |  SELECT label, half, i, CAST(sum(xi) AS BIGINT) AS sv
        |  FROM dims GROUP BY label, half, i),
        |pivoted AS (
        |  SELECT label, i,
        |    max(CASE WHEN half = 0 THEN sv END) AS s0,
        |    max(CASE WHEN half = 1 THEN sv END) AS s1
        |  FROM cent GROUP BY label, i),
        |dots AS (
        |  SELECT label,
        |    CAST(sum(s0 * s1) AS BIGINT) AS dot,
        |    CAST(sum(s0 * s0) AS BIGINT) AS nn0,
        |    CAST(sum(s1 * s1) AS BIGINT) AS nn1
        |  FROM pivoted GROUP BY label)
        |SELECT c.label, c.n_v0, c.n_v1,
        |  CAST(CASE WHEN c.n_v0 = 0 OR c.n_v1 = 0 THEN -2000
        |       ELSE floor(1000.0 * d.dot /
        |            (sqrt(CAST(d.nn0 AS DOUBLE)) * sqrt(CAST(d.nn1 AS DOUBLE)))) END
        |    AS BIGINT) AS centroid_cos_milli,
        |  c.m2_v0, c.m2_v1
        |FROM counts c JOIN dots d ON c.label = d.label
        |ORDER BY c.label""".stripMargin)
  }

  val hEmbeddingDriftSql: String =
    """WITH qv AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label, vec_id % 2 AS half,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> CAST(CAST(round(x * 1024) AS BIGINT) AS DOUBLE)) AS q
      |  FROM embeddings),
      |n2 AS (
      |  SELECT label, half, CAST(list_dot_product(q, q) AS BIGINT) AS nrm2 FROM qv),
      |counts AS (
      |  SELECT label,
      |    CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_v0,
      |    CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_v1,
      |    CAST(CASE WHEN sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) = 0 THEN -1
      |         ELSE sum(CASE WHEN half = 0 THEN nrm2 ELSE 0 END)
      |              // sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) END AS BIGINT) AS m2_v0,
      |    CAST(CASE WHEN sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) = 0 THEN -1
      |         ELSE sum(CASE WHEN half = 1 THEN nrm2 ELSE 0 END)
      |              // sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) END AS BIGINT) AS m2_v1
      |  FROM n2 GROUP BY label),
      |dims AS (
      |  SELECT label, half, i, CAST(q[i + 1] AS BIGINT) AS xi
      |  FROM qv, unnest(range(len(q))) AS t(i)),
      |cent AS (
      |  SELECT label, half, i, CAST(sum(xi) AS BIGINT) AS sv
      |  FROM dims GROUP BY label, half, i),
      |pivoted AS (
      |  SELECT label, i,
      |    max(CASE WHEN half = 0 THEN sv END) AS s0,
      |    max(CASE WHEN half = 1 THEN sv END) AS s1
      |  FROM cent GROUP BY label, i),
      |dots AS (
      |  SELECT label,
      |    CAST(sum(s0 * s1) AS BIGINT) AS dot,
      |    CAST(sum(s0 * s0) AS BIGINT) AS nn0,
      |    CAST(sum(s1 * s1) AS BIGINT) AS nn1
      |  FROM pivoted GROUP BY label)
      |SELECT c.label, c.n_v0, c.n_v1,
      |  CAST(CASE WHEN c.n_v0 = 0 OR c.n_v1 = 0 THEN -2000
      |       ELSE floor(1000.0 * d.dot /
      |            (sqrt(CAST(d.nn0 AS DOUBLE)) * sqrt(CAST(d.nn1 AS DOUBLE)))) END
      |    AS BIGINT) AS centroid_cos_milli,
      |  c.m2_v0, c.m2_v1
      |FROM counts c JOIN dots d ON c.label = d.label
      |ORDER BY c.label""".stripMargin

  // ========================================================= norm outliers

  /** Embedding norm-outlier screen — catches broken encoder shards and
    * zero/exploded vectors before they poison ANN indexes or contrastive
    * batches. Flags, per label, vectors whose quantized norm² is > 1.5× or
    * < 0.5× the label's EXACT lower median, reported as (n_vecs, median,
    * n_high, n_low). Thresholds are cross-multiplied integers
    * (`2·nrm2 > 3·md`), so no float ever decides a flag.
    *
    * The median is distributed-selection, not a sort: norm² is a bounded
    * integer domain, so `GROUP BY (label, nrm2)` produces a histogram
    * whose size is value-domain-bounded, and the cumulative-count window
    * runs over THAT — at 100 TB the per-label window input is still ≤
    * |distinct norm values| rows, not the corpus (the skew-proof form;
    * a bare `row_number() OVER (PARTITION BY label ORDER BY nrm2)` would
    * sort the dominant label's entire shard in one task). The flag pass is
    * a scan-local comparison against the broadcast ≤|labels|-row median
    * table. */
  def hEmbedOutliers(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "embeddings")
    s.sql(
      """WITH n2 AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    CAST(dot_product(
        |      transform(embedding, x ->
        |        CAST(CAST(round(CAST(x AS DOUBLE) * 1024) AS BIGINT) AS DOUBLE)),
        |      transform(embedding, x ->
        |        CAST(CAST(round(CAST(x AS DOUBLE) * 1024) AS BIGINT) AS DOUBLE)))
        |      AS BIGINT) AS nrm2
        |  FROM embeddings),
        |hist AS (SELECT label, nrm2, count(*) AS c FROM n2 GROUP BY label, nrm2),
        |cum AS (
        |  SELECT label, nrm2,
        |    sum(c) OVER (PARTITION BY label ORDER BY nrm2) AS cum,
        |    sum(c) OVER (PARTITION BY label) AS n
        |  FROM hist),
        |med AS (
        |  SELECT label, CAST(max(n) AS BIGINT) AS n_vecs,
        |    CAST(min(nrm2) AS BIGINT) AS md
        |  FROM cum WHERE cum >= (n + 1) DIV 2 GROUP BY label)
        |SELECT m.label, m.n_vecs, m.md AS median_norm2,
        |  CAST(sum(CASE WHEN 2 * v.nrm2 > 3 * m.md THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_high,
        |  CAST(sum(CASE WHEN 2 * v.nrm2 < m.md THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_low
        |FROM n2 v JOIN med m ON v.label = m.label
        |GROUP BY m.label, m.n_vecs, m.md
        |ORDER BY m.label""".stripMargin)
  }

  val hEmbedOutliersSql: String =
    """WITH n2 AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label,
      |    CAST(list_dot_product(
      |      list_transform(CAST(embedding AS DOUBLE[]),
      |        x -> CAST(CAST(round(x * 1024) AS BIGINT) AS DOUBLE)),
      |      list_transform(CAST(embedding AS DOUBLE[]),
      |        x -> CAST(CAST(round(x * 1024) AS BIGINT) AS DOUBLE)))
      |      AS BIGINT) AS nrm2
      |  FROM embeddings),
      |hist AS (SELECT label, nrm2, count(*) AS c FROM n2 GROUP BY label, nrm2),
      |cum AS (
      |  SELECT label, nrm2,
      |    sum(c) OVER (PARTITION BY label ORDER BY nrm2) AS cum,
      |    sum(c) OVER (PARTITION BY label) AS n
      |  FROM hist),
      |med AS (
      |  SELECT label, CAST(max(n) AS BIGINT) AS n_vecs,
      |    CAST(min(nrm2) AS BIGINT) AS md
      |  FROM cum WHERE cum >= (n + 1) // 2 GROUP BY label)
      |SELECT m.label, m.n_vecs, m.md AS median_norm2,
      |  CAST(sum(CASE WHEN 2 * v.nrm2 > 3 * m.md THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_high,
      |  CAST(sum(CASE WHEN 2 * v.nrm2 < m.md THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_low
      |FROM n2 v JOIN med m ON v.label = m.label
      |GROUP BY m.label, m.n_vecs, m.md
      |ORDER BY m.label""".stripMargin

  // ========================================================== LSH balance

  /** LSH bucket-balance report — the capacity-planning audit for every
    * banded join in the engine ([[LlmOps.hNeardupEmbedding]],
    * [[LlmOps.hAnnLsh]], [[CorpusOps.hCosineCalibration]]): hash each
    * vector into one 8-plane sign bucket (256 possible; same md5-seeded
    * deterministic hyperplanes as h_cosine_calibration) and report the
    * bucket-population distribution as power-of-two classes —
    * (pop_bits = ⌊log₂ pop⌋+1, n_buckets, n_vecs, n_pairs) where n_pairs
    * is Σ c·(c−1)/2, the EXACT candidate-pair volume each class would
    * contribute to a bucket self-join. A heavy class at high pop_bits is
    * the early warning that a banded join is about to go quadratic on a
    * hot bucket (the signal that triggers adding planes or salting).
    *
    * Scale shape (round 20): the 8×64 sign matrix is input-independent
    * (md5 of the (plane, dim) pair), so it folds to 8 constant
    * `array<double>` literals and the bucket id is 8 scan-local codegen
    * `dot_product`s per vector — the (vectors×planes×dims) explode, the
    * 512-row plane join and the (vec, plane) aggregate disappear (the
    * [[CorpusOps.hCosineCalibration]] fold; quantized values are
    * integer-valued doubles ≪ 2⁵³ so the sign bits are bit-identical,
    * and CorpusOpsSpec pins the driver-md5 ≡ SQL-md5 sign rule). Then
    * (bucket) counts (≤ 256 rows) and a ≤ 64-row class rollup; the
    * corpus crosses one exchange, key-partitioned. */
  def hLshBalance(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "embeddings")
    def planeLit(p: Int): String = (0 to 63).map { i =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$p|$i".getBytes("UTF-8"))
      if (((md(0) >> 4) & 0xf) < 8) "1D" else "-1D"
    }.mkString("array(", ",", ")")
    val bkt = (0 to 7).map { p =>
      s"(CASE WHEN dot_product(q, ${planeLit(p)}) > 0D THEN ${1L << p}L ELSE 0L END)"
    }.mkString("(", " +\n      ", ")")
    s.sql(
      s"""WITH qv AS (
        |  SELECT vec_id,
        |    transform(embedding, x ->
        |      CAST(CAST(round(CAST(x AS DOUBLE) * 1024) AS BIGINT) AS DOUBLE)) AS q
        |  FROM embeddings),
        |buckets AS (
        |  SELECT vec_id, $bkt AS bkt
        |  FROM qv),
        |pops AS (SELECT bkt, count(*) AS c FROM buckets GROUP BY bkt)
        |SELECT CAST(length(bin(c)) AS BIGINT) AS pop_bits,
        |  count(*) AS n_buckets,
        |  CAST(sum(c) AS BIGINT) AS n_vecs,
        |  CAST(sum((c * (c - 1)) DIV 2) AS BIGINT) AS n_pairs
        |FROM pops GROUP BY length(bin(c))
        |ORDER BY pop_bits""".stripMargin)
  }

  val hLshBalanceSql: String =
    """WITH qv AS (
      |  SELECT vec_id,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> CAST(round(x * 1024) AS BIGINT)) AS q
      |  FROM embeddings),
      |quant AS (
      |  SELECT vec_id, i, q[i + 1] AS xi
      |  FROM qv, unnest(range(len(q))) AS t(i)),
      |planes AS (
      |  SELECT p, i,
      |    CASE WHEN substring(md5(concat(CAST(p AS VARCHAR), '|',
      |                                   CAST(i AS VARCHAR))), 1, 1) < '8'
      |         THEN 1 ELSE -1 END AS sgn
      |  FROM (SELECT unnest(range(8)) AS p), (SELECT unnest(range(64)) AS i)),
      |proj AS (
      |  SELECT q.vec_id, pl.p, CAST(sum(q.xi * pl.sgn) AS BIGINT) AS d
      |  FROM quant q JOIN planes pl ON q.i = pl.i
      |  GROUP BY q.vec_id, pl.p),
      |buckets AS (
      |  SELECT vec_id,
      |    CAST(sum(CASE WHEN d > 0
      |      THEN CAST(power(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bkt
      |  FROM proj GROUP BY vec_id),
      |pops AS (SELECT bkt, count(*) AS c FROM buckets GROUP BY bkt)
      |SELECT CAST(length(bin(c)) AS BIGINT) AS pop_bits,
      |  count(*) AS n_buckets,
      |  CAST(sum(c) AS BIGINT) AS n_vecs,
      |  CAST(sum((c * (c - 1)) // 2) AS BIGINT) AS n_pairs
      |FROM pops GROUP BY length(bin(c))
      |ORDER BY pop_bits""".stripMargin

  // ====================================================== dimension health

  /** Per-dimension embedding variance screen — the encoder-health audit
    * that catches DEAD dimensions (a collapsed unit that emits a constant
    * — var 0 — wastes index space and silently shrinks the effective
    * embedding dim) and DOMINANT dimensions (one coordinate holding an
    * outsized variance share distorts unnormalized L2 retrieval).
    * Per dim: n, mean (floor-milli of the quantized values), the EXACT
    * integer variance numerator `n·Σq² − (Σq)²` (≥ 0 by Cauchy–Schwarz;
    * BIGINT-exact to ~9·10⁷ vectors at the 1024 quantizer — past that,
    * audit per shard and sum), its milli share of total variance, and the
    * dead flag. The mean is the one float step: `floor(1000·s/n)` on
    * identical exact-integer inputs — IEEE double division agrees
    * bit-for-bit across engines.
    *
    * Scale shape: quantize scan-local → posexplode → (dim)-keyed SUM with
    * map-side partials — the one corpus-sized exchange carries |dims|
    * rows of partials per task. The variance-share window runs over the
    * 64-row dim table. Same posture as [[hEmbeddingDrift]]. */
  def hDimVariance(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "embeddings")
    s.sql(
      """WITH qv AS (
        |  SELECT transform(embedding, x ->
        |    CAST(round(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS q
        |  FROM embeddings),
        |dims AS (
        |  SELECT CAST(i AS BIGINT) AS dim, element_at(q, i + 1) AS xi
        |  FROM qv LATERAL VIEW explode(sequence(0, size(q) - 1)) t AS i),
        |st AS (
        |  SELECT dim, count(*) AS n, CAST(sum(xi) AS BIGINT) AS s,
        |    CAST(sum(xi * xi) AS BIGINT) AS ssq
        |  FROM dims GROUP BY dim),
        |v AS (
        |  SELECT dim, n,
        |    CAST(floor(1000.0 * s / n) AS BIGINT) AS mean_milli,
        |    CAST(n * ssq - s * s AS BIGINT) AS var_num
        |  FROM st)
        |SELECT dim, n, mean_milli, var_num,
        |  CAST(1000L * var_num DIV sum(var_num) OVER () AS BIGINT)
        |    AS var_share_milli,
        |  var_num = 0 AS dead
        |FROM v ORDER BY dim""".stripMargin)
  }

  val hDimVarianceSql: String =
    """WITH qv AS (
      |  SELECT list_transform(CAST(embedding AS DOUBLE[]),
      |    x -> CAST(round(x * 1024) AS BIGINT)) AS q
      |  FROM embeddings),
      |dims AS (
      |  SELECT i AS dim, q[i + 1] AS xi
      |  FROM qv, unnest(range(len(q))) AS t(i)),
      |st AS (
      |  SELECT dim, count(*) AS n, CAST(sum(xi) AS BIGINT) AS s,
      |    CAST(sum(xi * xi) AS BIGINT) AS ssq
      |  FROM dims GROUP BY dim),
      |v AS (
      |  SELECT dim, n,
      |    CAST(floor(1000.0 * s / n) AS BIGINT) AS mean_milli,
      |    CAST(n * ssq - s * s AS BIGINT) AS var_num
      |  FROM st)
      |SELECT dim, n, mean_milli, var_num,
      |  CAST(1000 * var_num // sum(var_num) OVER () AS BIGINT)
      |    AS var_share_milli,
      |  var_num = 0 AS dead
      |FROM v ORDER BY dim""".stripMargin

  // ====================================================== sampling bias

  /** Sampler-bias audit — does a sampling rule preserve the corpus'
    * source composition? Two samplers the engine actually ships are
    * audited side by side: `uniform_1pct` (content-hash draw % 100 = 0 —
    * the cheap debug sample) and `stratified_k10` (the exact-k
    * h_stratified_sample rule, which FLATTENS source shares by design).
    * Per (sampler, lang): corpus docs, sampled docs, and the exact
    * total-variation distance between the sample's and the corpus'
    * within-lang source distributions — TVD kept in EXACT BIGINT as
    * `1000·Σ|n_s·N − n_c·S| DIV (2·S·N)` (one closing division, the
    * h_dist_drift idiom). A uniform sampler drifting from ~0 means the
    * hash is biased; the stratified row QUANTIFIES its intended
    * flattening against this corpus.
    *
    * Scale shape: one corpus scan computes the draw and the stratum rank
    * (the rn ≤ 10 filter is the WindowGroupLimit map-side top-k the
    * batch sampler pins); everything after is (lang, source)-keyed
    * aggregation — domain-sized joins and sums. BIGINT-exact while
    * S·N < 9·10¹⁸ (S is sample-sized, so N can reach ~10¹² docs). */
  def hSamplingBias(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH base AS (
        |  SELECT lang, source,
        |    CAST(conv(substring(md5(text), 1, 6), 16, 10) AS BIGINT) AS draw,
        |    doc_id
        |  FROM documents),
        |ranked AS (
        |  SELECT lang, source, draw,
        |    row_number() OVER (PARTITION BY lang, source
        |      ORDER BY draw, doc_id) AS rn
        |  FROM base),
        |counts AS (
        |  SELECT lang, source, count(*) AS n_c,
        |    CAST(sum(CASE WHEN draw % 100 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_u
        |  FROM base GROUP BY lang, source),
        |strat AS (
        |  SELECT lang, source, count(*) AS n_k
        |  FROM ranked WHERE rn <= 10 GROUP BY lang, source),
        |joined AS (
        |  SELECT s.sampler, c.lang, c.source, c.n_c,
        |    CASE WHEN s.sampler = 'uniform_1pct' THEN c.n_u
        |         ELSE coalesce(k.n_k, 0L) END AS n_s
        |  FROM counts c
        |  CROSS JOIN (SELECT explode(array('uniform_1pct', 'stratified_k10'))
        |              AS sampler) s
        |  LEFT JOIN strat k ON c.lang = k.lang AND c.source = k.source),
        |tot AS (
        |  SELECT sampler, lang,
        |    CAST(sum(n_c) AS BIGINT) AS big_n, CAST(sum(n_s) AS BIGINT) AS small_s
        |  FROM joined GROUP BY sampler, lang),
        |dev AS (
        |  SELECT j.sampler, j.lang, t.big_n, t.small_s,
        |    abs(j.n_s * t.big_n - j.n_c * t.small_s) AS num
        |  FROM joined j JOIN tot t ON j.sampler = t.sampler AND j.lang = t.lang)
        |SELECT sampler, lang, max(big_n) AS n_corpus, max(small_s) AS n_sample,
        |  CASE WHEN max(small_s) = 0 THEN 1000L
        |    ELSE CAST(1000L * sum(num) DIV (2L * max(small_s) * max(big_n))
        |              AS BIGINT) END AS tvd_milli
        |FROM dev GROUP BY sampler, lang
        |ORDER BY sampler, lang""".stripMargin)
  }

  val hSamplingBiasSql: String =
    """WITH base AS (
      |  SELECT lang, source,
      |    CAST(concat('0x', substring(md5(text), 1, 6)) AS BIGINT) AS draw,
      |    doc_id
      |  FROM documents),
      |ranked AS (
      |  SELECT lang, source, draw,
      |    row_number() OVER (PARTITION BY lang, source
      |      ORDER BY draw, doc_id) AS rn
      |  FROM base),
      |counts AS (
      |  SELECT lang, source, count(*) AS n_c,
      |    CAST(sum(CASE WHEN draw % 100 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_u
      |  FROM base GROUP BY lang, source),
      |strat AS (
      |  SELECT lang, source, count(*) AS n_k
      |  FROM ranked WHERE rn <= 10 GROUP BY lang, source),
      |joined AS (
      |  SELECT s.sampler, c.lang, c.source, c.n_c,
      |    CASE WHEN s.sampler = 'uniform_1pct' THEN c.n_u
      |         ELSE coalesce(k.n_k, 0) END AS n_s
      |  FROM counts c
      |  CROSS JOIN (SELECT unnest(['uniform_1pct', 'stratified_k10'])
      |              AS sampler) s
      |  LEFT JOIN strat k ON c.lang = k.lang AND c.source = k.source),
      |tot AS (
      |  SELECT sampler, lang,
      |    CAST(sum(n_c) AS BIGINT) AS big_n, CAST(sum(n_s) AS BIGINT) AS small_s
      |  FROM joined GROUP BY sampler, lang),
      |dev AS (
      |  SELECT j.sampler, j.lang, t.big_n, t.small_s,
      |    abs(j.n_s * t.big_n - j.n_c * t.small_s) AS num
      |  FROM joined j JOIN tot t ON j.sampler = t.sampler AND j.lang = t.lang)
      |SELECT sampler, lang, max(big_n) AS n_corpus, max(small_s) AS n_sample,
      |  CASE WHEN max(small_s) = 0 THEN 1000
      |    ELSE CAST(1000 * sum(num) // (2 * max(small_s) * max(big_n))
      |              AS BIGINT) END AS tvd_milli
      |FROM dev GROUP BY sampler, lang
      |ORDER BY sampler, lang""".stripMargin

  // ======================================================= class margin

  /** Embedding-space class-separability audit — the "is this space even
    * classifiable" screen run before training a probe or trusting
    * label-conditioned retrieval: per label, the mean squared distance of
    * member vectors to their OWN centroid (intra) vs the squared distance
    * to the NEAREST other-label centroid (inter), and the margin ratio
    * `1000·inter DIV intra`. Margin well above 1000 = separated classes;
    * near/below = the labels do not structure this space.
    *
    * Exactness: vectors are shifted non-negative (`q' = round(1024·x) +
    * 1024` — distances are shift-invariant, and non-negative sums make
    * Spark's truncating `DIV` and DuckDB's flooring `//` agree), then
    * centroids live in centi-q' units (`m_i = 100·s_i DIV n`, exact
    * BIGINT; the shift cancels exactly because 102400·n divides evenly).
    * Every distance term is an integer square; per-vector d² ≤ 64·(2.05
    * ·10⁵)² ≈ 2.7·10¹², so intra sums stay BIGINT-exact to ~3·10⁶
    * vectors per label (shard the audit past that).
    *
    * Scale shape: pass 1 aggregates (label, dim) sums; the ≤
    * labels×dims centroid table pivots into one array row per label and
    * broadcasts; pass 2 scores every vector against its own centroid
    * scan-locally. Inter-centroid distances are a labels²-row self-join.
    * No window touches corpus-sized data; the two corpus exchanges are
    * the (label, dim) partials and the per-label intra sums. */
  def hClassMargin(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "embeddings")
    // the ≤|labels|-row centroid table is consumed three times (intra +
    // both inter sides); checkpointing it keeps the corpus centroid
    // build to ONE pass (the small-intermediates rule)
    s.sql(
      """WITH qv AS (
        |  SELECT CAST(label AS BIGINT) AS label,
        |    transform(embedding, x ->
        |      CAST(round(CAST(x AS DOUBLE) * 1024) AS BIGINT) + 1024L) AS q
        |  FROM embeddings),
        |dims AS (
        |  SELECT label, i, element_at(q, i + 1) AS xi
        |  FROM qv LATERAL VIEW explode(sequence(0, size(q) - 1)) t AS i),
        |cent AS (
        |  SELECT label, i, CAST(100L * sum(xi) DIV count(*) AS BIGINT) AS m
        |  FROM dims GROUP BY label, i)
        |SELECT label,
        |  transform(array_sort(collect_list(named_struct('i', i, 'm', m))),
        |    p -> p.m) AS mv
        |FROM cent GROUP BY label""".stripMargin)
      .graftCheckpoint().createOrReplaceTempView("margin_cent")
    s.sql(
      """WITH qv AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    transform(embedding, x ->
        |      CAST(round(CAST(x AS DOUBLE) * 1024) AS BIGINT) + 1024L) AS q
        |  FROM embeddings),
        |centarr AS (SELECT label, mv FROM margin_cent),
        |intra AS (
        |  SELECT q.label, count(*) AS n,
        |    CAST(sum(aggregate(zip_with(q.q, c.mv,
        |        (x, m) -> (100L * x - m) * (100L * x - m)), 0L, (a, b) -> a + b))
        |      DIV count(*) AS BIGINT) AS intra_d2
        |  FROM qv q JOIN centarr c ON q.label = c.label
        |  GROUP BY q.label),
        |inter AS (
        |  SELECT a.label, b.label AS other_label,
        |    CAST(aggregate(zip_with(a.mv, b.mv, (x, y) -> (x - y) * (x - y)),
        |      0L, (p, q) -> p + q) AS BIGINT) AS inter_d2,
        |    row_number() OVER (PARTITION BY a.label ORDER BY
        |      aggregate(zip_with(a.mv, b.mv, (x, y) -> (x - y) * (x - y)),
        |        0L, (p, q) -> p + q), b.label) AS rn
        |  FROM centarr a JOIN centarr b ON a.label <> b.label)
        |SELECT /*+ BROADCAST(e) */ i.label, i.n AS n_vecs, i.intra_d2,
        |  e.other_label AS nearest_label, e.inter_d2,
        |  CAST(1000L * e.inter_d2 DIV i.intra_d2 AS BIGINT) AS margin_milli
        |FROM intra i JOIN inter e ON i.label = e.label AND e.rn = 1
        |ORDER BY i.label""".stripMargin)
  }

  val hClassMarginSql: String =
    """WITH qv AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> CAST(round(x * 1024) AS BIGINT) + 1024) AS q
      |  FROM embeddings),
      |dims AS (
      |  SELECT label, i, q[i + 1] AS xi
      |  FROM qv, unnest(range(len(q))) AS t(i)),
      |cent AS (
      |  SELECT label, i, CAST(100 * sum(xi) // count(*) AS BIGINT) AS m
      |  FROM dims GROUP BY label, i),
      |centarr AS (
      |  SELECT label, list(m ORDER BY i) AS mv FROM cent GROUP BY label),
      |intra AS (
      |  SELECT q.label, count(*) AS n,
      |    CAST(sum(list_sum(list_transform(range(len(q.q)),
      |        j -> (100 * q.q[j + 1] - c.mv[j + 1]) * (100 * q.q[j + 1] - c.mv[j + 1]))))
      |      // count(*) AS BIGINT) AS intra_d2
      |  FROM qv q JOIN centarr c ON q.label = c.label
      |  GROUP BY q.label),
      |inter AS (
      |  SELECT label, other_label, inter_d2,
      |    row_number() OVER (PARTITION BY label ORDER BY inter_d2, other_label) AS rn
      |  FROM (
      |    SELECT a.label, b.label AS other_label,
      |      CAST(list_sum(list_transform(range(len(a.mv)),
      |        j -> (a.mv[j + 1] - b.mv[j + 1]) * (a.mv[j + 1] - b.mv[j + 1])))
      |        AS BIGINT) AS inter_d2
      |    FROM centarr a JOIN centarr b ON a.label <> b.label))
      |SELECT i.label, i.n AS n_vecs, i.intra_d2,
      |  e.other_label AS nearest_label, e.inter_d2,
      |  CAST(1000 * e.inter_d2 // i.intra_d2 AS BIGINT) AS margin_milli
      |FROM intra i JOIN inter e ON i.label = e.label AND e.rn = 1
      |ORDER BY i.label""".stripMargin

  // ======================================================= kNN classify

  /** Seed-labeled k-NN classification — the semi-supervised labeling
    * pass a curation pipeline runs when a small hand-labeled seed set
    * must label the whole corpus (label-by-retrieval, the workhorse
    * behind quality/domain/topic tagging at scale): every non-seed
    * vector takes the majority label of its 5 nearest seeds by exact
    * cosine (ties broken toward the smaller label — deterministic on
    * both engines), and the report is the (true label, predicted label)
    * confusion census — the audit that says whether retrieval labeling
    * can be TRUSTED before anyone filters on its output (the
    * [[hClassMargin]] separability screen's action-level complement).
    *
    * Scale shape: the seed set is BOUNDED by definition (a hand-labeled
    * panel — here the 256 vec_id<256 rows, the IVF-training convention),
    * so it collects into one broadcast row and every eval vector scores
    * all seeds SCAN-LOCALLY (array_sort over 256 structs), takes its
    * top-5, and computes the majority vote inside the same codegen span
    * (count-per-distinct-label over a 5-element array — no explode, no
    * per-vector exchange). The only corpus exchange is the ≤|labels|²
    * confusion aggregate. Ranking ties ride the pinned ANN idiom:
    * `round(cos, 4) DESC, seed id ASC` ([[LlmOps.hAnnBrute]]). */
  def hKnnClassify(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "embeddings")
    s.sql(
      """WITH base AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |normed AS (
        |  SELECT vec_id, label, v, sqrt(dot_product(v, v)) AS nrm FROM base),
        |seeds AS (
        |  SELECT collect_list(named_struct(
        |    'sid', vec_id, 'slabel', label, 'sv', v, 'snrm', nrm)) AS ss
        |  FROM normed WHERE vec_id < 256),
        |top5 AS (
        |  SELECT vec_id, label,
        |    transform(slice(array_sort(transform(ss, e -> named_struct(
        |      'negcos', -round(dot_product(v, e.sv) / (nrm * e.snrm), 4),
        |      'sid', e.sid, 'slabel', e.slabel))), 1, 5), p -> p.slabel) AS t5
        |  FROM normed CROSS JOIN seeds
        |  WHERE vec_id >= 256),
        |pred AS (
        |  SELECT label AS true_label,
        |    array_sort(transform(array_distinct(t5), l -> named_struct(
        |      'negc', -size(filter(t5, x -> x = l)), 'l', l)))[0].l AS pred_label
        |  FROM top5)
        |SELECT true_label, pred_label, count(*) AS n_vecs
        |FROM pred GROUP BY true_label, pred_label
        |ORDER BY true_label, pred_label""".stripMargin)
  }

  /** DuckDB replays the vote relationally: ranked cross join → top-5
    * rows → per-(vector, label) counts → argmax by (count DESC, label). */
  val hKnnClassifySql: String =
    """WITH base AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label,
      |    CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |normed AS (
      |  SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM base),
      |scored AS (
      |  SELECT e.vec_id, e.label AS true_label, s.label AS slabel,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY round(list_dot_product(e.v, s.v) / (e.nrm * s.nrm), 4) DESC,
      |        s.vec_id) AS rnk
      |  FROM (SELECT * FROM normed WHERE vec_id >= 256) e,
      |       (SELECT * FROM normed WHERE vec_id < 256) s),
      |votes AS (
      |  SELECT vec_id, true_label, slabel, count(*) AS c
      |  FROM scored WHERE rnk <= 5 GROUP BY 1, 2, 3),
      |pred AS (
      |  SELECT true_label, slabel AS pred_label,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, slabel) AS vr
      |  FROM votes)
      |SELECT true_label, pred_label, count(*) AS n_vecs
      |FROM pred WHERE vr = 1
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "h_sampling_bias" -> (hSamplingBias _),
    "h_knn_classify" -> (hKnnClassify _),
    "h_class_margin" -> (hClassMargin _),
    "h_dim_variance" -> (hDimVariance _),
    "h_dataset_card" -> (hDatasetCard _),
    "h_embedding_drift" -> (hEmbeddingDrift _),
    "h_embed_outliers" -> (hEmbedOutliers _),
    "h_lsh_balance" -> (hLshBalance _)
  )

  def oracle: Map[String, String] = Map(
    "h_sampling_bias" -> hSamplingBiasSql,
    "h_knn_classify" -> hKnnClassifySql,
    "h_class_margin" -> hClassMarginSql,
    "h_dim_variance" -> hDimVarianceSql,
    "h_dataset_card" -> hDatasetCardSql,
    "h_embedding_drift" -> hEmbeddingDriftSql,
    "h_embed_outliers" -> hEmbedOutliersSql,
    "h_lsh_balance" -> hLshBalanceSql
  )
}
