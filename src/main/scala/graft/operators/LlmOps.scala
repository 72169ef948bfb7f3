package graft.operators

import graft.operators.Checkpoints.MatOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions

/** SURVEY.md §2.2 group H: the LLM-training-data operations — dedup
  * (exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding cosine),
  * similarity search (brute-force + LSH-bucketed ANN), and text analysis
  * (lang heuristic, quality stats, token counts, fingerprinting).
  *
  * The source tables have no planted duplicates, so the dedup queries build
  * their corpora deterministically in-query: exact replay (`UNION ALL` of
  * the table with itself) for exact/simhash dedup, drop-first-word mutation
  * for near-dup text, and a ±2 % per-dimension perturbation for embedding
  * near-dup. The DuckDB oracle reconstructs the identical corpus, so every
  * pair produced is independently checkable.
  *
  * Scale posture (100 TB):
  *  - MinHash/LSH: signatures are per-row map work (no shuffle); the only
  *    shuffle is the band-bucket self-join, which scales as the number of
  *    colliding candidates, not n² — the standard shingle→minhash→band
  *    design. Exact Jaccard runs only on candidates.
  *  - Embedding near-dup keeps a brute verify here (the oracle needs exact
  *    results); the bucketed path is [[hAnnLsh]], whose hyperplane buckets
  *    cut the candidate space before any pairwise work.
  *  - All text stats are scan-local aggregations (partial agg before one
  *    exchange).
  */
object LlmOps {

  // ================================================================ dedup

  /** Exact dedup: replay-doubled corpus, grouped on the FNV-64a text
    * hash (the reference's dedup key, deduper.go:26-29), keeping the
    * MIN-(doc_id) row per hash — the deterministic-survivor rule every
    * dedup ACTION in this engine uses (h_dedup_survivors, h_semdedup).
    * The round-12 sf0.1 sweep caught why the rule matters here too: the
    * generator plants exact-duplicate texts that SPAN languages, and the
    * original `dropDuplicates` kept an arbitrary winner — whichever
    * partition's row arrived first decided which language's count
    * dropped, a nondeterminism invisible at scale factors without
    * cross-lang duplicates. min-struct survivor selection keeps the same
    * one-exchange hash-aggregate shape. */
  def hDedupExact(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    d.union(d) // at-least-once replay
      .withColumn("h", GraftFunctions.fnv64a(col("text")))
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("lang"))).as("keep"))
      .groupBy(col("keep.lang").as("lang"))
      .agg(count(lit(1)).as("n_unique"))
      .orderBy(col("lang"))
  }

  /** The oracle replays survivor selection on the text itself (equal
    * hash ⟺ equal text absent collisions): each distinct text is
    * attributed to its min-doc_id row's language. A bare
    * `count(DISTINCT text) per lang` would double-count the planted
    * cross-lang duplicate texts the engine collapses globally. */
  val hDedupExactSql: String =
    """WITH surv AS (
      |  SELECT text, min(doc_id) AS keeper FROM documents GROUP BY text),
      |kept AS (
      |  SELECT d.lang FROM documents d JOIN surv s ON d.doc_id = s.keeper)
      |SELECT lang, count(*) AS n_unique
      |FROM kept GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** Bloom-filter seen-before dedup — the probabilistic membership pass
    * CCNet/Dolma-style pipelines run BEFORE any exact or near-dup stage:
    * the standing corpus compresses to a few-hundred-KB bit array that
    * rides along as a broadcast, and each ingest batch probes it
    * scan-locally — no join against history at all. The price is a bounded
    * false-positive rate (flagged docs go to the exact verifier, here the
    * truth join); the guarantee is ZERO false negatives — a genuine dup
    * can never sneak past. Both halves of that contract are the output:
    * per-lang batch/dup/new counts plus `no_false_negatives` (must hold by
    * construction) and `fpr_within` (observed FP count ≤ 5 % of the truly
    * new docs; the filter is sized from a count of the actual history keys
    * at 9.585 bits/key — a 1 % design fpp — so the analytic rate holds at
    * every scale, never a fixed capacity the data can outgrow).
    *
    * Workload: history = docs with `doc_id % 3 ≠ 0`; the batch is the
    * remaining third plus replayed copies of every 10th history doc (same
    * text ⇒ same FNV-64a key — the planted true dups). Scale shape: the
    * build is a partial-then-merge `BloomFilterAggregate` (only the sketch
    * reaches the driver, the [[ScaleOps.cJoinBloom]] mechanism); the probe
    * is a codegen'd filter literal on the batch scan; the exact truth join
    * keys on the 64-bit hash, never the text. */
  def hDedupBloom(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    val history = d.filter(col("doc_id") % 3 =!= 0)
      .select(col("lang"), GraftFunctions.fnv64a(col("text")).as("k"))
    val batch = d.filter(col("doc_id") % 3 === 0)
      .select(col("lang"), GraftFunctions.fnv64a(col("text")).as("k"))
      .unionAll(
        d.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 10 === 0)
          .select(col("lang"), GraftFunctions.fnv64a(col("text")).as("k")))
    // Size the filter FROM the data, not a constant: one cheap count-only
    // scan bounds the key population, then bits = ceil(-n·ln p / ln²2) at
    // the 1 % design fpp (≈9.585 bits/key) — so the 5 % observed-FPR
    // contract below holds with 5× headroom at ANY corpus scale, and the
    // sketch stays ~1.2 B/key (a 10⁹-key history is a ~1.2 GB broadcast,
    // the documented ceiling of this pass; beyond that, shard the filter).
    val nKeys = math.max(history.count(), 1L)
    val designBits = math.max(64L, math.ceil(nKeys * 9.585058).toLong)
    val bloomBytes = history
      .select(org.apache.spark.sql.graft.BloomCols
        .bloomFilterAgg(col("k"), nKeys, designBits).as("bf"))
      .head.getAs[Array[Byte]](0)
    val probed = batch.withColumn("flagged",
      org.apache.spark.sql.graft.BloomCols.mightContain(bloomBytes, col("k")))
    val hkeys = history.select(col("k").as("hk")).distinct()
    probed.join(hkeys, probed("k") === hkeys("hk"), "left")
      .withColumn("is_dup", col("hk").isNotNull)
      .groupBy(col("lang")).agg(
        count(lit(1)).as("n_batch"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_exact"),
        sum(when(col("is_dup"), 0L).otherwise(1L)).as("n_new"),
        (sum(when(col("is_dup") && !col("flagged"), 1L).otherwise(0L)) === 0L)
          .as("no_false_negatives"),
        (sum(when(!col("is_dup") && col("flagged"), 1L).otherwise(0L)) * 20L <=
          sum(when(!col("is_dup"), 1L).otherwise(0L))).as("fpr_within"))
      .orderBy(col("lang"))
  }

  /** DuckDB replays the exact classification on text equality (≡ the
    * 64-bit hash join, collision-free on any real corpus) and asserts the
    * two Bloom contract booleans. */
  /** The SHARDED Bloom seen-before pass — the scale path past
    * [[hDedupBloom]]'s self-documented ceiling (a monolithic 10⁹-key
    * filter is a ~1.2 GB sketch: one final-merge reducer holds it, every
    * probe task references all of it). Here the key space splits into 16
    * shards by `pmod(fnv64a, 16)`: the build is 16 INDEPENDENT
    * partial-then-merge aggregates (each reducer merges a shard-sized
    * sketch), the filter table is 16 domain-sized rows, and the probe
    * side shuffles on the shard key and joins it — so each probe task
    * deserializes only the shard filters it actually meets, once per
    * task (the [[org.apache.spark.sql.graft.BloomProbeExpr]] cache; the
    * per-row filter bytes from the join are copies, which is exactly why
    * the cache keys on the cheap shard int). At 10⁹ keys each task holds
    * ~75 MB instead of 1.2 GB, and shard count scales the ceiling
    * linearly. Per-shard filters are sized from the LARGEST shard (one
    * 16-row count aggregate), so every shard meets the same 1 % design
    * fpp and the [[hDedupBloom]] contract booleans carry over verbatim —
    * as does the DuckDB oracle, which checks the exact counts and
    * expects both booleans true. */
  def hDedupBloomSharded(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    val nShards = 16
    val history = d.filter(col("doc_id") % 3 =!= 0)
      .select(col("lang"), GraftFunctions.fnv64a(col("text")).as("k"))
      .withColumn("shard", pmod(col("k"), lit(nShards)).cast("int"))
    val batch = d.filter(col("doc_id") % 3 === 0)
      .select(col("lang"), GraftFunctions.fnv64a(col("text")).as("k"))
      .unionAll(
        d.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 10 === 0)
          .select(col("lang"), GraftFunctions.fnv64a(col("text")).as("k")))
      .withColumn("shard", pmod(col("k"), lit(nShards)).cast("int"))
    // size every shard's filter from the largest shard: one 16-row count
    // aggregate (bounded control plane), same 1 % design fpp per shard
    val maxShard = math.max(1L,
      history.groupBy(col("shard")).count().agg(max(col("count"))).head.getLong(0))
    val designBits = math.max(64L, math.ceil(maxShard * 9.585058).toLong)
    val filters = history.groupBy(col("shard"))
      .agg(org.apache.spark.sql.graft.BloomCols
        .bloomFilterAgg(col("k"), maxShard, designBits).as("bf"))
    val probed = batch
      .repartition(nShards, col("shard")) // probe tasks see few shards -> cache hits
      .join(broadcast(filters), "shard")
      .withColumn("flagged", org.apache.spark.sql.graft.BloomCols
        .probeSharded(col("shard"), col("bf"), col("k")))
      .drop("bf")
    val hkeys = history.select(col("k").as("hk")).distinct()
    probed.join(hkeys, probed("k") === hkeys("hk"), "left")
      .withColumn("is_dup", col("hk").isNotNull)
      .groupBy(col("lang")).agg(
        count(lit(1)).as("n_batch"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_exact"),
        sum(when(col("is_dup"), 0L).otherwise(1L)).as("n_new"),
        (sum(when(col("is_dup") && !col("flagged"), 1L).otherwise(0L)) === 0L)
          .as("no_false_negatives"),
        (sum(when(!col("is_dup") && col("flagged"), 1L).otherwise(0L)) * 20L <=
          sum(when(!col("is_dup"), 1L).otherwise(0L))).as("fpr_within"))
      .orderBy(col("lang"))
  }

  val hDedupBloomSql: String =
    """WITH history AS (
      |  SELECT lang, text FROM documents WHERE doc_id % 3 <> 0),
      |batch AS (
      |  SELECT lang, text FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT lang, text FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 10 = 0),
      |truth AS (
      |  SELECT b.lang, (h.text IS NOT NULL) AS is_dup
      |  FROM batch b LEFT JOIN (SELECT DISTINCT text FROM history) h
      |    ON b.text = h.text)
      |SELECT lang, count(*) AS n_batch,
      |  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_exact,
      |  CAST(sum(CASE WHEN is_dup THEN 0 ELSE 1 END) AS BIGINT) AS n_new,
      |  true AS no_false_negatives, true AS fpr_within
      |FROM truth GROUP BY lang ORDER BY lang""".stripMargin

  /** SimHash dedup. SimHash is deliberately collision-friendly for similar
    * docs (on this low-entropy corpus some distinct texts legitimately share
    * a fingerprint), so the cross-engine check verifies the invariants that
    * must hold exactly: replay-doubling the corpus leaves the fingerprint
    * count unchanged (exact dupes collapse), and fingerprints never exceed
    * distinct texts. */
  def hSimhashDedup(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH corpus AS (
        |  SELECT * FROM documents UNION ALL SELECT * FROM documents),
        |fp1 AS (
        |  SELECT lang, count(DISTINCT simhash64(split(text, ' '))) AS f,
        |    count(DISTINCT text) AS t
        |  FROM documents GROUP BY lang),
        |fp2 AS (
        |  SELECT lang, count(DISTINCT simhash64(split(text, ' '))) AS f, count(*) AS n
        |  FROM corpus GROUP BY lang)
        |SELECT fp1.lang, fp2.n AS n_rows,
        |  (fp2.f = fp1.f) AS fp_stable,
        |  (fp2.f <= fp1.t) AS fp_le_text
        |FROM fp1 JOIN fp2 ON fp1.lang = fp2.lang
        |ORDER BY lang""".stripMargin)
  }

  val hSimhashDedupSql: String =
    """SELECT lang, 2 * count(*) AS n_rows, true AS fp_stable, true AS fp_le_text
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** The replay-doubled corpus's word-3-gram shingle table, MATERIALIZED
    * once via localCheckpoint and registered as `sh`. Spark inlines CTEs,
    * so leaving this as a `WITH sh AS (...)` re-runs tokenize + shingle
    * three times (signature build + both sides of the exact-Jaccard verify
    * join) — measured ~35 % of h_neardup_minhash at sf0.1. The table is one
    * slim row per doc (id + shingle array), so the checkpoint is corpus-
    * linear and partition-local; at cluster scale the same role is played
    * by writing the shingle/signature table once and joining against it.
    * The checkpoint is registered with [[Checkpoints]] so the harness can
    * unpersist it once the consuming query's action completes. */
  /** Round 20: shared per (context, dir) — the table is built identically
    * by [[hNeardupMinhash]] and by the componentLabels chain (via
    * neardupPairs), which previously each materialized their own copy.
    * At cluster scale this is the persisted per-doc signature table every
    * similarity-join system writes once (the hSimjoinPrefix posture). */
  private[operators] def shingleTable(s: SparkSession, dir: String): Unit =
    Checkpoints.sharedTable(s, s"shingleTable:$dir")(s.sql(
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, regexp_replace(text, '^\\S+\\s+', '') FROM documents),
        |tok AS (SELECT doc_id, split(text, ' ') AS tokens FROM corpus)
        |SELECT doc_id, array_distinct(transform(sequence(1, size(tokens) - 2),
        |  i -> concat(element_at(tokens, i), '|', element_at(tokens, i + 1), '|', element_at(tokens, i + 2)))) AS shingles
        |FROM tok WHERE size(tokens) >= 3""".stripMargin)
      .graftCheckpoint()).createOrReplaceTempView("sh")

  /** Near-dup text dedup via word-3-gram shingles → 64-perm MinHash →
    * 16×4 LSH banding → exact-Jaccard verify (≥ 0.6) on candidates only.
    * The corpus plants one near-dup per doc (first word dropped, J ≈ 0.95+);
    * at that similarity the 16-band detection probability is 1-4e-8, so the
    * LSH result equals the oracle's brute-force pairs. */
  def hNeardupMinhash(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    shingleTable(s, dir)
    s.sql(
      """WITH sig AS (
        |  SELECT doc_id, shingles,
        |    minhash_signature(transform(shingles, s -> fnv64a(s)), 64) AS signature
        |  FROM sh),
        |bands AS (
        |  SELECT doc_id, b.band, b.bh
        |  FROM sig LATERAL VIEW explode(transform(sequence(0, 15),
        |    b -> struct(b AS band, hash(slice(signature, b * 4 + 1, 4)) AS bh))) t AS b),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        |pairs AS (
        |  SELECT c.a_id, c.b_id,
        |    size(array_intersect(sa.shingles, sb.shingles)) AS ni,
        |    size(sa.shingles) + size(sb.shingles) AS stot
        |  FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.a_id
        |  JOIN sh sb ON sb.doc_id = c.b_id)
        |SELECT a_id, b_id, round(ni / (stot - ni), 4) AS jaccard
        |FROM pairs
        |WHERE stot - ni > 0 AND round(ni / (stot - ni), 4) >= 0.6
        |ORDER BY a_id, b_id""".stripMargin)
  }

  /** Exact-Jaccard pairs via an inverted shingle index (round 13 — the
    * componentLabelsOracle idiom): the gram equi-join's shared-gram COUNT
    * is the intersection size, and a pair at J ≥ 0.6 must share a gram,
    * so the result set is identical to the all-pairs form while the sf0.1
    * oracle drops from ~31 min to seconds. */
  val hNeardupMinhashSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, regexp_replace(text, '^\S+\s+', '') FROM documents),
      |tok AS (SELECT doc_id, string_split(text, ' ') AS tokens FROM corpus),
      |sh AS MATERIALIZED (
      |  SELECT doc_id, list_distinct(list_transform(range(len(tokens) - 2),
      |    i -> tokens[i + 1] || '|' || tokens[i + 2] || '|' || tokens[i + 3])) AS shingles
      |  FROM tok WHERE len(tokens) >= 3),
      |shlen AS MATERIALIZED (SELECT doc_id, len(shingles) AS ns FROM sh),
      |cg AS MATERIALIZED (SELECT doc_id, unnest(shingles) AS g FROM sh),
      |inter AS MATERIALIZED (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS ni
      |  FROM cg a JOIN cg b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT i.a_id, i.b_id,
      |  round(i.ni / (sa.ns + sb.ns - i.ni), 4) AS jaccard
      |FROM inter i
      |JOIN shlen sa ON sa.doc_id = i.a_id
      |JOIN shlen sb ON sb.doc_id = i.b_id
      |WHERE round(i.ni / (sa.ns + sb.ns - i.ni), 4) >= 0.6
      |ORDER BY a_id, b_id""".stripMargin

  /** Incremental (batch-vs-index) near-dup dedup — the OPERATIONAL shape of
    * [[hNeardupMinhash]] at 100 TB: a standing corpus is never re-paired
    * with itself; a daily ingest batch dedups against the history's
    * PRE-MATERIALIZED MinHash-LSH band index plus itself. The batch here is
    * a deterministic mix: near-dup replicas (doc_id%5=0, first word
    * dropped, J≈0.95), exact replicas (%5=1, J=1), and history-absent
    * template docs (%5=2) that collide pairwise within each id-decade
    * (ids ≡2 and ≡7 mod 10 build identical text), so the within-batch
    * survivor rule is observable. Each batch doc classifies as
    * dup-vs-history (any history candidate with exact Jaccard ≥ 0.6),
    * else dup-within-batch (an EARLIER batch doc ≥ 0.6 — the survivor
    * rule), else new; reported per language.
    *
    * Scale shape: the history band index is checkpointed once (standing in
    * for the stored index table); candidates come only from batch-band ⋈
    * index-band and batch ⋈ batch equi-joins, so the candidate volume and
    * both shuffles scale with BATCH size — history×history pairs are never
    * formed. The DuckDB oracle replays brute-force history×batch and
    * batch×batch pairs end-to-end (planted dups sit at J≈0.95+, where
    * 16×4-band detection probability is 1-4e-8, so LSH equals brute). */
  def hDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH batch AS (
        |  SELECT doc_id + 2000000 AS doc_id, lang,
        |    CASE WHEN doc_id % 5 = 0 THEN regexp_replace(text, '^\\S+\\s+', '')
        |         WHEN doc_id % 5 = 1 THEN text
        |         ELSE concat('batch new doc ', CAST(doc_id div 10 AS STRING), ' block end') END AS text
        |  FROM documents WHERE doc_id % 5 <= 2),
        |corpus AS (
        |  SELECT doc_id, text, 0 AS is_batch FROM documents
        |  UNION ALL
        |  SELECT doc_id, text, 1 AS is_batch FROM batch),
        |tok AS (SELECT doc_id, is_batch, split(text, ' ') AS tokens FROM corpus)
        |SELECT doc_id, is_batch, array_distinct(transform(sequence(1, size(tokens) - 2),
        |  i -> concat(element_at(tokens, i), '|', element_at(tokens, i + 1), '|', element_at(tokens, i + 2)))) AS shingles
        |FROM tok WHERE size(tokens) >= 3""".stripMargin)
      .graftCheckpoint().createOrReplaceTempView("shinc")
    s.sql(
      """WITH sig AS (
        |  SELECT doc_id, is_batch,
        |    minhash_signature(transform(shingles, x -> fnv64a(x)), 64) AS signature
        |  FROM shinc),
        |bands AS (
        |  SELECT doc_id, is_batch, b.band, b.bh
        |  FROM sig LATERAL VIEW explode(transform(sequence(0, 15),
        |    b -> struct(b AS band, hash(slice(signature, b * 4 + 1, 4)) AS bh))) t AS b),
        |cand_h AS (
        |  SELECT DISTINCT b.doc_id AS b_id, h.doc_id AS h_id
        |  FROM bands b JOIN bands h ON b.band = h.band AND b.bh = h.bh
        |  WHERE b.is_batch = 1 AND h.is_batch = 0),
        |cand_b AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
        |  WHERE a.is_batch = 1 AND b.is_batch = 1 AND a.doc_id < b.doc_id),
        |dup_h AS (
        |  SELECT DISTINCT c.b_id AS doc_id
        |  FROM cand_h c
        |  JOIN shinc sa ON sa.doc_id = c.b_id AND sa.is_batch = 1
        |  JOIN shinc sb ON sb.doc_id = c.h_id AND sb.is_batch = 0
        |  WHERE size(sa.shingles) + size(sb.shingles) - size(array_intersect(sa.shingles, sb.shingles)) > 0
        |    AND round(size(array_intersect(sa.shingles, sb.shingles)) /
        |        (size(sa.shingles) + size(sb.shingles) - size(array_intersect(sa.shingles, sb.shingles))), 4) >= 0.6),
        |dup_b AS (
        |  SELECT DISTINCT c.b_id AS doc_id
        |  FROM cand_b c
        |  JOIN shinc sa ON sa.doc_id = c.a_id AND sa.is_batch = 1
        |  JOIN shinc sb ON sb.doc_id = c.b_id AND sb.is_batch = 1
        |  WHERE size(sa.shingles) + size(sb.shingles) - size(array_intersect(sa.shingles, sb.shingles)) > 0
        |    AND round(size(array_intersect(sa.shingles, sb.shingles)) /
        |        (size(sa.shingles) + size(sb.shingles) - size(array_intersect(sa.shingles, sb.shingles))), 4) >= 0.6),
        |bd AS (SELECT doc_id + 2000000 AS doc_id, lang FROM documents WHERE doc_id % 5 <= 2)
        |SELECT bd.lang, count(*) AS n_batch,
        |  CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_hist,
        |  CAST(sum(CASE WHEN h.doc_id IS NULL AND b.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_batch,
        |  CAST(sum(CASE WHEN h.doc_id IS NULL AND b.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |FROM bd
        |LEFT JOIN dup_h h ON bd.doc_id = h.doc_id
        |LEFT JOIN dup_b b ON bd.doc_id = b.doc_id
        |GROUP BY bd.lang
        |ORDER BY bd.lang""".stripMargin)
  }

  val hDedupIncrementalSql: String =
    """WITH batch AS (
      |  SELECT doc_id + 2000000 AS doc_id, lang,
      |    CASE WHEN doc_id % 5 = 0 THEN regexp_replace(text, '^\S+\s+', '')
      |         WHEN doc_id % 5 = 1 THEN text
      |         ELSE concat('batch new doc ', CAST(doc_id // 10 AS VARCHAR), ' block end') END AS text
      |  FROM documents WHERE doc_id % 5 <= 2),
      |htok AS (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
      |btok AS (SELECT doc_id, string_split(text, ' ') AS tokens FROM batch),
      |hsh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(len(tokens) - 2),
      |    i -> tokens[i + 1] || '|' || tokens[i + 2] || '|' || tokens[i + 3])) AS shingles
      |  FROM htok WHERE len(tokens) >= 3),
      |bsh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(len(tokens) - 2),
      |    i -> tokens[i + 1] || '|' || tokens[i + 2] || '|' || tokens[i + 3])) AS shingles
      |  FROM btok WHERE len(tokens) >= 3),
      |hlen AS MATERIALIZED (SELECT doc_id, len(shingles) AS ns FROM hsh),
      |blen AS MATERIALIZED (SELECT doc_id, len(shingles) AS ns FROM bsh),
      |hcg AS MATERIALIZED (SELECT doc_id, unnest(shingles) AS g FROM hsh),
      |bcg AS MATERIALIZED (SELECT doc_id, unnest(shingles) AS g FROM bsh),
      |ih AS MATERIALIZED (
      |  SELECT b.doc_id AS b_id, h.doc_id AS h_id, count(*) AS ni
      |  FROM bcg b JOIN hcg h ON b.g = h.g GROUP BY 1, 2),
      |dup_h AS (
      |  SELECT DISTINCT i.b_id AS doc_id
      |  FROM ih i JOIN blen bl ON bl.doc_id = i.b_id
      |  JOIN hlen hl ON hl.doc_id = i.h_id
      |  WHERE round(i.ni / (bl.ns + hl.ns - i.ni), 4) >= 0.6),
      |ib AS MATERIALIZED (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS ni
      |  FROM bcg a JOIN bcg b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |dup_b AS (
      |  SELECT DISTINCT i.b_id AS doc_id
      |  FROM ib i JOIN blen al ON al.doc_id = i.a_id
      |  JOIN blen bl2 ON bl2.doc_id = i.b_id
      |  WHERE round(i.ni / (al.ns + bl2.ns - i.ni), 4) >= 0.6)
      |SELECT bd.lang, count(*) AS n_batch,
      |  CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_hist,
      |  CAST(sum(CASE WHEN h.doc_id IS NULL AND b.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_batch,
      |  CAST(sum(CASE WHEN h.doc_id IS NULL AND b.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new
      |FROM (SELECT doc_id, lang FROM batch) bd
      |LEFT JOIN dup_h h ON bd.doc_id = h.doc_id
      |LEFT JOIN dup_b b ON bd.doc_id = b.doc_id
      |GROUP BY bd.lang
      |ORDER BY bd.lang""".stripMargin

  /** Brute n-gram Jaccard: each doc's most-similar neighbor within a
    * 50-doc subset (the all-pairs baseline the LSH query avoids). */
  def hJaccardSim(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH tok AS (
        |  SELECT doc_id, split(text, ' ') AS tokens FROM documents WHERE doc_id < 50),
        |sh AS (
        |  SELECT doc_id, array_distinct(transform(sequence(1, size(tokens) - 2),
        |    i -> concat(element_at(tokens, i), '|', element_at(tokens, i + 1), '|', element_at(tokens, i + 2)))) AS shingles
        |  FROM tok WHERE size(tokens) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    round(size(array_intersect(a.shingles, b.shingles)) /
        |          size(array_union(a.shingles, b.shingles)), 4) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id),
        |ranked AS (
        |  SELECT a_id, b_id, jaccard,
        |    row_number() OVER (PARTITION BY a_id ORDER BY jaccard DESC, b_id) AS rn
        |  FROM pairs)
        |SELECT a_id, b_id AS nearest_id, jaccard
        |FROM ranked WHERE rn = 1
        |ORDER BY a_id""".stripMargin)
  }

  val hJaccardSimSql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents WHERE doc_id < 50),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(len(tokens) - 2),
      |    i -> tokens[i + 1] || '|' || tokens[i + 2] || '|' || tokens[i + 3])) AS shingles
      |  FROM tok WHERE len(tokens) >= 3),
      |pairs AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |    round(len(list_intersect(a.shingles, b.shingles)) /
      |          (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))), 4) AS jaccard
      |  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id),
      |ranked AS (
      |  SELECT a_id, b_id, jaccard,
      |    row_number() OVER (PARTITION BY a_id ORDER BY jaccard DESC, b_id) AS rn
      |  FROM pairs)
      |SELECT a_id, b_id AS nearest_id, jaccard
      |FROM ranked WHERE rn = 1
      |ORDER BY a_id""".stripMargin

  /** Embedding near-dup: ±2 % perturbed copies must pair with their
    * originals at cosine ≥ 0.9 (random pairs on this corpus sit below 0.5).
    *
    * The 100 TB plan: 32-band × 12-plane sign-LSH keys (codegen'd
    * `hyperplane_bands`), explode + equi-join on the band key — candidate
    * volume scales with collisions, not n² — then exact-cosine verify on
    * candidates only. The planted pairs sit at cosine ≈ 0.9998 (θ ≈ 0.02
    * rad), where the 32×12 miss probability is ~2e-37, so the result is
    * equal to the brute-force oracle's. Band shape chosen empirically on
    * the doubled sf0.01 corpus: 32×12 → ~6.5k candidate pairs (vs ~35k for
    * 16×8, ~427k for 32×4) with all 500 planted pairs found.
    * AnnRecallSpec keeps the exact all-pairs join as the recall yardstick. */
  def hNeardupEmbedding(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "embeddings")
    // Round 20: the banded key table is checkpointed once — the LSH
    // projection is 32×12 hyperplane dot products PER VECTOR, and the
    // band self-join's two sides each re-inlined that whole chain (the
    // key table itself is narrow: (vec_id, band key) × 32). The vector
    // table `normed` stays inline: its recompute (scan + cast + norm) is
    // cheaper than materializing doubled vectors (the h_rrf_fusion
    // measurement), and the verify joins shuffle it by vec_id either way.
    s.sql(
      """WITH base AS (
        |  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |pert AS (
        |  SELECT vec_id + 1000000 AS vec_id,
        |    transform(v, (x, i) -> x * CASE WHEN (i + 1) % 2 = 0 THEN CAST(1.02 AS DOUBLE) ELSE CAST(0.98 AS DOUBLE) END) AS v
        |  FROM base),
        |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM pert)
        |SELECT vec_id, bk
        |FROM corpus LATERAL VIEW explode(hyperplane_bands(v, 32, 12)) t AS bk""".stripMargin)
      .graftCheckpoint().createOrReplaceTempView("ne_keyed")
    s.sql(
      """WITH base AS (
        |  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |pert AS (
        |  SELECT vec_id + 1000000 AS vec_id,
        |    transform(v, (x, i) -> x * CASE WHEN (i + 1) % 2 = 0 THEN CAST(1.02 AS DOUBLE) ELSE CAST(0.98 AS DOUBLE) END) AS v
        |  FROM base),
        |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
        |normed AS (
        |  SELECT vec_id, v, sqrt(dot_product(v, v)) AS nrm FROM corpus),
        |keyed AS (SELECT vec_id, bk FROM ne_keyed),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM keyed a JOIN keyed b ON a.bk = b.bk AND a.vec_id < b.vec_id),
        |pairs AS (
        |  SELECT c.a_id, c.b_id,
        |    round(dot_product(x.v, y.v) / (x.nrm * y.nrm), 4) AS cosine
        |  FROM cand c
        |  JOIN normed x ON x.vec_id = c.a_id
        |  JOIN normed y ON y.vec_id = c.b_id)
        |SELECT a_id, b_id, cosine
        |FROM pairs
        |WHERE cosine >= 0.9
        |ORDER BY a_id, b_id""".stripMargin)
  }

  val hNeardupEmbeddingSql: String =
    """WITH base AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |pert AS (
      |  SELECT vec_id + 1000000 AS vec_id,
      |    list_transform(list_zip(v, range(1, len(v) + 1)),
      |      p -> p[1] * CASE WHEN p[2] % 2 = 0 THEN CAST(1.02 AS DOUBLE) ELSE CAST(0.98 AS DOUBLE) END) AS v
      |  FROM base),
      |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
      |normed AS (
      |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM corpus),
      |pairs AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |    round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cosine
      |  FROM normed a JOIN normed b ON a.vec_id < b.vec_id)
      |SELECT a_id, b_id, cosine
      |FROM pairs
      |WHERE cosine >= 0.9
      |ORDER BY a_id, b_id""".stripMargin

  // ================================================================ similarity search

  /** Brute-force cosine top-5 for the first 10 query vectors — the exact
    * baseline every ANN variant is judged against. Query side is tiny ⇒
    * broadcast; per-partition ranking, one final shuffle for the window. */
  def hAnnBrute(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "embeddings")
    s.sql(
      """WITH base AS (
        |  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |normed AS (
        |  SELECT vec_id, v, sqrt(dot_product(v, v)) AS nrm FROM base),
        |q AS (SELECT * FROM normed WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
        |    round(dot_product(q.v, n.v) / (q.nrm * n.nrm), 4) AS cosine
        |  FROM q JOIN normed n ON q.vec_id <> n.vec_id),
        |ranked AS (
        |  SELECT q_id, n_id, cosine,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk
        |  FROM scored)
        |SELECT q_id, n_id, cosine, CAST(rnk AS BIGINT) AS rnk
        |FROM ranked WHERE rnk <= 5
        |ORDER BY q_id, rnk""".stripMargin)
  }

  val hAnnBruteSql: String =
    """WITH base AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |normed AS (
      |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM base),
      |q AS (SELECT * FROM normed WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
      |    round(list_dot_product(q.v, n.v) / (q.nrm * n.nrm), 4) AS cosine
      |  FROM q JOIN normed n ON q.vec_id <> n.vec_id),
      |ranked AS (
      |  SELECT q_id, n_id, cosine,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk
      |  FROM scored)
      |SELECT q_id, n_id, cosine, rnk
      |FROM ranked WHERE rnk <= 5
      |ORDER BY q_id, rnk""".stripMargin

  /** LSH-bucketed ANN (the 100 TB path): one 8-plane sign table → 256
    * buckets on the base side; queries probe their home bucket plus the two
    * lowest-margin single-plane flips (multi-probe — ~3-table recall at
    * 1-table memory). Per-bucket brute ranking only.
    *
    * Queries are ±2 % perturbed copies of the first 10 corpus vectors — the
    * near-duplicate-retrieval workload LSH is actually good for. (This
    * corpus is isotropic noise: an arbitrary vector's true top-k neighbors
    * sit at cosine ≈ 0.3–0.5, i.e. θ ≈ π/3, where NO sub-linear sign-LSH
    * configuration retains them — any "recall" there is a full-scan in
    * disguise. The honest contract, asserted in AnnRecallSpec, is recall@1
    * of the planted near-duplicate, whose θ ≈ 0.02 gives a ≥ 0.99 analytic
    * hit rate for 8 planes × 3 probes.)
    *
    * Output is the deterministic planted-pair summary, so the DuckDB oracle
    * CAN check it: per query, the planted original's id, whether the probe
    * buckets retrieved it (`found`), and the retrieved top-1 id + exact
    * cosine. The planted pair's cosine (≈ 0.9998) dwarfs the isotropic
    * background (≲ 0.5), so `found ⇒ top1 = planted` and DuckDB recomputes
    * the perturbation + cosine in plain SQL. Bucket membership itself stays
    * non-SQL (splitmix64 planes), but a retrieval miss now hash-FAILs. */
  def hAnnLsh(s: SparkSession, dir: String): DataFrame =
    hAnnLshWith(s, dir)

  /** Parameterized form: `planes` sets the sign-table width (2^planes
    * buckets — more planes = smaller buckets = faster probes but lower
    * per-probe hit rate), `nProbes` the number of lowest-margin buckets
    * each query visits. The declared query keeps (8, 3); AnnRecallSpec
    * sweeps configurations and records the recall/latency trade. */
  private[operators] def hAnnLshWith(s: SparkSession, dir: String,
                                     planes: Int = 8, nProbes: Int = 3): DataFrame = {
    Tables.bind(s, dir, "embeddings")
    s.sql(
      s"""WITH base AS (
        |  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |normed AS (
        |  SELECT vec_id, v, sqrt(dot_product(v, v)) AS nrm FROM base),
        |bucketed AS (
        |  SELECT vec_id, v, nrm, element_at(hyperplane_bands(v, 1, $planes), 1) AS bucket
        |  FROM normed),
        |qpert AS (
        |  SELECT vec_id AS planted_id, vec_id + 1000000 AS q_id,
        |    transform(v, (x, i) -> x * CASE WHEN (i + 1) % 2 = 0 THEN CAST(1.02 AS DOUBLE) ELSE CAST(0.98 AS DOUBLE) END) AS v
        |  FROM base WHERE vec_id < 10),
        |qn AS (
        |  SELECT q_id, planted_id, v, sqrt(dot_product(v, v)) AS nrm FROM qpert),
        |q AS (
        |  SELECT q_id, planted_id, v, nrm, pb
        |  FROM qn LATERAL VIEW explode(hyperplane_probes(v, $planes, $nProbes)) t AS pb),
        |scored AS (
        |  SELECT q.q_id, q.planted_id, n.vec_id AS n_id,
        |    round(dot_product(q.v, n.v) / (q.nrm * n.nrm), 4) AS cosine
        |  FROM q JOIN bucketed n ON q.pb = n.bucket),
        |summary AS (
        |  SELECT q_id, planted_id,
        |    max(CASE WHEN n_id = planted_id THEN 1 ELSE 0 END) = 1 AS found,
        |    max(named_struct('cosine', cosine, 'neg_id', -n_id)) AS best
        |  FROM scored GROUP BY q_id, planted_id)
        |SELECT q_id, planted_id, found, -best.neg_id AS top1_id, best.cosine AS top1_cosine
        |FROM summary
        |ORDER BY q_id""".stripMargin)
  }

  /** DuckDB recomputes the planted perturbation and its exact cosine; a
    * retrieval miss (found=false or top1 ≠ planted) breaks the hash. */
  val hAnnLshSql: String =
    """WITH base AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 10),
      |pert AS (
      |  SELECT vec_id, v,
      |    list_transform(v, (x, i) -> CASE WHEN i % 2 = 0 THEN x * CAST(1.02 AS DOUBLE) ELSE x * CAST(0.98 AS DOUBLE) END) AS pv
      |  FROM base)
      |SELECT CAST(vec_id + 1000000 AS BIGINT) AS q_id, vec_id AS planted_id,
      |  TRUE AS found, vec_id AS top1_id,
      |  round(list_dot_product(pv, v) / (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(v, v))), 4) AS top1_cosine
      |FROM pert ORDER BY q_id""".stripMargin

  /** IVF-style ANN (the other classic scale path next to [[hAnnLsh]]): a
    * coarse quantizer assigns every vector to its nearest centroid's
    * inverted list; queries probe their nprobe=2 closest lists and rank
    * only those candidates.
    *
    * Centroids (round-5 verdict task #3): seeded with the first 16 vectors,
    * then refined by one deterministic Lloyd iteration over a bounded
    * training sample (`vec_id < 256` — at 100 TB you train the quantizer on
    * a sample, never the corpus): assign each training vector to its
    * nearest seed by cosine (ties on c_id ascending), replace each centroid
    * with the element-wise mean of its members, keep the seed where a
    * cluster went empty. Everything is expressible in SQL, so the DuckDB
    * oracle replays the identical iteration.
    *
    * Scale shape: the 16 centroids are collected into ONE array row and
    * broadcast-crossed against the corpus, so nearest-centroid assignment
    * is a scan-local `array_sort` over 16 scored structs — no window, no
    * Exchange keyed on vec_id (pinned in PlanAuditSpec). The refinement
    * adds only sample-sized work: a (c_id, dim)-keyed aggregation of
    * 256×64 values and a 16-row join. Probes (20 rows) broadcast to the
    * candidate join, so the remaining exchanges are the tiny centroid
    * collects and the final per-query top-k window on q_id. */
  def hAnnIvf(s: SparkSession, dir: String): DataFrame = {
    // round 20: the declared query probes the SHARED checkpointed
    // centroid table (identical derivation) instead of re-planning the
    // seeded-Lloyd chain inline per invocation
    registerIvfPqCentroids(s, dir)
    hAnnIvfFromView(s, dir, "ivfpq_centn")
  }

  /** `refined = false` keeps the raw-seed quantizer — the baseline
    * AnnRecallSpec measures the Lloyd refinement against. `queryPred`
    * (spec-only) swaps the query set: the declared query keeps `vec_id <
    * 10`, while a fair quantizer comparison needs queries disjoint from
    * the seeds (which ARE vectors 0–15) and the training sample. */
  /** Centroid CTE chain ending in `centn(c_id, cv, cnrm)`; requires a
    * `base(vec_id, v)` CTE in scope. Shared by the declared query and the
    * spec-level quantizer-quality measurement so both see the exact
    * shipped centroids. */
  private def ivfCentSql(refined: Boolean, nlist: Int): String =
    if (!refined)
      s"""centn AS (
        |  SELECT vec_id AS c_id, v AS cv, sqrt(dot_product(v, v)) AS cnrm
        |  FROM base WHERE vec_id < $nlist)""".stripMargin
    else
      s"""seed AS (SELECT vec_id AS c_id, v AS cv FROM base WHERE vec_id < $nlist),
        |seedcoll AS (
        |  SELECT collect_list(named_struct(
        |    'c_id', c_id, 'cv', cv, 'cnrm', sqrt(dot_product(cv, cv)))) AS cs
        |  FROM seed),
        |tassign AS (
        |  SELECT t.vec_id, t.v,
        |    array_sort(transform(cs, c -> named_struct(
        |      'neg', -dot_product(t.v, c.cv) / (sqrt(dot_product(t.v, t.v)) * c.cnrm),
        |      'c_id', c.c_id)))[0].c_id AS c_id
        |  FROM (SELECT vec_id, v FROM base WHERE vec_id < 256) t CROSS JOIN seedcoll),
        |dimmean AS (
        |  SELECT c_id, pos, avg(val) AS m
        |  FROM tassign LATERAL VIEW posexplode(v) t AS pos, val
        |  GROUP BY c_id, pos),
        |newcent AS (
        |  SELECT c_id,
        |    transform(array_sort(collect_list(named_struct('pos', pos, 'm', m))), p -> p.m) AS cv
        |  FROM dimmean GROUP BY c_id),
        |centfin AS (
        |  SELECT s.c_id, coalesce(n.cv, s.cv) AS cv
        |  FROM seed s LEFT JOIN newcent n ON s.c_id = n.c_id),
        |centn AS (SELECT c_id, cv, sqrt(dot_product(cv, cv)) AS cnrm FROM centfin)""".stripMargin

  /** The shipped centroids alone — spec hook for measuring quantizer
    * quality (mean angular distortion) of seed vs refined. */
  private[operators] def ivfCentroids(s: SparkSession, dir: String, refined: Boolean,
                                      nlist: Int = 16): DataFrame = {
    Tables.bind(s, dir, "embeddings")
    s.sql(
      s"""WITH base AS (
         |  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |${ivfCentSql(refined, nlist)}
         |SELECT c_id, cv, cnrm FROM centn""".stripMargin)
  }

  private[operators] def hAnnIvfWith(s: SparkSession, dir: String, refined: Boolean,
                                     queryPred: String = "vec_id < 10",
                                     nlist: Int = 16, nprobe: Int = 2): DataFrame =
    ivfSearch(s, dir, ivfCentSql(refined, nlist), queryPred, nprobe)

  /** IVF probe + rank against ANY `centn(c_id, cv, cnrm)` CTE — shared by
    * the declared query (shipped seeded-Lloyd centroids) and the
    * staleness→retrain bridge (refreshed centroids from a registered
    * view), so both searches run the identical plan. */
  private def ivfSearch(s: SparkSession, dir: String, centn: String,
                        queryPred: String, nprobe: Int): DataFrame = {
    Checkpoints.bindWide(s, dir, "embeddings")
    s.sql(
      s"""WITH base AS (
         |  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings_w),
         |normed AS (
         |  SELECT vec_id, v, sqrt(dot_product(v, v)) AS nrm FROM base),
         |$centn,
         |cents AS (
         |  SELECT collect_list(named_struct('c_id', c_id, 'cv', cv, 'cnrm', cnrm)) AS cs
         |  FROM centn),
         |ranked_cent AS (
         |  SELECT vec_id, v, nrm,
         |    slice(array_sort(transform(cs, c -> named_struct(
         |      'neg', -dot_product(v, c.cv) / (nrm * c.cnrm), 'c_id', c.c_id))), 1, $nprobe) AS topn
         |  FROM normed CROSS JOIN cents),
         |assigned AS (
         |  SELECT vec_id, v, nrm, topn[0].c_id AS c_id FROM ranked_cent),
         |probes AS (
         |  SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, p.c_id
         |  FROM ranked_cent LATERAL VIEW explode(topn) t AS p
         |  WHERE $queryPred),
         |scored AS (
         |  SELECT /*+ BROADCAST(p) */ p.q_id, a.vec_id AS n_id,
         |    round(dot_product(p.qv, a.v) / (p.qnrm * a.nrm), 4) AS cosine
         |  FROM probes p JOIN assigned a ON a.c_id = p.c_id
         |  WHERE a.vec_id <> p.q_id)
         |SELECT q_id, n_id, cosine, CAST(rnk AS BIGINT) AS rnk FROM (
         |  SELECT q_id, n_id, cosine,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk
         |  FROM scored)
         |WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin)
  }

  /** The flagged-cluster set from [[hIvfStaleness]] — a bounded 16-row
    * control-plane collect (the [[ScaleOps.recommendedSalt]] bridge
    * pattern): the nightly audit's `needs_retrain` column consumed as
    * data, not read off a report by a human. */
  def ivfStaleClusters(s: SparkSession, dir: String): Seq[Long] =
    hIvfStaleness(s, dir).collect()
      .filter(_.getAs[Boolean]("needs_retrain"))
      .map(_.getAs[Long]("c_id")).toSeq.sorted

  /** The staleness→retrain ACTION (round-13 verdict item): re-run the
    * Lloyd refinement step over the clusters [[hIvfStaleness]] flagged
    * (growth ≥ 500‰, new-only, or centroid shift cos < 995‰) and ONLY
    * those — unflagged centroids ship unchanged, so the nightly job
    * touches exactly the alarmed fraction of the index. Each flagged
    * centroid becomes the element-wise mean of ALL its current members
    * (the post-growth population the staleness audit measured drift
    * against); a flagged cluster that somehow has no members keeps its
    * stale centroid (the coalesce sentinel, matching the seeded chain's
    * empty-cluster rule).
    *
    * Scale shape: assignment is the same broadcast-16-array scan as
    * [[hAnnIvf]]; the member means ride one posexplode exchange of
    * (flagged-clusters × dims) partials — strictly LESS work than the
    * original training pass when few clusters alarm, and never more than
    * one corpus scan. Returns the 16-row refreshed centroid table
    * (c_id, cv, cnrm, retrained); register it as a view and search it
    * via [[hAnnIvfFromView]]. AnnRecallSpec proves the refreshed index
    * does not lose recall vs the stale one on the h_ann_recall panel. */
  def ivfRetrainedCentroids(s: SparkSession, dir: String,
                            flagged: Seq[Long]): DataFrame = {
    Tables.bind(s, dir, "embeddings")
    registerIvfPqCentroids(s, dir)
    val flaggedList = if (flagged.isEmpty) "-1" else flagged.mkString(", ")
    s.sql(
      s"""WITH base AS (
         |  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |normed AS (
         |  SELECT vec_id, v, sqrt(dot_product(v, v)) AS nrm FROM base),
         |centn AS (SELECT c_id, cv, cnrm FROM ivfpq_centn),
         |cents AS (
         |  SELECT collect_list(named_struct('c_id', c_id, 'cv', cv, 'cnrm', cnrm)) AS cs
         |  FROM centn),
         |assigned AS (
         |  SELECT vec_id, v,
         |    array_sort(transform(cs, c -> named_struct(
         |      'neg', -dot_product(v, c.cv) / (nrm * c.cnrm), 'c_id', c.c_id)))[0].c_id AS c_id
         |  FROM normed CROSS JOIN cents),
         |fm AS (SELECT c_id, v FROM assigned WHERE c_id IN ($flaggedList)),
         |fdim AS (
         |  SELECT c_id, pos, avg(val) AS m
         |  FROM fm LATERAL VIEW posexplode(v) t AS pos, val
         |  GROUP BY c_id, pos),
         |fcent AS (
         |  SELECT c_id,
         |    transform(array_sort(collect_list(named_struct('pos', pos, 'm', m))), p -> p.m) AS cv
         |  FROM fdim GROUP BY c_id),
         |merged AS (
         |  SELECT c.c_id, coalesce(n.cv, c.cv) AS cv, n.c_id IS NOT NULL AS retrained
         |  FROM centn c LEFT JOIN fcent n ON c.c_id = n.c_id)
         |SELECT c_id, cv, sqrt(dot_product(cv, cv)) AS cnrm, retrained
         |FROM merged""".stripMargin)
  }

  /** IVF search against a registered `(c_id, cv, cnrm)` centroid view —
    * the serving side of the retrain bridge. */
  private[operators] def hAnnIvfFromView(s: SparkSession, dir: String, centView: String,
                                         queryPred: String = "vec_id < 10",
                                         nprobe: Int = 2): DataFrame =
    ivfSearch(s, dir, s"centn AS (SELECT c_id, cv, cnrm FROM $centView)",
      queryPred, nprobe)

  /** Full IVF oracle: DuckDB replays the identical seeded Lloyd iteration
    * (sample assignment → element-wise means → empty clusters keep seed),
    * then re-derives assignment (ties on c_id), nprobe=2 probing, and
    * candidate ranking, so the approximate index is rows+schema+hash
    * checked end-to-end. */
  val hAnnIvfSql: String =
    """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |normed AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM base),
      |seed AS (SELECT vec_id AS c_id, v AS cv FROM base WHERE vec_id < 16),
      |tassign AS (
      |  SELECT vec_id, v, c_id FROM (
      |    SELECT t.vec_id, t.v, s.c_id,
      |      row_number() OVER (PARTITION BY t.vec_id ORDER BY
      |        list_dot_product(t.v, s.cv) /
      |          (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(s.cv, s.cv))) DESC,
      |        s.c_id) AS rn
      |    FROM (SELECT vec_id, v FROM base WHERE vec_id < 256) t CROSS JOIN seed s)
      |  WHERE rn = 1),
      |dimmean AS (
      |  SELECT c_id, pos, avg(val) AS m FROM (
      |    SELECT c_id, generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM tassign)
      |  GROUP BY c_id, pos),
      |newcent AS (SELECT c_id, list(m ORDER BY pos) AS cv FROM dimmean GROUP BY c_id),
      |centfin AS (
      |  SELECT s.c_id, coalesce(n.cv, s.cv) AS cv
      |  FROM seed s LEFT JOIN newcent n ON s.c_id = n.c_id),
      |cent AS (SELECT c_id, cv, sqrt(list_dot_product(cv, cv)) AS cnrm FROM centfin),
      |assigned AS (
      |  SELECT vec_id, v, nrm, c_id FROM (
      |    SELECT n.vec_id, n.v, n.nrm, c.c_id,
      |      row_number() OVER (PARTITION BY n.vec_id ORDER BY list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm) DESC, c.c_id) AS rn
      |    FROM normed n CROSS JOIN cent c)
      |  WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, c_id FROM (
      |    SELECT n.vec_id, n.v, n.nrm, c.c_id,
      |      row_number() OVER (PARTITION BY n.vec_id ORDER BY list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm) DESC, c.c_id) AS rn
      |    FROM normed n CROSS JOIN cent c WHERE n.vec_id < 10)
      |  WHERE rn <= 2),
      |scored AS (
      |  SELECT p.q_id, a.vec_id AS n_id,
      |    round(list_dot_product(p.qv, a.v) / (p.qnrm * a.nrm), 4) AS cosine
      |  FROM probes p JOIN assigned a ON a.c_id = p.c_id
      |  WHERE a.vec_id <> p.q_id)
      |SELECT q_id, n_id, cosine, rnk FROM (
      |  SELECT q_id, n_id, cosine,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk
      |  FROM scored)
      |WHERE rnk <= 3
      |ORDER BY q_id, rnk""".stripMargin

  /** FILTERED vector search — the predicate-constrained ANN variant every
    * production vector store now ships (Qdrant/Vespa/Milvus "filtered
    * search"; FAISS IDSelector): top-k restricted to candidates
    * satisfying a metadata predicate — here `label = query's label`, the
    * label-conditioned retrieval [[hClusterPurity]] audits the index
    * for. Post-filtering the probed lists (filter INSIDE the candidate
    * join, before ranking) keeps the IVF plan intact; the per-query
    * `n_cand` column reports the effective candidate pool after the
    * filter — the selectivity number that decides when a filtered query
    * must fall back to more probes or a flat scan (the documented
    * failure mode of post-filtered ANN at high selectivity).
    *
    * Scale shape: exactly [[hAnnIvf]]'s plan — scan-local coarse
    * assignment against the broadcast 16-centroid array, the 20
    * (query × probe) rows broadcast into the candidate join with the
    * label equality folded into the join condition, one q_id window for
    * the top-3 (the n_cand count rides the same exchange). The filter
    * prunes candidates BEFORE the cosine, so higher selectivity makes
    * the query cheaper, never broader. */
  def hAnnFiltered(s: SparkSession, dir: String): DataFrame = {
    Checkpoints.bindWide(s, dir, "embeddings")
    registerIvfPqCentroids(s, dir)
    s.sql(
      s"""WITH base AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label,
         |    transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings_w),
         |normed AS (
         |  SELECT vec_id, label, v, sqrt(dot_product(v, v)) AS nrm FROM base),
         |centn AS (SELECT c_id, cv, cnrm FROM ivfpq_centn),
         |cents AS (
         |  SELECT collect_list(named_struct('c_id', c_id, 'cv', cv, 'cnrm', cnrm)) AS cs
         |  FROM centn),
         |ranked_cent AS (
         |  SELECT vec_id, label, v, nrm,
         |    slice(array_sort(transform(cs, c -> named_struct(
         |      'neg', -dot_product(v, c.cv) / (nrm * c.cnrm), 'c_id', c.c_id))), 1, 2) AS topn
         |  FROM normed CROSS JOIN cents),
         |assigned AS (
         |  SELECT vec_id, label, v, nrm, topn[0].c_id AS c_id FROM ranked_cent),
         |probes AS (
         |  SELECT vec_id AS q_id, label AS qlabel, v AS qv, nrm AS qnrm, p.c_id
         |  FROM ranked_cent LATERAL VIEW explode(topn) t AS p
         |  WHERE vec_id < 10),
         |scored AS (
         |  SELECT /*+ BROADCAST(p) */ p.q_id, p.qlabel, a.vec_id AS n_id,
         |    round(dot_product(p.qv, a.v) / (p.qnrm * a.nrm), 4) AS cosine
         |  FROM probes p JOIN assigned a ON a.c_id = p.c_id AND a.label = p.qlabel
         |  WHERE a.vec_id <> p.q_id)
         |SELECT q_id, qlabel AS label, n_id, cosine,
         |  CAST(rnk AS BIGINT) AS rnk, CAST(nc AS BIGINT) AS n_cand
         |FROM (
         |  SELECT q_id, qlabel, n_id, cosine,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk,
         |    count(*) OVER (PARTITION BY q_id) AS nc
         |  FROM scored)
         |WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin)
  }

  /** DuckDB replays the whole seeded-Lloyd chain ([[hAnnIvfSql]]) with
    * the label equality folded into the candidate join. */
  val hAnnFilteredSql: String =
    """WITH base AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label,
      |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |normed AS (
      |  SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM base),
      |seed AS (SELECT vec_id AS c_id, v AS cv FROM base WHERE vec_id < 16),
      |tassign AS (
      |  SELECT vec_id, v, c_id FROM (
      |    SELECT t.vec_id, t.v, s.c_id,
      |      row_number() OVER (PARTITION BY t.vec_id ORDER BY
      |        list_dot_product(t.v, s.cv) /
      |          (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(s.cv, s.cv))) DESC,
      |        s.c_id) AS rn
      |    FROM (SELECT vec_id, v FROM base WHERE vec_id < 256) t CROSS JOIN seed s)
      |  WHERE rn = 1),
      |dimmean AS (
      |  SELECT c_id, pos, avg(val) AS m FROM (
      |    SELECT c_id, generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM tassign)
      |  GROUP BY c_id, pos),
      |newcent AS (SELECT c_id, list(m ORDER BY pos) AS cv FROM dimmean GROUP BY c_id),
      |centfin AS (
      |  SELECT s.c_id, coalesce(n.cv, s.cv) AS cv
      |  FROM seed s LEFT JOIN newcent n ON s.c_id = n.c_id),
      |cent AS (SELECT c_id, cv, sqrt(list_dot_product(cv, cv)) AS cnrm FROM centfin),
      |assigned AS (
      |  SELECT vec_id, label, v, nrm, c_id FROM (
      |    SELECT n.vec_id, n.label, n.v, n.nrm, c.c_id,
      |      row_number() OVER (PARTITION BY n.vec_id ORDER BY list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm) DESC, c.c_id) AS rn
      |    FROM normed n CROSS JOIN cent c)
      |  WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS q_id, label AS qlabel, v AS qv, nrm AS qnrm, c_id FROM (
      |    SELECT n.vec_id, n.label, n.v, n.nrm, c.c_id,
      |      row_number() OVER (PARTITION BY n.vec_id ORDER BY list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm) DESC, c.c_id) AS rn
      |    FROM normed n CROSS JOIN cent c WHERE n.vec_id < 10)
      |  WHERE rn <= 2),
      |scored AS (
      |  SELECT p.q_id, p.qlabel, a.vec_id AS n_id,
      |    round(list_dot_product(p.qv, a.v) / (p.qnrm * a.nrm), 4) AS cosine
      |  FROM probes p JOIN assigned a ON a.c_id = p.c_id AND a.label = p.qlabel
      |  WHERE a.vec_id <> p.q_id)
      |SELECT q_id, qlabel AS label, n_id, cosine,
      |  CAST(rnk AS BIGINT) AS rnk, CAST(nc AS BIGINT) AS n_cand
      |FROM (
      |  SELECT q_id, qlabel, n_id, cosine,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk,
      |    count(*) OVER (PARTITION BY q_id) AS nc
      |  FROM scored)
      |WHERE rnk <= 3
      |ORDER BY q_id, rnk""".stripMargin

  /** ANN recall@10 audit — the trust measurement every approximate index
    * ships with (the FAISS-bench / ann-benchmarks contract): for a fixed
    * 20-query panel, compare the [[hAnnIvf]] nprobe=2 retrieval against
    * brute-force exact-cosine ground truth and report, per query, how
    * many of the true top-10 the index returned (`recall_milli =
    * 1000·hits DIV |truth|`) and whether the top-1 matched. Completes the
    * audit family next to [[graft.operators.CorpusOps]]'
    * `h_cosine_calibration` (LSH agreement) and `h_minhash_calibration`
    * (banding agreement): calibration says the SKETCH is faithful, recall
    * says the INDEX retrieves.
    *
    * Both arms rank by `(round(cosine, 4) DESC, vec_id)` — the engine's
    * standard deterministic ANN order — so the rank-10 cutoff is
    * tie-stable across engines.
    *
    * Scale shape: the IVF arm is [[hAnnIvf]]'s exact plan (scan-local
    * assignment against the broadcast 16-centroid array, probes broadcast
    * to the candidate join, per-query top-k window on q_id). The
    * brute-force arm is the audit's stated cost: ONE corpus pass scoring
    * the broadcast 20-query panel scan-locally, collapsed map-side by the
    * per-query top-10 WindowGroupLimit — O(|corpus|·|panel|) multiplies
    * but only O(k·|panel|·tasks) rows cross the exchange. Ground truth
    * over the full corpus is the point; a sampled truth set would audit a
    * different index. */
  def hAnnRecall(s: SparkSession, dir: String): DataFrame = {
    Checkpoints.bindWide(s, dir, "embeddings")
    registerIvfPqCentroids(s, dir)
    s.sql(
      s"""WITH base AS (
         |  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings_w),
         |normed AS (
         |  SELECT vec_id, v, sqrt(dot_product(v, v)) AS nrm FROM base),
         |centn AS (SELECT c_id, cv, cnrm FROM ivfpq_centn),
         |cents AS (
         |  SELECT collect_list(named_struct('c_id', c_id, 'cv', cv, 'cnrm', cnrm)) AS cs
         |  FROM centn),
         |ranked_cent AS (
         |  SELECT vec_id, v, nrm,
         |    slice(array_sort(transform(cs, c -> named_struct(
         |      'neg', -dot_product(v, c.cv) / (nrm * c.cnrm), 'c_id', c.c_id))), 1, 2) AS topn
         |  FROM normed CROSS JOIN cents),
         |assigned AS (
         |  SELECT vec_id, v, nrm, topn[0].c_id AS c_id FROM ranked_cent),
         |probes AS (
         |  SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, p.c_id
         |  FROM ranked_cent LATERAL VIEW explode(topn) t AS p
         |  WHERE vec_id < 20),
         |approx AS (
         |  SELECT q_id, n_id, rnk FROM (
         |    SELECT /*+ BROADCAST(p) */ p.q_id, a.vec_id AS n_id,
         |      row_number() OVER (PARTITION BY p.q_id ORDER BY
         |        round(dot_product(p.qv, a.v) / (p.qnrm * a.nrm), 4) DESC,
         |        a.vec_id) AS rnk
         |    FROM probes p JOIN assigned a ON a.c_id = p.c_id
         |    WHERE a.vec_id <> p.q_id)
         |  WHERE rnk <= 10),
         |qset AS (
         |  SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM normed
         |  WHERE vec_id < 20),
         |truth AS (
         |  SELECT q_id, n_id, rnk FROM (
         |    SELECT /*+ BROADCAST(q) */ q.q_id, n.vec_id AS n_id,
         |      row_number() OVER (PARTITION BY q.q_id ORDER BY
         |        round(dot_product(q.qv, n.v) / (q.qnrm * n.nrm), 4) DESC,
         |        n.vec_id) AS rnk
         |    FROM qset q JOIN normed n ON n.vec_id <> q.q_id)
         |  WHERE rnk <= 10),
         |rec AS (
         |  SELECT /*+ BROADCAST(a) */ t.q_id, count(*) AS n_true,
         |    CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_hits,
         |    max(CASE WHEN t.rnk = 1 AND a.rnk = 1 THEN 1 ELSE 0 END) AS t1
         |  FROM truth t LEFT JOIN approx a
         |    ON t.q_id = a.q_id AND t.n_id = a.n_id
         |  GROUP BY t.q_id)
         |SELECT q_id, n_true, n_hits,
         |  CAST(1000L * n_hits DIV n_true AS BIGINT) AS recall_milli,
         |  t1 = 1 AS top1_match
         |FROM rec ORDER BY q_id""".stripMargin)
  }

  /** DuckDB replays the full refined-centroid IVF chain (the
    * [[hAnnIvfSql]] CTEs at nprobe=2 / k=10) AND the brute-force arm, so
    * recall itself — not just the index output — is hash-checked. */
  val hAnnRecallSql: String =
    """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |normed AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM base),
      |seed AS (SELECT vec_id AS c_id, v AS cv FROM base WHERE vec_id < 16),
      |tassign AS (
      |  SELECT vec_id, v, c_id FROM (
      |    SELECT t.vec_id, t.v, s.c_id,
      |      row_number() OVER (PARTITION BY t.vec_id ORDER BY
      |        list_dot_product(t.v, s.cv) /
      |          (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(s.cv, s.cv))) DESC,
      |        s.c_id) AS rn
      |    FROM (SELECT vec_id, v FROM base WHERE vec_id < 256) t CROSS JOIN seed s)
      |  WHERE rn = 1),
      |dimmean AS (
      |  SELECT c_id, pos, avg(val) AS m FROM (
      |    SELECT c_id, generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM tassign)
      |  GROUP BY c_id, pos),
      |newcent AS (SELECT c_id, list(m ORDER BY pos) AS cv FROM dimmean GROUP BY c_id),
      |centfin AS (
      |  SELECT s.c_id, coalesce(n.cv, s.cv) AS cv
      |  FROM seed s LEFT JOIN newcent n ON s.c_id = n.c_id),
      |cent AS (SELECT c_id, cv, sqrt(list_dot_product(cv, cv)) AS cnrm FROM centfin),
      |assigned AS (
      |  SELECT vec_id, v, nrm, c_id FROM (
      |    SELECT n.vec_id, n.v, n.nrm, c.c_id,
      |      row_number() OVER (PARTITION BY n.vec_id ORDER BY list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm) DESC, c.c_id) AS rn
      |    FROM normed n CROSS JOIN cent c)
      |  WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, c_id FROM (
      |    SELECT n.vec_id, n.v, n.nrm, c.c_id,
      |      row_number() OVER (PARTITION BY n.vec_id ORDER BY list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm) DESC, c.c_id) AS rn
      |    FROM normed n CROSS JOIN cent c WHERE n.vec_id < 20)
      |  WHERE rn <= 2),
      |approx AS (
      |  SELECT q_id, n_id, rnk FROM (
      |    SELECT p.q_id, a.vec_id AS n_id,
      |      row_number() OVER (PARTITION BY p.q_id ORDER BY
      |        round(list_dot_product(p.qv, a.v) / (p.qnrm * a.nrm), 4) DESC,
      |        a.vec_id) AS rnk
      |    FROM probes p JOIN assigned a ON a.c_id = p.c_id
      |    WHERE a.vec_id <> p.q_id)
      |  WHERE rnk <= 10),
      |qset AS (
      |  SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM normed WHERE vec_id < 20),
      |truth AS (
      |  SELECT q_id, n_id, rnk FROM (
      |    SELECT q.q_id, n.vec_id AS n_id,
      |      row_number() OVER (PARTITION BY q.q_id ORDER BY
      |        round(list_dot_product(q.qv, n.v) / (q.qnrm * n.nrm), 4) DESC,
      |        n.vec_id) AS rnk
      |    FROM qset q JOIN normed n ON n.vec_id <> q.q_id)
      |  WHERE rnk <= 10),
      |rec AS (
      |  SELECT t.q_id, count(*) AS n_true,
      |    CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_hits,
      |    max(CASE WHEN t.rnk = 1 AND a.rnk = 1 THEN 1 ELSE 0 END) AS t1
      |  FROM truth t LEFT JOIN approx a
      |    ON t.q_id = a.q_id AND t.n_id = a.n_id
      |  GROUP BY t.q_id)
      |SELECT q_id, n_true, n_hits,
      |  CAST(1000 * n_hits // n_true AS BIGINT) AS recall_milli,
      |  t1 = 1 AS top1_match
      |FROM rec ORDER BY q_id""".stripMargin

  /** Cluster-purity audit — do the [[hAnnIvf]] coarse clusters align
    * with the label structure? Per refined-centroid cluster: member
    * count, dominant label, and exact milli purity (`1000·n_dominant DIV
    * n_vecs`). High purity means the quantizer's partitions respect
    * semantics (label-filtered ANN can prune whole lists); purity near
    * 1/|labels| means the coarse index is orthogonal to labels and
    * filtered queries must probe everything. Completes the index-audit
    * family next to [[hAnnRecall]] (does it retrieve?) — this asks "do
    * its partitions mean anything?".
    *
    * Scale shape: [[hAnnIvf]]'s exact assignment plan — the 16-centroid
    * array broadcast, nearest-centroid argmin scan-local — then a
    * (cluster, label)-keyed count whose map-side partials are the only
    * corpus-sized exchange; the dominant-label rank and totals are
    * windows over the ≤ clusters×labels row table. */
  def hClusterPurity(s: SparkSession, dir: String): DataFrame = {
    Checkpoints.bindWide(s, dir, "embeddings")
    registerIvfPqCentroids(s, dir)
    s.sql(
      s"""WITH base AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS lbl,
         |    transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings_w),
         |normed AS (
         |  SELECT vec_id, lbl, v, sqrt(dot_product(v, v)) AS nrm FROM base),
         |centn AS (SELECT c_id, cv, cnrm FROM ivfpq_centn),
         |cents AS (
         |  SELECT collect_list(named_struct('c_id', c_id, 'cv', cv, 'cnrm', cnrm)) AS cs
         |  FROM centn),
         |assigned AS (
         |  SELECT lbl,
         |    array_sort(transform(cs, c -> named_struct(
         |      'neg', -dot_product(v, c.cv) / (nrm * c.cnrm),
         |      'c_id', c.c_id)))[0].c_id AS c_id
         |  FROM normed CROSS JOIN cents),
         |cl AS (SELECT c_id, lbl, count(*) AS n FROM assigned GROUP BY c_id, lbl),
         |ranked AS (
         |  SELECT c_id, lbl, n,
         |    sum(n) OVER (PARTITION BY c_id) AS tot,
         |    row_number() OVER (PARTITION BY c_id ORDER BY n DESC, lbl) AS rn
         |  FROM cl)
         |SELECT CAST(c_id AS BIGINT) AS cluster, CAST(tot AS BIGINT) AS n_vecs,
         |  lbl AS dominant_label, CAST(n AS BIGINT) AS n_dominant,
         |  CAST(1000L * n DIV tot AS BIGINT) AS purity_milli
         |FROM ranked WHERE rn = 1
         |ORDER BY cluster""".stripMargin)
  }

  /** DuckDB replays the refined-centroid chain and assignment, then the
    * same purity arithmetic. */
  val hClusterPuritySql: String =
    """WITH base AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS lbl,
      |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |normed AS (SELECT vec_id, lbl, v, sqrt(list_dot_product(v, v)) AS nrm FROM base),
      |seed AS (SELECT vec_id AS c_id, v AS cv FROM base WHERE vec_id < 16),
      |tassign AS (
      |  SELECT vec_id, v, c_id FROM (
      |    SELECT t.vec_id, t.v, s.c_id,
      |      row_number() OVER (PARTITION BY t.vec_id ORDER BY
      |        list_dot_product(t.v, s.cv) /
      |          (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(s.cv, s.cv))) DESC,
      |        s.c_id) AS rn
      |    FROM (SELECT vec_id, v FROM base WHERE vec_id < 256) t CROSS JOIN seed s)
      |  WHERE rn = 1),
      |dimmean AS (
      |  SELECT c_id, pos, avg(val) AS m FROM (
      |    SELECT c_id, generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM tassign)
      |  GROUP BY c_id, pos),
      |newcent AS (SELECT c_id, list(m ORDER BY pos) AS cv FROM dimmean GROUP BY c_id),
      |centfin AS (
      |  SELECT s.c_id, coalesce(n.cv, s.cv) AS cv
      |  FROM seed s LEFT JOIN newcent n ON s.c_id = n.c_id),
      |cent AS (SELECT c_id, cv, sqrt(list_dot_product(cv, cv)) AS cnrm FROM centfin),
      |assigned AS (
      |  SELECT lbl, c_id FROM (
      |    SELECT n.lbl, c.c_id,
      |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
      |        list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm) DESC, c.c_id) AS rn
      |    FROM normed n CROSS JOIN cent c)
      |  WHERE rn = 1),
      |cl AS (SELECT c_id, lbl, count(*) AS n FROM assigned GROUP BY c_id, lbl),
      |ranked AS (
      |  SELECT c_id, lbl, n,
      |    sum(n) OVER (PARTITION BY c_id) AS tot,
      |    row_number() OVER (PARTITION BY c_id ORDER BY n DESC, lbl) AS rn
      |  FROM cl)
      |SELECT CAST(c_id AS BIGINT) AS cluster, CAST(tot AS BIGINT) AS n_vecs,
      |  lbl AS dominant_label, CAST(n AS BIGINT) AS n_dominant,
      |  CAST(1000 * n // tot AS BIGINT) AS purity_milli
      |FROM ranked WHERE rn = 1
      |ORDER BY cluster""".stripMargin

  /** IVF-PQ — the composition a production ANN index actually ships
    * (FAISS's IndexIVFPQ): assign every vector to its [[hAnnIvf]] coarse
    * centroid, then product-quantize the RESIDUAL (v − centroid) with
    * per-subspace codebooks. Residuals concentrate around the origin, so
    * the same codebook budget spends its resolution where the vectors
    * actually are — the reason real systems quantize residuals, not raw
    * vectors. Output is the (subspace, code) histogram over residual
    * codes, the codebook-balance diagnostic for the composed index.
    *
    * Plan shape: the refined-centroid chain is the broadcast one-row
    * collect [[hAnnIvf]] pins (no vec_id exchange); residual + subspace
    * explode + code argmin are scan-local; only the 128-key histogram
    * shuffles. Cross-engine: assignment reuses the IVF cosine op order
    * (hash-green since r5), residual subtraction is exact, PQ argmin
    * reuses the `h_pq_codes` L2² op order.
    *
    * The residual table `rsub` is referenced twice (codebook derivation +
    * probe side), so a pure-CTE form would plan — and codegen-compile —
    * the whole seeded-Lloyd centroid chain twice. The chain's RESULT is 16
    * rows, so it is localCheckpointed once (O(1) storage at any corpus
    * size; the corpus-sized stages are never materialized) and both
    * branches read the checkpoint. Round-9 bench: halves the physical
    * plan and cuts the intermittent cold-session codegen spike. */
  /** Checkpoint the 16-row refined centroid table and register it as
    * `ivfpq_centn` — shared by [[hIvfPqCodes]], [[hIvfPqSearch]] and
    * [[hPqRecall]] so the seeded-Lloyd chain is planned and executed
    * exactly once per SESSION (O(1) storage at any corpus size).
    * Round 20: promoted from a per-query checkpoint to the
    * [[Checkpoints.sharedTable]] lifecycle — the three consumers each
    * rebuilt the identical table per invocation, and at cluster scale
    * this is the written-once trained-index artifact every ANN query
    * loads, exactly the componentLabels/qc_weights precedent. */
  private def registerIvfPqCentroids(s: SparkSession, dir: String): Unit =
    Checkpoints.sharedTable(s, s"ivfpq_centn:$dir")(
      ivfCentroids(s, dir, refined = true).graftCheckpoint())
      .createOrReplaceTempView("ivfpq_centn")

  def hIvfPqCodes(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "embeddings")
    registerIvfPqCentroids(s, dir)
    s.sql(
      s"""WITH base AS (
         |  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |normed AS (
         |  SELECT vec_id, v, sqrt(dot_product(v, v)) AS nrm FROM base),
         |cents AS (
         |  SELECT collect_list(named_struct('c_id', c_id, 'cv', cv, 'cnrm', cnrm)) AS cs
         |  FROM ivfpq_centn),
         |asg AS (
         |  SELECT vec_id, v,
         |    array_sort(transform(cs, c -> named_struct(
         |      'neg', -dot_product(v, c.cv) / (nrm * c.cnrm), 'c_id', c.c_id, 'cv', c.cv)))[0] AS a
         |  FROM normed CROSS JOIN cents),
         |resid AS (SELECT vec_id, zip_with(v, a.cv, (x, y) -> x - y) AS r FROM asg),
         |rsub AS (
         |  SELECT vec_id, j, slice(r, j * 8 + 1, 8) AS sv
         |  FROM resid LATERAL VIEW explode(sequence(0, 7)) t AS j),
         |rcb AS (SELECT j, vec_id AS code, sv AS cv FROM rsub WHERE vec_id < 16),
         |rcbc AS (SELECT j, collect_list(named_struct('code', code, 'cv', cv)) AS cs
         |         FROM rcb GROUP BY j),
         |rassign AS (
         |  SELECT s.vec_id, s.j,
         |    array_sort(transform(c.cs, e -> named_struct(
         |      'd', dot_product(s.sv, s.sv) - 2 * dot_product(s.sv, e.cv) + dot_product(e.cv, e.cv),
         |      'code', e.code)))[0].code AS code
         |  FROM rsub s JOIN rcbc c ON s.j = c.j)
         |SELECT CAST(j AS BIGINT) AS subspace, code, count(*) AS n
         |FROM rassign GROUP BY j, code
         |ORDER BY subspace, code""".stripMargin)
  }

  /** DuckDB replays the full composition: the identical seeded-Lloyd
    * centroid chain from [[hAnnIvfSql]], nearest-centroid assignment,
    * residuals, and residual-PQ code argmin. */
  val hIvfPqCodesSql: String =
    """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |normed AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM base),
      |seed AS (SELECT vec_id AS c_id, v AS cv FROM base WHERE vec_id < 16),
      |tassign AS (
      |  SELECT vec_id, v, c_id FROM (
      |    SELECT t.vec_id, t.v, s.c_id,
      |      row_number() OVER (PARTITION BY t.vec_id ORDER BY
      |        list_dot_product(t.v, s.cv) /
      |          (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(s.cv, s.cv))) DESC,
      |        s.c_id) AS rn
      |    FROM (SELECT vec_id, v FROM base WHERE vec_id < 256) t CROSS JOIN seed s)
      |  WHERE rn = 1),
      |dimmean AS (
      |  SELECT c_id, pos, avg(val) AS m FROM (
      |    SELECT c_id, generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM tassign)
      |  GROUP BY c_id, pos),
      |newcent AS (SELECT c_id, list(m ORDER BY pos) AS cv FROM dimmean GROUP BY c_id),
      |centfin AS (
      |  SELECT s.c_id, coalesce(n.cv, s.cv) AS cv
      |  FROM seed s LEFT JOIN newcent n ON s.c_id = n.c_id),
      |cent AS (SELECT c_id, cv, sqrt(list_dot_product(cv, cv)) AS cnrm FROM centfin),
      |assigned AS (
      |  SELECT vec_id, v, c_id FROM (
      |    SELECT n.vec_id, n.v, c.c_id,
      |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
      |        list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm) DESC, c.c_id) AS rn
      |    FROM normed n CROSS JOIN cent c)
      |  WHERE rn = 1),
      |resid AS (
      |  SELECT a.vec_id, list_transform(range(64), i -> a.v[i + 1] - c.cv[i + 1]) AS r
      |  FROM assigned a JOIN cent c ON a.c_id = c.c_id),
      |subj AS (SELECT unnest(range(8)) AS j),
      |rsub AS (SELECT vec_id, j, r[(j*8+1):(j*8+8)] AS sv FROM resid CROSS JOIN subj),
      |rcb AS (SELECT j, vec_id AS code, sv AS cv FROM rsub WHERE vec_id < 16),
      |rassign AS (
      |  SELECT s.vec_id, s.j,
      |    (SELECT c.code FROM rcb c WHERE c.j = s.j
      |     ORDER BY list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.cv)
      |       + list_dot_product(c.cv, c.cv), c.code
      |     LIMIT 1) AS code
      |  FROM rsub s)
      |SELECT CAST(j AS BIGINT) AS subspace, code, count(*) AS n
      |FROM rassign GROUP BY j, code
      |ORDER BY subspace, code""".stripMargin

  /** IVF-PQ SEARCH — the ADC (asymmetric distance computation) query path
    * through the compressed index [[hIvfPqCodes]] builds, i.e. what FAISS
    * IndexIVFPQ actually executes at query time: queries stay exact,
    * database vectors exist only as 8-nibble residual codes, and each
    * query precomputes a per-subspace lookup table of distances to the 16
    * codewords so a candidate's distance is 8 table lookups + adds — never
    * a 64-dim float op against the corpus.
    *
    * Plan shape: the corpus pass (coarse-assign → residual → per-subspace
    * code argmin) is scan-local against two broadcast one-row collects
    * (16 centroids, 8×16 codebook — both derived from checkpointed
    * sample-sized tables, O(1) storage at any corpus size) and since
    * round 17 materializes ONCE as the checkpointed code table
    * [[registerIvfPqDb]] — the FAISS index-build/query split. The 20
    * (query × probe) LUT rows broadcast to the candidate join on the
    * coarse list id, so the only corpus exchange is the final per-query
    * top-k window — the same shape [[hAnnIvf]] pins.
    *
    * Cross-engine exactness: every per-subspace distance is the
    * L2²-op-order both engines share (hash-green precedent:
    * [[TrainingOps.hPqCodes]]), integer-scaled per TERM
    * (`CAST(round(1e6·d) AS BIGINT)`) so the 8-term ADC sum is
    * order-independent — a double sum would be hostage to reduction
    * order. */
  /** Registers the residual-PQ codebook view `ivfpq_cb` (8 rows of 16
    * code-ordered codewords, derived from the 16 seed vectors' residuals
    * — sample-sized, checkpointed). Everything downstream of the coarse
    * chain works in UNIT space (vn = v/‖v‖, cn = c/‖c‖): the brute/IVF
    * contract is cosine, and L2 over unit vectors is 2−2·cos — monotone
    * in cosine — while L2 over raw vectors ranks by norm as much as by
    * angle (measured: recall@3 0.33 raw vs 0.37 normalized at sf0.001).
    * Codebook choice is MEASURED, not assumed (AnnRecallSpec, sf0.001
    * recall@3 vs exact cosine top-5): seeded sample codewords 0.37,
    * Lloyd-refined codewords 0.13. On this corpus the residuals are
    * isotropic (synthetic embeddings, no cluster structure), so a Lloyd
    * step collapses every codeword toward the subspace mean (~0) and ADC
    * degenerates to near-constant distances; full-norm sampled codewords
    * keep discrimination. On real embedding corpora — where residuals DO
    * cluster — the refinement is the standard k-means training step and
    * would win; the seeded form is what the DATA here selects. Shared by
    * [[hIvfPqSearch]] and [[hPqRecall]]. */
  private def registerIvfPqCodebook(s: SparkSession, dir: String): Unit =
    Checkpoints.sharedTable(s, s"ivfpq_cb:$dir")(s.sql(
      """WITH base AS (
        |  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id < 16),
        |normed AS (
        |  SELECT vec_id, transform(v, x -> x / nrm) AS vn
        |  FROM (SELECT vec_id, v, sqrt(dot_product(v, v)) AS nrm FROM base)),
        |cents AS (
        |  SELECT collect_list(named_struct(
        |    'c_id', c_id, 'cn', transform(cv, x -> x / cnrm))) AS cs
        |  FROM ivfpq_centn),
        |asg AS (
        |  SELECT vec_id, vn,
        |    array_sort(transform(cs, c -> named_struct(
        |      'neg', -dot_product(vn, c.cn), 'c_id', c.c_id, 'cn', c.cn)))[0] AS a
        |  FROM normed CROSS JOIN cents),
        |resid AS (SELECT vec_id, zip_with(vn, a.cn, (x, y) -> x - y) AS r FROM asg),
        |rsub AS (
        |  SELECT vec_id, j, slice(r, j * 8 + 1, 8) AS sv
        |  FROM resid LATERAL VIEW explode(sequence(0, 7)) t AS j)
        |SELECT j, array_sort(collect_list(named_struct('code', vec_id, 'cv', sv))) AS cs
        |FROM rsub GROUP BY j""".stripMargin).graftCheckpoint())
      .createOrReplaceTempView("ivfpq_cb")

  /** Registers the checkpointed compressed CODE TABLE `ivfpq_db` — one
    * row per corpus vector: coarse list id, the 8 per-subspace codes, and
    * the unit-space vector `vn`. This is the heavy corpus pass (coarse
    * assign → residual → per-subspace argmin over the broadcast codebook,
    * all scan-local) run exactly ONCE: through round 16 the `db` CTE had
    * two consumers in [[hPqRecall]] (the ADC arm and the exact-truth arm)
    * and Spark re-inlined it into two full code-build passes — 6
    * embeddings scans, the suite's heaviest repeated floor. `vn` rides
    * along so the recall audit's exact arm can compute its unit-space
    * distance inside the SAME broadcast candidate join instead of its own
    * corpus join (the index-build posture at cluster scale: write the
    * code table once, query it many times). Thin rows — 8 codes + one
    * 64-dim vector. Requires `ivfpq_centn` + `ivfpq_cb` registered.
    * Round 20: [[Checkpoints.sharedTable]] per (context, dir) — search
    * and recall each rebuilt the identical code table per invocation; a
    * production IVF-PQ index is encoded once and served to every query,
    * so the shared lifecycle IS the deployment shape (the
    * componentLabels precedent). */
  private def registerIvfPqDb(s: SparkSession, dir: String): Unit = {
    Checkpoints.bindWide(s, dir, "embeddings")
    Checkpoints.sharedTable(s, s"ivfpq_db:$dir")(s.sql(
      """WITH base AS (
        |  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings_w),
        |normed AS (
        |  SELECT vec_id, transform(v, x -> x / nrm) AS vn
        |  FROM (SELECT vec_id, v, sqrt(dot_product(v, v)) AS nrm FROM base)),
        |cents AS (
        |  SELECT collect_list(named_struct(
        |    'c_id', c_id, 'cn', transform(cv, x -> x / cnrm))) AS cs
        |  FROM ivfpq_centn),
        |cba AS (
        |  SELECT array_sort(collect_list(named_struct('j', j, 'cs', cs))) AS cb
        |  FROM ivfpq_cb),
        |ranked AS (
        |  SELECT vec_id, vn,
        |    array_sort(transform(cs, c -> named_struct(
        |      'neg', -dot_product(vn, c.cn), 'c_id', c.c_id, 'cn', c.cn))) AS rc
        |  FROM normed CROSS JOIN cents),
        |resid AS (
        |  SELECT vec_id, vn, rc[0].c_id AS c_id,
        |    zip_with(vn, rc[0].cn, (x, y) -> x - y) AS r
        |  FROM ranked)
        |SELECT vec_id, c_id, vn,
        |  transform(
        |    transform(sequence(0, 7), j -> named_struct('j', j, 'sv', slice(r, j * 8 + 1, 8))),
        |    p -> array_sort(transform(element_at(cb, p.j + 1).cs, e -> named_struct(
        |      'd', dot_product(p.sv, p.sv) - 2 * dot_product(p.sv, e.cv) + dot_product(e.cv, e.cv),
        |      'code', e.code)))[0].code) AS codes
        |FROM resid CROSS JOIN cba""".stripMargin).graftCheckpoint())
      .createOrReplaceTempView("ivfpq_db")
  }

  /** The shared compressed-domain query chain, WITH-prefix form ending at
    * `scored` (every probed candidate with its integer ADC sum AND the
    * exact unit-space distance `l2`, both computed inside the one
    * broadcast candidate join — consumers that don't read `l2` get it
    * column-pruned away): [[hIvfPqSearch]] appends the top-k select,
    * [[hPqRecall]] appends the two-arm comparison. The panel side
    * (10 query vectors) re-derives its coarse ranking from a
    * vec_id-pruned scan — parquet reads 10 rows, not the corpus.
    * Requires `ivfpq_centn` + `ivfpq_cb` + `ivfpq_db` registered. */
  private val ivfPqScoredCtes: String =
      s"""WITH qbase AS (
         |  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings WHERE vec_id < 10),
         |qnormed AS (
         |  SELECT vec_id, transform(v, x -> x / nrm) AS vn
         |  FROM (SELECT vec_id, v, sqrt(dot_product(v, v)) AS nrm FROM qbase)),
         |cents AS (
         |  SELECT collect_list(named_struct(
         |    'c_id', c_id, 'cn', transform(cv, x -> x / cnrm))) AS cs
         |  FROM ivfpq_centn),
         |cba AS (
         |  SELECT array_sort(collect_list(named_struct('j', j, 'cs', cs))) AS cb
         |  FROM ivfpq_cb),
         |qranked AS (
         |  SELECT vec_id, vn,
         |    array_sort(transform(cs, c -> named_struct(
         |      'neg', -dot_product(vn, c.cn), 'c_id', c.c_id, 'cn', c.cn))) AS rc
         |  FROM qnormed CROSS JOIN cents),
         |qres AS (
         |  SELECT vec_id AS q_id, vn AS qvn, p.c_id,
         |    zip_with(vn, p.cn, (x, y) -> x - y) AS qr
         |  FROM qranked LATERAL VIEW explode(slice(rc, 1, 2)) t AS p),
         |luts AS (
         |  SELECT q_id, qvn, c_id,
         |    transform(
         |      transform(sequence(0, 7), j -> named_struct('j', j, 'sv', slice(qr, j * 8 + 1, 8))),
         |      p -> transform(element_at(cb, p.j + 1).cs, e ->
         |        CAST(round(1e6 * (dot_product(p.sv, p.sv) - 2 * dot_product(p.sv, e.cv)
         |          + dot_product(e.cv, e.cv))) AS BIGINT))) AS lut
         |  FROM qres CROSS JOIN cba),
         |scored AS (
         |  SELECT /*+ BROADCAST(l) */ l.q_id, d.vec_id AS n_id,
         |    aggregate(sequence(0, 7), 0L, (acc, j) ->
         |      acc + element_at(element_at(l.lut, j + 1),
         |                       CAST(element_at(d.codes, j + 1) AS INT) + 1)) AS adc_x1e6,
         |    round(2 - 2 * dot_product(l.qvn, d.vn), 4) AS l2
         |  FROM luts l JOIN ivfpq_db d ON d.c_id = l.c_id
         |  WHERE d.vec_id <> l.q_id)""".stripMargin

  def hIvfPqSearch(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "embeddings")
    registerIvfPqCentroids(s, dir)
    registerIvfPqCodebook(s, dir)
    registerIvfPqDb(s, dir)
    s.sql(ivfPqScoredCtes +
      """
        |SELECT q_id, n_id, adc_x1e6, CAST(rnk AS BIGINT) AS rnk FROM (
        |  SELECT q_id, n_id, adc_x1e6,
        |    row_number() OVER (PARTITION BY q_id ORDER BY adc_x1e6, n_id) AS rnk
        |  FROM scored)
        |WHERE rnk <= 3
        |ORDER BY q_id, rnk""".stripMargin)
  }

  /** PQ-distortion recall audit — the compressed-path complement of
    * [[hAnnRecall]] (which isolates the COARSE index's pruning loss):
    * within the SAME probed candidate set, how well does the 32×-compressed
    * integer-ADC ranking reproduce the exact unit-space ranking? Per panel
    * query: the ADC top-3 against the exact `2 − 2·cos` top-3 over the
    * probed candidates, as hits, recall millis, and top-1 agreement.
    * Because truth is computed over the probed set — not the full corpus —
    * the number is PURE quantization distortion: coarse-pruning loss is
    * h_ann_recall's column, distortion is this one, and their product
    * bounds end-to-end recall. This is the table that decides whether to
    * spend memory on more PQ subspaces or more probes. Promotes the
    * measurement AnnRecallSpec makes at sf0.001 to a hash-checked,
    * every-scale contract (the round-13 theme: documented audits become
    * declared queries).
    *
    * Scale shape: [[ivfPqScoredCtes]]'s plan — ONE checkpointed
    * code-table build ([[registerIvfPqDb]]) plus the panel-broadcast
    * candidate join, which computes BOTH arms' distances in the same
    * codegen span (the exact arm reads the `vn` the code table carries —
    * through round 16 it joined the candidates back to a second full
    * corpus pass, and the two-consumer `scored` CTE re-inlined the whole
    * code build: 6 embeddings scans and a 3 s floor; this form's returned
    * plan reads embeddings ONLY for the 10-row query panel). Both
    * rankings are WindowGroupLimit top-3 over the same scored rows —
    * candidate-set-sized, never corpus². */
  def hPqRecall(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "embeddings")
    registerIvfPqCentroids(s, dir)
    registerIvfPqCodebook(s, dir)
    registerIvfPqDb(s, dir)
    s.sql(ivfPqScoredCtes +
      """,
        |adc3 AS (
        |  SELECT q_id, n_id, rnk FROM (
        |    SELECT q_id, n_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY adc_x1e6, n_id) AS rnk
        |    FROM scored)
        |  WHERE rnk <= 3),
        |truth3 AS (
        |  SELECT q_id, n_id, rnk FROM (
        |    SELECT q_id, n_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY l2, n_id) AS rnk
        |    FROM scored)
        |  WHERE rnk <= 3),
        |rec AS (
        |  SELECT t.q_id, count(*) AS n_true,
        |    CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hits,
        |    max(CASE WHEN t.rnk = 1 AND a.rnk = 1 THEN 1 ELSE 0 END) AS t1
        |  FROM truth3 t LEFT JOIN adc3 a
        |    ON t.q_id = a.q_id AND t.n_id = a.n_id
        |  GROUP BY t.q_id)
        |SELECT q_id, n_true, n_hits,
        |  CAST(1000L * n_hits DIV n_true AS BIGINT) AS recall_milli,
        |  t1 = 1 AS adc_top1_exact
        |FROM rec ORDER BY q_id""".stripMargin)
  }

  /** IVF index-staleness audit — the MAINTENANCE question the ANN family
    * hasn't answered yet: the coarse index was trained once (the shipped
    * seeded-Lloyd chain, the same centroids h_ann_ivf/h_ann_recall
    * serve), the corpus has since grown — per cluster, how much NEW mass
    * landed on it and how far has the member centroid moved? vec_id
    * parity stands in for arrival generation (the [[ProfileOps
    * .hEmbeddingDrift]] convention: even = standing corpus, odd = the
    * wave that arrived after training). Per cluster: old/new member
    * counts, growth in millis, and the cosine between the OLD-members
    * centroid and the ALL-members centroid — computed on per-dimension
    * integer sums (cosine is scale-invariant, so cos(mean, mean) =
    * cos(sum, sum); every exchanged number is exact BIGINT, the drift
    * idiom). `needs_retrain` fires when new mass exceeds half the old
    * (growth ≥ 500‰), the cluster is new-only, or the centroid moved
    * more than ~5.7° (cos < 995‰) — the thresholds a nightly index job
    * alarms on. Degenerate guards use the engine's sentinel convention
    * (growth −1, cosine −2000 for empty-old clusters).
    *
    * Scale shape: assignment is scan-local against the broadcast
    * 16-centroid array (the h_ann_ivf plan); the (cluster, dim) integer
    * sums ride ONE posexplode exchange carrying clusters×dims partial
    * rows; everything downstream is domain-bounded. At 10⁹ vectors this
    * is one pass + a KB-sized aggregate — exactly what a nightly
    * staleness check must cost. (That scale-shape note documents
    * [[hIvfStaleness]] below; the two vals that follow are its factored
    * chain.) */
  /** The fixed-centroid ASSIGNMENT chain (base…assigned: every vector
    * scan-locally assigned to its nearest shipped centroid, tagged
    * old/new by vec_id parity) — shared by [[hIvfStaleness]] /
    * [[hIvfRetrain]] (per-dim drift math on top) and [[hIvfInsert]] (list
    * balance only, no per-dim work at all). */
  private def ivfAssignCtes: String =
    s"""WITH base AS (
       |  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings_w),
       |normed AS (
       |  SELECT vec_id, v, sqrt(dot_product(v, v)) AS nrm FROM base),
       |centn AS (SELECT c_id, cv, cnrm FROM ivfpq_centn),
       |cents AS (
       |  SELECT collect_list(named_struct('c_id', c_id, 'cv', cv, 'cnrm', cnrm)) AS cs
       |  FROM centn),
       |assigned AS (
       |  SELECT vec_id, v, vec_id % 2 = 1 AS is_new,
       |    array_sort(transform(cs, c -> named_struct(
       |      'neg', -dot_product(v, c.cv) / (nrm * c.cnrm), 'c_id', c.c_id)))[0].c_id AS c_id
       |  FROM normed CROSS JOIN cents)""".stripMargin

  /** The staleness-audit CTE chain ([[ivfAssignCtes]] + the per-dim
    * sums/drift math, everything up to `rep`) — shared by
    * [[hIvfStaleness]] (the report) and [[hIvfRetrain]] (the action), so
    * the alarm and the retrain it drives can never drift. */
  private def ivfStalenessCtes: String = ivfAssignCtes +
    s""",
       |qv AS (
       |  SELECT c_id, is_new,
       |    transform(v, x -> CAST(CAST(round(x * 1024) AS BIGINT) AS DOUBLE)) AS q
       |  FROM assigned),
       |dims AS (
       |  SELECT c_id, is_new, i, CAST(element_at(q, i + 1) AS BIGINT) AS xi
       |  FROM qv LATERAL VIEW explode(sequence(0, size(q) - 1)) t AS i),
       |sums AS (
       |  SELECT c_id, i,
       |    CAST(sum(CASE WHEN is_new THEN 0 ELSE xi END) AS BIGINT) AS s_old,
       |    CAST(sum(xi) AS BIGINT) AS s_all,
       |    CAST(sum(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT) AS no_i,
       |    count(*) AS nt_i
       |  FROM dims GROUP BY c_id, i),
       |dots AS (
       |  SELECT c_id,
       |    CAST(sum(s_old * s_all) AS BIGINT) AS dot,
       |    CAST(sum(s_old * s_old) AS BIGINT) AS nn0,
       |    CAST(sum(s_all * s_all) AS BIGINT) AS nn1,
       |    CAST(max(CASE WHEN i = 0 THEN no_i END) AS BIGINT) AS n_old,
       |    CAST(max(CASE WHEN i = 0 THEN nt_i - no_i END) AS BIGINT) AS n_new
       |  FROM sums GROUP BY c_id),
       |rep AS (
       |  SELECT d.c_id, d.n_old, d.n_new,
       |    CAST(CASE WHEN d.n_old = 0 THEN -1
       |         ELSE 1000L * d.n_new DIV d.n_old END AS BIGINT) AS growth_milli,
       |    CAST(CASE WHEN d.n_old = 0 OR d.nn0 = 0 OR d.nn1 = 0 THEN -2000
       |         ELSE floor(1000.0 * d.dot /
       |              (sqrt(CAST(d.nn0 AS DOUBLE)) * sqrt(CAST(d.nn1 AS DOUBLE)))) END
       |      AS BIGINT) AS shift_cos_milli
       |  FROM dots d)""".stripMargin

  def hIvfStaleness(s: SparkSession, dir: String): DataFrame = {
    Checkpoints.bindWide(s, dir, "embeddings")
    registerIvfPqCentroids(s, dir)
    s.sql(ivfStalenessCtes +
      """
        |SELECT c_id, n_old, n_new, growth_milli, shift_cos_milli,
        |  growth_milli >= 500 OR growth_milli = -1 OR shift_cos_milli < 995
        |    AS needs_retrain
        |FROM rep ORDER BY c_id""".stripMargin)
  }

  /** The retrain ACTION as an oracle-visible declared query (the
    * spec-level bridge [[ivfRetrainedCentroids]] promoted, mirroring the
    * `c_join_salted_auto` pattern): per cluster, consume
    * [[hIvfStaleness]]'s `needs_retrain` IN-QUERY — no driver round-trip
    * — and refresh each flagged centroid to its current-member mean. The
    * report row carries what a nightly index job logs: current
    * membership, whether the cluster retrained, and how far the
    * refreshed centroid moved from the shipped one (`drift_milli` =
    * round(1000·cos), sentinel 1000 for untouched clusters).
    *
    * Scale shape — the [[hIvfStaleness]] fold idiom taken one step
    * further: the refreshed centroid is the member MEAN, cosine is
    * scale-invariant, so cos(stale, mean) = cos(stale, SUM) and the
    * per-dim member sums `s_all` ALREADY ride the audit's one
    * (cluster, dim) exchange. The retrain drift therefore costs zero
    * extra corpus passes: the stale centroid explodes to 16×64
    * (c_id, dim) rows and joins the sums BEFORE the per-cluster
    * aggregate, so flags AND drift come out of one domain-sized
    * aggregation. (A naive formulation — flag via subquery, re-scan
    * members for means — re-inlined the audit chain and planned 27
    * exchanges; this one plans the audit's own count plus the tiny
    * centroid-explode join.) The member mean lives in the audit's
    * 1/1024-quantized space — cosine at milli precision is insensitive
    * to the quantization, and both engines replay it identically. */
  def hIvfRetrain(s: SparkSession, dir: String): DataFrame = {
    Checkpoints.bindWide(s, dir, "embeddings")
    registerIvfPqCentroids(s, dir)
    s.sql(ivfStalenessCtes.replace(
      // splice the stale-centroid per-dim join into the audit chain: the
      // dots aggregate also folds the retrain dot products
      """|dots AS (
         |  SELECT c_id,""".stripMargin,
      """|centd AS (
         |  SELECT c_id, pos AS i, cvi FROM centn LATERAL VIEW posexplode(cv) t AS pos, cvi),
         |dots AS (
         |  SELECT s.c_id,
         |    CAST(sum(s.s_all * d.cvi) AS DOUBLE) AS rdot,
         |    CAST(sum(d.cvi * d.cvi) AS DOUBLE) AS cnn,""".stripMargin)
      .replace(
        """|  FROM sums GROUP BY c_id),
           |rep AS (""".stripMargin,
        """|  FROM sums s JOIN centd d ON s.c_id = d.c_id AND s.i = d.i
           |  GROUP BY s.c_id),
           |rep AS (""".stripMargin)
      .replace("CASE WHEN i = 0", "CASE WHEN s.i = 0")
      .replace(
        "AS shift_cos_milli\n  FROM dots d)",
        """AS shift_cos_milli,
          |    d.rdot, d.cnn, CAST(d.nn1 AS BIGINT) AS rnn1
          |  FROM dots d)""".stripMargin) +
      """
        |SELECT c_id,
        |  CAST(n_old + n_new AS BIGINT) AS n_members,
        |  growth_milli >= 500 OR growth_milli = -1 OR shift_cos_milli < 995 AS retrained,
        |  CAST(CASE WHEN NOT (growth_milli >= 500 OR growth_milli = -1 OR shift_cos_milli < 995)
        |              OR n_old + n_new = 0 OR rnn1 = 0 THEN 1000L
        |       ELSE round(1000.0 * rdot /
        |            (sqrt(cnn) * sqrt(CAST(rnn1 AS DOUBLE)))) END
        |    AS BIGINT) AS drift_milli
        |FROM rep ORDER BY c_id""".stripMargin)
  }

  /** Incremental IVF index MAINTENANCE — the insert-batch sibling of
    * [[hIvfRetrain]] (round-19 verdict item 4c): the nightly operational
    * path assigns an ingest batch (vec_id parity = the
    * [[ProfileOps.hEmbeddingDrift]] arrival convention) into the STANDING
    * lists with NO recompute — no per-dim sums, no centroid refresh, just
    * the broadcast-centroid scan — and reports what the index operator
    * watches between retrains: per-list before/after membership, milli
    * share drift, and the overfull flag (list > 2× the mean) that
    * triggers [[hIvfStaleness]]'s deeper audit. h_dedup_incremental
    * models the same batch-vs-index operational shape for text; this is
    * the ANN side.
    *
    * Scale shape: ONE embeddings scan assigned scan-locally against the
    * collected 16-centroid array (the h_ann_ivf plan — the centroid build
    * reads only the vec_id < 256 training slice), then a 16-group
    * aggregate with map-side partials; the shares/flags fold as a window
    * over the 16-row result (a 1-row-total CTE consumed next to its
    * source re-inlined the whole assignment chain — 12 exchanges vs this
    * form's censused 6). At 10⁹ vectors: one pass, KB-sized state, zero
    * joins on the data path. */
  def hIvfInsert(s: SparkSession, dir: String): DataFrame = {
    Checkpoints.bindWide(s, dir, "embeddings")
    registerIvfPqCentroids(s, dir)
    s.sql(ivfAssignCtes +
      """,
        |counts AS (
        |  SELECT c_id,
        |    CAST(sum(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT) AS n_before,
        |    CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_insert
        |  FROM assigned GROUP BY c_id),
        |shares AS (
        |  SELECT c_id, n_before, n_insert,
        |    CAST(sum(n_before) OVER () AS BIGINT) AS tb,
        |    CAST(sum(n_before + n_insert) OVER () AS BIGINT) AS ta
        |  FROM counts)
        |SELECT c_id, n_before, n_insert,
        |  CAST(1000 * n_before DIV tb AS BIGINT) AS share_before_milli,
        |  CAST(1000 * (n_before + n_insert) DIV ta AS BIGINT) AS share_after_milli,
        |  CAST(1000 * (n_before + n_insert) DIV ta - 1000 * n_before DIV tb
        |    AS BIGINT) AS drift_milli,
        |  16 * (n_before + n_insert) > 2 * ta AS overfull
        |FROM shares ORDER BY c_id""".stripMargin)
  }

  /** DuckDB replica of [[ivfAssignCtes]] (base…assigned) — shared by the
    * staleness twin (and, via its string surgery, the retrain twin) and
    * [[hIvfInsertSql]], so the oracle-side assignment cannot drift. */
  private val ivfAssignDuckCtes: String =
    """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |normed AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM base),
      |seed AS (SELECT vec_id AS c_id, v AS cv FROM base WHERE vec_id < 16),
      |tassign AS (
      |  SELECT vec_id, v, c_id FROM (
      |    SELECT t.vec_id, t.v, s.c_id,
      |      row_number() OVER (PARTITION BY t.vec_id ORDER BY
      |        list_dot_product(t.v, s.cv) /
      |          (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(s.cv, s.cv))) DESC,
      |        s.c_id) AS rn
      |    FROM (SELECT vec_id, v FROM base WHERE vec_id < 256) t CROSS JOIN seed s)
      |  WHERE rn = 1),
      |dimmean AS (
      |  SELECT c_id, pos, avg(val) AS m FROM (
      |    SELECT c_id, generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM tassign)
      |  GROUP BY c_id, pos),
      |newcent AS (SELECT c_id, list(m ORDER BY pos) AS cv FROM dimmean GROUP BY c_id),
      |centfin AS (
      |  SELECT s.c_id, coalesce(n.cv, s.cv) AS cv
      |  FROM seed s LEFT JOIN newcent n ON s.c_id = n.c_id),
      |cent AS (SELECT c_id, cv, sqrt(list_dot_product(cv, cv)) AS cnrm FROM centfin),
      |assigned AS (
      |  SELECT vec_id, v, vec_id % 2 = 1 AS is_new, c_id FROM (
      |    SELECT n.vec_id, n.v, c.c_id,
      |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
      |        list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm) DESC, c.c_id) AS rn
      |    FROM normed n CROSS JOIN cent c)
      |  WHERE rn = 1)""".stripMargin

  /** DuckDB replays the shipped centroid chain, the assignment, and the
    * exact-integer centroid-shift arithmetic — the whole audit, not just
    * the counts. */
  val hIvfStalenessSql: String = ivfAssignDuckCtes +
    """,
      |qv AS (
      |  SELECT c_id, is_new,
      |    list_transform(v, x -> CAST(CAST(round(x * 1024) AS BIGINT) AS DOUBLE)) AS q
      |  FROM assigned),
      |dims AS (
      |  SELECT c_id, is_new, generate_subscripts(q, 1) - 1 AS i,
      |    CAST(unnest(q) AS BIGINT) AS xi
      |  FROM qv),
      |sums AS (
      |  SELECT c_id, i,
      |    CAST(sum(CASE WHEN is_new THEN 0 ELSE xi END) AS BIGINT) AS s_old,
      |    CAST(sum(xi) AS BIGINT) AS s_all,
      |    CAST(sum(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT) AS no_i,
      |    count(*) AS nt_i
      |  FROM dims GROUP BY c_id, i),
      |dots AS (
      |  SELECT c_id,
      |    CAST(sum(s_old * s_all) AS BIGINT) AS dot,
      |    CAST(sum(s_old * s_old) AS BIGINT) AS nn0,
      |    CAST(sum(s_all * s_all) AS BIGINT) AS nn1,
      |    CAST(max(CASE WHEN i = 0 THEN no_i END) AS BIGINT) AS n_old,
      |    CAST(max(CASE WHEN i = 0 THEN nt_i - no_i END) AS BIGINT) AS n_new
      |  FROM sums GROUP BY c_id),
      |rep AS (
      |  SELECT d.c_id, d.n_old, d.n_new,
      |    CAST(CASE WHEN d.n_old = 0 THEN -1
      |         ELSE 1000 * d.n_new // d.n_old END AS BIGINT) AS growth_milli,
      |    CAST(CASE WHEN d.n_old = 0 OR d.nn0 = 0 OR d.nn1 = 0 THEN -2000
      |         ELSE floor(1000.0 * d.dot /
      |              (sqrt(CAST(d.nn0 AS DOUBLE)) * sqrt(CAST(d.nn1 AS DOUBLE)))) END
      |      AS BIGINT) AS shift_cos_milli
      |  FROM dots d)
      |SELECT c_id, n_old, n_new, growth_milli, shift_cos_milli,
      |  growth_milli >= 500 OR growth_milli = -1 OR shift_cos_milli < 995
      |    AS needs_retrain
      |FROM rep ORDER BY c_id""".stripMargin

  /** DuckDB replay of [[hIvfRetrain]]: the identical string surgery on
    * [[hIvfStalenessSql]]'s chain (so the two oracles cannot drift) —
    * stale-centroid per-dim explode joined into the one (cluster, dim)
    * aggregate, flags and rounded drift off the same 16-row `rep`. */
  val hIvfRetrainSql: String =
    hIvfStalenessSql.substring(0, hIvfStalenessSql.indexOf("\nSELECT c_id, n_old"))
      .replace(
        """|dots AS (
           |  SELECT c_id,""".stripMargin,
        """|centd AS (
           |  SELECT c_id, generate_subscripts(cv, 1) - 1 AS i, unnest(cv) AS cvi FROM cent),
           |dots AS (
           |  SELECT s.c_id,
           |    CAST(sum(s.s_all * d.cvi) AS DOUBLE) AS rdot,
           |    CAST(sum(d.cvi * d.cvi) AS DOUBLE) AS cnn,""".stripMargin)
      .replace(
        """|  FROM sums GROUP BY c_id),
           |rep AS (""".stripMargin,
        """|  FROM sums s JOIN centd d ON s.c_id = d.c_id AND s.i = d.i
           |  GROUP BY s.c_id),
           |rep AS (""".stripMargin)
      .replace("CASE WHEN i = 0", "CASE WHEN s.i = 0")
      .replace(
        "AS shift_cos_milli\n  FROM dots d)",
        """AS shift_cos_milli,
          |    d.rdot, d.cnn, CAST(d.nn1 AS BIGINT) AS rnn1
          |  FROM dots d)""".stripMargin) +
    """
      |SELECT c_id,
      |  CAST(n_old + n_new AS BIGINT) AS n_members,
      |  growth_milli >= 500 OR growth_milli = -1 OR shift_cos_milli < 995 AS retrained,
      |  CAST(CASE WHEN NOT (growth_milli >= 500 OR growth_milli = -1 OR shift_cos_milli < 995)
      |              OR n_old + n_new = 0 OR rnn1 = 0 THEN 1000
      |       ELSE round(1000.0 * rdot /
      |            (sqrt(cnn) * sqrt(CAST(rnn1 AS DOUBLE)))) END
      |    AS BIGINT) AS drift_milli
      |FROM rep ORDER BY c_id""".stripMargin

  /** DuckDB twin of the insert-batch balance report — rides
    * [[ivfAssignDuckCtes]]; all divided counts non-negative, so `//`
    * matches Spark's DIV. */
  val hIvfInsertSql: String = ivfAssignDuckCtes +
    """,
      |counts AS (
      |  SELECT c_id,
      |    CAST(sum(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT) AS n_before,
      |    CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_insert
      |  FROM assigned GROUP BY c_id),
      |shares AS (
      |  SELECT c_id, n_before, n_insert,
      |    CAST(sum(n_before) OVER () AS BIGINT) AS tb,
      |    CAST(sum(n_before + n_insert) OVER () AS BIGINT) AS ta
      |  FROM counts)
      |SELECT c_id, n_before, n_insert,
      |  CAST(1000 * n_before // tb AS BIGINT) AS share_before_milli,
      |  CAST(1000 * (n_before + n_insert) // ta AS BIGINT) AS share_after_milli,
      |  CAST(1000 * (n_before + n_insert) // ta - 1000 * n_before // tb
      |    AS BIGINT) AS drift_milli,
      |  16 * (n_before + n_insert) > 2 * ta AS overfull
      |FROM shares ORDER BY c_id""".stripMargin

  /** DuckDB replays the whole query path relationally: the shared
    * seeded-Lloyd centroid chain, residual codes for every db vector,
    * per-(query, probe, subspace) LUT terms as integer-scaled L2², and the
    * 8-term integer ADC sum — so the compressed-domain SEARCH results,
    * not just the index build, are rows+schema+hash checked. */
  /** DuckDB twin of [[ivfPqScoredCtes]]: the full seeded-Lloyd + residual
    * codebook + integer-ADC chain, WITH-prefix form ending at `scored`. */
  private val ivfPqScoredCtesSql: String =
    """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |normed AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM base),
      |seed AS (SELECT vec_id AS c_id, v AS cv FROM base WHERE vec_id < 16),
      |tassign AS (
      |  SELECT vec_id, v, c_id FROM (
      |    SELECT t.vec_id, t.v, s.c_id,
      |      row_number() OVER (PARTITION BY t.vec_id ORDER BY
      |        list_dot_product(t.v, s.cv) /
      |          (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(s.cv, s.cv))) DESC,
      |        s.c_id) AS rn
      |    FROM (SELECT vec_id, v FROM base WHERE vec_id < 256) t CROSS JOIN seed s)
      |  WHERE rn = 1),
      |dimmean AS (
      |  SELECT c_id, pos, avg(val) AS m FROM (
      |    SELECT c_id, generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM tassign)
      |  GROUP BY c_id, pos),
      |newcent AS (SELECT c_id, list(m ORDER BY pos) AS cv FROM dimmean GROUP BY c_id),
      |centfin AS (
      |  SELECT s.c_id, coalesce(n.cv, s.cv) AS cv
      |  FROM seed s LEFT JOIN newcent n ON s.c_id = n.c_id),
      |cent AS (SELECT c_id, cv, sqrt(list_dot_product(cv, cv)) AS cnrm FROM centfin),
      |centu AS (SELECT c_id, list_transform(cv, x -> x / cnrm) AS cn FROM cent),
      |normedu AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS vn FROM normed),
      |assigned AS (
      |  SELECT vec_id, vn, c_id FROM (
      |    SELECT n.vec_id, n.vn, c.c_id,
      |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
      |        list_dot_product(n.vn, c.cn) DESC, c.c_id) AS rn
      |    FROM normedu n CROSS JOIN centu c)
      |  WHERE rn = 1),
      |resid AS (
      |  SELECT a.vec_id, a.c_id, list_transform(range(64), i -> a.vn[i + 1] - c.cn[i + 1]) AS r
      |  FROM assigned a JOIN centu c ON a.c_id = c.c_id),
      |subj AS (SELECT unnest(range(8)) AS j),
      |rsub AS (SELECT vec_id, c_id, j, r[(j*8+1):(j*8+8)] AS sv FROM resid CROSS JOIN subj),
      |rcb AS (SELECT j, vec_id AS code, sv AS cv FROM rsub WHERE vec_id < 16),
      |dcodes AS (
      |  SELECT s.vec_id, s.c_id, s.j,
      |    (SELECT c.code FROM rcb c WHERE c.j = s.j
      |     ORDER BY list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.cv)
      |       + list_dot_product(c.cv, c.cv), c.code
      |     LIMIT 1) AS code
      |  FROM rsub s),
      |probes AS (
      |  SELECT vec_id AS q_id, vn, c_id FROM (
      |    SELECT n.vec_id, n.vn, c.c_id,
      |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
      |        list_dot_product(n.vn, c.cn) DESC, c.c_id) AS rn
      |    FROM normedu n CROSS JOIN centu c WHERE n.vec_id < 10)
      |  WHERE rn <= 2),
      |qsub AS (
      |  SELECT p.q_id, p.c_id, s.j,
      |    list_transform(range(8), i -> p.vn[s.j*8 + i + 1] - c.cn[s.j*8 + i + 1]) AS sv
      |  FROM probes p JOIN centu c ON p.c_id = c.c_id CROSS JOIN subj s),
      |terms AS (
      |  SELECT q.q_id, d.vec_id AS n_id, q.j,
      |    CAST(round(1e6 * (list_dot_product(q.sv, q.sv) - 2 * list_dot_product(q.sv, cb.cv)
      |      + list_dot_product(cb.cv, cb.cv))) AS BIGINT) AS t
      |  FROM qsub q
      |  JOIN dcodes d ON d.c_id = q.c_id AND d.j = q.j
      |  JOIN rcb cb ON cb.j = q.j AND cb.code = d.code
      |  WHERE d.vec_id <> q.q_id),
      |scored AS (
      |  SELECT q_id, n_id, CAST(sum(t) AS BIGINT) AS adc_x1e6
      |  FROM terms GROUP BY q_id, n_id)""".stripMargin

  val hIvfPqSearchSql: String = ivfPqScoredCtesSql +
    """
      |SELECT q_id, n_id, adc_x1e6, rnk FROM (
      |  SELECT q_id, n_id, adc_x1e6,
      |    row_number() OVER (PARTITION BY q_id ORDER BY adc_x1e6, n_id) AS rnk
      |  FROM scored)
      |WHERE rnk <= 3
      |ORDER BY q_id, rnk""".stripMargin

  /** DuckDB replays BOTH arms — the compressed ADC ranking and the exact
    * unit-space ranking over the same probed candidates — so the recall
    * numbers themselves are hash-checked, not just the index output. */
  val hPqRecallSql: String = ivfPqScoredCtesSql +
    """,
      |adc3 AS (
      |  SELECT q_id, n_id, rnk FROM (
      |    SELECT q_id, n_id,
      |      row_number() OVER (PARTITION BY q_id ORDER BY adc_x1e6, n_id) AS rnk
      |    FROM scored)
      |  WHERE rnk <= 3),
      |exact AS (
      |  SELECT s.q_id, s.n_id,
      |    round(2 - 2 * list_dot_product(qn.vn, nn.vn), 4) AS l2
      |  FROM scored s
      |  JOIN normedu qn ON qn.vec_id = s.q_id
      |  JOIN normedu nn ON nn.vec_id = s.n_id),
      |truth3 AS (
      |  SELECT q_id, n_id, rnk FROM (
      |    SELECT q_id, n_id,
      |      row_number() OVER (PARTITION BY q_id ORDER BY l2, n_id) AS rnk
      |    FROM exact)
      |  WHERE rnk <= 3),
      |rec AS (
      |  SELECT t.q_id, count(*) AS n_true,
      |    CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_hits,
      |    max(CASE WHEN t.rnk = 1 AND a.rnk = 1 THEN 1 ELSE 0 END) AS t1
      |  FROM truth3 t LEFT JOIN adc3 a
      |    ON t.q_id = a.q_id AND t.n_id = a.n_id
      |  GROUP BY t.q_id)
      |SELECT q_id, n_true, n_hits,
      |  CAST(1000 * n_hits // n_true AS BIGINT) AS recall_milli,
      |  t1 = 1 AS adc_top1_exact
      |FROM rec ORDER BY q_id""".stripMargin

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding space, then prune
    * near-identical pairs WITHIN each cluster only — the published trick
    * that turns the O(n²) all-pairs cosine sweep into k independent
    * O((n/k)²) problems, with k grown alongside the corpus so cluster
    * sizes stay bounded. Complements [[hNeardupEmbedding]] (sign-LSH
    * banding finds near-IDENTICAL vectors; SemDeDup's cluster scope is
    * what lets a production pipeline also prune merely semantically
    * redundant ones by lowering τ). Reuses the exact seeded-Lloyd
    * quantizer CTE from [[hAnnIvf]], so the DuckDB oracle replays
    * identical centroids.
    *
    * The isotropic test corpus has no natural semantic dups (background
    * cosine ≲ 0.55 at 64 dims), so the workload plants ±2 % perturbed
    * copies of vectors 0–9 (ids +1,000,000, cosine ≈ 0.9998 — the
    * [[hAnnLsh]] convention); the planted ids are excluded from the
    * quantizer's training sample, mirroring index-then-ingest. Removal is
    * the deterministic greedy rule: x is removed iff some same-cluster y
    * with y.vec_id < x.vec_id has cosine(x,y) > τ = 0.99; its keeper is
    * the smallest such y. Output = the removal log (removed, keeper,
    * cluster, cosine).
    *
    * Scale shape: the 16 centroids collect into ONE row and broadcast, so
    * assignment is scan-local (the [[hAnnIvf]] pin); the only data-sized
    * exchange is the c_id hash partition feeding the within-cluster
    * self-join, whose pair volume is Σ|cluster|² — bounded by k's growth,
    * never corpus². */
  def hSemDedup(s: SparkSession, dir: String): DataFrame = {
    Checkpoints.bindWide(s, dir, "embeddings")
    registerIvfPqCentroids(s, dir)
    s.sql(
      s"""WITH orig AS (
         |  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings_w),
         |base AS (
         |  SELECT vec_id, v FROM orig
         |  UNION ALL
         |  SELECT vec_id + 1000000,
         |    transform(v, (x, i) -> x * CASE WHEN (i + 1) % 2 = 0
         |      THEN CAST(1.02 AS DOUBLE) ELSE CAST(0.98 AS DOUBLE) END)
         |  FROM orig WHERE vec_id < 10),
         |centn AS (SELECT c_id, cv, cnrm FROM ivfpq_centn),
         |cents AS (
         |  SELECT collect_list(named_struct('c_id', c_id, 'cv', cv, 'cnrm', cnrm)) AS cs
         |  FROM centn),
         |assigned AS (
         |  SELECT vec_id, v, nrm,
         |    array_sort(transform(cs, c -> named_struct(
         |      'neg', -dot_product(v, c.cv) / (nrm * c.cnrm), 'c_id', c.c_id)))[0].c_id AS c_id
         |  FROM (SELECT vec_id, v, sqrt(dot_product(v, v)) AS nrm FROM base)
         |  CROSS JOIN cents),
         |pairs AS (
         |  SELECT x.vec_id AS removed_id, y.vec_id AS keeper_id, x.c_id,
         |    dot_product(x.v, y.v) / (x.nrm * y.nrm) AS cosine
         |  FROM assigned x JOIN assigned y
         |    ON x.c_id = y.c_id AND y.vec_id < x.vec_id),
         |dups AS (SELECT * FROM pairs WHERE cosine > CAST(0.99 AS DOUBLE)),
         |removal AS (
         |  SELECT removed_id, min(keeper_id) AS keeper_id FROM dups GROUP BY removed_id)
         |SELECT r.removed_id, r.keeper_id, d.c_id, round(d.cosine, 4) AS cosine
         |FROM removal r JOIN dups d
         |  ON d.removed_id = r.removed_id AND d.keeper_id = r.keeper_id
         |ORDER BY removed_id""".stripMargin)
  }

  /** DuckDB replays the identical seeded-Lloyd centroid chain (the
    * [[hAnnIvfSql]] pattern over the planted-union base), nearest-centroid
    * assignment, and the within-cluster greedy prune. */
  val hSemDedupSql: String =
    """WITH orig AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |base AS (
      |  SELECT vec_id, v FROM orig
      |  UNION ALL
      |  SELECT vec_id + 1000000,
      |    list_transform(v, (x, i) -> CASE WHEN i % 2 = 0
      |      THEN x * CAST(1.02 AS DOUBLE) ELSE x * CAST(0.98 AS DOUBLE) END)
      |  FROM orig WHERE vec_id < 10),
      |seed AS (SELECT vec_id AS c_id, v AS cv FROM base WHERE vec_id < 16),
      |tassign AS (
      |  SELECT vec_id, v, c_id FROM (
      |    SELECT t.vec_id, t.v, s.c_id,
      |      row_number() OVER (PARTITION BY t.vec_id ORDER BY
      |        list_dot_product(t.v, s.cv) /
      |          (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(s.cv, s.cv))) DESC,
      |        s.c_id) AS rn
      |    FROM (SELECT vec_id, v FROM base WHERE vec_id < 256) t CROSS JOIN seed s)
      |  WHERE rn = 1),
      |dimmean AS (
      |  SELECT c_id, pos, avg(val) AS m FROM (
      |    SELECT c_id, generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM tassign)
      |  GROUP BY c_id, pos),
      |newcent AS (SELECT c_id, list(m ORDER BY pos) AS cv FROM dimmean GROUP BY c_id),
      |centfin AS (
      |  SELECT s.c_id, coalesce(n.cv, s.cv) AS cv
      |  FROM seed s LEFT JOIN newcent n ON s.c_id = n.c_id),
      |centn AS (SELECT c_id, cv, sqrt(list_dot_product(cv, cv)) AS cnrm FROM centfin),
      |assigned AS (
      |  SELECT vec_id, v, nrm, c_id FROM (
      |    SELECT b.vec_id, b.v, sqrt(list_dot_product(b.v, b.v)) AS nrm, c.c_id,
      |      row_number() OVER (PARTITION BY b.vec_id ORDER BY
      |        list_dot_product(b.v, c.cv) / (sqrt(list_dot_product(b.v, b.v)) * c.cnrm) DESC,
      |        c.c_id) AS rn
      |    FROM base b CROSS JOIN centn c)
      |  WHERE rn = 1),
      |pairs AS (
      |  SELECT x.vec_id AS removed_id, y.vec_id AS keeper_id, x.c_id,
      |    list_dot_product(x.v, y.v) / (x.nrm * y.nrm) AS cosine
      |  FROM assigned x JOIN assigned y ON x.c_id = y.c_id AND y.vec_id < x.vec_id),
      |dups AS (SELECT * FROM pairs WHERE cosine > CAST(0.99 AS DOUBLE)),
      |removal AS (
      |  SELECT removed_id, min(keeper_id) AS keeper_id FROM dups GROUP BY removed_id)
      |SELECT r.removed_id, r.keeper_id, d.c_id, round(d.cosine, 4) AS cosine
      |FROM removal r JOIN dups d
      |  ON d.removed_id = r.removed_id AND d.keeper_id = r.keeper_id
      |ORDER BY r.removed_id""".stripMargin

  // ================================================================ text analysis

  /** Quality/stats profile per language: token counts (whitespace), byte
    * and char counts, stopword + punctuation ratios, stored-n_chars check.
    * Cross-engine determinism: every aggregate is an exact integer (DuckDB
    * integer sums are HUGEINT unless cast — cast them all to BIGINT), and
    * ratios ship as integer-scaled BIGINTs (`round(1e4*a/b)`), never as
    * `round(double, d)` whose tie handling differs across engines. */
  def hTextStats(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH tok AS (
        |  SELECT lang, n_chars, text, split(text, ' ') AS tokens FROM documents)
        |SELECT lang,
        |  count(*) AS n_docs,
        |  sum(size(tokens)) AS total_tokens,
        |  CAST(round(1e4 * sum(size(tokens)) / count(*)) AS BIGINT) AS avg_tokens_x1e4,
        |  sum(length(text)) AS total_chars,
        |  sum(CASE WHEN length(text) = n_chars THEN 1 ELSE 0 END) AS n_chars_ok,
        |  CAST(round(1e6 * sum(size(filter(tokens, t -> t IN ('the', 'a', 'of', 'and')))) / sum(size(tokens))) AS BIGINT) AS stopword_x1e6
        |FROM tok
        |GROUP BY lang
        |ORDER BY lang""".stripMargin)
  }

  val hTextStatsSql: String =
    """WITH tok AS (
      |  SELECT lang, n_chars, text, string_split(text, ' ') AS tokens FROM documents)
      |SELECT lang,
      |  count(*) AS n_docs,
      |  CAST(sum(len(tokens)) AS BIGINT) AS total_tokens,
      |  CAST(round(1e4 * CAST(sum(len(tokens)) AS BIGINT) / count(*)) AS BIGINT) AS avg_tokens_x1e4,
      |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
      |  CAST(sum(CASE WHEN length(text) = n_chars THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_ok,
      |  CAST(round(1e6 * CAST(sum(len(list_filter(tokens, t -> t IN ('the', 'a', 'of', 'and')))) AS BIGINT) / CAST(sum(len(tokens)) AS BIGINT)) AS BIGINT) AS stopword_x1e6
      |FROM tok
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** N-gram/stopword language heuristic: function-word density classifies
    * docs; output is the (actual lang × predicted class) confusion grid.
    * (The synthetic corpus draws every lang from one vocab, so the value
    * verified is the heuristic's arithmetic, not linguistic accuracy.)
    * `split(text)` is hoisted into its own select so the row is tokenized
    * once, not once per higher-order function (round-3 bench: 10.4 s for
    * the double-split form). */
  def hLangHeuristic(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH tok AS (
        |  SELECT lang, split(text, ' ') AS tokens FROM documents),
        |scored AS (
        |  SELECT lang,
        |    size(filter(tokens, t -> t IN ('the', 'a'))) / size(tokens) AS fw_density
        |  FROM tok)
        |SELECT lang,
        |  CASE WHEN fw_density >= 0.08 THEN 'function-word-rich'
        |       WHEN fw_density >= 0.03 THEN 'mixed'
        |       ELSE 'content-heavy' END AS predicted,
        |  count(*) AS n,
        |  round(avg(fw_density), 4) AS avg_density
        |FROM scored
        |GROUP BY 1, 2
        |ORDER BY lang, predicted""".stripMargin)
  }

  /** Language-ID confusion matrix — the Cavnar–Trenkle profile
    * classifier evaluated against the corpus' own labels: per-language
    * top-50 word profiles (rank-weighted, trained on the `doc_id % 3 ≠
    * 0` split — the bigram-LM convention) classify each held-out doc by
    * weighted profile overlap, and the (actual, predicted, n) matrix is
    * the audit a pipeline runs before TRUSTING a lang column it didn't
    * produce. Scoring is pure integers (weight `51 − rank` per hit,
    * argmax ties → language ascending), so both engines agree exactly;
    * docs hitting no profile word predict 'unknown'. On THIS corpus the
    * matrix honestly reads "barely above chance" (the synthetic
    * languages share most of their vocabulary; a distinctiveness-
    * weighted profile measures the same ~21 %) — which is precisely the
    * verdict the audit exists to deliver before anyone filters by a
    * bag-of-words lang call on short documents.
    *
    * Scale shape: profile build is a (lang, word)-keyed train-split
    * aggregate with a WindowGroupLimit top-50 (vocabulary-sized); the ≤
    * langs×50-row profile broadcasts onto the held-out docs' distinct
    * (doc, word) stream, so classification is scan-local; the per-doc
    * argmax rank rides doc_id — the skew-free high-cardinality key —
    * and the matrix aggregate is ≤ (langs+1)² rows. */
  def hLangidConfusion(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH tok AS (
        |  SELECT doc_id, lang, split(text, ' ') AS t FROM documents),
        |words AS (
        |  SELECT DISTINCT doc_id, lang, w
        |  FROM tok LATERAL VIEW explode(t) x AS w),
        |prof AS (
        |  SELECT lang AS cand, w, CAST(51 - rnk AS BIGINT) AS weight FROM (
        |    SELECT lang, w, row_number() OVER (PARTITION BY lang
        |      ORDER BY count(*) DESC, w) AS rnk
        |    FROM words WHERE doc_id % 3 <> 0 GROUP BY lang, w)
        |  WHERE rnk <= 50),
        |held AS (SELECT doc_id, lang, w FROM words WHERE doc_id % 3 = 0),
        |scored AS (
        |  SELECT /*+ BROADCAST(p) */ h.doc_id, h.lang AS actual, p.cand,
        |    CAST(sum(p.weight) AS BIGINT) AS score
        |  FROM held h JOIN prof p ON h.w = p.w
        |  GROUP BY h.doc_id, h.lang, p.cand),
        |best AS (
        |  SELECT doc_id, actual, cand AS predicted FROM (
        |    SELECT doc_id, actual, cand,
        |      row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, cand) AS rn
        |    FROM scored)
        |  WHERE rn = 1),
        |all_held AS (SELECT DISTINCT doc_id, lang AS actual FROM held)
        |SELECT a.actual, coalesce(b.predicted, 'unknown') AS predicted,
        |  count(*) AS n_docs
        |FROM all_held a LEFT JOIN best b ON a.doc_id = b.doc_id
        |GROUP BY a.actual, coalesce(b.predicted, 'unknown')
        |ORDER BY actual, predicted""".stripMargin)
  }

  val hLangidConfusionSql: String =
    """WITH tok AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
      |words AS (
      |  SELECT DISTINCT doc_id, lang, unnest(t) AS w FROM tok),
      |prof AS (
      |  SELECT lang AS cand, w, CAST(51 - rnk AS BIGINT) AS weight FROM (
      |    SELECT lang, w, row_number() OVER (PARTITION BY lang
      |      ORDER BY count(*) DESC, w) AS rnk
      |    FROM words WHERE doc_id % 3 <> 0 GROUP BY lang, w)
      |  WHERE rnk <= 50),
      |held AS (SELECT doc_id, lang, w FROM words WHERE doc_id % 3 = 0),
      |scored AS (
      |  SELECT h.doc_id, h.lang AS actual, p.cand,
      |    CAST(sum(p.weight) AS BIGINT) AS score
      |  FROM held h JOIN prof p ON h.w = p.w
      |  GROUP BY h.doc_id, h.lang, p.cand),
      |best AS (
      |  SELECT doc_id, actual, cand AS predicted FROM (
      |    SELECT doc_id, actual, cand,
      |      row_number() OVER (PARTITION BY doc_id
      |        ORDER BY score DESC, cand) AS rn
      |    FROM scored)
      |  WHERE rn = 1),
      |all_held AS (SELECT DISTINCT doc_id, lang AS actual FROM held)
      |SELECT a.actual AS actual, coalesce(b.predicted, 'unknown') AS predicted,
      |  count(*) AS n_docs
      |FROM all_held a LEFT JOIN best b ON a.doc_id = b.doc_id
      |GROUP BY a.actual, coalesce(b.predicted, 'unknown')
      |ORDER BY 1, 2""".stripMargin

  val hLangHeuristicSql: String =
    """WITH scored AS (
      |  SELECT lang,
      |    len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) / len(string_split(text, ' ')) AS fw_density
      |  FROM documents)
      |SELECT lang,
      |  CASE WHEN fw_density >= 0.08 THEN 'function-word-rich'
      |       WHEN fw_density >= 0.03 THEN 'mixed'
      |       ELSE 'content-heavy' END AS predicted,
      |  count(*) AS n,
      |  round(avg(fw_density), 4) AS avg_density
      |FROM scored
      |GROUP BY 1, 2
      |ORDER BY lang, predicted""".stripMargin

  /** Token counting (whitespace + BPE-ish regex over word/number/symbol
    * runs) and a composite quality score (length band + stopword density),
    * the standard pre-training corpus filters. Cross-engine determinism:
    * the per-row quality score is rounded to integer millis (the per-row
    * double is identical on both engines, so its rounding is too), making
    * every aggregate an exact-integer sum — no order-dependent double
    * summation, no HUGEINT drift (every DuckDB sum cast to BIGINT). */
  def hTokenQuality(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH tok AS (
        |  SELECT lang, n_chars,
        |    size(split(text, ' ')) AS ws_tokens,
        |    size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS re_tokens,
        |    octet_length(text) AS n_bytes,
        |    size(filter(split(text, ' '), t -> t IN ('the', 'a', 'of', 'and'))) AS stop_tokens
        |  FROM documents),
        |scored AS (
        |  SELECT lang, ws_tokens, re_tokens, n_bytes,
        |    CAST(round(1e3 * (CASE WHEN n_chars BETWEEN 100 AND 1000 THEN 0.5 ELSE 0.0 END +
        |     LEAST(0.5, 2.0 * stop_tokens / ws_tokens))) AS BIGINT) AS quality_milli
        |  FROM tok)
        |SELECT lang,
        |  sum(ws_tokens) AS total_ws_tokens,
        |  sum(re_tokens) AS total_re_tokens,
        |  CAST(round(1e4 * sum(n_bytes) / sum(ws_tokens)) AS BIGINT) AS bytes_per_token_x1e4,
        |  sum(CASE WHEN quality_milli >= 600 THEN 1 ELSE 0 END) AS n_high_quality,
        |  CAST(round(sum(quality_milli) / count(*)) AS BIGINT) AS avg_quality_milli
        |FROM scored
        |GROUP BY lang
        |ORDER BY lang""".stripMargin)
  }

  val hTokenQualitySql: String =
    """WITH tok AS (
      |  SELECT lang, n_chars,
      |    len(string_split(text, ' ')) AS ws_tokens,
      |    len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS re_tokens,
      |    strlen(text) AS n_bytes,
      |    len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and'))) AS stop_tokens
      |  FROM documents),
      |scored AS (
      |  SELECT lang, ws_tokens, re_tokens, n_bytes,
      |    CAST(round(1e3 * (CASE WHEN n_chars BETWEEN 100 AND 1000 THEN 0.5 ELSE 0.0 END +
      |     LEAST(0.5, 2.0 * stop_tokens / ws_tokens))) AS BIGINT) AS quality_milli
      |  FROM tok)
      |SELECT lang,
      |  CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
      |  CAST(sum(re_tokens) AS BIGINT) AS total_re_tokens,
      |  CAST(round(1e4 * CAST(sum(n_bytes) AS BIGINT) / CAST(sum(ws_tokens) AS BIGINT)) AS BIGINT) AS bytes_per_token_x1e4,
      |  CAST(sum(CASE WHEN quality_milli >= 600 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_quality,
      |  CAST(round(CAST(sum(quality_milli) AS BIGINT) / count(*)) AS BIGINT) AS avg_quality_milli
      |FROM scored
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** Document fingerprinting: md5 over sliding 8-grams, mod-16 sampled
    * (keep grams whose first md5 hex digit is '0') — winnowing-style
    * shared-substring fingerprints, cross-engine checkable because both
    * engines agree on md5. */
  def hFingerprint(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH grams AS (
        |  SELECT doc_id,
        |    transform(sequence(1, length(text) - 7), i -> substring(text, i, 8)) AS gs
        |  FROM documents
        |  WHERE doc_id < 100 AND length(text) >= 8)
        |SELECT doc_id,
        |  CAST(size(gs) AS BIGINT) AS n_grams,
        |  CAST(size(array_distinct(filter(transform(gs, g -> md5(g)), h -> substring(h, 1, 1) = '0'))) AS BIGINT) AS n_fingerprints
        |FROM grams
        |ORDER BY doc_id""".stripMargin)
  }

  val hFingerprintSql: String =
    """WITH grams AS (
      |  SELECT doc_id,
      |    list_transform(range(strlen(text) - 7), i -> substr(text, i + 1, 8)) AS gs
      |  FROM documents
      |  WHERE doc_id < 100 AND strlen(text) >= 8)
      |SELECT doc_id,
      |  len(gs) AS n_grams,
      |  len(list_distinct(list_filter(list_transform(gs, g -> md5(g)), h -> substr(h, 1, 1) = '0'))) AS n_fingerprints
      |FROM grams
      |ORDER BY doc_id""".stripMargin

  /** Vocabulary profiling — the corpus statistics pass that precedes
    * tokenizer (BPE) training: top-10 tokens per language by frequency.
    * Scale shape: explode → two-level hash agg (partial map-side combine
    * absorbs the token skew) → per-lang top-k window over the already-tiny
    * (lang, token) counts. */
  def hVocabTopk(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH tok AS (
        |  SELECT lang, explode(split(text, ' ')) AS token FROM documents),
        |counts AS (
        |  SELECT lang, token, count(*) AS n FROM tok GROUP BY lang, token),
        |ranked AS (
        |  SELECT lang, token, n,
        |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rnk
        |  FROM counts)
        |SELECT lang, token, n, CAST(rnk AS BIGINT) AS rnk
        |FROM ranked WHERE rnk <= 10
        |ORDER BY lang, rnk""".stripMargin)
  }

  val hVocabTopkSql: String =
    """WITH tok AS (
      |  SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
      |counts AS (
      |  SELECT lang, token, count(*) AS n FROM tok GROUP BY lang, token),
      |ranked AS (
      |  SELECT lang, token, n,
      |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rnk
      |  FROM counts)
      |SELECT lang, token, n, rnk
      |FROM ranked WHERE rnk <= 10
      |ORDER BY lang, rnk""".stripMargin

  /** APPLY the trained vocabulary — the production counterpart of
    * [[hVocabTopk]]'s training profile: the per-lang top-16 token vocab (deliberately smaller than the ~31-token synthetic tail so the OOV path is exercised)
    * (rank = id, ties broken lexically) maps every corpus token to its id;
    * out-of-vocabulary tokens surface as the per-lang OOV rate, and the id
    * checksum pins the exact id assignment cross-engine. Two corpus passes
    * by design — train then apply — exactly how a tokenizer deployment
    * runs; the apply pass joins through the tiny per-lang vocab, which
    * Spark broadcasts, so tokenization itself is scan-local (no exchange
    * carries tokens; only the final per-lang aggregate shuffles). */
  def hTokenizeIds(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH tok AS (
        |  SELECT lang, explode(split(text, ' ')) AS token FROM documents),
        |counts AS (
        |  SELECT lang, token, count(*) AS cnt FROM tok GROUP BY lang, token),
        |vocab AS (
        |  SELECT lang, token, id FROM (
        |    SELECT lang, token,
        |      row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS id
        |    FROM counts) WHERE id <= 16),
        |ids AS (
        |  SELECT t.lang, v.id
        |  FROM tok t LEFT JOIN vocab v ON t.lang = v.lang AND t.token = v.token)
        |SELECT lang, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(sum(coalesce(id, 0)) AS BIGINT) AS id_checksum
        |FROM ids GROUP BY lang ORDER BY lang""".stripMargin)
  }

  val hTokenizeIdsSql: String =
    """WITH tok AS (
      |  SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
      |counts AS (
      |  SELECT lang, token, count(*) AS cnt FROM tok GROUP BY lang, token),
      |vocab AS (
      |  SELECT lang, token, id FROM (
      |    SELECT lang, token,
      |      row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS id
      |    FROM counts) sub WHERE id <= 16),
      |ids AS (
      |  SELECT t.lang, v.id
      |  FROM tok t LEFT JOIN vocab v ON t.lang = v.lang AND t.token = v.token)
      |SELECT lang, count(*) AS n_tokens,
      |  CAST(sum(CASE WHEN id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |  CAST(sum(coalesce(id, 0)) AS BIGINT) AS id_checksum
      |FROM ids GROUP BY lang ORDER BY lang""".stripMargin

  /** First BPE merge round of tokenizer training: count ADJACENT token
    * pairs per language and rank the merge candidates — the step a real
    * BPE trainer iterates (the engine's batch form runs one round; the
    * driver loop re-runs it after each merge). Same codegen explode shape
    * as the n-gram pipelines; the (lang, pair) aggregation map-side
    * combines within-partition repeats before the exchange, so the
    * shuffle carries distinct pairs, not corpus positions. */
  /** Matryoshka truncation QA — before an index switches to truncated
    * embeddings (MRL-style first-k dimensions at k=16 of 64), measure how
    * much cosine geometry survives: for every vector, the similarity
    * between the full vector and its truncated self (zero-padded), i.e.
    * ‖v₁₆‖/‖v‖ in cosine form. Per-label histogram of the rounded metric —
    * the go/no-go table for cutting index memory 4×. Scan-local per row
    * (two dot products, one sqrt, one round — the same exact IEEE path
    * both engines share in [[hNeardupEmbedding]]); the only exchange is
    * the (label, bucket) accounting aggregate. */
  def hEmbedTruncate(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "embeddings")
    s.sql(
      """WITH base AS (
        |  SELECT vec_id, label, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |m AS (
        |  SELECT label,
        |    CAST(round(1e4 * sqrt(dot_product(slice(v, 1, 16), slice(v, 1, 16))
        |                          / dot_product(v, v))) AS BIGINT) AS keep_x1e4
        |  FROM base WHERE dot_product(v, v) > CAST(0 AS DOUBLE))
        |SELECT label, keep_x1e4 DIV 1000 AS bucket, count(*) AS n_vecs
        |FROM m GROUP BY label, bucket
        |ORDER BY label, bucket""".stripMargin)
  }

  /** DuckDB replays the truncation metric with list slicing. */
  val hEmbedTruncateSql: String =
    """WITH base AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |m AS (
      |  SELECT label,
      |    CAST(round(1e4 * sqrt(list_dot_product(v[1:16], v[1:16])
      |                          / list_dot_product(v, v))) AS BIGINT) AS keep_x1e4
      |  FROM base WHERE list_dot_product(v, v) > 0)
      |SELECT label, keep_x1e4 // 1000 AS bucket, count(*) AS n_vecs
      |FROM m GROUP BY label, bucket
      |ORDER BY label, bucket""".stripMargin

  /** Quantile winsorization — the p5/p95 outlier-clipping pass quality
    * pipelines run on length-like features before computing corpus
    * statistics (a handful of pathological documents otherwise dominate
    * every mean). Per-lang exact interpolated quantiles of `n_chars`
    * (the [[RelationalQueries.dPercentile]] `percentile ↔ quantile_cont`
    * contract) round to BIGINT clip bounds, the clamp is scan-local
    * integer arithmetic, and the winsorized sums stay exact — no
    * order-dependent double accumulation anywhere. Output: per-lang clip
    * bounds, clipped-row counts each side, and the winsorized mean
    * (×1e4, exact integer division). */
  def hWinsorize(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH q AS (
        |  SELECT lang,
        |    CAST(round(percentile(n_chars, 0.05)) AS BIGINT) AS lo,
        |    CAST(round(percentile(n_chars, 0.95)) AS BIGINT) AS hi
        |  FROM documents GROUP BY lang),
        |w AS (
        |  SELECT d.lang, q.lo, q.hi,
        |    least(greatest(d.n_chars, q.lo), q.hi) AS wchars,
        |    CASE WHEN d.n_chars < q.lo THEN 1 ELSE 0 END AS clow,
        |    CASE WHEN d.n_chars > q.hi THEN 1 ELSE 0 END AS chigh
        |  FROM documents d JOIN q ON d.lang = q.lang)
        |SELECT lang, min(lo) AS clip_lo, min(hi) AS clip_hi,
        |  count(*) AS n_docs,
        |  CAST(sum(clow) AS BIGINT) AS n_clipped_low,
        |  CAST(sum(chigh) AS BIGINT) AS n_clipped_high,
        |  (10000L * sum(wchars)) DIV count(*) AS wmean_x1e4
        |FROM w GROUP BY lang ORDER BY lang""".stripMargin)
  }

  val hWinsorizeSql: String =
    """WITH q AS (
      |  SELECT lang,
      |    CAST(round(quantile_cont(n_chars, 0.05)) AS BIGINT) AS lo,
      |    CAST(round(quantile_cont(n_chars, 0.95)) AS BIGINT) AS hi
      |  FROM documents GROUP BY lang),
      |w AS (
      |  SELECT d.lang, q.lo, q.hi,
      |    least(greatest(d.n_chars, q.lo), q.hi) AS wchars,
      |    CASE WHEN d.n_chars < q.lo THEN 1 ELSE 0 END AS clow,
      |    CASE WHEN d.n_chars > q.hi THEN 1 ELSE 0 END AS chigh
      |  FROM documents d JOIN q ON d.lang = q.lang)
      |SELECT lang, min(lo) AS clip_lo, min(hi) AS clip_hi,
      |  count(*) AS n_docs,
      |  CAST(sum(clow) AS BIGINT) AS n_clipped_low,
      |  CAST(sum(chigh) AS BIGINT) AS n_clipped_high,
      |  CAST((10000 * sum(wchars)) // count(*) AS BIGINT) AS wmean_x1e4
      |FROM w GROUP BY lang ORDER BY lang""".stripMargin

  /** Keyword-taxonomy classification — the domain-tagging pass mixture
    * construction needs (label every doc so `h_domain_mix`-style
    * temperature sampling can balance TOPICS, not just source fields).
    * A broadcast keyword→topic table joins against exploded tokens; per-
    * (doc, topic) hit counts reduce with map-side partials; argmax per doc
    * with a deterministic count-desc/topic-asc tiebreak. Docs hitting no
    * keyword simply drop out (the unlabeled residue a real pipeline routes
    * to a model classifier). The per-doc window runs over ≤4 topic rows
    * per doc — aggregation-sized, not corpus-sized. */
  def hTaxonomyClassify(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH kw AS (
        |  SELECT * FROM VALUES
        |    ('table','storage'), ('row','storage'), ('column','storage'), ('scan','storage'),
        |    ('join','exec'), ('hash','exec'), ('merge','exec'), ('sort','exec'),
        |    ('stream','streaming'), ('batch','streaming'), ('window','streaming'),
        |    ('fast','perf'), ('slow','perf') AS kw(tk, topic)),
        |tokd AS (
        |  SELECT doc_id, lang, tk
        |  FROM (SELECT doc_id, lang, split(text, ' ') AS t FROM documents)
        |  LATERAL VIEW explode(t) e AS tk),
        |hits AS (
        |  SELECT t.doc_id, t.lang, k.topic, count(*) AS n
        |  FROM tokd t JOIN kw k ON t.tk = k.tk
        |  GROUP BY t.doc_id, t.lang, k.topic),
        |best AS (
        |  SELECT doc_id, lang, topic, n,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, topic) AS rnk
        |  FROM hits)
        |SELECT lang, topic, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS topic_hits
        |FROM best WHERE rnk = 1
        |GROUP BY lang, topic ORDER BY lang, topic""".stripMargin)
  }

  val hTaxonomyClassifySql: String =
    """WITH kw AS (
      |  SELECT * FROM (VALUES
      |    ('table','storage'), ('row','storage'), ('column','storage'), ('scan','storage'),
      |    ('join','exec'), ('hash','exec'), ('merge','exec'), ('sort','exec'),
      |    ('stream','streaming'), ('batch','streaming'), ('window','streaming'),
      |    ('fast','perf'), ('slow','perf')) AS kw(tk, topic)),
      |tokd AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tk FROM documents),
      |hits AS (
      |  SELECT t.doc_id, t.lang, k.topic, count(*) AS n
      |  FROM tokd t JOIN kw k ON t.tk = k.tk
      |  GROUP BY t.doc_id, t.lang, k.topic),
      |best AS (
      |  SELECT doc_id, lang, topic, n,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, topic) AS rnk
      |  FROM hits)
      |SELECT lang, topic, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS topic_hits
      |FROM best WHERE rnk = 1
      |GROUP BY lang, topic ORDER BY lang, topic""".stripMargin

  /** Semantic decontamination — the EMBEDDING-space complement of the
    * 8-gram [[TrainingOps]] decontaminate pass: n-gram overlap misses a
    * paraphrased benchmark item, but its embedding still sits next to the
    * original. Benchmark set = vec_id % 17 = 0 (the same held-out rule the
    * textual pass uses); the train side carries planted ±2 % perturbed
    * copies of benchmark vectors (cosine ≈ 0.9998 — the "paraphrases").
    * The sweep is the proven [[hNeardupEmbedding]] machinery: 32×12
    * sign-LSH bands on BOTH sides, a band-keyed equi-join producing a
    * candidate set that provably contains every cosine≥0.95 pair on this
    * corpus (equality with the brute-force oracle is the check), then
    * exact-cosine verification on candidates only. Per-label flagged/clean
    * counts — shuffle scales with candidates, never train×bench. */
  def hContamEmbedding(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "embeddings")
    s.sql(
      """WITH base AS (
        |  SELECT vec_id, label, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |bench AS (SELECT * FROM base WHERE vec_id % 17 = 0),
        |train AS (
        |  SELECT vec_id, label, v FROM base WHERE vec_id % 17 <> 0
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id, label,
        |    transform(v, (x, i) -> x * CASE WHEN (i + 1) % 2 = 0 THEN CAST(1.02 AS DOUBLE) ELSE CAST(0.98 AS DOUBLE) END) AS v
        |  FROM bench),
        |bn AS (SELECT vec_id, label, v, sqrt(dot_product(v, v)) AS nrm FROM bench),
        |tn AS (SELECT vec_id, label, v, sqrt(dot_product(v, v)) AS nrm FROM train),
        |bk AS (SELECT vec_id, bkey FROM bn LATERAL VIEW explode(hyperplane_bands(v, 32, 12)) t AS bkey),
        |tk AS (SELECT vec_id, bkey FROM tn LATERAL VIEW explode(hyperplane_bands(v, 32, 12)) t AS bkey),
        |cand AS (
        |  SELECT DISTINCT t.vec_id AS t_id, b.vec_id AS b_id
        |  FROM tk t JOIN bk b ON t.bkey = b.bkey),
        |contam AS (
        |  SELECT DISTINCT c.t_id
        |  FROM cand c
        |  JOIN tn t ON t.vec_id = c.t_id
        |  JOIN bn b ON b.vec_id = c.b_id
        |  WHERE dot_product(t.v, b.v) / (t.nrm * b.nrm) >= 0.95)
        |SELECT t.label,
        |  count(*) AS n_train,
        |  CAST(sum(CASE WHEN c.t_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |  CAST(sum(CASE WHEN c.t_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
        |FROM tn t LEFT JOIN contam c ON t.vec_id = c.t_id
        |GROUP BY t.label ORDER BY t.label""".stripMargin)
  }

  /** DuckDB replays the contamination sweep brute-force over every
    * train×bench pair — equality proves the LSH candidate set lost no
    * qualifying pair. */
  val hContamEmbeddingSql: String =
    """WITH base AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |bench AS (SELECT * FROM base WHERE vec_id % 17 = 0),
      |train AS (
      |  SELECT vec_id, label, v FROM base WHERE vec_id % 17 <> 0
      |  UNION ALL
      |  SELECT vec_id + 1000000 AS vec_id, label,
      |    list_transform(list_zip(v, range(1, len(v) + 1)),
      |      p -> p[1] * CASE WHEN p[2] % 2 = 0 THEN CAST(1.02 AS DOUBLE) ELSE CAST(0.98 AS DOUBLE) END) AS v
      |  FROM bench),
      |bn AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM bench),
      |tn AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM train),
      |contam AS (
      |  SELECT DISTINCT t.vec_id AS t_id
      |  FROM tn t JOIN bn b ON true
      |  WHERE list_dot_product(t.v, b.v) / (t.nrm * b.nrm) >= 0.95)
      |SELECT t.label,
      |  count(*) AS n_train,
      |  CAST(sum(CASE WHEN c.t_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
      |  CAST(sum(CASE WHEN c.t_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
      |FROM tn t LEFT JOIN contam c ON t.vec_id = c.t_id
      |GROUP BY t.label ORDER BY t.label""".stripMargin

  /** Bigram-LM perplexity filter — the actual CCNet/RedPajama quality
    * gate shape: TRAIN an n-gram language model on the standing corpus,
    * SCORE held-out/incoming docs with it, histogram the scores for
    * threshold tuning. The model is add-one-smoothed bigrams; per-bigram
    * surprisal is the integer bit-length gap
    * `floor(log2(ctx(w1)+V)) − floor(log2(cnt(w1,w2)+1))` via
    * `length(bin(x))−1` — the same exact integer+string path as
    * [[hLmQuality]], never libm log, so both engines agree bit-for-bit.
    * Unseen bigrams (cnt=0) and unseen contexts (ctx=0) degrade smoothly
    * through the +1/+V smoothing instead of dividing by zero. Docs land
    * in 0.2-bit mean-surprisal buckets spanning 4.0–6.0 bits/bigram.
    *
    * Scale shape: the model is a (lang, bigram)-keyed aggregate with
    * map-side partials (shuffle scales with the model vocabulary, not the
    * corpus); scoring joins held-out bigrams to the model and context
    * tables on their aggregation keys; vocab is one tiny per-lang row.
    * Train/score split by doc_id % 3 — the same deterministic split rule
    * the dedup passes use. */
  def hBigramLm(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH tok AS (SELECT doc_id, lang, split(text, ' ') AS t FROM documents),
        |big AS (
        |  SELECT doc_id, lang,
        |    concat_ws(' ', element_at(t, i), element_at(t, i + 1)) AS bg,
        |    element_at(t, i) AS w1
        |  FROM tok LATERAL VIEW explode(sequence(1, size(t) - 1)) x AS i
        |  WHERE size(t) >= 2),
        |model AS (SELECT lang, bg, count(*) AS n FROM big WHERE doc_id % 3 <> 0 GROUP BY lang, bg),
        |ctx AS (SELECT lang, w1, count(*) AS cn FROM big WHERE doc_id % 3 <> 0 GROUP BY lang, w1),
        |voc AS (SELECT lang, count(DISTINCT w1) AS v FROM big WHERE doc_id % 3 <> 0 GROUP BY lang),
        |held AS (SELECT doc_id, lang, bg, w1 FROM big WHERE doc_id % 3 = 0),
        |sc AS (
        |  SELECT h.doc_id, h.lang,
        |    (length(bin(coalesce(c.cn, 0) + v.v)) - 1)
        |      - (length(bin(coalesce(m.n, 0) + 1)) - 1) AS s
        |  FROM held h
        |  LEFT JOIN model m ON h.lang = m.lang AND h.bg = m.bg
        |  LEFT JOIN ctx c ON h.lang = c.lang AND h.w1 = c.w1
        |  JOIN voc v ON h.lang = v.lang),
        |ds AS (
        |  SELECT doc_id, lang, sum(s) AS bits, count(*) AS n
        |  FROM sc GROUP BY doc_id, lang),
        |m2 AS (
        |  SELECT lang, CAST(round(1e4 * bits / n) AS BIGINT) AS mx FROM ds)
        |SELECT lang, least(greatest((mx - 40000) DIV 2000, 0), 9) AS bucket,
        |  count(*) AS n_docs
        |FROM m2 GROUP BY lang, bucket
        |ORDER BY lang, bucket""".stripMargin)
  }

  /** DuckDB trains and applies the identical model via list_transform
    * bigrams; the integer bit-length surprisal path is shared exactly. */
  val hBigramLmSql: String =
    """WITH tok AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
      |big AS (
      |  SELECT doc_id, lang,
      |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS bg,
      |    unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1
      |  FROM tok WHERE len(t) >= 2),
      |model AS (SELECT lang, bg, count(*) AS n FROM big WHERE doc_id % 3 <> 0 GROUP BY lang, bg),
      |ctx AS (SELECT lang, w1, count(*) AS cn FROM big WHERE doc_id % 3 <> 0 GROUP BY lang, w1),
      |voc AS (SELECT lang, count(DISTINCT w1) AS v FROM big WHERE doc_id % 3 <> 0 GROUP BY lang),
      |held AS (SELECT doc_id, lang, bg, w1 FROM big WHERE doc_id % 3 = 0),
      |sc AS (
      |  SELECT h.doc_id, h.lang,
      |    (length(bin(coalesce(c.cn, 0) + v.v)) - 1)
      |      - (length(bin(coalesce(m.n, 0) + 1)) - 1) AS s
      |  FROM held h
      |  LEFT JOIN model m ON h.lang = m.lang AND h.bg = m.bg
      |  LEFT JOIN ctx c ON h.lang = c.lang AND h.w1 = c.w1
      |  JOIN voc v ON h.lang = v.lang),
      |ds AS (
      |  SELECT doc_id, lang, CAST(sum(s) AS BIGINT) AS bits, count(*) AS n
      |  FROM sc GROUP BY doc_id, lang),
      |m2 AS (
      |  SELECT lang, CAST(round(1e4 * bits / n) AS BIGINT) AS mx FROM ds)
      |SELECT lang, least(greatest((mx - 40000) // 2000, 0), 9) AS bucket,
      |  count(*) AS n_docs
      |FROM m2 GROUP BY lang, bucket
      |ORDER BY lang, bucket""".stripMargin

  def hBpePairs(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH tok AS (SELECT lang, split(text, ' ') AS t FROM documents),
        |pairs AS (
        |  SELECT lang, concat_ws(' ', element_at(t, i), element_at(t, i + 1)) AS pair
        |  FROM tok LATERAL VIEW explode(sequence(1, size(t) - 1)) x AS i
        |  WHERE size(t) >= 2),
        |counts AS (SELECT lang, pair, count(*) AS n FROM pairs GROUP BY lang, pair),
        |ranked AS (
        |  SELECT lang, pair, n,
        |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, pair) AS rnk
        |  FROM counts)
        |SELECT lang, pair, n, CAST(rnk AS BIGINT) AS rnk
        |FROM ranked WHERE rnk <= 10
        |ORDER BY lang, rnk""".stripMargin)
  }

  val hBpePairsSql: String =
    """WITH tok AS (SELECT lang, string_split(text, ' ') AS t FROM documents),
      |pairs AS (
      |  SELECT lang, unnest(list_transform(range(1, len(t)),
      |    i -> t[i] || ' ' || t[i + 1])) AS pair
      |  FROM tok WHERE len(t) >= 2),
      |counts AS (SELECT lang, pair, count(*) AS n FROM pairs GROUP BY lang, pair),
      |ranked AS (
      |  SELECT lang, pair, n,
      |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, pair) AS rnk
      |  FROM counts)
      |SELECT lang, pair, n, rnk
      |FROM ranked WHERE rnk <= 10
      |ORDER BY lang, rnk""".stripMargin

  /** Iterative BPE training — the actual tokenizer-training LOOP, not just
    * one round's candidates (that's h_bpe_pairs): three merge rounds where
    * each round counts adjacent-pair frequencies over the CURRENT corpus,
    * picks the global argmax pair (count desc, then lexicographic — fully
    * deterministic), and rewrites every document by greedy left-to-right
    * non-overlapping merge of that pair before the next round counts.
    * Output is the merge table — exactly what a BPE tokenizer persists.
    *
    * Scale shape per round: ONE distributed pair-count aggregate (explode
    * → two-level hash agg keyed on the pair; shuffle volume scales with
    * vocabulary², not corpus), a 1-row argmax broadcast into the rewrite,
    * and the rewrite itself is a scan-local `aggregate()` fold per
    * document — no shuffle. The merged corpus materializes once per round
    * (`graftCheckpoint()`, the supplier_rank
    * discipline), so round k+1 reads round k's RDD instead of re-deriving
    * the whole merge chain — linear, not quadratic, in rounds.
    *
    * The fold carries a string accumulator whose last space-separated
    * token is the merge candidate; merged symbols join with '+' (absent
    * from the corpus vocabulary) so later rounds can merge merged symbols
    * further. DuckDB replays the identical fold via list_reduce, seeded
    * with the first token — equivalent to the empty-string seed here. */
  def hBpeTrain(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, count, explode, expr, lit, size, split}
    var toks = graft.Tables.load(s, dir, "documents")
      .select(split(col("text"), " ").as("toks"))
    val rounds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (k <- 1 to 3) {
      val counts = toks
        .where(size(col("toks")) >= 2)
        .select(explode(expr("sequence(1, size(toks) - 1)")).as("i"), col("toks"))
        .select(expr("element_at(toks, i)").as("a"), expr("element_at(toks, i + 1)").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
      val top =
        counts.orderBy(col("n").desc, col("a"), col("b")).limit(1).graftCheckpoint()
      rounds += top.select(lit(k.toLong).as("merge_round"),
        col("a").as("lhs"), col("b").as("rhs"), col("n"))
      if (k < 3)
        toks =
          toks.crossJoin(broadcast(top))
            .select(split(expr(bpeFold), " ").as("toks"))
            .graftCheckpoint()
    }
    rounds.reduce(_ unionAll _).orderBy("merge_round")
  }

  /** Greedy left-to-right non-overlapping application of the (a, b) merge:
    * the accumulator is the rewritten prefix; merging replaces its last
    * token when it equals `a` and the incoming token is `b`. */
  private val bpeFold: String =
    """aggregate(toks, '', (acc, t) -> CASE
      |  WHEN t = b AND (acc = a OR acc LIKE concat('% ', a))
      |  THEN CASE WHEN acc = a THEN concat(a, '+', b)
      |       ELSE concat(left(acc, length(acc) - length(a) - 1), ' ', a, '+', b) END
      |  ELSE CASE WHEN acc = '' THEN t ELSE concat(acc, ' ', t) END END)""".stripMargin

  /** DuckDB unrolls the three rounds as CTE chains with the same fold
    * via list_reduce (seeded with the first token — equivalent). */
  val hBpeTrainSql: String = {
    def round(k: Int): String = {
      val prev = s"t${k - 1}"
      s"""p$k AS (
        |  SELECT z.p[1] AS a, z.p[2] AS b, count(*) AS n
        |  FROM (SELECT unnest(list_zip(toks[1:length(toks)-1], toks[2:length(toks)])) AS p FROM $prev) z
        |  GROUP BY 1, 2),
        |m$k AS (SELECT a, b, n FROM p$k ORDER BY n DESC, a, b LIMIT 1),
        |t$k AS (
        |  SELECT string_split(list_reduce($prev.toks, (acc, t) -> CASE
        |    WHEN t = m$k.b AND (acc = m$k.a OR acc LIKE '% ' || m$k.a)
        |    THEN CASE WHEN acc = m$k.a THEN m$k.a || '+' || m$k.b
        |         ELSE left(acc, length(acc) - length(m$k.a) - 1) || ' ' || m$k.a || '+' || m$k.b END
        |    ELSE acc || ' ' || t END), ' ') AS toks
        |  FROM $prev CROSS JOIN m$k)""".stripMargin
    }
    "WITH t0 AS (SELECT string_split(text, ' ') AS toks FROM documents),\n" +
      Seq(1, 2, 3).map(round).mkString(",\n") + "\n" +
      """SELECT CAST(r AS BIGINT) AS merge_round, a AS lhs, b AS rhs, CAST(n AS BIGINT) AS n FROM (
        |  SELECT 1 AS r, a, b, n FROM m1
        |  UNION ALL SELECT 2, a, b, n FROM m2
        |  UNION ALL SELECT 3, a, b, n FROM m3)
        |ORDER BY merge_round""".stripMargin
  }

  /** Redaction accounting — the mechanics of a PII-scrub pass (pattern →
    * replacement token), exercised on function words since the synthetic
    * corpus plants no true PII: per lang, how many docs were touched and
    * the net char delta. Scan-local regexp + exact-integer agg. */
  def hScrubRedact(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH red AS (
        |  SELECT lang, text,
        |    regexp_replace(text, '\\b(the|a)\\b', '<t>') AS redacted
        |  FROM documents)
        |SELECT lang,
        |  count(*) AS n_docs,
        |  sum(CASE WHEN redacted <> text THEN 1 ELSE 0 END) AS n_redacted,
        |  sum(length(redacted) - length(text)) AS delta_chars
        |FROM red
        |GROUP BY lang
        |ORDER BY lang""".stripMargin)
  }

  val hScrubRedactSql: String =
    """WITH red AS (
      |  SELECT lang, text,
      |    regexp_replace(text, '\b(the|a)\b', '<t>', 'g') AS redacted
      |  FROM documents)
      |SELECT lang,
      |  count(*) AS n_docs,
      |  CAST(sum(CASE WHEN redacted <> text THEN 1 ELSE 0 END) AS BIGINT) AS n_redacted,
      |  CAST(sum(length(redacted) - length(text)) AS BIGINT) AS delta_chars
      |FROM red
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** Unigram-surprisal quality score — the LM-perplexity proxy (CCNet
    * trains a 5-gram KenLM; the unigram case is the sampled-data analogue)
    * that flags gibberish (high surprisal: tokens the corpus rarely emits)
    * and boilerplate (low surprisal: every token common). Per-token
    * surprisal is the integer bit-length gap
    * `floor(log2 N_lang) − floor(log2 freq)` — computed as
    * `length(bin(n)) − 1`, a pure integer+string path both engines share
    * exactly, instead of libm `log()`, whose last-ulp rounding differs
    * across engines. A doc's mean surprisal (×1e4, exactly-rounded) lands
    * in one of ten fixed 0.25-bit buckets spanning 3.5–6.0 bits/token
    * (tails clamped — gibberish saturates bucket 9, boilerplate bucket 0);
    * the output is the per-(lang, bucket) histogram a quality gate would
    * be tuned from.
    *
    * Scale shape: the unigram table is a (lang, token)-keyed aggregate
    * with map-side partial agg; scoring re-joins tokens to frequencies on
    * the same (lang, token) key — big-big but aggregate-sized on the
    * build side — then one doc_id-keyed agg. Three exchanges total, all
    * on aggregation keys, no window over the corpus. */
  def hLmQuality(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH x AS (
        |  SELECT doc_id, lang, tk
        |  FROM (SELECT doc_id, lang, split(text, ' ') AS t FROM documents)
        |  LATERAL VIEW explode(t) e AS tk),
        |freq AS (SELECT lang, tk, count(*) AS n FROM x GROUP BY lang, tk),
        |tot AS (SELECT lang, sum(n) AS n_tot FROM freq GROUP BY lang),
        |bits AS (
        |  SELECT f.lang, f.tk,
        |    (length(bin(t.n_tot)) - 1) - (length(bin(f.n)) - 1) AS s
        |  FROM freq f JOIN tot t ON f.lang = t.lang),
        |ds AS (
        |  SELECT x.doc_id, x.lang, sum(b.s) AS surprisal, count(*) AS n_tok
        |  FROM x JOIN bits b ON x.lang = b.lang AND x.tk = b.tk
        |  GROUP BY x.doc_id, x.lang),
        |m AS (
        |  SELECT lang, CAST(round(1e4 * surprisal / n_tok) AS BIGINT) AS mean_x1e4
        |  FROM ds)
        |SELECT lang, least(greatest((mean_x1e4 - 35000) DIV 2500, 0), 9) AS bucket,
        |  count(*) AS n_docs
        |FROM m
        |GROUP BY lang, bucket
        |ORDER BY lang, bucket""".stripMargin)
  }

  val hLmQualitySql: String =
    """WITH x AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tk FROM documents),
      |freq AS (SELECT lang, tk, count(*) AS n FROM x GROUP BY lang, tk),
      |tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_tot FROM freq GROUP BY lang),
      |bits AS (
      |  SELECT f.lang, f.tk,
      |    (length(bin(t.n_tot)) - 1) - (length(bin(f.n)) - 1) AS s
      |  FROM freq f JOIN tot t ON f.lang = t.lang),
      |ds AS (
      |  SELECT x.doc_id, x.lang, CAST(sum(b.s) AS BIGINT) AS surprisal, count(*) AS n_tok
      |  FROM x JOIN bits b ON x.lang = b.lang AND x.tk = b.tk
      |  GROUP BY x.doc_id, x.lang),
      |m AS (
      |  SELECT lang, CAST(round(1e4 * surprisal / n_tok) AS BIGINT) AS mean_x1e4
      |  FROM ds)
      |SELECT lang, least(greatest((mean_x1e4 - 35000) // 2500, 0), 9) AS bucket, count(*) AS n_docs
      |FROM m
      |GROUP BY lang, bucket
      |ORDER BY lang, bucket""".stripMargin

  /** TF-IDF keyword extraction: per-document top-3 terms scored
    * `tf · (1 + floor(log2(N/df)))` — document frequencies over the FULL
    * per-lang corpus, reporting bounded to doc_id < 50 (the profile a
    * keyword/tagging stage materializes; the corpus-wide statistics are
    * the expensive part and the part that must scale). The idf weight
    * uses the same exact integer bit-length path as [[hLmQuality]]
    * (`length(bin(N DIV df)) − 1`), so scores are BIGINTs both engines
    * agree on bit-for-bit — no libm log in the ranking.
    *
    * Scale shape: tf is a (doc, term)-keyed aggregate, df a (lang,
    * term)-keyed aggregate OVER tf (map-side partial agg both), the score
    * join is keyed on (lang, term), and the reporting filter prunes the
    * tf side before the join. The final top-3 window runs over 50 docs,
    * not the corpus. */
  def hTfidf(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH x AS (
        |  SELECT doc_id, lang, tk
        |  FROM (SELECT doc_id, lang, split(text, ' ') AS t FROM documents)
        |  LATERAL VIEW explode(t) e AS tk),
        |tf AS (SELECT doc_id, lang, tk, count(*) AS tf FROM x GROUP BY doc_id, lang, tk),
        |df AS (SELECT lang, tk, count(*) AS df FROM tf GROUP BY lang, tk),
        |nd AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |sc AS (
        |  SELECT t.doc_id, t.tk,
        |    t.tf * (1 + length(bin(n.n DIV d.df)) - 1) AS score
        |  FROM tf t
        |  JOIN df d ON t.lang = d.lang AND t.tk = d.tk
        |  JOIN nd n ON t.lang = n.lang
        |  WHERE t.doc_id < 50)
        |SELECT doc_id, tk AS term, CAST(score AS BIGINT) AS score,
        |  CAST(rnk AS BIGINT) AS rnk
        |FROM (
        |  SELECT doc_id, tk, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tk) AS rnk
        |  FROM sc)
        |WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin)
  }

  val hTfidfSql: String =
    """WITH x AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tk FROM documents),
      |tf AS (SELECT doc_id, lang, tk, count(*) AS tf FROM x GROUP BY doc_id, lang, tk),
      |df AS (SELECT lang, tk, count(*) AS df FROM tf GROUP BY lang, tk),
      |nd AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      |sc AS (
      |  SELECT t.doc_id, t.tk,
      |    t.tf * (1 + length(bin(n.n // d.df)) - 1) AS score
      |  FROM tf t
      |  JOIN df d ON t.lang = d.lang AND t.tk = d.tk
      |  JOIN nd n ON t.lang = n.lang
      |  WHERE t.doc_id < 50)
      |SELECT doc_id, tk AS term, CAST(score AS BIGINT) AS score, rnk
      |FROM (
      |  SELECT doc_id, tk, score,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tk) AS rnk
      |  FROM sc)
      |WHERE rnk <= 3
      |ORDER BY doc_id, rnk""".stripMargin

  /** Paired-modality coverage — the integrity check a multimodal training
    * set needs before a run: which documents have an embedding row, which
    * embeddings are orphaned. FULL OUTER join of the two modality tables
    * on id, accounted per lang ('(no-doc)' for orphaned vectors). The
    * join is id-keyed (both sides shuffle once on the id; AQE picks
    * broadcast when one modality is small), and every output column is an
    * exact integer count. */
  def hModalityJoin(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents", "embeddings")
    s.sql(
      """WITH j AS (
        |  SELECT d.doc_id, d.lang, e.vec_id
        |  FROM documents d FULL OUTER JOIN embeddings e ON d.doc_id = e.vec_id)
        |SELECT coalesce(lang, '(no-doc)') AS lang,
        |  count(doc_id) AS n_docs,
        |  sum(CASE WHEN doc_id IS NOT NULL AND vec_id IS NOT NULL THEN 1 ELSE 0 END) AS n_paired,
        |  sum(CASE WHEN vec_id IS NULL THEN 1 ELSE 0 END) AS n_doc_only,
        |  sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS n_vec_only
        |FROM j
        |GROUP BY coalesce(lang, '(no-doc)')
        |ORDER BY lang""".stripMargin)
  }

  val hModalityJoinSql: String =
    """WITH j AS (
      |  SELECT d.doc_id, d.lang, e.vec_id
      |  FROM documents d FULL OUTER JOIN embeddings e ON d.doc_id = e.vec_id)
      |SELECT coalesce(lang, '(no-doc)') AS lang,
      |  count(doc_id) AS n_docs,
      |  CAST(sum(CASE WHEN doc_id IS NOT NULL AND vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_paired,
      |  CAST(sum(CASE WHEN vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_doc_only,
      |  CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_vec_only
      |FROM j
      |GROUP BY coalesce(lang, '(no-doc)')
      |ORDER BY lang""".stripMargin

  /** Corpus length histogram (100-char buckets, top-coded at 900+) — the
    * data-quality profile that drives min/max-length filters. One
    * scan-local agg; bucket arithmetic in exact integers. */
  def hLenHistogram(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """SELECT least(n_chars div 100, 9) AS bucket,
        |  count(*) AS n_docs,
        |  sum(n_chars) AS total_chars
        |FROM documents
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin)
  }

  val hLenHistogramSql: String =
    """SELECT least(n_chars // 100, 9) AS bucket,
      |  count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  // ============================================================ kNN graph

  /** Mutual-kNN GRAPH audit — the health check run on an embedding space
    * before any graph-based curation trusts it (SemDeDup clustering,
    * label propagation, kNN classification): build each vector's
    * directed 3-NN list and report, per IVF cell, the reciprocity rate
    * (how many a→b edges have the b→a partner — hubby/degenerate spaces
    * reciprocate poorly) and the label homophily rate (how many edges
    * join same-label endpoints — the do-neighborhoods-mean-anything
    * test). Both rates in exact integer millis; cosine ranking ties
    * break by neighbor id (the [[hAnnBrute]] total order).
    *
    * Scale shape: the kNN is CELL-BUCKETED, never all-pairs — vectors
    * are assigned scan-local to the 16 raw-seed centroids (one broadcast
    * struct array, the [[hAnnIvf]] baseline quantizer), so the self-join
    * is an equi-join on c_id and candidate pairs scale with cell sizes,
    * the [[hSemdedup]] argument. The assignment table feeds THREE
    * consumers (both self-join sides + the cell census) and the edge
    * list TWO (the mutual probe joins it to itself), so both are
    * localCheckpointed — un-checkpointed, Spark re-inlines the whole
    * assignment cascade into each consumer. The top-3 window plans as
    * WindowGroupLimit inside each cell. At 100 TB: one corpus pass to
    * assign, one cell-keyed exchange to join, control-table algebra
    * after. */
  def hKnnGraph(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "embeddings")
    s.sql(
      """WITH base AS (
        |  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    label
        |  FROM embeddings),
        |seedcoll AS (
        |  SELECT collect_list(named_struct('c_id', vec_id, 'cv', v,
        |    'cnrm', sqrt(dot_product(v, v)))) AS cs
        |  FROM base WHERE vec_id < 16)
        |SELECT vec_id, v, sqrt(dot_product(v, v)) AS nrm, label,
        |  array_sort(transform(cs, c -> named_struct(
        |    'neg', -dot_product(v, c.cv) / (sqrt(dot_product(v, v)) * c.cnrm),
        |    'c_id', c.c_id)))[0].c_id AS c_id
        |FROM base CROSS JOIN seedcoll""".stripMargin)
      .graftCheckpoint().createOrReplaceTempView("knng_assigned")
    s.sql(
      """SELECT c_id, a_id, b_id, la, lb FROM (
        |  SELECT x.c_id, x.vec_id AS a_id, y.vec_id AS b_id,
        |    x.label AS la, y.label AS lb,
        |    row_number() OVER (PARTITION BY x.vec_id ORDER BY
        |      dot_product(x.v, y.v) / (x.nrm * y.nrm) DESC, y.vec_id) AS rn
        |  FROM knng_assigned x JOIN knng_assigned y
        |    ON x.c_id = y.c_id AND x.vec_id <> y.vec_id)
        |WHERE rn <= 3""".stripMargin)
      .graftCheckpoint().createOrReplaceTempView("knng_edges")
    s.sql(
      """WITH cells AS (
        |  SELECT c_id, count(*) AS n_nodes FROM knng_assigned GROUP BY c_id)
        |SELECT CAST(a.c_id AS BIGINT) AS c_id,
        |  CAST(max(n.n_nodes) AS BIGINT) AS n_nodes,
        |  CAST(count(*) AS BIGINT) AS n_edges,
        |  CAST(1000 * sum(CASE WHEN m.b_id IS NOT NULL THEN 1 ELSE 0 END)
        |    DIV count(*) AS BIGINT) AS mutual_milli,
        |  CAST(1000 * sum(CASE WHEN a.la = a.lb THEN 1 ELSE 0 END)
        |    DIV count(*) AS BIGINT) AS homophily_milli
        |FROM knng_edges a
        |LEFT JOIN knng_edges m ON a.a_id = m.b_id AND a.b_id = m.a_id
        |JOIN cells n ON a.c_id = n.c_id
        |GROUP BY a.c_id
        |ORDER BY c_id""".stripMargin)
  }

  /** DuckDB twin: identical raw-seed assignment (row_number over the
    * 16-centroid cross join), cell-bucketed 3-NN, and integer rates;
    * MATERIALIZED where Spark checkpoints. */
  val hKnnGraphSql: String =
    """WITH base AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
      |  FROM embeddings),
      |normed AS (
      |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm, label
      |  FROM base),
      |seed AS (
      |  SELECT vec_id AS c_id, v AS cv, sqrt(list_dot_product(v, v)) AS cnrm
      |  FROM base WHERE vec_id < 16),
      |assigned AS MATERIALIZED (
      |  SELECT vec_id, v, nrm, label, c_id FROM (
      |    SELECT n.vec_id, n.v, n.nrm, n.label, s.c_id,
      |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
      |        list_dot_product(n.v, s.cv) / (n.nrm * s.cnrm) DESC, s.c_id)
      |        AS rn
      |    FROM normed n CROSS JOIN seed s)
      |  WHERE rn = 1),
      |edges AS MATERIALIZED (
      |  SELECT c_id, a_id, b_id, la, lb FROM (
      |    SELECT x.c_id, x.vec_id AS a_id, y.vec_id AS b_id,
      |      x.label AS la, y.label AS lb,
      |      row_number() OVER (PARTITION BY x.vec_id ORDER BY
      |        list_dot_product(x.v, y.v) / (x.nrm * y.nrm) DESC, y.vec_id)
      |        AS rn
      |    FROM assigned x JOIN assigned y
      |      ON x.c_id = y.c_id AND x.vec_id <> y.vec_id)
      |  WHERE rn <= 3),
      |cells AS (SELECT c_id, count(*) AS n_nodes FROM assigned GROUP BY c_id)
      |SELECT CAST(a.c_id AS BIGINT) AS c_id,
      |  CAST(max(n.n_nodes) AS BIGINT) AS n_nodes,
      |  CAST(count(*) AS BIGINT) AS n_edges,
      |  CAST(1000 * sum(CASE WHEN m.b_id IS NOT NULL THEN 1 ELSE 0 END)
      |    // count(*) AS BIGINT) AS mutual_milli,
      |  CAST(1000 * sum(CASE WHEN a.la = a.lb THEN 1 ELSE 0 END)
      |    // count(*) AS BIGINT) AS homophily_milli
      |FROM edges a
      |LEFT JOIN edges m ON a.a_id = m.b_id AND a.b_id = m.a_id
      |JOIN cells n ON a.c_id = n.c_id
      |GROUP BY a.c_id
      |ORDER BY c_id""".stripMargin

  // ===================================================== graph-ANN audit

  /** HNSW-STYLE GRAPH-ANN AUDIT — greedy beam search over a navigable
    * small-world-style graph vs brute-force ground truth, the serving
    * audit for graph indexes the way [[hAnnRecall]] is for IVF. The graph
    * is the HNSW two-layer shape built from the engine's existing
    * primitives: layer 0 = per-node 8-NN edges within [[hKnnGraph]]'s
    * 16-seed cells (the cell-bucketed join, never pairs²); layer 1 = the
    * seed CLIQUE (long-range links). Search per query: enter at the best
    * non-self seed, then 4 hops of beam-4 expansion — each hop scores the
    * frontier's out-neighbors against the query (exact double cosine,
    * ties by id — the engine's standard deterministic ANN order) and
    * keeps the best 4 seen. Reported per query (the established
    * non-seed panel, vec_id 100–119): entry/found/true ids, whether the
    * exact top-1 was reached, the FOUND neighbor's rank in the exact
    * ranking (the distance-ratio-style metric ann-benchmarks reports —
    * the honest quality number when top-1 alone is noise), and the
    * distinct vectors scored (the work column; brute = N−1). Measured
    * here: median exact-rank ~3 of 499 at ~48 expansions — the ~10×
    * work saving a serving tier buys with this graph, and the sizing
    * evidence that degree 8 is where this corpus becomes navigable
    * (degree 3 lands at rank ~20).
    *
    * Scale shape: the graph build is [[hKnnGraph]]'s plan (scan-local
    * seed assignment against the broadcast 16-centroid array, cell-
    * bucketed degree-8 join) checkpointed ONCE; each hop is a
    * panel-sized frontier (≤ 80 rows) joined to the broadcast-able edge
    * table and the corpus for scoring — per-hop work is
    * O(|panel|·beam·degree) rows against one id-equi lookup, nothing
    * corpus-squared; ground truth is the one honest corpus pass per
    * panel ([[hAnnRecall]]'s stated-cost discipline). */
  def hHnswAudit(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "embeddings")
    val assigned = s.sql(
      """WITH base AS (
        |  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |normed AS (
        |  SELECT vec_id, v, sqrt(dot_product(v, v)) AS nrm FROM base),
        |seedcoll AS (
        |  SELECT collect_list(named_struct('c_id', vec_id, 'cv', v,
        |    'cnrm', sqrt(dot_product(v, v)))) AS cs
        |  FROM base WHERE vec_id < 16)
        |SELECT vec_id, v, nrm,
        |  array_sort(transform(cs, c -> named_struct(
        |    'neg', -dot_product(v, c.cv) / (nrm * c.cnrm),
        |    'c_id', c.c_id)))[0].c_id AS c_id
        |FROM normed CROSS JOIN seedcoll""".stripMargin)
      .graftCheckpoint()
    assigned.createOrReplaceTempView("hnsw_nodes")
    s.sql(
      """SELECT src, dst FROM (
        |  SELECT x.vec_id AS src, y.vec_id AS dst,
        |    row_number() OVER (PARTITION BY x.vec_id ORDER BY
        |      dot_product(x.v, y.v) / (x.nrm * y.nrm) DESC, y.vec_id) AS rn
        |  FROM hnsw_nodes x JOIN hnsw_nodes y
        |    ON x.c_id = y.c_id AND x.vec_id <> y.vec_id)
        |WHERE rn <= 8
        |UNION ALL
        |SELECT a.vec_id AS src, b.vec_id AS dst
        |FROM hnsw_nodes a JOIN hnsw_nodes b
        |  ON a.vec_id < 16 AND b.vec_id < 16 AND a.vec_id <> b.vec_id""".stripMargin)
      .graftCheckpoint().createOrReplaceTempView("hnsw_edges")
    s.sql(
      """SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM hnsw_nodes
        |WHERE vec_id >= 100 AND vec_id < 120""".stripMargin)
      .createOrReplaceTempView("hnsw_qset")
    // entry: best non-self seed per query (the layer-1 greedy descent)
    var frontier = s.sql(
      """SELECT q_id, n_id FROM (
        |  SELECT q.q_id, s.vec_id AS n_id,
        |    row_number() OVER (PARTITION BY q.q_id ORDER BY
        |      round(dot_product(q.qv, s.v) / (q.qnrm * s.nrm), 4) DESC,
        |      s.vec_id) AS rn
        |  FROM hnsw_qset q JOIN hnsw_nodes s
        |    ON s.vec_id < 16 AND s.vec_id <> q.q_id)
        |WHERE rn = 1""".stripMargin).graftCheckpoint()
    frontier.createOrReplaceTempView("hnsw_f")
    // visited accumulator: everything ever scored (the work census)
    var visited = frontier
    for (_ <- 1 to 4) {
      // candidates scored this hop = frontier ∪ its out-neighbors (self
      // excluded) — checkpointed once, feeding both the beam window and
      // the work census
      val cand = s.sql(
        """SELECT DISTINCT q_id, n_id FROM (
          |  SELECT f.q_id, e.dst AS n_id
          |  FROM hnsw_f f JOIN hnsw_edges e ON e.src = f.n_id
          |  UNION ALL SELECT q_id, n_id FROM hnsw_f) c
          |WHERE n_id <> q_id""".stripMargin).graftCheckpoint()
      cand.createOrReplaceTempView("hnsw_cand")
      frontier = s.sql(
        """SELECT q_id, n_id FROM (
          |  SELECT c.q_id, c.n_id,
          |    row_number() OVER (PARTITION BY c.q_id ORDER BY
          |      round(dot_product(q.qv, n.v) / (q.qnrm * n.nrm), 4) DESC,
          |      c.n_id) AS rn
          |  FROM hnsw_cand c
          |  JOIN hnsw_nodes n ON n.vec_id = c.n_id
          |  JOIN hnsw_qset q ON q.q_id = c.q_id)
          |WHERE rn <= 4""".stripMargin).graftCheckpoint()
      visited =
        visited.unionAll(cand).distinct().graftCheckpoint()
      frontier.createOrReplaceTempView("hnsw_f")
    }
    visited.createOrReplaceTempView("hnsw_visited")
    s.sql(
      """WITH fullrank AS (
        |  SELECT q.q_id, n.vec_id AS n_id,
        |    row_number() OVER (PARTITION BY q.q_id ORDER BY
        |      round(dot_product(q.qv, n.v) / (q.qnrm * n.nrm), 4) DESC,
        |      n.vec_id) AS rnk
        |  FROM hnsw_qset q JOIN hnsw_nodes n ON n.vec_id <> q.q_id),
        |found AS (
        |  SELECT q_id, n_id AS found_id FROM (
        |    SELECT f.q_id, f.n_id,
        |      row_number() OVER (PARTITION BY f.q_id ORDER BY
        |        round(dot_product(q.qv, n.v) / (q.qnrm * n.nrm), 4) DESC,
        |        f.n_id) AS rn
        |    FROM hnsw_f f
        |    JOIN hnsw_nodes n ON n.vec_id = f.n_id
        |    JOIN hnsw_qset q ON q.q_id = f.q_id)
        |  WHERE rn = 1),
        |entry AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT q.q_id, s.vec_id AS n_id,
        |      row_number() OVER (PARTITION BY q.q_id ORDER BY
        |        round(dot_product(q.qv, s.v) / (q.qnrm * s.nrm), 4) DESC,
        |        s.vec_id) AS rn
        |    FROM hnsw_qset q JOIN hnsw_nodes s
        |      ON s.vec_id < 16 AND s.vec_id <> q.q_id)
        |  WHERE rn = 1),
        |expanded AS (
        |  SELECT q_id, count(*) AS n_expanded FROM hnsw_visited GROUP BY q_id)
        |SELECT fo.q_id,
        |  CAST(en.n_id AS BIGINT) AS entry_id,
        |  CAST(fo.found_id AS BIGINT) AS found_id,
        |  CAST(t1.n_id AS BIGINT) AS true_id,
        |  fo.found_id = t1.n_id AS top1_match,
        |  CAST(fr.rnk AS BIGINT) AS found_rank,
        |  CAST(e.n_expanded AS BIGINT) AS n_expanded
        |FROM found fo
        |JOIN (SELECT q_id, n_id FROM fullrank WHERE rnk = 1) t1 ON t1.q_id = fo.q_id
        |JOIN fullrank fr ON fr.q_id = fo.q_id AND fr.n_id = fo.found_id
        |JOIN entry en ON en.q_id = fo.q_id
        |JOIN expanded e ON e.q_id = fo.q_id
        |ORDER BY fo.q_id""".stripMargin)
  }

  /** DuckDB twin: identical graph build, unrolled 4-hop beam (each hop a
    * MATERIALIZED CTE where Spark checkpoints), identical ranking. */
  val hHnswAuditSql: String = {
    val hops = (1 to 4).map { i =>
      s"""cand$i AS MATERIALIZED (
         |  SELECT DISTINCT q_id, n_id FROM (
         |    SELECT f.q_id, e.dst AS n_id
         |    FROM f${i - 1} f JOIN alledges e ON e.src = f.n_id
         |    UNION ALL SELECT q_id, n_id FROM f${i - 1}) c
         |  WHERE n_id <> q_id),
         |f$i AS MATERIALIZED (
         |  SELECT q_id, n_id FROM (
         |    SELECT c.q_id, c.n_id,
         |      row_number() OVER (PARTITION BY c.q_id ORDER BY
         |        round(list_dot_product(q.qv, n.v) / (q.qnrm * n.nrm), 4) DESC,
         |        c.n_id) AS rn
         |    FROM cand$i c
         |    JOIN normed n ON n.vec_id = c.n_id
         |    JOIN qset q ON q.q_id = c.q_id)
         |  WHERE rn <= 4),""".stripMargin
    }.mkString("\n")
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |normed AS MATERIALIZED (
       |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM base),
       |seed AS (
       |  SELECT vec_id AS c_id, v AS cv, sqrt(list_dot_product(v, v)) AS cnrm
       |  FROM base WHERE vec_id < 16),
       |assigned AS MATERIALIZED (
       |  SELECT vec_id, v, nrm, c_id FROM (
       |    SELECT n.vec_id, n.v, n.nrm, s.c_id,
       |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |        list_dot_product(n.v, s.cv) / (n.nrm * s.cnrm) DESC, s.c_id) AS rn
       |    FROM normed n CROSS JOIN seed s)
       |  WHERE rn = 1),
       |knn AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT x.vec_id AS src, y.vec_id AS dst,
       |      row_number() OVER (PARTITION BY x.vec_id ORDER BY
       |        list_dot_product(x.v, y.v) / (x.nrm * y.nrm) DESC, y.vec_id) AS rn
       |    FROM assigned x JOIN assigned y
       |      ON x.c_id = y.c_id AND x.vec_id <> y.vec_id)
       |  WHERE rn <= 8),
       |clique AS (
       |  SELECT a.c_id AS src, b.c_id AS dst
       |  FROM seed a JOIN seed b ON a.c_id <> b.c_id),
       |alledges AS MATERIALIZED (
       |  SELECT src, dst FROM knn UNION ALL SELECT src, dst FROM clique),
       |qset AS MATERIALIZED (
       |  SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM normed
       |  WHERE vec_id >= 100 AND vec_id < 120),
       |f0 AS MATERIALIZED (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.q_id, s.c_id AS n_id,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY
       |        round(list_dot_product(q.qv, s.cv) / (q.qnrm * s.cnrm), 4) DESC,
       |        s.c_id) AS rn
       |    FROM qset q CROSS JOIN seed s WHERE s.c_id <> q.q_id)
       |  WHERE rn = 1),
       |$hops
       |visited AS MATERIALIZED (
       |  SELECT q_id, n_id FROM f0
       |  UNION SELECT q_id, n_id FROM cand1
       |  UNION SELECT q_id, n_id FROM cand2
       |  UNION SELECT q_id, n_id FROM cand3
       |  UNION SELECT q_id, n_id FROM cand4),
       |expanded AS (SELECT q_id, count(*) AS n_expanded FROM visited GROUP BY q_id),
       |fullrank AS MATERIALIZED (
       |  SELECT q.q_id, n.vec_id AS n_id,
       |    row_number() OVER (PARTITION BY q.q_id ORDER BY
       |      round(list_dot_product(q.qv, n.v) / (q.qnrm * n.nrm), 4) DESC,
       |      n.vec_id) AS rnk
       |  FROM qset q JOIN normed n ON n.vec_id <> q.q_id),
       |found AS (
       |  SELECT q_id, n_id AS found_id FROM (
       |    SELECT f.q_id, f.n_id,
       |      row_number() OVER (PARTITION BY f.q_id ORDER BY
       |        round(list_dot_product(q.qv, n.v) / (q.qnrm * n.nrm), 4) DESC,
       |        f.n_id) AS rn
       |    FROM f4 f
       |    JOIN normed n ON n.vec_id = f.n_id
       |    JOIN qset q ON q.q_id = f.q_id)
       |  WHERE rn = 1)
       |SELECT fo.q_id,
       |  CAST(f0.n_id AS BIGINT) AS entry_id,
       |  CAST(fo.found_id AS BIGINT) AS found_id,
       |  CAST(t1.n_id AS BIGINT) AS true_id,
       |  fo.found_id = t1.n_id AS top1_match,
       |  CAST(fr.rnk AS BIGINT) AS found_rank,
       |  CAST(e.n_expanded AS BIGINT) AS n_expanded
       |FROM found fo
       |JOIN (SELECT q_id, n_id FROM fullrank WHERE rnk = 1) t1 ON t1.q_id = fo.q_id
       |JOIN fullrank fr ON fr.q_id = fo.q_id AND fr.n_id = fo.found_id
       |JOIN f0 ON f0.q_id = fo.q_id
       |JOIN expanded e ON e.q_id = fo.q_id
       |ORDER BY fo.q_id""".stripMargin
  }

  // ========================================================= dedup impact

  /** DEDUP IMPACT accounting — the before/after report a curation review
    * reads next to [[hDedupExact]]'s survivor counts: per language, what
    * exact-dup removal actually costs and saves — documents and TOKENS
    * removed (the number the training-budget owner cares about, since
    * duplicates are bought in tokens), and the VOCABULARY LOST: terms
    * that existed only in removed documents and vanish from the corpus
    * entirely (exact-dup removal should lose ~none — a nonzero count
    * means the survivor rule is dropping unique content, the audit's
    * alarm — for EXACT dedup a removed doc's text survives in its keeper
    * by definition, so vocab_lost = 0 IS the rule-integrity invariant;
    * the same report over a near-dup survivor set is where real
    * vocabulary loss shows). Survivors are [[hDedupExact]]'s
    * min-doc_id keeper rule applied PER (lang, body) — the report is
    * per-language, so the keeper choice is too (a cross-language global
    * keeper would let corpus shape alone fire the alarm) — over the
    * ingest-REPLAY corpus (a third of
    * the docs redelivered under re-crawl ids — the at-least-once
    * scenario hDedupExact models; the pristine table has no dups and
    * would report zeros); the report groups by body text so DuckDB
    * replays the rule verbatim (production keys the same join on the
    * 64-bit body hash).
    *
    * Scale shape: ONE body-keyed aggregate finds each body's keeper; the
    * keeper flag joins back co-keyed on the same body key (zero extra
    * shuffle under the same partitioning). The flagged corpus is
    * localCheckpointed because TWO censuses read it (doc-level and
    * term-level — un-checkpointed, each re-inlines the survivor join);
    * the term census is one explode into a (lang, term) aggregate with
    * the kept flag folded map-side (`max(kept)`), so vocabulary loss
    * costs exactly the vocabulary-sized exchange every term op here
    * pays. */
  def hDedupImpact(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    // replay ids are doc_id + 1e6; a source corpus whose real ids reach 1e6
    // would silently collide replay ids with real ids and corrupt the keeper
    // flags — same defensive require the ScaleStressBench replicator carries
    val maxId = s.sql("SELECT max(doc_id) AS m FROM documents").first().getLong(0)
    require(maxId < 1000000L,
      s"hDedupImpact replay-id offset 1000000 collides: max(doc_id)=$maxId")
    // the audited corpus is the INGEST-REPLAY scenario ([[hDedupExact]]'s
    // at-least-once convention): a third of the corpus redelivered under
    // re-crawl ids — so the removal rates are real, not the pristine
    // table's zeros
    s.sql(
      """SELECT doc_id, lang, text FROM documents
        |UNION ALL
        |SELECT doc_id + 1000000, lang, text FROM documents
        |WHERE doc_id % 3 = 0""".stripMargin)
      .createOrReplaceTempView("dedup_ingest")
    // keeper is chosen PER (lang, text): the report and its vocab_lost = 0
    // invariant are per-language, so a byte-identical text appearing under
    // two langs must keep one copy in EACH lang (a global keeper would make
    // the other lang count the doc removed and could fire the vocab alarm
    // on corpus shape alone)
    s.sql(
      """SELECT d.doc_id, d.lang, d.text,
        |  CASE WHEN d.doc_id = k.keeper THEN 1 ELSE 0 END AS kept
        |FROM dedup_ingest d
        |JOIN (SELECT lang, text, min(doc_id) AS keeper
        |      FROM dedup_ingest GROUP BY lang, text) k
        |  ON d.lang = k.lang AND d.text = k.text""".stripMargin)
      .graftCheckpoint().createOrReplaceTempView("dedup_flagged")
    s.sql(
      """WITH f AS (
        |  SELECT doc_id, lang, text, kept, size(split(text, ' ')) AS ntoks
        |  FROM dedup_flagged),
        |dc AS (
        |  SELECT lang, count(*) AS n_docs, sum(kept) AS n_kept,
        |    sum(ntoks) AS toks, sum(kept * ntoks) AS toks_kept
        |  FROM f GROUP BY lang),
        |tc AS (
        |  SELECT lang, count(*) AS vocab,
        |    sum(CASE WHEN kept_term = 0 THEN 1 ELSE 0 END) AS vocab_lost
        |  FROM (
        |    SELECT lang, t AS term, max(kept) AS kept_term
        |    FROM f LATERAL VIEW explode(split(text, ' ')) x AS t
        |    GROUP BY lang, t)
        |  GROUP BY lang)
        |SELECT d.lang,
        |  CAST(d.n_docs AS BIGINT) AS n_docs,
        |  CAST(d.n_kept AS BIGINT) AS n_kept,
        |  CAST(1000 * (d.n_docs - d.n_kept) DIV d.n_docs AS BIGINT)
        |    AS doc_removed_milli,
        |  CAST(d.toks AS BIGINT) AS tokens_total,
        |  CAST(d.toks_kept AS BIGINT) AS tokens_kept,
        |  CAST(1000 * (d.toks - d.toks_kept) DIV d.toks AS BIGINT)
        |    AS token_removed_milli,
        |  CAST(t.vocab AS BIGINT) AS vocab,
        |  CAST(t.vocab_lost AS BIGINT) AS vocab_lost
        |FROM dc d JOIN tc t ON d.lang = t.lang
        |ORDER BY d.lang""".stripMargin)
  }

  /** DuckDB twin: identical survivor rule (MATERIALIZED flag table) and
    * the same two censuses. */
  val hDedupImpactSql: String =
    """WITH ingest AS MATERIALIZED (
      |  SELECT doc_id, lang, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, lang, text FROM documents
      |  WHERE doc_id % 3 = 0),
      |f AS MATERIALIZED (
      |  SELECT d.doc_id, d.lang, d.text,
      |    CASE WHEN d.doc_id = k.keeper THEN 1 ELSE 0 END AS kept,
      |    len(string_split(d.text, ' ')) AS ntoks
      |  FROM ingest d
      |  JOIN (SELECT lang, text, min(doc_id) AS keeper
      |        FROM ingest GROUP BY lang, text) k
      |    ON d.lang = k.lang AND d.text = k.text),
      |dc AS (
      |  SELECT lang, count(*) AS n_docs, sum(kept) AS n_kept,
      |    sum(ntoks) AS toks, sum(kept * ntoks) AS toks_kept
      |  FROM f GROUP BY lang),
      |tc AS (
      |  SELECT lang, count(*) AS vocab,
      |    sum(CASE WHEN kept_term = 0 THEN 1 ELSE 0 END) AS vocab_lost
      |  FROM (
      |    SELECT lang, t.term, max(kept) AS kept_term
      |    FROM f, unnest(string_split(text, ' ')) AS t(term)
      |    GROUP BY lang, t.term)
      |  GROUP BY lang)
      |SELECT d.lang,
      |  CAST(d.n_docs AS BIGINT) AS n_docs,
      |  CAST(d.n_kept AS BIGINT) AS n_kept,
      |  CAST(1000 * (d.n_docs - d.n_kept) // d.n_docs AS BIGINT)
      |    AS doc_removed_milli,
      |  CAST(d.toks AS BIGINT) AS tokens_total,
      |  CAST(d.toks_kept AS BIGINT) AS tokens_kept,
      |  CAST(1000 * (d.toks - d.toks_kept) // d.toks AS BIGINT)
      |    AS token_removed_milli,
      |  CAST(t.vocab AS BIGINT) AS vocab,
      |  CAST(t.vocab_lost AS BIGINT) AS vocab_lost
      |FROM dc d JOIN tc t ON d.lang = t.lang
      |ORDER BY d.lang""".stripMargin

  // ===================================================== Chao dup estimate

  /** Capture-recapture DUPLICATE-MASS estimator — the sample-based
    * planning number a dedup run is budgeted from BEFORE anyone pays for
    * the full corpus pass: draw a deterministic ~20 % record sample
    * (md5 of the doc_id, so duplicate CLASSES are sampled per-copy, not
    * per-class), count how many distinct texts the sample shows and how
    * many of them appeared exactly once (f1) and exactly twice (f2), and
    * extrapolate the corpus' true distinct-text count with the
    * bias-corrected Chao1 lower bound `d_obs + f1·(f1−1) DIV (2·(f2+1))`
    * (Chao 1984 — the standard unseen-species estimator, integer-exact
    * here). The audit column: the TRUE distinct count over the full
    * replay-doubled ingest ([[hDedupExact]]'s at-least-once corpus, so
    * real duplicate mass exists to estimate) and the estimator's relative
    * error in milli — the evidence table for "how much dedup will save"
    * from a 20 % scan. All BIGINT.
    *
    * Scale shape: the sample arm is a hash-filtered scan into a
    * text-keyed aggregate (sample-sized); the truth arm is one distinct
    * aggregate over the corpus (the audit's cost, dropped in production
    * where the estimate is the point); both collapse to per-lang rows
    * before the final lang-keyed join of two dimension-sized tables. */
  def hDupChao(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH ingest AS (
        |  SELECT doc_id, lang, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, lang, text FROM documents
        |  WHERE doc_id % 3 = 0),
        |samp AS (
        |  SELECT lang, text, count(*) AS f
        |  FROM ingest
        |  WHERE CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 2), 16, 10)
        |        AS BIGINT) < 51
        |  GROUP BY lang, text),
        |sa AS (
        |  SELECT lang, sum(f) AS n_sampled, count(*) AS d_obs,
        |    sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS f1,
        |    sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS f2
        |  FROM samp GROUP BY lang),
        |tr AS (
        |  SELECT lang, count(DISTINCT text) AS true_d, count(*) AS n_docs
        |  FROM ingest GROUP BY lang)
        |SELECT sa.lang,
        |  CAST(tr.n_docs AS BIGINT) AS n_docs,
        |  CAST(sa.n_sampled AS BIGINT) AS n_sampled,
        |  CAST(sa.d_obs AS BIGINT) AS d_obs,
        |  CAST(sa.f1 AS BIGINT) AS f1,
        |  CAST(sa.f2 AS BIGINT) AS f2,
        |  CAST(sa.d_obs + sa.f1 * (sa.f1 - 1) DIV (2 * (sa.f2 + 1)) AS BIGINT)
        |    AS chao_est,
        |  CAST(tr.true_d AS BIGINT) AS true_distinct,
        |  CAST(1000 * abs(sa.d_obs + sa.f1 * (sa.f1 - 1) DIV (2 * (sa.f2 + 1))
        |       - tr.true_d) DIV tr.true_d AS BIGINT) AS err_milli
        |FROM sa JOIN tr ON sa.lang = tr.lang
        |ORDER BY sa.lang""".stripMargin)
  }

  /** DuckDB twin: identical sample rule and estimator algebra. */
  val hDupChaoSql: String =
    """WITH ingest AS MATERIALIZED (
      |  SELECT doc_id, lang, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, lang, text FROM documents
      |  WHERE doc_id % 3 = 0),
      |samp AS (
      |  SELECT lang, text, count(*) AS f
      |  FROM ingest
      |  WHERE CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 2))
      |        AS BIGINT) < 51
      |  GROUP BY lang, text),
      |sa AS (
      |  SELECT lang, sum(f) AS n_sampled, count(*) AS d_obs,
      |    sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS f1,
      |    sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS f2
      |  FROM samp GROUP BY lang),
      |tr AS (
      |  SELECT lang, count(DISTINCT text) AS true_d, count(*) AS n_docs
      |  FROM ingest GROUP BY lang)
      |SELECT sa.lang,
      |  CAST(tr.n_docs AS BIGINT) AS n_docs,
      |  CAST(sa.n_sampled AS BIGINT) AS n_sampled,
      |  CAST(sa.d_obs AS BIGINT) AS d_obs,
      |  CAST(sa.f1 AS BIGINT) AS f1,
      |  CAST(sa.f2 AS BIGINT) AS f2,
      |  CAST(sa.d_obs + sa.f1 * (sa.f1 - 1) // (2 * (sa.f2 + 1)) AS BIGINT)
      |    AS chao_est,
      |  CAST(tr.true_d AS BIGINT) AS true_distinct,
      |  CAST(1000 * abs(sa.d_obs + sa.f1 * (sa.f1 - 1) // (2 * (sa.f2 + 1))
      |       - tr.true_d) // tr.true_d AS BIGINT) AS err_milli
      |FROM sa JOIN tr ON sa.lang = tr.lang
      |ORDER BY sa.lang""".stripMargin

  // ======================================================== OOV curve

  /** Tokenizer VOCAB-SIZE decision curve — the number a tokenizer budget
    * is chosen from, where [[hVocabTopk]] lists the head terms and
    * [[hTokenizeIds]] applies ONE trained vocab: for each candidate
    * vocabulary size k ∈ {8, 16, 32} per language, the token-weighted
    * out-of-vocabulary rate if the vocab were cut at the top-k most
    * frequent terms (ties by term — the engine's standard rank order).
    * Reading the curve down a language says what each doubling of the
    * vocab budget buys; reading across languages says which language
    * needs the budget most (the multilingual fairness argument for
    * per-lang vocab allocations).
    *
    * Scale shape: ONE corpus explode collapses map-side into the (lang,
    * term) count table; the rank window and the per-(lang, k) rollup
    * share ONE lang exchange (subset clustering — the [[hZipfAudit]]
    * shape); the 3-row rung table cross-joins broadcast. Everything
    * after the explode is vocabulary-sized. */
  def hOovCurve(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "documents")
    s.sql(
      """WITH counts AS (
        |  SELECT lang, t AS term, count(*) AS n
        |  FROM documents LATERAL VIEW explode(split(text, ' ')) x AS t
        |  GROUP BY lang, t),
        |ranked AS (
        |  SELECT lang, term, n,
        |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, term) AS rnk
        |  FROM counts),
        |rungs AS (SELECT * FROM (VALUES (8), (16), (32)) AS t(k))
        |SELECT lang, CAST(k AS BIGINT) AS k,
        |  CAST(count(*) AS BIGINT) AS vocab,
        |  CAST(sum(CASE WHEN rnk > k THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov_terms,
        |  CAST(sum(n) AS BIGINT) AS tokens_total,
        |  CAST(sum(CASE WHEN rnk > k THEN n ELSE 0 END) AS BIGINT)
        |    AS oov_tokens,
        |  CAST(1000 * sum(CASE WHEN rnk > k THEN n ELSE 0 END) DIV sum(n)
        |    AS BIGINT) AS oov_milli
        |FROM ranked CROSS JOIN rungs
        |GROUP BY lang, k
        |ORDER BY lang, k""".stripMargin)
  }

  /** DuckDB twin: identical rank and rung rollup. */
  val hOovCurveSql: String =
    """WITH counts AS (
      |  SELECT lang, t.term, count(*) AS n
      |  FROM documents, unnest(string_split(text, ' ')) AS t(term)
      |  GROUP BY lang, t.term),
      |ranked AS (
      |  SELECT lang, term, n,
      |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, term) AS rnk
      |  FROM counts),
      |rungs AS (SELECT * FROM (VALUES (8), (16), (32)) AS t(k))
      |SELECT lang, CAST(k AS BIGINT) AS k,
      |  CAST(count(*) AS BIGINT) AS vocab,
      |  CAST(sum(CASE WHEN rnk > k THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_oov_terms,
      |  CAST(sum(n) AS BIGINT) AS tokens_total,
      |  CAST(sum(CASE WHEN rnk > k THEN n ELSE 0 END) AS BIGINT)
      |    AS oov_tokens,
      |  CAST(1000 * sum(CASE WHEN rnk > k THEN n ELSE 0 END) // sum(n)
      |    AS BIGINT) AS oov_milli
      |FROM ranked CROSS JOIN rungs
      |GROUP BY lang, k
      |ORDER BY lang, k""".stripMargin

  // ================================================================ registry

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "h_knn_graph" -> (hKnnGraph _),
    "h_hnsw_audit" -> (hHnswAudit _),
    "h_dedup_impact" -> (hDedupImpact _),
    "h_dup_chao" -> (hDupChao _),
    "h_oov_curve" -> (hOovCurve _),
    "h_dedup_exact" -> (hDedupExact _),
    "h_dedup_bloom" -> (hDedupBloom _),
    "h_dedup_bloom_sharded" -> (hDedupBloomSharded _),
    "h_simhash_dedup" -> (hSimhashDedup _),
    "h_neardup_minhash" -> (hNeardupMinhash _),
    "h_dedup_incremental" -> (hDedupIncremental _),
    "h_jaccard_sim" -> (hJaccardSim _),
    "h_neardup_embedding" -> (hNeardupEmbedding _),
    "h_ann_brute" -> (hAnnBrute _),
    "h_ann_filtered" -> (hAnnFiltered _),
    "h_ann_lsh" -> (hAnnLsh _),
    "h_ann_ivf" -> (hAnnIvf _),
    "h_ann_recall" -> (hAnnRecall _),
    "h_cluster_purity" -> (hClusterPurity _),
    "h_token_quality" -> (hTokenQuality _),
    "h_text_stats" -> (hTextStats _),
    "h_lang_heuristic" -> (hLangHeuristic _),
    "h_langid_confusion" -> (hLangidConfusion _),
    "h_fingerprint" -> (hFingerprint _),
    "h_vocab_topk" -> (hVocabTopk _),
    "h_tokenize_ids" -> (hTokenizeIds _),
    "h_bpe_pairs" -> (hBpePairs _),
    "h_bpe_train" -> (hBpeTrain _),
    "h_bigram_lm" -> (hBigramLm _),
    "h_taxonomy_classify" -> (hTaxonomyClassify _),
    "h_winsorize" -> (hWinsorize _),
    "h_embed_truncate" -> (hEmbedTruncate _),
    "h_contam_embedding" -> (hContamEmbedding _),
    "h_ivfpq_codes" -> (hIvfPqCodes _),
    "h_ivfpq_search" -> (hIvfPqSearch _),
    "h_pq_recall" -> (hPqRecall _),
    "h_ivf_staleness" -> (hIvfStaleness _),
    "h_ivf_retrain" -> (hIvfRetrain _),
    "h_ivf_insert" -> (hIvfInsert _),
    "h_semdedup" -> (hSemDedup _),
    "h_lm_quality" -> (hLmQuality _),
    "h_tfidf" -> (hTfidf _),
    "h_modality_join" -> (hModalityJoin _),
    "h_scrub_redact" -> (hScrubRedact _),
    "h_len_histogram" -> (hLenHistogram _)
  )

  def oracle: Map[String, String] = Map(
    "h_knn_graph" -> hKnnGraphSql,
    "h_hnsw_audit" -> hHnswAuditSql,
    "h_dedup_impact" -> hDedupImpactSql,
    "h_dup_chao" -> hDupChaoSql,
    "h_oov_curve" -> hOovCurveSql,
    "h_ann_lsh" -> hAnnLshSql,
    "h_ann_ivf" -> hAnnIvfSql,
    "h_ann_recall" -> hAnnRecallSql,
    "h_cluster_purity" -> hClusterPuritySql,
    "h_token_quality" -> hTokenQualitySql,
    "h_dedup_exact" -> hDedupExactSql,
    "h_dedup_bloom" -> hDedupBloomSql,
    "h_dedup_bloom_sharded" -> hDedupBloomSql,
    "h_simhash_dedup" -> hSimhashDedupSql,
    "h_neardup_minhash" -> hNeardupMinhashSql,
    "h_dedup_incremental" -> hDedupIncrementalSql,
    "h_jaccard_sim" -> hJaccardSimSql,
    "h_neardup_embedding" -> hNeardupEmbeddingSql,
    "h_ann_brute" -> hAnnBruteSql,
    "h_ann_filtered" -> hAnnFilteredSql,
    "h_text_stats" -> hTextStatsSql,
    "h_lang_heuristic" -> hLangHeuristicSql,
    "h_langid_confusion" -> hLangidConfusionSql,
    "h_fingerprint" -> hFingerprintSql,
    "h_vocab_topk" -> hVocabTopkSql,
    "h_tokenize_ids" -> hTokenizeIdsSql,
    "h_bpe_pairs" -> hBpePairsSql,
    "h_bpe_train" -> hBpeTrainSql,
    "h_bigram_lm" -> hBigramLmSql,
    "h_taxonomy_classify" -> hTaxonomyClassifySql,
    "h_winsorize" -> hWinsorizeSql,
    "h_embed_truncate" -> hEmbedTruncateSql,
    "h_contam_embedding" -> hContamEmbeddingSql,
    "h_ivfpq_codes" -> hIvfPqCodesSql,
    "h_ivfpq_search" -> hIvfPqSearchSql,
    "h_pq_recall" -> hPqRecallSql,
    "h_ivf_staleness" -> hIvfStalenessSql,
    "h_ivf_retrain" -> hIvfRetrainSql,
    "h_ivf_insert" -> hIvfInsertSql,
    "h_semdedup" -> hSemDedupSql,
    "h_lm_quality" -> hLmQualitySql,
    "h_tfidf" -> hTfidfSql,
    "h_modality_join" -> hModalityJoinSql,
    "h_scrub_redact" -> hScrubRedactSql,
    "h_len_histogram" -> hLenHistogramSql
  )
}
