package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** SURVEY.md §2.2 group A beyond parquet scans: CSV and JSON read/write and
  * parquet write, proven by round-trip — the engine writes a format, reads
  * it back, and the aggregate of the round-tripped data must match the
  * oracle's aggregate of the original table. Numeric fidelity notes: doubles
  * survive CSV/JSON via Java's round-trippable rendering; sums go through
  * DECIMAL to be order-independent.
  */
object FormatOps {

  private def roundtripDir(sfDir: String, fmt: String): String = {
    val tag = sfDir.replaceAll("[^a-zA-Z0-9.]", "_")
    s"/tmp/graft-roundtrip/$tag/$fmt"
  }

  private def eventsSubset(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .filter(col("event_id") < 5000)

  private def aggShape(df: DataFrame): DataFrame =
    df.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))

  private val aggShapeSql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
      |  min(event_id) AS min_id, max(event_id) AS max_id
      |FROM events
      |WHERE event_id < 5000
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** CSV write → CSV read (explicit schema; headers on) → aggregate. */
  def aCsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = roundtripDir(dir, "csv")
    eventsSubset(s, dir).write.mode("overwrite").option("header", "true").csv(out)
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    aggShape(s.read.schema(schema).option("header", "true").csv(out))
  }

  /** JSON-lines write → read (schema inferred) → aggregate. */
  def aJsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = roundtripDir(dir, "json")
    eventsSubset(s, dir).write.mode("overwrite").json(out)
    aggShape(s.read.json(out).select(
      col("event_id").cast("long"), col("event_type"), col("value").cast("double")))
  }

  /** Parquet write → read → aggregate (the sink format of the testdata). */
  def aParquetRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = roundtripDir(dir, "parquet")
    eventsSubset(s, dir).write.mode("overwrite").parquet(out)
    aggShape(s.read.parquet(out))
  }

  /** ORC write → read → aggregate (the columnar alternative Spark ships
    * natively; same footer-statistics + predicate-pushdown story as
    * parquet, so a corpus stored in ORC needs no conversion step). */
  def aOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = roundtripDir(dir, "orc")
    eventsSubset(s, dir).write.mode("overwrite").orc(out)
    aggShape(s.read.orc(out))
  }

  /** Avro write → read → aggregate — the row-oriented interchange format
    * (Kafka/Connect lineages land corpora as Avro container files; Spark
    * 4 ships the format in core). Row-major means no column pruning at
    * the scan, so at 100 TB Avro is an INGEST format to convert from,
    * never the analytic store — the roundtrip proves the conversion path
    * both ways. */
  def aAvroRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = roundtripDir(dir, "avro")
    // the classes ship in spark-sql but this distribution's service file
    // doesn't alias "avro" — address the FileFormat by class name
    val avro = "org.apache.spark.sql.avro.AvroFileFormat"
    eventsSubset(s, dir).write.mode("overwrite").format(avro).save(out)
    aggShape(s.read.format(avro).load(out))
  }

  /** XML write → read (explicit schema; one row element per event) →
    * aggregate — the document-interchange path (feeds, dumps like
    * Wikipedia/PubMed arrive as XML; Spark 4 ships the former spark-xml
    * in core). Explicit schema on read: XML infers doubles loosely, and a
    * 100 TB ingest should never pay inference's extra pass anyway. */
  def aXmlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = roundtripDir(dir, "xml")
    eventsSubset(s, dir).write.mode("overwrite")
      .option("rowTag", "event").format("xml").save(out)
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    aggShape(s.read.schema(schema).option("rowTag", "event").format("xml").load(out))
  }

  /** Hive-style partitioned layout: write events bucketed into
    * `event_type=<v>/` directories, then read back ONE partition. The
    * filter must resolve at PLANNING time from directory names — the scan's
    * `PartitionFilters` — so a 100 TB corpus partitioned by date/source
    * reads only the matching directories and zero data files from the rest
    * (pinned in PlanAuditSpec: non-matching partitions contribute no input
    * files, and the filter sits in PartitionFilters, not a post-scan
    * Filter). Output aggregates the surviving partition so the oracle also
    * proves no rows leaked across the partition boundary. */
  def aPartitionedPrune(s: SparkSession, dir: String): DataFrame = {
    val out = roundtripDir(dir, "partitioned")
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    s.read.parquet(out)
      .filter(col("event_type") === "purchase")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))
  }

  val aPartitionedPruneSql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
      |  min(event_id) AS min_id, max(event_id) AS max_id
      |FROM events
      |WHERE event_type = 'purchase'
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Dynamic partition pruning — the RUNTIME companion to
    * [[aPartitionedPrune]]'s static pruning, and the feature that makes
    * star-schema joins over partitioned 100 TB facts readable: the set of
    * partitions to scan is not in the query text (the dim filter is an
    * md5 rule over values only known after reading), so Catalyst must
    * inject a `dynamicpruningexpression` subquery into the fact scan's
    * PartitionFilters, fed from the broadcast dim side. Without DPP the
    * fact scan reads every partition and the join discards most rows
    * after IO; with it, unmatched partitions are never opened. Pinned in
    * PlanAuditSpec; the dim's distinct-partition-values scan is
    * metadata-only (partition listing, no data files). */
  def aDppPrune(s: SparkSession, dir: String): DataFrame = {
    val out = roundtripDir(dir, "dpp")
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    s.read.parquet(out).createOrReplaceTempView("events_part")
    s.sql(
      """WITH dim AS (
        |  SELECT event_type FROM (SELECT DISTINCT event_type FROM events_part)
        |  WHERE substring(md5(event_type), 1, 1) < '8')
        |SELECT /*+ BROADCAST(d) */ f.event_type, count(*) AS n,
        |  CAST(sum(CAST(f.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events_part f JOIN dim d ON f.event_type = d.event_type
        |GROUP BY f.event_type
        |ORDER BY f.event_type""".stripMargin)
  }

  val aDppPruneSql: String =
    """WITH dim AS (
      |  SELECT event_type FROM (SELECT DISTINCT event_type FROM events)
      |  WHERE substring(md5(event_type), 1, 1) < '8')
      |SELECT e.event_type, count(*) AS n,
      |  CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM events e JOIN dim d ON e.event_type = d.event_type
      |GROUP BY e.event_type
      |ORDER BY e.event_type""".stripMargin

  /** Schema evolution — the other thing a multi-year 100 TB dataset is
    * guaranteed to have besides partitions: files written before a column
    * existed. Two generations of the events table are written with drifted
    * schemas (v2 adds `user_id`), then read back as ONE dataset with
    * `mergeSchema` — Spark unions the footers at planning time and fills
    * the missing column with nulls, so readers never fork on file vintage.
    * The aggregate proves the fill: `n_with_user`/`n_users` count only v2
    * rows because v1's user_id is null, while n/total_value span both
    * generations. Per-file schema reconciliation is metadata work
    * (footers, not data); the scan itself stays a plain pruned
    * columnar read. */
  def aSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val out = roundtripDir(dir, "evolve")
    val ev = Tables.load(s, dir, "events")
    ev.filter(pmod(col("event_id"), lit(2)) === 0)
      .select(col("event_id"), col("event_type"), col("value"))
      .write.mode("overwrite").parquet(s"$out/g1")
    ev.filter(pmod(col("event_id"), lit(2)) === 1)
      .select(col("event_id"), col("event_type"), col("value"), col("user_id"))
      .write.mode("overwrite").parquet(s"$out/g2")
    s.read.option("mergeSchema", "true").parquet(s"$out/g1", s"$out/g2")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"),
        count(col("user_id")).as("n_with_user"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))
  }

  /** DuckDB replay: v1 rows (even event_id) contribute no user_id, exactly
    * as the null-filled merged read does. */
  val aSchemaEvolutionSql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
      |  count(CASE WHEN event_id % 2 = 1 THEN user_id END) AS n_with_user,
      |  count(DISTINCT CASE WHEN event_id % 2 = 1 THEN user_id END) AS n_users
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Z-order clustering layout — the multi-dimensional companion to the two
    * pruning queries above. Static and dynamic pruning only help on columns
    * the layout is organized by; a 100 TB fact filtered on EITHER of two
    * keys needs a layout clustered in BOTH, which is what OPTIMIZE
    * ZORDER-style maintenance does: quantize each key into rank-space cells
    * (min/max-normalized here; 256 cells per dimension), interleave the
    * cell bits into a Morton code (codegen [[ZOrder2Expr]] — a static-call
    * projection on the scan), and assign rows to files by Morton-code
    * range. The query materializes that assignment (64 equal-z-range
    * buckets = files) and reports each bucket's min/max extent in BOTH
    * dimensions — the exact statistics a reader would prune on: every
    * bucket spans ≤ ~1/8 of each key domain (top 3 Morton bits per
    * dimension), so a point filter on either key touches ≤ ~1/8 of the
    * files. Everything before the final 64-row aggregate is scan-local:
    * one 1-row extremes broadcast, no global sort, no window — pinned in
    * PlanAuditSpec. */
  /** Zone-map skip-ratio audit — the min/max-statistics pruning study
    * that motivates every clustered layout in the lake (parquet row-group
    * stats, Iceberg/Delta file stats, [[aZorderLayout]]'s buckets): the
    * same orders table is assigned to synthetic files under TWO layouts —
    * `arrival` (hash of the key: dates scattered, the default
    * write-as-it-comes shape) and `clustered` (month files, the
    * time-partitioned shape) — each file gets its (min, max) orderdate
    * zone map, and six one-year predicates are evaluated against the
    * maps alone. Per (layout, year): files skipped, rows in scanned
    * files, true matching rows — the read-amplification evidence that a
    * date-clustered layout turns a year filter into an ~11/12 file skip
    * while the arrival layout reads everything. Dates are carried as
    * yyyymmdd BIGINTs so every comparison is pure integer cross-engine.
    *
    * Scale shape: one scan → the (layout, file) zone-map aggregate
    * (map-side partials; the exchange carries files×layouts rows) and a
    * per-year match-count aggregate; the predicate probe is a
    * ≤(files×years)-row broadcast cross. Nothing corpus-sized crosses an
    * exchange after the two aggregates. */
  def aZonemapSkip(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "orders")
    s.sql(
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(year(o_orderdate) * 10000 + month(o_orderdate) * 100
        |         + day(o_orderdate) AS BIGINT) AS d
        |  FROM orders),
        |tagged AS (
        |  SELECT layout,
        |    CASE WHEN layout = 'arrival' THEN k % 64 ELSE d DIV 100 END AS file_id,
        |    d
        |  FROM base LATERAL VIEW explode(array('arrival', 'clustered')) t AS layout),
        |zones AS (
        |  SELECT layout, file_id, count(*) AS n, min(d) AS mn, max(d) AS mx
        |  FROM tagged GROUP BY layout, file_id),
        |years AS (SELECT explode(sequence(1995, 2000)) AS yr),
        |probe AS (
        |  SELECT z.layout, y.yr, z.n,
        |    CASE WHEN z.mx < y.yr * 10000 + 101
        |           OR z.mn >= (y.yr + 1) * 10000 + 101
        |         THEN 1 ELSE 0 END AS skipped
        |  FROM zones z CROSS JOIN years y),
        |match_counts AS (
        |  SELECT d DIV 10000 AS yr, count(*) AS n_match FROM base
        |  GROUP BY d DIV 10000)
        |SELECT p.layout, CAST(p.yr AS BIGINT) AS yr, count(*) AS n_files,
        |  CAST(sum(p.skipped) AS BIGINT) AS n_skipped,
        |  CAST(sum(CASE WHEN p.skipped = 0 THEN p.n ELSE 0 END) AS BIGINT)
        |    AS rows_scanned,
        |  CAST(max(coalesce(m.n_match, 0L)) AS BIGINT) AS n_match,
        |  CAST(1000L * sum(p.skipped) DIV count(*) AS BIGINT) AS skip_milli
        |FROM probe p LEFT JOIN match_counts m ON p.yr = m.yr
        |GROUP BY p.layout, p.yr
        |ORDER BY p.layout, yr""".stripMargin)
  }

  val aZonemapSkipSql: String =
    """WITH base AS (
      |  SELECT CAST(o_orderkey AS BIGINT) AS k,
      |    CAST(year(o_orderdate) * 10000 + month(o_orderdate) * 100
      |         + day(o_orderdate) AS BIGINT) AS d
      |  FROM orders),
      |tagged AS (
      |  SELECT layout,
      |    CASE WHEN layout = 'arrival' THEN k % 64 ELSE d // 100 END AS file_id,
      |    d
      |  FROM base, (SELECT unnest(['arrival', 'clustered']) AS layout) t),
      |zones AS (
      |  SELECT layout, file_id, count(*) AS n, min(d) AS mn, max(d) AS mx
      |  FROM tagged GROUP BY layout, file_id),
      |years AS (SELECT unnest(range(1995, 2001)) AS yr),
      |probe AS (
      |  SELECT z.layout, y.yr, z.n,
      |    CASE WHEN z.mx < y.yr * 10000 + 101
      |           OR z.mn >= (y.yr + 1) * 10000 + 101
      |         THEN 1 ELSE 0 END AS skipped
      |  FROM zones z CROSS JOIN years y),
      |match_counts AS (
      |  SELECT d // 10000 AS yr, count(*) AS n_match FROM base
      |  GROUP BY d // 10000)
      |SELECT p.layout, CAST(p.yr AS BIGINT) AS yr, count(*) AS n_files,
      |  CAST(sum(p.skipped) AS BIGINT) AS n_skipped,
      |  CAST(sum(CASE WHEN p.skipped = 0 THEN p.n ELSE 0 END) AS BIGINT)
      |    AS rows_scanned,
      |  CAST(max(coalesce(m.n_match, 0)) AS BIGINT) AS n_match,
      |  CAST(1000 * sum(p.skipped) // count(*) AS BIGINT) AS skip_milli
      |FROM probe p LEFT JOIN match_counts m ON p.yr = m.yr
      |GROUP BY p.layout, p.yr
      |ORDER BY p.layout, yr""".stripMargin

  def aZorderLayout(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "lineitem")
      .select(col("l_partkey").cast("long").as("pk"), col("l_suppkey").cast("long").as("sk"))
      .createOrReplaceTempView("zorder_keys")
    s.sql(
      """WITH ext AS (
        |  SELECT min(pk) AS mn_pk, max(pk) AS mx_pk,
        |         min(sk) AS mn_sk, max(sk) AS mx_sk
        |  FROM zorder_keys),
        |cells AS (
        |  SELECT pk, sk,
        |    (pk - mn_pk) * 256 div (mx_pk - mn_pk + 1) AS cx,
        |    (sk - mn_sk) * 256 div (mx_sk - mn_sk + 1) AS cy
        |  FROM zorder_keys CROSS JOIN ext),
        |zb AS (SELECT pk, sk, zorder2(cx, cy) div 1024 AS bucket FROM cells)
        |SELECT bucket, count(*) AS n,
        |  min(pk) AS min_pk, max(pk) AS max_pk,
        |  min(sk) AS min_sk, max(sk) AS max_sk,
        |  max(pk) - min(pk) AS span_pk, max(sk) - min(sk) AS span_sk
        |FROM zb GROUP BY bucket ORDER BY bucket""".stripMargin)
  }

  /** DuckDB replay: same quantization, with the Morton interleave expanded
    * into the parallel-prefix spread steps (kernel ZOrder.spread16 —
    * masks 0x00FF00FF / 0x0F0F0F0F / 0x33333333 / 0x55555555 in decimal). */
  val aZorderLayoutSql: String =
    """WITH base AS (
      |  SELECT CAST(l_partkey AS BIGINT) AS pk, CAST(l_suppkey AS BIGINT) AS sk
      |  FROM lineitem),
      |ext AS (
      |  SELECT min(pk) AS mn_pk, max(pk) AS mx_pk,
      |         min(sk) AS mn_sk, max(sk) AS mx_sk FROM base),
      |cells AS (
      |  SELECT pk, sk,
      |    (pk - mn_pk) * 256 // (mx_pk - mn_pk + 1) AS cx,
      |    (sk - mn_sk) * 256 // (mx_sk - mn_sk + 1) AS cy
      |  FROM base CROSS JOIN ext),
      |s1 AS (SELECT pk, sk, (cx | (cx << 8)) & 16711935 AS ax,
      |                      (cy | (cy << 8)) & 16711935 AS ay FROM cells),
      |s2 AS (SELECT pk, sk, (ax | (ax << 4)) & 252645135 AS ax,
      |                      (ay | (ay << 4)) & 252645135 AS ay FROM s1),
      |s3 AS (SELECT pk, sk, (ax | (ax << 2)) & 858993459 AS ax,
      |                      (ay | (ay << 2)) & 858993459 AS ay FROM s2),
      |s4 AS (SELECT pk, sk, (ax | (ax << 1)) & 1431655765 AS ax,
      |                      (ay | (ay << 1)) & 1431655765 AS ay FROM s3),
      |zb AS (SELECT pk, sk, (ax | (ay << 1)) // 1024 AS bucket FROM s4)
      |SELECT bucket, count(*) AS n,
      |  min(pk) AS min_pk, max(pk) AS max_pk,
      |  min(sk) AS min_sk, max(sk) AS max_sk,
      |  max(pk) - min(pk) AS span_pk, max(sk) - min(sk) AS span_sk
      |FROM zb GROUP BY bucket ORDER BY bucket""".stripMargin

  /** D: approx_count_distinct (HLL++). The estimate is engine-specific, so
    * the cross-engine check asserts the tolerance contract instead: the
    * estimate lands within 5×rsd of exact (rsd=0.01 ⇒ ±5 %).
    *
    * Plan shape: `countDistinct` and `approx_count_distinct` in ONE `agg`
    * makes Catalyst Expand the scan (one replica per distinct-aggregate
    * group) — 6× slower in the round-3 bench. Deduping the key column first
    * lets both aggregates run over the distinct set in a single pruned
    * pass: exact = count, and HLL over a set equals HLL over the multiset. */
  def dAggApprox(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .select(col("l_partkey"))
      // NULL keys would count as a distinct value under count(*)-over-distinct
      // but are excluded by COUNT(DISTINCT) in the oracle — drop them first
      .filter(col("l_partkey").isNotNull)
      .distinct()
      .agg(
        count(lit(1)).as("n_exact"),
        approx_count_distinct(col("l_partkey"), 0.01).as("est"))
      .select(
        col("n_exact"),
        (abs(col("est") - col("n_exact")).cast("double") / col("n_exact") <= 0.05)
          .as("within_tolerance"))

  val dAggApproxSql: String =
    """SELECT count(DISTINCT l_partkey) AS n_exact, true AS within_tolerance
      |FROM lineitem""".stripMargin

  /** Mergeable-sketch distinct counting — the property that makes
    * approximate aggregates actually work at 100 TB: each shard builds its
    * own HLL sketch independently (here 8 hash shards standing in for 8
    *000 files/partitions), the sketches — a few KB each, NOT the raw keys
    * — are unioned, and the merged estimate must still land within
    * tolerance of the exact per-group distinct count. This is what lets a
    * daily pipeline keep per-partition sketches and answer "distinct
    * customers this quarter" without ever re-scanning the quarter.
    * `lgConfigK = 14` (Spark's datasketches HLL, ±~1 % rse) against the
    * same ±5 % contract [[dAggApprox]] pins; DuckDB supplies the exact
    * side, the boolean carries the sketch-union verdict. */
  def dHllUnion(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "orders")
    s.sql(
      """WITH shard AS (
        |  SELECT o_orderstatus, o_orderkey % 8 AS shard,
        |    hll_sketch_agg(o_custkey, 14) AS sk
        |  FROM orders GROUP BY o_orderstatus, o_orderkey % 8),
        |merged AS (
        |  SELECT o_orderstatus, hll_sketch_estimate(hll_union_agg(sk)) AS est
        |  FROM shard GROUP BY o_orderstatus),
        |exact AS (
        |  SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_exact
        |  FROM orders GROUP BY o_orderstatus)
        |SELECT e.o_orderstatus, e.n_exact,
        |  abs(m.est - e.n_exact) / CAST(e.n_exact AS DOUBLE) <= 0.05
        |    AS within_tolerance
        |FROM exact e JOIN merged m ON e.o_orderstatus = m.o_orderstatus
        |ORDER BY e.o_orderstatus""".stripMargin)
  }

  val dHllUnionSql: String =
    """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_exact,
      |  true AS within_tolerance
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Hidden metadata columns (`_metadata.file_path`) — row-level file
    * provenance, the lineage question every corpus audit asks ("which
    * input file produced this row?") answered without any bookkeeping
    * column in the data. The query recovers each row's partition value
    * from its file path and proves it consistent with the data column —
    * per partition, every row's path must embed its own event_type. The
    * metadata struct is populated at scan time from the file index (no
    * extra IO); the consistency flag collapses in the partial aggregate. */
  def aProvenance(s: SparkSession, dir: String): DataFrame = {
    val out = roundtripDir(dir, "provenance")
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    s.read.parquet(out)
      .select(col("event_type"),
        // Hive layouts %-escape special chars in directory names —
        // url_decode recovers the raw value (null partitions would land
        // in __HIVE_DEFAULT_PARTITION__ and are absent from this fixture)
        url_decode(regexp_extract(col("_metadata.file_path"), "event_type=([^/]+)/", 1))
          .as("from_path"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        (sum(when(col("from_path") === col("event_type"), 0).otherwise(1)) === 0)
          .as("path_consistent"))
      .orderBy(col("event_type"))
  }

  /** DuckDB supplies the exact counts; path consistency must hold by
    * construction of the Hive-partitioned layout. */
  val aProvenanceSql: String =
    """SELECT event_type, count(*) AS n, true AS path_consistent
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Count-min-sketch heavy hitters — the last member of the sketch
    * family ([[dAggApprox]] HLL distinct, [[dApproxQuantile]] KLL
    * quantiles, `h_dedup_bloom` membership; this is FREQUENCY). The
    * distributed `count_min_sketch` aggregate builds map-side partial
    * sketches that merge associatively — only the ~KB sketch reaches the
    * driver, never per-key state — and the driver probes it for the exact
    * top-10 keys. The sketch contract is the output: CMS never
    * under-counts (`est ≥ exact`), and over-counts by at most ε·N with
    * probability 1−δ (ε=0.001, δ=0.01 ⇒ slack = ⌈0.001·N⌉ — with 10
    * probes the 1 % per-probe failure bound stays comfortably clear).
    * The driver-side collect is a bounded top-10 + one sketch row — the
    * same scale posture as the Bloom build. */
  def dHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.util.sketch.CountMinSketch
    val li = Tables.load(s, dir, "lineitem")
    val sketchBytes = li
      .select(expr("count_min_sketch(l_partkey, CAST(0.001 AS DOUBLE), CAST(0.99 AS DOUBLE), 42)").as("sk"))
      .head.getAs[Array[Byte]](0)
    val cms = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(sketchBytes))
    val n = cms.totalCount() // N rides the sketch — no extra fact-table scan
    val top = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("l_partkey")).limit(10).collect()
    val slack = math.ceil(0.001 * n).toLong
    import s.implicits._
    top.toSeq.map { r =>
      val k = r.getLong(0); val ne = r.getLong(1)
      val est = cms.estimateCount(java.lang.Long.valueOf(k))
      (k, ne, est >= ne && est <= ne + slack)
    }.toDF("l_partkey", "n_exact", "cms_ok")
      .orderBy(col("n_exact").desc, col("l_partkey"))
  }

  /** DuckDB supplies the exact top-10; the booleans carry the sketch
    * verdict (must hold by the CMS bound). */
  val dHeavyHittersSql: String =
    """SELECT l_partkey, count(*) AS n_exact, true AS cms_ok
      |FROM lineitem GROUP BY l_partkey
      |ORDER BY n_exact DESC, l_partkey LIMIT 10""".stripMargin

  /** ANALYZE-style column statistics — the optimizer-stats collection
    * pass: per column, distinct-value count, null count, and min/max in
    * a type-stable string representation. These are exactly the CBO
    * inputs that drive join reorder, broadcast-threshold, and
    * filter-selectivity decisions; an engine that cannot collect them
    * cannot feed its own optimizer. Profiled over `orders` across all
    * four type classes (BIGINT key, low-cardinality STRING, DOUBLE
    * measure in floor-cents, TIMESTAMP in yyyy-MM-dd).
    *
    * Scale shape: ONE scan — the four `count(DISTINCT)`s plan as a
    * single Expand (×4) aggregate with map-side partial distincts, so
    * the exchange carries per-column ndv-sized partials, never rows.
    * Exact ndv is kept for cross-engine determinism (the oracle must
    * hash-match); a production ANALYZE at 100 TB swaps in the mergeable
    * HLL this engine also ships (`d_agg_approx`/`d_hll_union`) for the
    * high-cardinality columns — same plan shape, sketch-sized exchange. */
  def aColumnStats(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "orders")
    Checkpoints.widen(Tables.load(s, dir, "orders").select(
      "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"))
      .createOrReplaceTempView("orders_w")
    // Round 21: the ndv counts and the min/max live in SEPARATE aggregates.
    // Mixed into one, the STRING min/max buffers (o_orderstatus) disqualify
    // the whole node from HashAggregate, so the Expand ×4 distinct chain
    // planned as Sort + SortAggregate ×4 over the expanded stream — the
    // suite's only fully serial plan (8-core == 32-core) and 4.3 s solo.
    // Split, the distinct chain is counts-only (longs in the buffer,
    // strings ride as grouping keys, which HashAggregate handles) and the
    // min/max pass is a global aggregate — SortAggregate without grouping
    // keys needs NO sort, one streaming pass. The two 1-row results
    // cross-join for free. 4.32 → 1.96/2.10 s solo; same rows, same oracle.
    s.sql(
      """WITH d AS (
        |  SELECT count(*) AS n,
        |    count(DISTINCT o_orderkey) AS ndv1, count(o_orderkey) AS nn1,
        |    count(DISTINCT o_orderstatus) AS ndv2, count(o_orderstatus) AS nn2,
        |    count(DISTINCT o_totalprice) AS ndv3, count(o_totalprice) AS nn3,
        |    count(DISTINCT o_orderdate) AS ndv4, count(o_orderdate) AS nn4
        |  FROM orders_w),
        |mm AS (
        |  SELECT
        |    CAST(min(o_orderkey) AS STRING) AS mn1, CAST(max(o_orderkey) AS STRING) AS mx1,
        |    min(o_orderstatus) AS mn2, max(o_orderstatus) AS mx2,
        |    CAST(CAST(floor(min(o_totalprice) * 100) AS BIGINT) AS STRING) AS mn3,
        |    CAST(CAST(floor(max(o_totalprice) * 100) AS BIGINT) AS STRING) AS mx3,
        |    date_format(min(o_orderdate), 'yyyy-MM-dd') AS mn4,
        |    date_format(max(o_orderdate), 'yyyy-MM-dd') AS mx4
        |  FROM orders)
        |SELECT stack(4,
        |  'o_orderkey',    ndv1, n - nn1, mn1, mx1,
        |  'o_orderstatus', ndv2, n - nn2, mn2, mx2,
        |  'o_totalprice',  ndv3, n - nn3, mn3, mx3,
        |  'o_orderdate',   ndv4, n - nn4, mn4, mx4
        |) AS (col_name, ndv, n_nulls, min_repr, max_repr)
        |FROM d, mm ORDER BY col_name""".stripMargin)
  }

  /** DuckDB stacks via UNION ALL from the same 1-row aggregate. */
  val aColumnStatsSql: String =
    """WITH a AS (
      |  SELECT count(*) AS n,
      |    count(DISTINCT o_orderkey) AS ndv1, count(o_orderkey) AS nn1,
      |    CAST(min(o_orderkey) AS VARCHAR) AS mn1, CAST(max(o_orderkey) AS VARCHAR) AS mx1,
      |    count(DISTINCT o_orderstatus) AS ndv2, count(o_orderstatus) AS nn2,
      |    min(o_orderstatus) AS mn2, max(o_orderstatus) AS mx2,
      |    count(DISTINCT o_totalprice) AS ndv3, count(o_totalprice) AS nn3,
      |    CAST(CAST(floor(min(o_totalprice) * 100) AS BIGINT) AS VARCHAR) AS mn3,
      |    CAST(CAST(floor(max(o_totalprice) * 100) AS BIGINT) AS VARCHAR) AS mx3,
      |    count(DISTINCT o_orderdate) AS ndv4, count(o_orderdate) AS nn4,
      |    strftime(min(o_orderdate), '%Y-%m-%d') AS mn4,
      |    strftime(max(o_orderdate), '%Y-%m-%d') AS mx4
      |  FROM orders)
      |SELECT col_name, ndv, n_nulls, min_repr, max_repr FROM (
      |  SELECT 'o_orderkey' AS col_name, ndv1 AS ndv, n - nn1 AS n_nulls,
      |    mn1 AS min_repr, mx1 AS max_repr FROM a
      |  UNION ALL
      |  SELECT 'o_orderstatus', ndv2, n - nn2, mn2, mx2 FROM a
      |  UNION ALL
      |  SELECT 'o_totalprice', ndv3, n - nn3, mn3, mx3 FROM a
      |  UNION ALL
      |  SELECT 'o_orderdate', ndv4, n - nn4, mn4, mx4 FROM a)
      |ORDER BY col_name""".stripMargin

  /** The 100 TB path of [[aColumnStats]], promoted from COVERAGE.md prose
    * to a contract-gated query: per-column ndv via mergeable HLL sketches
    * (lgConfigK=14, ~0.8 % rse) against the exact ndv, under the same
    * ±5 % tolerance boolean [[dAggApprox]] pins. The sketch pass is the
    * plan a production ANALYZE actually runs at scale — all four columns
    * in ONE un-Expanded aggregate (sketches are plain aggregates, not
    * distinct-aggregates, so Catalyst does not replicate the scan) with
    * map-side partial sketches and a few-KB exchange. The exact side
    * (needed only for the cross-engine contract) reuses the Expand
    * multi-distinct pass; the two 1-row aggregates combine by cross join.
    * Non-sketchable types ride casts: DOUBLE money → floor-cents BIGINT,
    * TIMESTAMP → yyyy-MM-dd (the same representations [[aColumnStats]]
    * uses for min/max). floor-cents is not strictly injective under FP
    * (two distinct doubles can land in one cent bucket), so the exact arm
    * counts the SAME floor-cents cast — the tolerance boolean then
    * measures pure HLL error, not representation mismatch. */
  def aColumnStatsApprox(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "orders")
    s.sql(
      """WITH sk AS (
        |  SELECT
        |    hll_sketch_estimate(hll_sketch_agg(o_orderkey, 14)) AS e1,
        |    hll_sketch_estimate(hll_sketch_agg(o_orderstatus, 14)) AS e2,
        |    hll_sketch_estimate(hll_sketch_agg(
        |      CAST(floor(o_totalprice * 100) AS BIGINT), 14)) AS e3,
        |    hll_sketch_estimate(hll_sketch_agg(
        |      date_format(o_orderdate, 'yyyy-MM-dd'), 14)) AS e4
        |  FROM orders),
        |ex AS (
        |  SELECT
        |    count(DISTINCT o_orderkey) AS n1,
        |    count(DISTINCT o_orderstatus) AS n2,
        |    count(DISTINCT CAST(floor(o_totalprice * 100) AS BIGINT)) AS n3,
        |    count(DISTINCT o_orderdate) AS n4
        |  FROM orders)
        |SELECT col_name, ndv_exact,
        |  abs(est - ndv_exact) / CAST(ndv_exact AS DOUBLE) <= 0.05
        |    AS within_tolerance
        |FROM (
        |  SELECT stack(4,
        |    'o_orderkey',    n1, e1,
        |    'o_orderstatus', n2, e2,
        |    'o_totalprice',  n3, e3,
        |    'o_orderdate',   n4, e4
        |  ) AS (col_name, ndv_exact, est)
        |  FROM ex CROSS JOIN sk)
        |ORDER BY col_name""".stripMargin)
  }

  /** DuckDB supplies the exact ndv; the boolean carries the sketch
    * verdict (must hold by the HLL rse bound). */
  val aColumnStatsApproxSql: String =
    """SELECT col_name, ndv_exact, true AS within_tolerance FROM (
      |  SELECT 'o_orderkey' AS col_name,
      |    count(DISTINCT o_orderkey) AS ndv_exact FROM orders
      |  UNION ALL
      |  SELECT 'o_orderstatus', count(DISTINCT o_orderstatus) FROM orders
      |  UNION ALL
      |  SELECT 'o_totalprice',
      |    count(DISTINCT CAST(floor(o_totalprice * 100) AS BIGINT)) FROM orders
      |  UNION ALL
      |  SELECT 'o_orderdate', count(DISTINCT o_orderdate) FROM orders)
      |ORDER BY col_name""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a_column_stats" -> (aColumnStats _),
    "a_column_stats_approx" -> (aColumnStatsApprox _),
    "a_csv_roundtrip" -> (aCsvRoundtrip _),
    "a_json_roundtrip" -> (aJsonRoundtrip _),
    "a_parquet_roundtrip" -> (aParquetRoundtrip _),
    "a_orc_roundtrip" -> (aOrcRoundtrip _),
    "a_avro_roundtrip" -> (aAvroRoundtrip _),
    "a_xml_roundtrip" -> (aXmlRoundtrip _),
    "a_partitioned_prune" -> (aPartitionedPrune _),
    "a_dpp_prune" -> (aDppPrune _),
    "a_zonemap_skip" -> (aZonemapSkip _),
    "a_zorder_layout" -> (aZorderLayout _),
    "a_schema_evolution" -> (aSchemaEvolution _),
    "d_agg_approx" -> (dAggApprox _),
    "d_hll_union" -> (dHllUnion _),
    "d_heavy_hitters" -> (dHeavyHitters _),
    "a_provenance" -> (aProvenance _)
  )

  def oracle: Map[String, String] = Map(
    "a_column_stats" -> aColumnStatsSql,
    "a_column_stats_approx" -> aColumnStatsApproxSql,
    "a_csv_roundtrip" -> aggShapeSql,
    "a_json_roundtrip" -> aggShapeSql,
    "a_parquet_roundtrip" -> aggShapeSql,
    "a_orc_roundtrip" -> aggShapeSql,
    "a_avro_roundtrip" -> aggShapeSql,
    "a_xml_roundtrip" -> aggShapeSql,
    "a_partitioned_prune" -> aPartitionedPruneSql,
    "a_dpp_prune" -> aDppPruneSql,
    "a_zonemap_skip" -> aZonemapSkipSql,
    "a_zorder_layout" -> aZorderLayoutSql,
    "a_schema_evolution" -> aSchemaEvolutionSql,
    "d_agg_approx" -> dAggApproxSql,
    "d_hll_union" -> dHllUnionSql,
    "d_heavy_hitters" -> dHeavyHittersSql,
    "a_provenance" -> aProvenanceSql
  )
}
