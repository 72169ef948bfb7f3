package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions
import graft.kernel.KplPacker

/** SURVEY.md §2.2 group G: the reference pipeline (dedup → pack →
  * Kinesis entries → deaggregate), replayed as batch SQL over `events` so
  * the DuckDB oracle can verify the *relational* result while the codec is
  * verified by the in-query round-trip (mirrors aggregator_test.go:118-138).
  *
  * Scale notes: packing streams each partition's sorted iterator through
  * [[KplPacker]] — the same shape as the streaming path
  * (graft.streaming.BatchWriter) — so no group is ever materialized whole;
  * an unbounded event_type stays O(targetSize) in memory. Dedup is a
  * hash-groupBy — one shuffle on the 64-bit body hash, the same layout
  * Spark would use for dropDuplicates.
  */
object PipelineQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Pack each event_type's props (ordered by event_id) into KPL entries,
    * deaggregate them back, and report per-group record count, byte volume
    * and distinct partition keys — all verifiable by DuckDB directly
    * against `events`.
    *
    * Physical shape: hash-repartition on event_type (whole groups
    * co-located), sortWithinPartitions for the deterministic packing order,
    * then a streaming per-partition fold — one packer per contiguous run of
    * equal keys, flushed at each key change. Memory is bounded by one
    * in-progress aggregate (≤ targetSize), never a whole group. */
  def gKplRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val packed = t(s, dir, "events")
      .select(col("event_type"), col("event_id").cast("long").as("event_id"),
        encode(col("props"), "UTF-8").as("body"))
      .repartition(col("event_type"))
      .sortWithinPartitions(col("event_type"), col("event_id"))
      .select(col("event_type"), col("body"))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        val rows = it.buffered
        new Iterator[(String, Array[Byte])] {
          private var out: Iterator[(String, Array[Byte])] = Iterator.empty
          def hasNext: Boolean = out.hasNext || rows.hasNext
          def next(): (String, Array[Byte]) = {
            if (!out.hasNext) {
              val key = rows.head._1
              val p = new KplPacker()
              while (rows.hasNext && rows.head._1 == key) p.put(rows.next()._2, key)
              out = p.drain().iterator.map(e => (key, e.data))
            }
            out.next()
          }
        }
      }
      .toDF("event_type", "data")
    packed
      // native Generator: one framed aggregate explodes straight to rows
      .selectExpr("event_type", "kpl_deaggregate_rows(data)")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_records"),
        sum(length(col("data"))).cast("long").as("total_bytes"),
        countDistinct(col("partition_key")).as("n_keys"))
      .orderBy(col("event_type"))
  }

  val gKplRoundtripSql: String =
    """SELECT event_type,
      |  count(*) AS n_records,
      |  CAST(sum(strlen(props)) AS BIGINT) AS total_bytes,
      |  CAST(1 AS BIGINT) AS n_keys
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** At-least-once replay: deliver every event twice, dedup on the FNV-64a
    * body hash (O3), count survivors per type — must equal the original
    * per-type counts. */
  def gDedupReplay(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(
        encode(concat(col("event_id").cast("string"), lit("|"), col("props")), "UTF-8").as("body"),
        col("event_type"))
    ev.union(ev) // redelivery
      .withColumn("h", GraftFunctions.fnv64a(col("body")))
      .groupBy(col("h"))
      .agg(first(col("event_type")).as("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_unique"))
      .orderBy(col("event_type"))
  }

  val gDedupReplaySql: String =
    """SELECT event_type, count(*) AS n_unique
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Oversize filter (O6) + partition-key rule (O9) in batch form: events
    * with body ≤ 1 MiB keep flowing; keys 1–255 chars pass through, others
    * derive from the body hash. DuckDB can't express fnv64a, so the oracle
    * checks the SQL-visible part: per-type counts of valid vs derived keys. */
  def gPartitionKeys(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(expr("octet_length(props)") <= 1024 * 1024) // O6 oversize drop (byte length, kinesis_writer.go:167-170)
      .select(
        col("event_type"),
        encode(col("props"), "UTF-8").as("body"),
        when(col("event_id") % 2 === 0, col("event_type")).otherwise(lit("")).as("user_key"))
    ev.select(
        col("event_type"),
        GraftFunctions.partitionKey(col("body"), col("user_key")).as("pk"),
        col("user_key"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("pk") === col("user_key"), 1L).otherwise(0L)).as("n_user_keyed"))
      .orderBy(col("event_type"))
  }

  val gPartitionKeysSql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_user_keyed
      |FROM events
      |WHERE strlen(props) <= 1048576
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Shard-targeted routing end-to-end (round-5 verdict task #2): pack each
    * event with an explicit hash key derived from its id, deaggregate with
    * the native Generator, and verify the per-record (body ↔ EHK) pairing
    * survives the dictionary-encoded envelope — if `explicit_hash_key_table`
    * or the per-record indices were mis-encoded, `n_ehk_paired` would fall
    * short of `n_records` and the oracle hash would break.
    *
    * Same physical shape as [[gKplRoundtrip]]: one shuffle on event_type,
    * per-partition streaming packer, memory bounded by one aggregate. */
  def gEhkRouting(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val packed = t(s, dir, "events")
      .select(col("event_type"), col("event_id").cast("long").as("event_id"),
        encode(concat(col("event_id").cast("string"), lit("|"), col("props")), "UTF-8").as("body"),
        ((col("event_id").cast("long") * 2654435761L) % 1000000007L).cast("string").as("ehk"))
      .repartition(col("event_type"))
      .sortWithinPartitions(col("event_type"), col("event_id"))
      .select(col("event_type"), col("body"), col("ehk"))
      .as[(String, Array[Byte], String)]
      .mapPartitions { it =>
        val rows = it.buffered
        new Iterator[(String, Array[Byte])] {
          private var out: Iterator[(String, Array[Byte])] = Iterator.empty
          def hasNext: Boolean = out.hasNext || rows.hasNext
          def next(): (String, Array[Byte]) = {
            if (!out.hasNext) {
              val key = rows.head._1
              val p = new KplPacker()
              while (rows.hasNext && rows.head._1 == key) {
                val row = rows.next()
                p.put(row._2, key, row._3)
              }
              out = p.drain().iterator.map(e => (key, e.data))
            }
            out.next()
          }
        }
      }
      .toDF("event_type", "data")
    packed
      .selectExpr("event_type", "kpl_deaggregate_rows(data)")
      .withColumn("rec_id", split(decode(col("data"), "UTF-8"), "\\|").getItem(0).cast("long"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_records"),
        sum(when(col("explicit_hash_key") ===
          ((col("rec_id") * 2654435761L) % 1000000007L).cast("string"), 1L).otherwise(0L))
          .as("n_ehk_paired"),
        countDistinct(col("explicit_hash_key")).as("n_ehks"))
      .orderBy(col("event_type"))
  }

  val gEhkRoutingSql: String =
    """SELECT event_type,
      |  count(*) AS n_records,
      |  count(*) AS n_ehk_paired,
      |  CAST(count(DISTINCT (event_id * 2654435761) % 1000000007) AS BIGINT) AS n_ehks
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Batch replay of the streaming session window
    * (graft.streaming.WindowedStats / SessionWindowSpec): gap-based
    * sessionization per user — a new session starts after > 30 min of
    * inactivity; emitted as (user, session_idx, count, start, end).
    *
    * The declarative islands form (lag → flag → running sum) shuffles once
    * on user_id and reuses that partitioning for both windows and the final
    * aggregate — the exact layout `session_window()` uses in streaming.
    * Times stay in epoch micros (BIGINT) end-to-end via the canonical
    * `tus` column (Tables.tusColumn owns the physical-encoding
    * dispatch); integer micros are the cross-engine-stable
    * representation. */
  def gSessionWindow(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "events")
    s.sql(
      """WITH e AS (
        |  SELECT user_id, event_id, tus FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, tus,
        |    CASE WHEN tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
        |              > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |sess AS (
        |  SELECT user_id, tus,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS session_idx
        |  FROM flagged)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |  min(tus) AS start_us, max(tus) AS end_us
        |FROM sess
        |GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin)
  }

  val gSessionWindowSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, tus,
      |    CASE WHEN tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
      |              > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM e),
      |sess AS (
      |  SELECT user_id, tus,
      |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS BIGINT) AS session_idx
      |  FROM flagged)
      |SELECT user_id, session_idx, count(*) AS n_events,
      |  min(tus) AS start_us, max(tus) AS end_us
      |FROM sess
      |GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""".stripMargin

  /** Batch replay of the SLIDING event-time window — the third member of
    * the window-type triple next to [[gSessionWindow]] (gap-based) and the
    * streaming tumbling form (graft.streaming.WindowedStats): Spark's
    * native `window(t, '10 minutes', '5 minutes')`, which expands each row
    * into window/slide = 2 epoch-aligned assignments map-side and then
    * hash-aggregates on (window, type). The expansion factor — not the
    * corpus — is the cost knob at 100 TB, and partial aggregation runs
    * before the shuffle, so the exchange carries windows×types, not rows.
    * Times leave as epoch micros (BIGINT) for cross-engine stability; the
    * oracle replays the assignment as a two-shift union. */
  def gSlidingWindow(s: SparkSession, dir: String): DataFrame =
    Tables.eventsCanonical(s, dir)
      .select(timestamp_micros(col("tus")).as("t"),
        col("event_type"), col("value"))
      .groupBy(window(col("t"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy(col("win_start_us"), col("event_type"))

  val gSlidingWindowSql: String =
    """WITH e AS (SELECT epoch_us(ts) AS tus, event_type, value FROM events),
      |w AS (
      |  SELECT (tus // 300000000) * 300000000 AS win_start_us, event_type, value FROM e
      |  UNION ALL
      |  SELECT (tus // 300000000) * 300000000 - 300000000, event_type, value FROM e)
      |SELECT win_start_us, event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM w
      |GROUP BY win_start_us, event_type
      |ORDER BY win_start_us, event_type""".stripMargin

  /** Batch replay of watermark late-data accounting: which rows would a
    * 5-minute-allowed-lateness watermark drop? Events arrive over 4 source
    * shards (event_id % 4) in event_id order; every 13th event's timestamp
    * is planted 60 minutes back to simulate late arrival (the raw table is
    * near-ordered, so unplanted lateness is ~0). A row is late when its
    * event time trails the shard's running-max event time by more than the
    * allowed lateness — the same per-partition high-watermark bookkeeping
    * Structured Streaming runs before the global min across partitions
    * (WindowedStats carries the live form). The running max is a
    * shard-partitioned window, so the replay parallelizes per shard — no
    * global sort. */
  def gLateData(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "events")
    s.sql(
      """WITH e AS (
        |  SELECT event_id, event_id % 4 AS shard, event_type,
        |    tus - CASE WHEN event_id % 13 = 0 THEN 3600000000 ELSE 0 END AS tus
        |  FROM events),
        |w AS (SELECT event_type, tus,
        |        max(tus) OVER (PARTITION BY shard ORDER BY event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hi
        |      FROM e)
        |SELECT event_type, count(*) AS n_events,
        |  count(*) FILTER (WHERE tus < hi - 300000000) AS n_late
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  val gLateDataSql: String =
    """WITH e AS (
      |  SELECT event_id, event_id % 4 AS shard, event_type,
      |    epoch_us(ts) - CASE WHEN event_id % 13 = 0 THEN 3600000000 ELSE 0 END AS tus
      |  FROM events),
      |w AS (SELECT event_type, tus,
      |        max(tus) OVER (PARTITION BY shard ORDER BY event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hi
      |      FROM e)
      |SELECT event_type, count(*) AS n_events,
      |  count(*) FILTER (WHERE tus < hi - 300000000) AS n_late
      |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Batch replay of the stream-stream time-interval join
    * (graft.streaming.StreamJoins): every click by the same user within
    * 10 minutes AFTER an error event. Physically an equi-join on user_id
    * with the interval as a residual range predicate — one co-partitioned
    * shuffle, never a cross product; the same key layout the watermarked
    * streaming join maintains in its state store. */
  def gIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    Tables.bind(s, dir, "events")
    s.sql(
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, tus FROM events),
        |err AS (SELECT * FROM e WHERE event_type = 'error'),
        |clk AS (SELECT * FROM e WHERE event_type = 'click')
        |SELECT err.event_id AS err_id, clk.event_id AS click_id, err.user_id,
        |  clk.tus - err.tus AS gap_us
        |FROM err JOIN clk
        |  ON err.user_id = clk.user_id
        | AND clk.tus >= err.tus AND clk.tus <= err.tus + 600000000
        |ORDER BY err_id, click_id""".stripMargin)
  }

  val gIntervalJoinSql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tus FROM events),
      |err AS (SELECT * FROM e WHERE event_type = 'error'),
      |clk AS (SELECT * FROM e WHERE event_type = 'click')
      |SELECT err.event_id AS err_id, clk.event_id AS click_id, err.user_id,
      |  clk.tus - err.tus AS gap_us
      |FROM err JOIN clk
      |  ON err.user_id = clk.user_id
      | AND clk.tus >= err.tus AND clk.tus <= err.tus + 600000000
      |ORDER BY err_id, click_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g_kpl_roundtrip" -> (gKplRoundtrip _),
    "g_dedup_replay" -> (gDedupReplay _),
    "g_partition_keys" -> (gPartitionKeys _),
    "g_ehk_routing" -> (gEhkRouting _),
    "g_session_window" -> (gSessionWindow _),
    "g_sliding_window" -> (gSlidingWindow _),
    "g_interval_join" -> (gIntervalJoin _),
    "g_late_data" -> (gLateData _)
  )

  def oracle: Map[String, String] = Map(
    "g_kpl_roundtrip" -> gKplRoundtripSql,
    "g_dedup_replay" -> gDedupReplaySql,
    "g_partition_keys" -> gPartitionKeysSql,
    "g_ehk_routing" -> gEhkRoutingSql,
    "g_session_window" -> gSessionWindowSql,
    "g_sliding_window" -> gSlidingWindowSql,
    "g_interval_join" -> gIntervalJoinSql,
    "g_late_data" -> gLateDataSql
  )
}
