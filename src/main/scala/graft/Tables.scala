package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, unix_micros}
import org.apache.spark.sql.types.{DateType, LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * DataFrame-API queries [[load]] a table; SQL queries [[bind]] the tables
  * they read as temp views of the session they run in. Reads are plain
  * parquet scans — Catalyst handles column pruning / predicate pushdown,
  * and at 100 TB the same code path picks up partition pruning for
  * directory-partitioned layouts with zero changes here.
  */
object Tables {
  /** Logical-instant columns per table: fact-date columns that queries
    * compare against day-granularity literals, group on, or output. Their
    * PHYSICAL parquet encoding is owned by the data generator and may
    * drift between generations exactly like `events.ts` did in round 10
    * (the schema contract's envelope: DATE, TIMESTAMP, TIMESTAMP_NTZ, or
    * INT64 nanos surfaced as BIGINT under `nanosAsLong`). [[load]] routes
    * each through [[instantColumn]] so every consumer — DataFrame-API call
    * sites and SQL temp views alike — binds to a canonical TIMESTAMP
    * regardless of what the file holds. */
  private val instantCols: Map[String, Seq[String]] = Map(
    "orders"   -> Seq("o_orderdate"),
    "lineitem" -> Seq("l_shipdate"))

  /** Canonical instant as a Spark TIMESTAMP, whatever the physical type.
    * The NTZ and nanos branches rely on the session running in UTC (set by
    * [[GraftSession]], `spark.sql.session.timeZone=UTC`), making the
    * reinterpretation exact and matching DuckDB's reading of the same
    * file. Purely a projection — scan pushdown and pruning are unaffected,
    * and when the physical type is already TIMESTAMP the column passes
    * through untouched (today's plans stay bit-identical). */
  def instantColumn(df: DataFrame, c: String): Column =
    df.schema(c).dataType match {
      case TimestampType    => col(c)
      case DateType         => col(c).cast(TimestampType)
      case TimestampNTZType => col(c).cast(TimestampType)
      case LongType         => expr(s"timestamp_micros($c div 1000)") // INT64 nanos
      case other => throw new IllegalStateException(
        s"unsupported physical type for instant column $c: $other")
    }

  /** Replace each declared instant column with its canonical TIMESTAMP
    * form (same name, same position). No-op projection when the file
    * already encodes TIMESTAMP, so the common case adds nothing to the
    * plan. */
  private def canonicalize(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      if (d.schema(c).dataType == TimestampType) d
      else d.withColumn(c, instantColumn(d, c))
    }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$sfDir/$name.parquet")
    canonicalize(raw, instantCols.getOrElse(name, Nil))
  }

  /** The canonical event-time column: `tus`, epoch-micros BIGINT.
    *
    * `events.ts` is a LOGICAL instant whose PHYSICAL parquet encoding has
    * drifted across data generations — INT64 TIMESTAMP(NANOS) (surfaced as
    * BIGINT nanos under `nanosAsLong`), TIMESTAMP_MICROS adjusted-to-UTC
    * (Spark TIMESTAMP), and TIMESTAMP_MICROS isAdjustedToUTC=0 (Spark
    * TIMESTAMP_NTZ). Round 10 hard-coded one encoding in eleven call sites
    * and a regeneration broke all eleven at once; this helper is the single
    * place that knows the encoding, so every event-time query binds to
    * `tus` and survives the next drift. The NTZ branch relies on the
    * session running in UTC (set by [[GraftSession]],
    * `spark.sql.session.timeZone=UTC`), making the naive-wall-time →
    * instant reinterpretation exact and matching DuckDB's `epoch_us(ts)`
    * on the same file. Purely a projection: pushdown/pruning on the scan
    * are unaffected, and the derived column codegens as one long op.
    */
  def tusColumn(df: DataFrame, tsCol: String = "ts"): Column =
    df.schema(tsCol).dataType match {
      case LongType         => expr(s"$tsCol div 1000")   // INT64 nanos
      case TimestampType    => unix_micros(col(tsCol))
      case TimestampNTZType => unix_micros(col(tsCol).cast(TimestampType))
      case other => throw new IllegalStateException(
        s"unsupported physical type for events.$tsCol: $other")
    }

  /** Events with the canonical `tus` (epoch-micros BIGINT) appended. */
  def eventsCanonical(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = load(spark, sfDir, "events")
    raw.withColumn("tus", tusColumn(raw).cast(LongType))
  }

  /** Register each named table as a temp view of `spark`: `events` as
    * [[eventsCanonical]] (raw columns plus `tus`), the others as [[load]]
    * gives them. A query binds the tables its SQL reads, in the session it
    * is built in, so two queries in two sessions never see each other's
    * views. */
  def bind(spark: SparkSession, sfDir: String, names: String*): Unit =
    names.foreach { n =>
      val df = if (n == "events") eventsCanonical(spark, sfDir) else load(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }
}
