package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Schema-drift regression for the canonical event-time column (round-10
  * postmortem): `events.ts` is a logical instant whose PHYSICAL parquet
  * encoding has already drifted once across data generations — INT64
  * TIMESTAMP(NANOS) (read as BIGINT nanos under `nanosAsLong`),
  * TIMESTAMP_MICROS adjusted-to-UTC (Spark TIMESTAMP), and
  * TIMESTAMP_MICROS isAdjustedToUTC=0 (Spark TIMESTAMP_NTZ). The engine
  * must never again bind a query to one encoding: this suite writes the
  * SAME instants in all three encodings and asserts `Tables.eventsCanonical`
  * yields the identical `tus` epoch-micros BIGINT for each.
  */
class EventTimeCanonSpec extends SparkSuite {

  // Instants chosen off whole-second boundaries so a unit mix-up
  // (millis/micros/nanos) cannot cancel out.
  private val micros = Seq(
    1700000000000001L, 1700000086400123L, 1700003600999999L,
    1700086400500000L, 1702592000123456L)

  private def writeFixture(encode: String): String = {
    val s = spark
    import s.implicits._
    val dir = SparkSpec.tempDir(s"graft-tscanon-$encode").toString
    val base = micros.zipWithIndex
      .map { case (us, i) => (i.toLong, us) }
      .toDF("event_id", "us")
    val df = encode match {
      case "nanos" => // plain INT64 column — the shape nanosAsLong delivers
        base.select(col("event_id"), (col("us") * 1000L).as("ts"))
      case "micros_utc" => // TIMESTAMP (instant) -> TIMESTAMP_MICROS utc
        base.select(col("event_id"), timestamp_micros(col("us")).as("ts"))
      case "micros_ntz" => // TIMESTAMP_NTZ -> isAdjustedToUTC=0
        base.select(col("event_id"),
          timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
    }
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("canonical tus is identical across all three physical ts encodings") {
    val byEncoding = Seq("nanos", "micros_utc", "micros_ntz").map { enc =>
      val dir = writeFixture(enc)
      val got = Tables.eventsCanonical(spark, dir)
        .select(col("event_id"), col("tus"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(_._1)
      enc -> got
    }.toMap
    val want = micros.zipWithIndex.map { case (us, i) => (i.toLong, us) }
    byEncoding.foreach { case (enc, got) =>
      assert(got.toSeq == want, s"encoding $enc drifted from canonical tus")
    }
    // and the derived column is a BIGINT everywhere (queries do arithmetic)
    Seq("nanos", "micros_utc", "micros_ntz").foreach { enc =>
      val dir = writeFixture(enc)
      assert(Tables.eventsCanonical(spark, dir).schema("tus").dataType == LongType)
    }
  }

  test("tusColumn rejects an unknown physical type loudly") {
    val s = spark
    import s.implicits._
    val bogus = Seq("not-a-time").toDF("ts")
    val e = intercept[IllegalStateException](Tables.tusColumn(bogus))
    assert(e.getMessage.contains("events.ts"))
  }
}
