package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Schema-drift regression for the canonical fact-date columns — the same
  * incident class EventTimeCanonSpec closes for `events.ts`, extended to
  * `orders.o_orderdate` and `lineitem.l_shipdate` (round-11 verdict item:
  * q3/q5/q21, h_supplier_rank and h_graph_triangles compare these columns
  * to TIMESTAMP literals, and a re-encode of the testdata would have
  * broken all of them at once exactly like round 10's events drift).
  *
  * `Tables.load` now owns the encoding: the suite writes the SAME logical
  * instants in all four contract-envelope encodings — DATE,
  * TIMESTAMP_MICROS adjusted-to-UTC, TIMESTAMP_MICROS isAdjustedToUTC=0
  * (Spark TIMESTAMP_NTZ), and INT64 nanos (BIGINT under `nanosAsLong`) —
  * and asserts every encoding loads as an identical canonical TIMESTAMP
  * column, and that a representative literal-window filter (the
  * h_supplier_rank / h_graph_triangles 1996 window) selects the identical
  * rows on each.
  */
class DateCanonSpec extends SparkSuite {

  // Day-boundary instants (midnight UTC) so the DATE encoding is lossless;
  // spans the 1996 window boundary used by the filter test.
  private val days = Seq("1995-12-30", "1996-01-01", "1996-07-04",
    "1996-12-31", "1997-01-01", "1998-08-02")

  private val encodings = Seq("date", "micros_utc", "micros_ntz", "nanos")

  /** Write a one-column-keyed fixture table with the instant column `c`
    * physically encoded as requested, return its sf-dir. */
  private def writeFixture(table: String, c: String, encode: String): String = {
    val s = spark
    import s.implicits._
    val dir = SparkSpec.tempDir(s"graft-datecanon-$table-$encode").toString
    val base = days.zipWithIndex
      .map { case (d, i) => (i.toLong, d) }
      .toDF("k", "day")
      .select(col("k"), to_timestamp(col("day")).as("ts"))
    val df = encode match {
      case "date"       => base.select(col("k"), col("ts").cast("date").as(c))
      case "micros_utc" => base.select(col("k"), col("ts").as(c))
      case "micros_ntz" => base.select(col("k"), col("ts").cast(TimestampNTZType).as(c))
      case "nanos"      => base.select(col("k"), (unix_micros(col("ts")) * 1000L).as(c))
    }
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$table.parquet")
    dir
  }

  private def loadCanon(table: String, c: String, encode: String): DataFrame =
    Tables.load(spark, writeFixture(table, c, encode), table)

  for ((table, c) <- Seq("orders" -> "o_orderdate", "lineitem" -> "l_shipdate")) {
    test(s"$table.$c loads as identical canonical TIMESTAMP across all four encodings") {
      val want = days.zipWithIndex.map { case (d, i) => (i.toLong, s"$d 00:00:00") }
      encodings.foreach { enc =>
        val df = loadCanon(table, c, enc)
        assert(df.schema(c).dataType == TimestampType,
          s"encoding $enc did not canonicalize to TIMESTAMP")
        val got = df
          .select(col("k"), date_format(col(c), "yyyy-MM-dd HH:mm:ss").as("t"))
          .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
        assert(got == want, s"encoding $enc drifted from canonical instants")
      }
    }

    test(s"$table.$c 1996-window literal filter selects the same rows on every encoding") {
      // the exact predicate shape h_supplier_rank / h_graph_triangles use
      val perEnc = encodings.map { enc =>
        enc -> loadCanon(table, c, enc)
          .filter(col(c) >= lit("1996-01-01").cast("timestamp") &&
            col(c) < lit("1997-01-01").cast("timestamp"))
          .select(col("k")).collect().map(_.getLong(0)).sorted.toSeq
      }.toMap
      assert(perEnc("date") == Seq(1L, 2L, 3L), "window filter wrong on DATE")
      perEnc.foreach { case (enc, ks) =>
        assert(ks == perEnc("date"), s"encoding $enc selected different rows")
      }
    }
  }

  test("instantColumn rejects an unknown physical type loudly") {
    val s = spark
    import s.implicits._
    val bogus = Seq("not-a-date").toDF("o_orderdate")
    val e = intercept[IllegalStateException](Tables.instantColumn(bogus, "o_orderdate"))
    assert(e.getMessage.contains("o_orderdate"))
  }
}
