package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSuite

/** Session windows — gap-based grouping the reference (processing-time only)
  * cannot express at all; here it is one built-in on top of the same
  * envelope stream. */
class SessionWindowSpec extends SparkSuite {

  private def at(sec: Long, i: Int, user: String): Msg =
    Msg(f"$i%016d", new Timestamp(sec * 1000), 1, user.getBytes)

  test("session windows close after the gap; separate bursts form separate sessions") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Msg]
    val sessions = input.toDF()
      .withColumn("user", decode(col("body"), "UTF-8"))
      .withWatermark("ts", "5 seconds")
      .groupBy(session_window(col("ts"), "10 seconds"), col("user"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("s"), col("session_window.end").as("e"),
        col("user"), col("n"))
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation",
        graft.SparkSpec.tempDir("sess-ckpt").toString)
      .start()
    try {
      // burst 1: u1 at 100,104,108 (one session, extends to 118)
      // burst 2: u1 at 140,141 (second session)
      input.addData(Seq(at(100, 1, "u1"), at(104, 2, "u1"), at(108, 3, "u1")))
      q.processAllAvailable()
      input.addData(Seq(at(140, 4, "u1"), at(141, 5, "u1")))
      q.processAllAvailable()
      input.addData(Seq(at(200, 6, "u2"))) // advance watermark, close all u1 sessions
      q.processAllAvailable()
      val rows = spark.table("sessions").collect()
        .map(r => (r.getTimestamp(0).getTime / 1000, r.getTimestamp(1).getTime / 1000,
          r.getString(2), r.getLong(3))).toSet
      assert(rows.contains((100L, 118L, "u1", 3L)), s"got $rows")
      assert(rows.contains((140L, 151L, "u1", 2L)), s"got $rows")
    } finally q.stop()
  }
}
