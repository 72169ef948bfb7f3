package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSuite

class WindowedStatsSpec extends SparkSuite {

  private def at(sec: Long, i: Int, body: String): Msg =
    Msg(f"$i%016d", new Timestamp(sec * 1000), 1, body.getBytes)

  test("tumbling event-time windows finalize past the watermark; late rows inside lateness count") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Msg]
    val q = WindowedStats.tumbling(input.toDF(), "10 seconds", "5 seconds")
      .writeStream.format("memory").queryName("winstats")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation",
        graft.SparkSpec.tempDir("win-ckpt").toString)
      .start()
    try {
      // window [100,110): 3 rows, one duplicate body
      input.addData(Seq(at(101, 1, "a"), at(103, 2, "b"), at(104, 3, "a")))
      q.processAllAvailable()
      // late row for [100,110) but within 5s lateness (watermark still low)
      input.addData(Seq(at(106, 4, "c")))
      q.processAllAvailable()
      // advance event time far enough to close [100,110): watermark = 130-5
      input.addData(Seq(at(130, 5, "d")))
      q.processAllAvailable()
      val rows = spark.table("winstats").collect()
        .map(r => (r.getTimestamp(0).getTime / 1000, r.getLong(3), r.getLong(4)))
      assert(rows.toSeq.contains((100L, 4L, 4L)), s"got ${rows.toSeq}")
    } finally q.stop()
  }
}
