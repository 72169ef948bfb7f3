package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{SparkSpec, SparkSuite}
import graft.functions.KplFunctions

/** SURVEY §7 M4: replay the driver's `events` table through the real
  * streaming pipeline (dedup → pack → entries) and reconcile with the batch
  * path — the stream and batch formulations of the same operators must
  * agree on the delivered record set. */
class EventsReplaySpec extends SparkSuite {

  test("events replayed twice through the stream pipeline deliver each body exactly once") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    InMemoryTransport.clear()

    val events = graft.Tables.load(spark, SparkSpec.sf0001, "events")
      .select(
        col("event_id"),
        concat(col("event_id").cast("string"), lit("|"), col("props")).as("payload"))
      .limit(300)
      .collect()

    val input = MemoryStream[Msg]
    val msgs = events.map { r =>
      Msg(f"${r.getLong(0)}%016d", new Timestamp(1000000000L + r.getLong(0)),
        1, r.getString(1).getBytes("UTF-8"))
    }
    input.addData(msgs.toSeq ++ msgs.toSeq) // at-least-once: every event twice

    val q = StreamPipeline.build(input.toDF(), new InMemoryTransport,
      StreamPipeline.Options(streamName = "events-replay",
        checkpoint = graft.SparkSpec.tempDir("ev-ckpt").toString))
      .start()
    try q.processAllAvailable() finally q.stop()

    val delivered = InMemoryTransport.drain()
      .flatMap { case (_, e) => KplFunctions.deaggregate(e.data).map(_.data) }.map(new String(_, "UTF-8"))

    assert(delivered.length === events.length, "each body delivered exactly once")
    assert(delivered.toSet === events.map(_.getString(1)).toSet)
  }
}
