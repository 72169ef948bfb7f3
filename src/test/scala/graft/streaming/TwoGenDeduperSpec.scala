package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.SparkSuite

class TwoGenDeduperSpec extends SparkSuite {

  private def msg(i: Int, body: String): Msg =
    Msg(f"$i%016d", new Timestamp(1000000000L + i), 1, body.getBytes("UTF-8"))

  // NOTE: under TimeMode.ProcessingTime the engine keeps scheduling batches
  // (timer/TTL sweeps), so processAllAvailable() never settles — poll the
  // sink instead.
  private def awaitCount(expected: Long, timeoutMs: Long = 30000L): Long = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var n = -1L
    while (System.currentTimeMillis() < deadline) {
      n = spark.table("twogen").count()
      if (n >= expected) return n
      Thread.sleep(200)
    }
    n
  }

  test("exact two-generation dedup: within-batch dupes dropped, key re-admitted after 2 rotations") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Msg]
    // generous rotation: under full-suite load a batch can take >1 s to
    // schedule, and a rotation crossing mid-phase breaks the scenario
    val rotationMs = 6000L
    val deduped = TwoGenDeduper(input.toDF(), rotationMs = rotationMs)
    val q = deduped.writeStream
      .format("memory").queryName("twogen")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime(200L))
      .option("checkpointLocation",
        graft.SparkSpec.tempDir("twogen-ckpt").toString)
      .start()
    try {
      // batch 1: a, a, b  ->  a, b   (op-string "aa"+"b" semantics)
      input.addData(Seq(msg(1, "a"), msg(2, "a"), msg(3, "b")))
      assert(awaitCount(2) === 2L, "within-batch duplicate must be dropped")

      // immediate redelivery: still within generation -> dropped ("aa")
      input.addData(Seq(msg(4, "a")))
      Thread.sleep(1200L)
      assert(spark.table("twogen").count() === 2L)

      // wait 2 full rotations without re-seeing 'a' -> "a##a" readmits
      Thread.sleep(2 * rotationMs + 1500L)
      input.addData(Seq(msg(5, "a")))
      assert(awaitCount(3) === 3L, "key must age out after 2 rotations")
    } finally q.stop()
  }
}
