package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.util.sketch.CountMinSketch

import graft.SparkSuite

/** The eleventh batch/stream twin's contract, in four parts:
  *
  *  1. BIT-COMPATIBILITY — the merged per-shard state sketches are
  *     BYTE-EQUAL to the batch SQL `count_min_sketch(key, eps,
  *     confidence, seed)` over the same rows (same constructor triple,
  *     same `addLong` update; counter adds commute and shard merge sums
  *     counter arrays — order/batching/sharding free).
  *  2. ESTIMATE CONTRACT — for every probed key, `est ≥ exact` and
  *     `est ≤ exact + ⌈eps·N⌉` (the CMS bound the batch
  *     `d_heavy_hitters` query asserts).
  *  3. REDELIVERY — counter adds are NOT idempotent: replaying a wave
  *     inflates totals by exactly the wave size, and every estimate
  *     remains an upper bound — the documented at-least-once posture.
  *  4. RESTART — a new query from the same RocksDB checkpoint continues
  *     the same counters: post-restart state still byte-equals the
  *     batch build over all delivered rows.
  */
class StreamingHeavyHittersSpec extends SparkSuite {

  /** Skewed key stream: keys 0–4 are the heavy hitters (~1/3 of rows),
    * the rest spread over 100–499. Deterministic in i. */
  private def keys(ids: Range): Seq[Long] =
    ids.map(i => if (i % 3 == 0) (i % 5).toLong else (100 + (i * 7919) % 400).toLong)

  private def batchSketchBytes(rows: Seq[Long]): Array[Byte] = {
    import spark.implicits._
    rows.toDF("key")
      .selectExpr(
        s"count_min_sketch(key, CAST(${StreamingHeavyHitters.Eps} AS DOUBLE), " +
          s"CAST(${StreamingHeavyHitters.Confidence} AS DOUBLE), ${StreamingHeavyHitters.Seed}) AS sk")
      .head.getAs[Array[Byte]](0)
  }

  test("merged stream sketches byte-equal the batch aggregate; bounds hold; restart continues") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val wave1 = keys(0 until 3000)
    val wave2 = keys(3000 until 5000)
    val wave3 = keys(5000 until 6000)

    val captured = new ConcurrentHashMap[Long, Array[StreamingHeavyHitters.ShardSketch]]()
    val input = MemoryStream[Long]
    val out = StreamingHeavyHitters(input.toDF().toDF("key"))
    val checkpoint = graft.SparkSpec.tempDir("cms-ckpt").toString
    def start(): StreamingQuery = out.writeStream
      .outputMode(OutputMode.Update())
      .trigger(Trigger.ProcessingTime(200L))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: Dataset[StreamingHeavyHitters.ShardSketch], id: Long) =>
        val rows = df.collect()
        if (rows.nonEmpty) captured.put(id, rows)
        ()
      }
      .start()

    // latest emission per shard across batches and restarts
    def latest(): Map[Long, StreamingHeavyHitters.ShardSketch] =
      captured.asScala.toSeq.sortBy(_._1)
        .flatMap { case (_, rows) => rows.map(r => r.shard -> r) }.toMap
    def streamTotal(): Long = latest().values.map(_.total).sum
    def await(cond: () => Boolean, what: String): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (System.currentTimeMillis() < deadline && !cond()) Thread.sleep(200)
      assert(cond(), s"timed out waiting for $what")
    }
    def mergedBytes(): Array[Byte] =
      StreamingHeavyHitters.merge(
        latest().toSeq.sortBy(_._1).map(_._2.sketch)).toByteArray

    val q1 = start()
    try {
      input.addData(wave1)
      await(() => streamTotal() >= 3000L, "wave 1 drained")
      Thread.sleep(1200L)
      assert(java.util.Arrays.equals(mergedBytes(), batchSketchBytes(wave1)),
        "after wave 1: merged stream sketch differs from the batch count_min_sketch bytes")

      input.addData(wave2)
      await(() => streamTotal() >= 5000L, "wave 2 drained")
      Thread.sleep(1200L)
      val delivered = wave1 ++ wave2
      assert(java.util.Arrays.equals(mergedBytes(), batchSketchBytes(delivered)),
        "after wave 2: merged stream sketch differs from the batch build")

      // estimate contract on the heavy hitters + a tail key
      val cms = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(mergedBytes()))
      val n = cms.totalCount()
      assert(n === delivered.size.toLong)
      val slack = math.ceil(StreamingHeavyHitters.Eps * n).toLong
      val exact = delivered.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      ((0L to 4L) ++ Seq(107L)).foreach { k =>
        val e = exact.getOrElse(k, 0L)
        val est = cms.estimateCount(java.lang.Long.valueOf(k))
        assert(est >= e && est <= e + slack,
          s"key $k: est $est outside [$e, ${e + slack}]")
      }

      // at-least-once redelivery: counters inflate by exactly the wave —
      // estimates stay upper bounds (the documented non-idempotent trade
      // against the Bloom gate's unchanged bits)
      input.addData(wave2)
      await(() => streamTotal() >= 7000L, "replay drained")
      Thread.sleep(1200L)
      val inflated = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(mergedBytes()))
      assert(inflated.totalCount() === delivered.size.toLong + wave2.size.toLong,
        "a replayed wave must inflate the total by exactly its row count")
      exact.foreach { case (k, e) =>
        assert(inflated.estimateCount(java.lang.Long.valueOf(k)) >= e,
          s"key $k: estimate fell below the true count under redelivery")
      }
    } finally q1.stop()

    // restart from the same checkpoint: counters continue, not reset
    val q2 = start()
    try {
      input.addData(wave3)
      await(() => streamTotal() >= 8000L, "wave 3 drained")
      Thread.sleep(1200L)
      // batch parity over everything actually delivered (incl. the replay)
      val allDelivered = wave1 ++ wave2 ++ wave2 ++ wave3
      assert(java.util.Arrays.equals(mergedBytes(), batchSketchBytes(allDelivered)),
        "after restart + wave 3: merged stream sketch differs from the batch build")
    } finally q2.stop()
  }
}
