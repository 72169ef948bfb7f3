package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.SparkSuite

/** The eighth batch/stream twin's contract, in four parts:
  *
  *  1. BIT-COMPATIBILITY — the state-resident per-shard filter is
  *     BYTE-EQUAL to the batch `BloomFilterAggregate` over the same keys
  *     (same (items, bits) constructor, same `putLong(xxhash64(key))`
  *     update, and Bloom bits are a set union — order/batching free).
  *  2. GATE ACCOUNTING — `n_seen` counts rows already present before the
  *     batch; a wave of replayed texts is fully flagged.
  *  3. REDELIVERY — replaying a committed wave changes NO filter byte
  *     (insert is idempotent); the counting columns inflate (upper
  *     bound), exactly the documented posture.
  *  4. RESTART — a new query from the same RocksDB checkpoint continues
  *     the same filters: the post-restart state still byte-equals the
  *     batch build over ALL waves.
  */
class StreamingBloomGateSpec extends SparkSuite {

  private def docs(ids: Range): Seq[(Long, String)] =
    ids.map(i => (i.toLong, s"document body number $i with drift ${i % 7}"))

  private def batchFilters(rows: Seq[(Long, String)]): Map[Long, Array[Byte]] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.functions.GraftFunctions.registerAll(spark)
    rows.toDF("doc_id", "text")
      .selectExpr(s"pmod(fnv64a(text), ${StreamingBloomGate.Shards}) AS shard",
        "fnv64a(text) AS k")
      .groupBy(col("shard"))
      .agg(org.apache.spark.sql.graft.BloomCols.bloomFilterAgg(
        col("k"), StreamingBloomGate.ExpectedKeysPerShard,
        StreamingBloomGate.NumBits).as("bf"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("bf")).toMap
  }

  test("stream filters byte-equal the batch aggregate; gate flags replays; restart continues the state") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val wave1 = docs(0 until 400)
    val wave2 = docs(300 until 600) // 100 replays + 200 new
    val wave3 = docs(600 until 700)

    val captured = new ConcurrentHashMap[Long, Array[StreamingBloomGate.ShardFilter]]()
    val input = MemoryStream[(Long, String)]
    val out = StreamingBloomGate(input.toDF().toDF("doc_id", "text"))
    val checkpoint = graft.SparkSpec.tempDir("bloomgate-ckpt").toString
    def start(): StreamingQuery = out.writeStream
      .outputMode(OutputMode.Update())
      .trigger(Trigger.ProcessingTime(200L))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: Dataset[StreamingBloomGate.ShardFilter], id: Long) =>
        val rows = df.collect()
        if (rows.nonEmpty) captured.put(id, rows)
        ()
      }
      .start()

    // latest emission per shard across batches and restarts
    def latest(): Map[Long, StreamingBloomGate.ShardFilter] =
      captured.asScala.toSeq.sortBy(_._1)
        .flatMap { case (_, rows) => rows.map(r => r.shard -> r) }.toMap
    def await(cond: () => Boolean, what: String): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (System.currentTimeMillis() < deadline && !cond()) Thread.sleep(200)
      assert(cond(), s"timed out waiting for $what")
    }
    // n_probed/n_seen are PER-BATCH; cumulative = sum over all captured
    // batches (re-run batches overwrite their id, so no double count)
    def cumProbed(): Long =
      captured.asScala.values.flatten.map(_.n_probed).sum
    def cumSeen(): Long =
      captured.asScala.values.flatten.map(_.n_seen).sum
    def assertByteEqual(expect: Map[Long, Array[Byte]], phase: String): Unit = {
      val got = latest()
      assert(got.keySet === expect.keySet, s"$phase: shard sets differ")
      got.foreach { case (shard, sf) =>
        assert(java.util.Arrays.equals(sf.filter, expect(shard)),
          s"$phase: shard $shard filter bytes differ from the batch aggregate")
      }
    }

    val q1 = start()
    try {
      input.addData(wave1)
      await(() => cumProbed() >= 400L, "wave 1 drained")
      Thread.sleep(1200L)
      assertByteEqual(batchFilters(wave1), "after wave 1")
      assert(cumSeen() === 0L, "wave 1 has no seen keys")

      // wave 2: the 100 replayed texts must flag as seen
      input.addData(wave2)
      await(() => cumProbed() >= 700L, "wave 2 drained")
      Thread.sleep(1200L)
      assertByteEqual(batchFilters(wave1 ++ wave2), "after wave 2")
      assert(cumSeen() === 100L,
        "exactly the 100 replayed texts are pre-batch members (Bloom cannot miss; " +
          "FPs on 200 fresh keys at this sizing have ~1e-4 odds)")

      // adversarial redelivery: replay wave 2 — no filter byte may change
      val before = latest().map { case (s, f) => s -> f.filter.toSeq }
      input.addData(wave2)
      await(() => cumProbed() >= 1000L, "replay drained")
      Thread.sleep(1200L)
      val after = latest().map { case (s, f) => s -> f.filter.toSeq }
      assert(after === before, "a replayed batch must leave every filter byte unchanged")
      assertByteEqual(batchFilters(wave1 ++ wave2), "after replay")
    } finally q1.stop()

    // restart from the same checkpoint: the recovered filters continue
    val q2 = start()
    try {
      input.addData(wave3)
      await(() => cumProbed() >= 1100L, "wave 3 drained")
      Thread.sleep(1200L)
      assertByteEqual(batchFilters(wave1 ++ wave2 ++ wave3), "after restart + wave 3")
    } finally q2.stop()
  }
}
