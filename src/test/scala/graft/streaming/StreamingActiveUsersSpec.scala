package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.{SparkSpec, SparkSuite, Tables}

/** The seventh batch/stream twin's contract, in three parts:
  *
  *  1. BIT-COMPATIBILITY — the state-resident datasketches HLL
  *     (lgK=14, HLL_8) produces day estimates EXACTLY equal to batch
  *     `hll_sketch_agg(user_id, 14)` over the same rows: register state
  *     is a content-determined max, so shard-union ≡ one-shot build
  *     regardless of arrival order, batching, or sharding.
  *  2. SQL COMPOSABILITY — the emitted compact bytes feed
  *     `hll_union_agg`/`hll_sketch_estimate` directly; [[StreamingActiveUsers.report]]
  *     reproduces the g_active_users_approx estimate arm.
  *  3. REDELIVERY EXACTNESS — replaying a committed wave changes NO
  *     output (HllSketch.update is idempotent per item); this twin has
  *     no delivery-counting caveat at all.
  */
class StreamingActiveUsersSpec extends SparkSuite {

  test("streaming day sketches equal batch hll_sketch_agg; report matches the batch arm; replay is a no-op") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val rows = Tables.eventsCanonical(spark, SparkSpec.sf0001)
      .selectExpr("user_id", "tus").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length > 500)
    val (wave1, wave2) = rows.splitAt(rows.length / 2)

    val captured = new ConcurrentHashMap[Long, Array[StreamingActiveUsers.ShardSketch]]()
    val input = MemoryStream[(Long, Long)]
    val q = StreamingActiveUsers(input.toDF().toDF("user_id", "tus")).writeStream
      .outputMode(OutputMode.Update())
      .trigger(Trigger.ProcessingTime(200L))
      .option("checkpointLocation",
        graft.SparkSpec.tempDir("au-ckpt").toString)
      .foreachBatch { (df: Dataset[StreamingActiveUsers.ShardSketch], id: Long) =>
        val out = df.collect()
        if (out.nonEmpty) captured.put(id, out)
        ()
      }
      .start()

    // latest emission per (day, shard) across all batches so far
    def latest(): Map[(Long, Long), StreamingActiveUsers.ShardSketch] =
      captured.asScala.toSeq.sortBy(_._1)
        .flatMap { case (id, out) => out.map(s => (s.day, s.shard) -> s) }
        .toMap

    def dayEstimates(): Map[Long, Long] = {
      val l = latest()
      if (l.isEmpty) Map.empty
      else l.values.toSeq.toDF()
        .groupBy($"day")
        .agg(org.apache.spark.sql.functions.expr(
          "hll_sketch_estimate(hll_union_agg(sketch))").as("est"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }

    def await(cond: () => Boolean, what: String, timeoutMs: Long = 60000L): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (System.currentTimeMillis() < deadline && !cond()) Thread.sleep(250)
      assert(cond(), s"timed out waiting for $what")
    }

    def batchDayEstimates(data: Seq[(Long, Long)]): Map[Long, Long] = {
      data.toDF("user_id", "tus").createOrReplaceTempView("au_batch_rows")
      spark.sql(
        """SELECT tus DIV 86400000000L AS day,
          |  hll_sketch_estimate(hll_sketch_agg(user_id, 14)) AS est
          |FROM au_batch_rows GROUP BY tus DIV 86400000000L""".stripMargin)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }

    try {
      // ---- wave 1, then wave 2 (cross-batch accumulation)
      val expect1 = batchDayEstimates(wave1)
      input.addData(wave1.toSeq)
      await(() => dayEstimates() == expect1, s"wave-1 estimates $expect1")

      val expectAll = batchDayEstimates(rows.toSeq)
      input.addData(wave2.toSeq)
      await(() => dayEstimates() == expectAll, s"wave-2 estimates $expectAll")

      // ---- report() reproduces the batch approximate arm
      val got = StreamingActiveUsers.report(latest().values.toSeq.toDF())
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      spark.sql(
        """WITH daysk AS (
          |  SELECT tus DIV 86400000000L AS day,
          |    hll_sketch_agg(user_id, 14) AS sk
          |  FROM au_batch_rows GROUP BY tus DIV 86400000000L),
          |win AS (
          |  SELECT day + i AS d, i, sk
          |  FROM daysk LATERAL VIEW explode(sequence(0, 29)) t AS i)
          |SELECT d AS day,
          |  hll_sketch_estimate(hll_union_agg(sk) FILTER (WHERE i = 0)) AS dau_est,
          |  hll_sketch_estimate(hll_union_agg(sk) FILTER (WHERE i <= 6)) AS wau_est,
          |  hll_sketch_estimate(hll_union_agg(sk)) AS mau_est
          |FROM win GROUP BY d HAVING dau_est IS NOT NULL
          |ORDER BY day""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .zip(got).foreach { case (want, have) => assert(want === have) }

      // ---- adversarial redelivery: replay wave 1 — nothing may change
      val before = latest().map { case (k, s) => k -> (s.est, s.sketch.toSeq) }
      input.addData(wave1.toSeq)
      Thread.sleep(1500L)
      await(() => dayEstimates() == expectAll, "post-replay estimates stable")
      val after = latest().map { case (k, s) => k -> (s.est, s.sketch.toSeq) }
      assert(after == before,
        "HLL state must be idempotent under redelivery — bytes and estimates unchanged")
    } finally q.stop()
  }
}
