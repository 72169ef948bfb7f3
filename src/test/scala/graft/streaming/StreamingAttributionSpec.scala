package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.{SparkSpec, SparkSuite, Tables}
import graft.operators.AnalyticsOps

/** The streaming attribution twin's contract: [[StreamingAttribution
  * .foldRun]] is associative over ordered concatenation (micro-batch
  * boundaries are invisible), the drained verdict stream equals the
  * batch union-and-carry per-purchase verdicts exactly (and rolls up to
  * `g_attribution`'s daily rates), at-least-once redelivery emits
  * nothing (monotone frontier), and the carried-click state survives a
  * stop → restart-from-checkpoint cycle. */
class StreamingAttributionSpec extends SparkSuite {

  import StreamingAttribution.{foldRun, Attribution, CarryState, TouchRow}

  /** Synthetic per-user run: clicks/purchases with deliberate equal-tus
    * ties (click-before-purchase ordering must matter). */
  private def syntheticRun(seed: Int): Vector[TouchRow] = {
    val rnd = new scala.util.Random(seed)
    var t = 1000000L * rnd.nextInt(1000).toLong
    (0 until 60).map { i =>
      t += (if (rnd.nextInt(4) == 0) 0L else 1000000L * (1 + rnd.nextInt(200000)).toLong)
      val et = if (rnd.nextInt(3) == 0) "click" else "purchase"
      TouchRow(event_id = i.toLong, user_id = 7L, tus = t, event_type = et)
    }.toVector.sortBy(e => (e.tus, if (e.event_type == "click") 0 else 1, e.event_id))
  }

  test("foldRun: any consecutive chunking of a sorted run emits the same verdicts") {
    for (seed <- 1 to 25) {
      val run = syntheticRun(seed)
      val whole = foldRun(None, run)
      for (cut <- 0 to run.size) {
        val (a, b) = run.splitAt(cut)
        val (v1, s1) = foldRun(None, a)
        val (v2, s2) = foldRun(s1, b)
        assert((v1 ++ v2, s2) == whole, s"seed $seed cut $cut: chunked fold diverged")
      }
      // replaying any processed prefix is a no-op (monotone frontier)
      val (verdicts, carry) = whole
      for (cut <- 1 to run.size by 7) {
        val (replayed, replayCarry) = foldRun(carry, run.take(cut))
        assert(replayed.isEmpty && replayCarry == carry,
          s"seed $seed: replayed prefix of $cut rows was not suppressed")
      }
      // every purchase emits exactly one verdict
      assert(verdicts.size == run.count(_.event_type == "purchase"))
      // an attributed purchase's click is within the lookback
      verdicts.filter(_.attributed).foreach { v =>
        assert(v.click_tus >= 0 && v.tus - v.click_tus <= StreamingAttribution.LookbackUs)
      }
    }
  }

  /** Batch per-purchase truth: the same union-and-carry the declared
    * `g_attribution` query rides, keeping each purchase's event_id. */
  private def batchVerdicts(): Set[Attribution] = {
    Tables.bind(spark, SparkSpec.sf0001, "events")
    spark.sql(
      """WITH clk AS (
        |  SELECT user_id, tus, 0 AS kind, event_id AS c_id, tus AS c_tus,
        |    CAST(NULL AS BIGINT) AS p_id
        |  FROM events WHERE event_type = 'click'),
        |pur AS (
        |  SELECT user_id, tus, 1 AS kind, CAST(NULL AS BIGINT) AS c_id,
        |    CAST(NULL AS BIGINT) AS c_tus, event_id AS p_id
        |  FROM events WHERE event_type = 'purchase'),
        |carried AS (
        |  SELECT user_id, tus, kind, p_id,
        |    last(c_tus, true) OVER (PARTITION BY user_id
        |      ORDER BY tus, kind, c_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lct
        |  FROM (SELECT * FROM clk UNION ALL SELECT * FROM pur))
        |SELECT user_id, p_id AS event_id, tus,
        |  CAST(tus DIV 86400000000L AS BIGINT) AS day,
        |  (lct IS NOT NULL AND tus - lct <= 604800000000L) AS attributed,
        |  coalesce(lct, -1L) AS click_tus
        |FROM carried WHERE kind = 1""".stripMargin)
      .collect()
      .map(r => Attribution(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4), r.getLong(5))).toSet
  }

  test("drained verdicts equal the batch carry; rollup matches g_attribution; redelivery is a no-op") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val events = Tables.eventsCanonical(spark, SparkSpec.sf0001)
      .selectExpr("event_id", "user_id", "tus", "event_type")
      .where("event_type IN ('click', 'purchase')")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(e => (e._3, if (e._4 == "click") 0 else 1, e._1))
    assert(events.length >= 300)

    def expectedVerdicts(prefix: Seq[(Long, Long, Long, String)]): Long =
      prefix.count(_._4 == "purchase").toLong

    val input = MemoryStream[(Long, Long, Long, String)]
    val out = StreamingAttribution(
      input.toDF().toDF("event_id", "user_id", "tus", "event_type"))
    val q = out.writeStream
      .format("memory").queryName("attr_verdicts")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime(200L))
      .option("checkpointLocation",
        graft.SparkSpec.tempDir("attr-ckpt").toString)
      .start()

    def sinkCount(): Long = spark.sql("SELECT count(*) FROM attr_verdicts").head().getLong(0)
    def awaitCount(expected: Long, timeoutMs: Long = 60000L): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (System.currentTimeMillis() < deadline && sinkCount() != expected)
        Thread.sleep(250)
      assert(sinkCount() == expected, "stream did not drain the event log in time")
    }

    try {
      // three prefix chunks — batch boundaries land mid-user on purpose
      val chunks = events.grouped(events.length / 3 + 1).toSeq
      var fed = Vector.empty[(Long, Long, Long, String)]
      chunks.foreach { c =>
        input.addData(c.toSeq)
        fed ++= c
        awaitCount(expectedVerdicts(fed))
      }

      val streamed = spark.sql(
        """SELECT user_id, event_id, tus, day, attributed, click_tus
          |FROM attr_verdicts""".stripMargin).collect()
        .map(r => Attribution(r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getBoolean(4), r.getLong(5))).toSet

      assert(streamed == batchVerdicts(),
        s"verdict sets diverged: streaming ${streamed.size} rows")

      // the emitted rows roll up to exactly the declared query's report
      val rollup = spark.sql(
        """SELECT day, count(*) AS n_purchases,
          |  CAST(sum(CASE WHEN attributed THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
          |  CAST(1000L * sum(CASE WHEN attributed THEN 1 ELSE 0 END) DIV count(*)
          |    AS BIGINT) AS attribution_millis
          |FROM attr_verdicts GROUP BY day ORDER BY day""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val batch = AnalyticsOps.gAttribution(spark, SparkSpec.sf0001)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rollup.toSeq == batch.toSeq, "daily rollup diverged from g_attribution")

      // at-least-once redelivery: replay the first chunk — nothing new
      val before = sinkCount()
      input.addData(chunks.head.toSeq)
      Thread.sleep(2000)
      assert(sinkCount() == before, "redelivered prefix re-emitted verdicts")
    } finally q.stop()
  }

  test("carried click survives a stop -> restart-from-checkpoint cycle") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val ckpt = graft.SparkSpec.tempDir("attr-restart-ckpt").toString
    val captured = new ConcurrentHashMap[Long, Array[Attribution]]()
    def start(input: MemoryStream[(Long, Long, Long, String)]) =
      StreamingAttribution(input.toDF().toDF("event_id", "user_id", "tus", "event_type"))
        .writeStream
        .outputMode(OutputMode.Append())
        .trigger(Trigger.ProcessingTime(200L))
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: Dataset[Attribution], id: Long) =>
          val rows = df.collect()
          if (rows.nonEmpty) captured.put(id, rows)
          ()
        }
        .start()
    def total(): Long = captured.asScala.values.map(_.length.toLong).sum
    def await(cond: () => Boolean, what: String): Unit = {
      val deadline = System.currentTimeMillis() + 60000L
      while (System.currentTimeMillis() < deadline && !cond()) Thread.sleep(200)
      assert(cond(), s"timed out waiting for $what")
    }

    val input = MemoryStream[(Long, Long, Long, String)]
    // wave 1: a click at t=10s — state only, no emission yet
    val q1 = start(input)
    try {
      input.addData((1L, 42L, 10000000L, "click"))
      input.addData((2L, 42L, 11000000L, "purchase")) // attributed to t=10s
      await(() => total() == 1, "wave-1 verdict")
      Thread.sleep(1200L) // let the offset/state commits land before stopping
    } finally q1.stop()

    // wave 2 from the SAME checkpoint: a purchase 1s later must still see
    // the pre-restart click; one far outside the lookback must not
    val q2 = start(input)
    try {
      input.addData(
        (3L, 42L, 12000000L, "purchase"),
        (4L, 42L, 12000000L + 2 * StreamingAttribution.LookbackUs, "purchase"))
      await(() => total() == 3, "wave-2 verdicts")
      val all = captured.asScala.values.flatten.toSeq.sortBy(_.event_id)
      assert(all.map(_.event_id) == Seq(2L, 3L, 4L))
      assert(all(0).attributed && all(0).click_tus == 10000000L)
      assert(all(1).attributed && all(1).click_tus == 10000000L,
        "post-restart purchase lost the pre-restart carried click")
      assert(!all(2).attributed, "purchase outside the lookback must not attribute")
    } finally q2.stop()
  }
}
