package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.{SparkSpec, SparkSuite, Tables}
import graft.operators.AnalyticsOps

/** The streaming bot screen's contract: [[StreamingBotScreen.foldRun]]
  * is associative over ordered concatenation (so batch boundaries are
  * invisible), and after draining the event log in per-user event-time
  * order the per-user summaries aggregate to EXACTLY the batch
  * `g_bot_regularity` census. */
class StreamingBotScreenSpec extends SparkSuite {

  import StreamingBotScreen.{bucket, foldRun, EventRow, RunStats}

  test("foldRun: any consecutive chunking of a sorted run folds to the same stats") {
    def events(seed: Int): Vector[EventRow] = {
      val rnd = new scala.util.Random(seed)
      var t = 1000000L * rnd.nextInt(1000).toLong
      (0 until 40).map { i =>
        // mix sub-second, in-hour, and beyond-clamp jumps so the clamp
        // and the DIV-truncation paths are all exercised
        t += (rnd.nextInt(4) match {
          case 0 => rnd.nextInt(999999).toLong            // < 1 s
          case 1 => 1000000L * rnd.nextInt(3600).toLong   // in-clamp
          case 2 => 1000000L * (3600L + rnd.nextInt(100000))  // clamped
          case 3 => 0L                                    // tie on tus
        })
        EventRow(event_id = i.toLong, user_id = 7L, tus = t)
      }.toVector
    }
    for (seed <- 1 to 25) {
      val run = events(seed)
      val whole = foldRun(None, run)
      // associativity over every consecutive 2-way split
      for (cut <- 0 to run.size) {
        val (a, b) = run.splitAt(cut)
        assert(foldRun(foldRun(None, a), b) == whole,
          s"seed $seed cut $cut: chunked fold diverged")
      }
      // and over a random many-way chunking
      val rnd = new scala.util.Random(seed)
      val chunked = run.foldLeft(Vector(Vector.empty[EventRow])) { (acc, e) =>
        if (rnd.nextBoolean()) acc.init :+ (acc.last :+ e)
        else acc :+ Vector(e)
      }
      assert(chunked.foldLeft(Option.empty[RunStats])(foldRun) == whole,
        s"seed $seed: many-way chunking diverged")
    }
  }

  test("streaming census equals batch g_bot_regularity after draining in event-time order") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val events = Tables.eventsCanonical(spark, SparkSpec.sf0001)
      .selectExpr("event_id", "user_id", "tus")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // global (tus, event_id) sort ⟹ per-user event-time order, the
      // delivery the equivalence contract assumes
      .sortBy(e => (e._3, e._1))
    assert(events.length >= 1000)

    val input = MemoryStream[(Long, Long, Long)]
    val out = StreamingBotScreen(
      input.toDF().toDF("event_id", "user_id", "tus"))
    val q = out.writeStream
      .format("memory").queryName("bot_screen")
      .outputMode(OutputMode.Update())
      .trigger(Trigger.ProcessingTime(200L))
      .option("checkpointLocation",
        graft.SparkSpec.tempDir("bot-ckpt").toString)
      .start()

    def latest(): Map[Long, (Long, Long, Long, Long, Long)] =
      spark.sql(
        """SELECT user_id, n_events, n_gaps, sg, sg2, cv2_bucket
          |FROM bot_screen""".stripMargin).collect()
        .groupBy(_.getLong(0))
        .view.mapValues { rs =>
          val r = rs.maxBy(_.getLong(1)) // n_events is strictly monotone
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
        }.toMap

    def awaitEvents(expected: Long, timeoutMs: Long = 60000L): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (System.currentTimeMillis() < deadline &&
             latest().values.iterator.map(_._1).sum != expected)
        Thread.sleep(250)
      assert(latest().values.iterator.map(_._1).sum == expected,
        "stream did not drain the event log in time")
    }

    try {
      // three prefix chunks — batch boundaries land mid-user on purpose
      val chunks = events.grouped(events.length / 3 + 1).toSeq
      var fed = 0L
      chunks.foreach { c =>
        input.addData(c.toSeq)
        fed += c.length
        awaitEvents(fed)
      }

      // per-user emissions → (bucket → users, gaps) census, ≥5-gap support
      val streamedCensus = latest().values
        .filter(_._2 >= StreamingBotScreen.MinGaps)
        .groupBy(v => bucket(v._2, v._3, v._4))
        .view.mapValues(vs => (vs.size.toLong, vs.iterator.map(_._2).sum)).toMap

      val batchCensus = AnalyticsOps.gBotRegularity(spark, SparkSpec.sf0001)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

      assert(streamedCensus == batchCensus,
        s"census diverged: streaming $streamedCensus vs batch $batchCensus")
      // and the emitted buckets agree with the state they summarize
      latest().values.filter(_._2 >= StreamingBotScreen.MinGaps).foreach { v =>
        assert(v._5 == bucket(v._2, v._3, v._4))
      }
    } finally q.stop()
  }
}
