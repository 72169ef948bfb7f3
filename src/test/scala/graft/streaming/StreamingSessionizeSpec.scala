package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.{SparkSpec, SparkSuite, Tables}
import graft.operators.AnalyticsOps

/** The streaming sessionization twin's contract:
  * [[StreamingSessionize.foldRun]] is associative over ordered
  * concatenation (micro-batch boundaries are invisible) and suppresses
  * replayed prefixes (the monotone frontier); the drained closure stream
  * equals the batch gaps-and-islands referee's non-final sessions
  * exactly, with the in-state open session accounting for each user's
  * final island; and the emitted rows plus those opens roll up by plain
  * SQL to exactly the declared `g_sessionize` census (the
  * StreamingAttribution rollup-equality convention). */
class StreamingSessionizeSpec extends SparkSuite {

  import StreamingSessionize.{foldRun, ClosedSession, EventRow}

  private def syntheticRun(seed: Int): Vector[EventRow] = {
    val rnd = new scala.util.Random(seed)
    var t = 1000000L * rnd.nextInt(1000).toLong
    (0 until 60).map { i =>
      // gaps straddle the 30-min rule: ~1/3 of steps jump past it
      t += (if (rnd.nextInt(4) == 0) 0L
            else 1000000L * (1 + rnd.nextInt(3200)).toLong)
      EventRow(event_id = i.toLong, user_id = 7L, tus = t,
        event_type = s"t${rnd.nextInt(3)}")
    }.toVector
  }

  test("foldRun: any consecutive chunking of a sorted run closes the same sessions") {
    for (seed <- 1 to 25) {
      val run = syntheticRun(seed)
      val whole = foldRun(7L, None, run)
      for (cut <- 0 to run.size) {
        val (a, b) = run.splitAt(cut)
        val (c1, s1) = foldRun(7L, None, a)
        val (c2, s2) = foldRun(7L, s1, b)
        assert((c1 ++ c2, s2) == whole, s"seed $seed cut $cut: chunked fold diverged")
      }
      // replaying any processed prefix is a no-op (monotone frontier)
      val (closedAll, open) = whole
      for (cut <- 1 to run.size by 7) {
        val (replayClosed, replayOpen) = foldRun(7L, open, run.take(cut))
        assert(replayClosed.isEmpty && replayOpen == open,
          s"seed $seed: replayed prefix of $cut rows was not suppressed")
      }
      // island ids are dense from 1 and sessions never overlap in time
      assert(closedAll.map(_.sid) == closedAll.indices.map(i => (i + 1).toLong).toVector)
      closedAll.foreach(c => assert(c.start_tus <= c.end_tus && c.n_events >= 1))
    }
  }

  test("drained closures equal the batch islands; rollup equals g_sessionize; redelivery emits nothing") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val events = Tables.eventsCanonical(spark, SparkSpec.sf0001)
      .selectExpr("event_id", "user_id", "tus", "event_type")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      // global (tus, event_id) sort ⟹ per-user event-time order, the
      // delivery the equivalence contract assumes
      .sortBy(e => (e._3, e._1))
    assert(events.length >= 1000)

    // batch gaps-and-islands referee: every session (user, sid) with the
    // batch query's own island algebra — the independent truth both the
    // closure set and the open-state accounting compare against
    Tables.eventsCanonical(spark, SparkSpec.sf0001)
      .createOrReplaceTempView("sess_ref_events")
    val refSessions = spark.sql(
      """WITH seq AS (
        |  SELECT user_id, event_id, tus, event_type,
        |    CASE WHEN lag(tus) OVER (PARTITION BY user_id
        |           ORDER BY tus, event_id) IS NULL
        |           OR tus - lag(tus) OVER (PARTITION BY user_id
        |                ORDER BY tus, event_id) > 1800000000L
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM sess_ref_events),
        |ids AS (
        |  SELECT user_id, tus, event_type, is_new,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS sid
        |  FROM seq)
        |SELECT user_id, sid, max(CASE WHEN is_new = 1 THEN event_type END) AS entry_type,
        |  min(tus) AS start_tus, max(tus) AS end_tus, count(*) AS n_events
        |FROM ids GROUP BY user_id, sid""".stripMargin).collect()
      .map(r => ClosedSession(r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val lastSid = refSessions.groupBy(_.user_id).view.mapValues(_.map(_.sid).max).toMap
    val refClosed = refSessions.filterNot(c => lastSid(c.user_id) == c.sid).toSet
    val refOpen = refSessions.filter(c => lastSid(c.user_id) == c.sid).toSet

    def expectedClosures(prefix: Seq[(Long, Long, Long, String)]): Long =
      prefix.groupBy(_._2).valuesIterator.map { rows =>
        foldRun(rows.head._2, None,
          rows.map(e => EventRow(e._1, e._2, e._3, e._4)))._1.size.toLong
      }.sum

    val input = MemoryStream[(Long, Long, Long, String)]
    val out = StreamingSessionize(
      input.toDF().toDF("event_id", "user_id", "tus", "event_type"))
    val q = out.writeStream
      .format("memory").queryName("sess_closures")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime(200L))
      .option("checkpointLocation",
        graft.SparkSpec.tempDir("sess-ckpt").toString)
      .start()

    def sinkCount(): Long = spark.sql("SELECT count(*) FROM sess_closures").head().getLong(0)
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
        awaitCount(expectedClosures(fed))
      }

      val streamed = spark.sql(
        """SELECT user_id, sid, entry_type, start_tus, end_tus, n_events
          |FROM sess_closures""".stripMargin).collect()
        .map(r => ClosedSession(r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      assert(streamed == refClosed,
        s"closure sets diverged: streaming ${streamed.size} vs batch ${refClosed.size} rows")

      // the fold's in-state open sessions are exactly the batch final
      // islands — the state half of the equivalence
      val foldOpen = events.groupBy(_._2).values.flatMap { rows =>
        val uid = rows.head._2
        foldRun(uid, None, rows.sortBy(e => (e._3, e._1))
          .map(e => EventRow(e._1, e._2, e._3, e._4)))._2
          .map(s => ClosedSession(uid, s.sid, s.entry_type, s.start_tus, s.last_tus, s.n_events))
      }.toSet
      assert(foldOpen == refOpen,
        s"open-session state diverged: fold ${foldOpen.size} vs batch ${refOpen.size} rows")

      // rollup equality vs the DECLARED query: closures + opens aggregated
      // with the census SQL reproduce g_sessionize row for row
      import spark.implicits._
      (streamed ++ foldOpen).toSeq
        .toDF().createOrReplaceTempView("sess_all")
      val rolled = spark.sql(
        """SELECT entry_type,
          |  CAST(count(*) AS BIGINT) AS n_sessions,
          |  CAST(sum(n_events) AS BIGINT) AS n_events,
          |  CAST(1000L * sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
          |    DIV count(*) AS BIGINT) AS bounce_milli,
          |  CAST(1000L * sum(n_events) DIV count(*) AS BIGINT)
          |    AS events_per_session_milli,
          |  CAST(sum(end_tus - start_tus) DIV (1000L * count(*)) AS BIGINT)
          |    AS mean_duration_milli
          |FROM sess_all GROUP BY entry_type
          |ORDER BY entry_type""".stripMargin).collect().map(_.toSeq).toSeq
      val declared = AnalyticsOps.gSessionize(spark, SparkSpec.sf0001)
        .collect().map(_.toSeq).toSeq
      assert(rolled == declared, "closure+open rollup diverged from the declared census")

      // at-least-once redelivery: replay the first chunk — the monotone
      // frontier must suppress every row, emitting nothing new
      val before = sinkCount()
      input.addData(chunks.head.toSeq)
      Thread.sleep(2000)
      assert(sinkCount() == before, "redelivered prefix re-emitted sessions")
    } finally q.stop()
  }
}
