package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.{SparkSpec, SparkSuite, Tables}
import graft.operators.AnalyticsOps

/** The streaming SCD2 build's contract: [[StreamingScd2.foldRun]] is
  * associative over ordered concatenation (micro-batch boundaries are
  * invisible), the drained closure stream equals the batch
  * `g_scd2_state` query's closed (`is_current = 0`) rows exactly, and
  * at-least-once redelivery of an already-processed prefix emits
  * nothing (the monotone frontier). */
class StreamingScd2Spec extends SparkSuite {

  import StreamingScd2.{foldRun, ClosedInterval, EventRow, OpenInterval}

  private def syntheticRun(seed: Int): Vector[EventRow] = {
    val rnd = new scala.util.Random(seed)
    var t = 1000000L * rnd.nextInt(1000).toLong
    (0 until 50).map { i =>
      t += (if (rnd.nextInt(4) == 0) 0L else 1000000L * (1 + rnd.nextInt(500)).toLong)
      EventRow(event_id = i.toLong, user_id = 7L, tus = t,
        event_type = s"t${rnd.nextInt(3)}")
    }.toVector
  }

  test("foldRun: any consecutive chunking of a sorted run closes the same intervals") {
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
      assert(closedAll.map(_.version) == closedAll.indices.map(i => (i + 1).toLong).toVector)
    }
  }

  test("drained closures equal batch g_scd2_state closed rows; redelivery emits nothing") {
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

    // the fold predicts how many closures each fed prefix must emit —
    // the sink-drain condition for the polling waits below
    def expectedClosures(prefix: Seq[(Long, Long, Long, String)]): Long =
      prefix.groupBy(_._2).valuesIterator.map { rows =>
        foldRun(rows.head._2, None,
          rows.map(e => EventRow(e._1, e._2, e._3, e._4)))._1.size.toLong
      }.sum

    val input = MemoryStream[(Long, Long, Long, String)]
    val out = StreamingScd2(
      input.toDF().toDF("event_id", "user_id", "tus", "event_type"))
    val q = out.writeStream
      .format("memory").queryName("scd2_closures")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime(200L))
      .option("checkpointLocation",
        graft.SparkSpec.tempDir("scd2-ckpt").toString)
      .start()

    def sinkCount(): Long = spark.sql("SELECT count(*) FROM scd2_closures").head().getLong(0)
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
        """SELECT user_id, version, state, valid_from, valid_to, n_events
          |FROM scd2_closures""".stripMargin).collect()
        .map(r => ClosedInterval(r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet

      val batchClosed = AnalyticsOps.gScd2State(spark, SparkSpec.sf0001)
        .filter("is_current = 0")
        .collect()
        .map(r => ClosedInterval(r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet

      assert(streamed == batchClosed,
        s"closure sets diverged: streaming ${streamed.size} vs batch ${batchClosed.size} rows")

      // at-least-once redelivery: replay the first chunk — the monotone
      // frontier must suppress every row, emitting nothing new
      val before = sinkCount()
      input.addData(chunks.head.toSeq)
      Thread.sleep(2000)
      assert(sinkCount() == before, "redelivered prefix re-emitted closures")
    } finally q.stop()
  }

  test("dimension maintenance executed: the closure stream MERGEs into the lake exactly once") {
    // The COVERAGE.md twin-table story, DRIVEN: StreamingScd2's closures
    // flow through LakeMerge's snapshot/pointer/batch-ledger commit into a
    // parquet dimension history, and the final corpus equals the fold's
    // predicted closed-interval set — append-only SCD2 maintenance as an
    // executed pipeline, not prose. Key mapping: (user_id, version) is the
    // dimension row's natural key (each closes at most once, ever), packed
    // into LakeMerge's doc_id; the attributes ride the text column.
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val events = graft.Tables.eventsCanonical(spark, SparkSpec.sf0001)
      .selectExpr("event_id", "user_id", "tus", "event_type")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(e => (e._3, e._1))
      .take(3000)

    def expectedRows(fed: Seq[(Long, Long, Long, String)]): Set[(Long, String)] =
      fed.groupBy(_._2).toSeq.flatMap { case (uid, rows) =>
        foldRun(uid, None, rows.map(e => EventRow(e._1, e._2, e._3, e._4)))._1
      }.map(c => (c.user_id * 1000000L + c.version,
        s"${c.state}|${c.valid_from}|${c.valid_to}|${c.n_events}")).toSet
    val expected = expectedRows(events.toSeq)
    assert(expected.size >= 10, "the prefix must close enough intervals to exercise the merge")

    val lakeDir = graft.SparkSpec.tempDir("scd2-lake").toString
    val input = MemoryStream[(Long, Long, Long, String)]
    val q = StreamingScd2(input.toDF().toDF("event_id", "user_id", "tus", "event_type"))
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamingScd2.ClosedInterval], id: Long) =>
        val mapped = b.toDF().selectExpr(
          "user_id * 1000000 + version AS doc_id",
          "concat(state, '|', valid_from, '|', valid_to, '|', n_events) AS text",
          "'upsert' AS op",
          // a (user, version) key appears in exactly one closure ever, so
          // any per-key op_seq works; valid_to is the natural one
          "valid_to AS op_seq")
        LakeMerge.mergeBatch(lakeDir)(mapped, id)
        ()
      }
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime(200L))
      .option("checkpointLocation",
        graft.SparkSpec.tempDir("scd2-lake-ckpt").toString)
      .start()
    try {
      def corpus(): Set[(Long, String)] =
        LakeMerge.readCorpus(spark, lakeDir)
          .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      // two chunks, second fed only after the first committed a snapshot —
      // so the merge provably commits MORE than one
      val chunks = events.grouped(events.length / 2 + 1).toSeq
      input.addData(chunks.head.toSeq)
      val d1 = System.currentTimeMillis() + 60000L
      while (System.currentTimeMillis() < d1 && corpus().isEmpty) Thread.sleep(500)
      assert(corpus().nonEmpty, "first chunk committed no snapshot")
      chunks.tail.foreach(c => input.addData(c.toSeq))
      val deadline = System.currentTimeMillis() + 90000L
      while (System.currentTimeMillis() < deadline && corpus() != expected)
        Thread.sleep(500)
      assert(corpus() == expected,
        s"lake corpus diverged from the fold: ${corpus().size} vs ${expected.size} rows; " +
          s"missing ${(expected -- corpus()).take(3)}")
      // the commit ledger advanced and a replayed batch id would skip
      val (lastId, _) = LakeMerge.latest(lakeDir).get
      assert(lastId >= 1L, "at least two snapshots should have committed")
    } finally q.stop()
  }
}
