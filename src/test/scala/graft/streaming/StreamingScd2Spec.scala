package graft.streaming

import org.apache.spark.sql.Dataset

import graft.{SparkSpec, Tables}

/** The streaming SCD2 build, [[StreamingScd2]]: `foldRun` is associative
  * over ordered concatenation (micro-batch boundaries are invisible) and
  * drops a replayed prefix (the monotone frontier); the closure stream
  * MERGEs into a lake exactly once. Its stream arms — closures equal batch
  * `g_scd2_state`'s closed rows, redelivery emits nothing, the open
  * interval survives a restart — are the `Scd2` row of [[TwinContracts]]. */
class StreamingScd2Spec extends TwinSuite {

  import StreamingScd2.{foldRun, ClosedInterval, EventRow}

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

  test("dimension maintenance executed: the closure stream MERGEs into the lake exactly once") {
    // The COVERAGE.md twin-table story, DRIVEN: StreamingScd2's closures
    // flow through LakeMerge's snapshot/pointer/batch-ledger commit into a
    // parquet dimension history, and the final corpus equals the fold's
    // predicted closed-interval set — append-only SCD2 maintenance as an
    // executed pipeline, not prose. Key mapping: (user_id, version) is the
    // dimension row's natural key (each closes at most once, ever), packed
    // into LakeMerge's doc_id; the attributes ride the text column.
    val events = Tables.eventsCanonical(spark, SparkSpec.sf0001)
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

    val lakeDir = SparkSpec.tempDir("scd2-lake").toString
    def merge(b: Dataset[ClosedInterval], id: Long): Unit = {
      val mapped = b.toDF().selectExpr(
        "user_id * 1000000 + version AS doc_id",
        "concat(state, '|', valid_from, '|', valid_to, '|', n_events) AS text",
        "'upsert' AS op",
        // a (user, version) key appears in exactly one closure ever, so
        // any per-key op_seq works; valid_to is the natural one
        "valid_to AS op_seq")
      LakeMerge.mergeBatch(lakeDir)(mapped, id)
    }
    val run = TwinContracts.Scd2.run(sink = merge).start()
    try {
      def corpus(): Set[(Long, String)] =
        LakeMerge.readCorpus(spark, lakeDir)
          .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      // two chunks, the second fed only after the first committed a
      // snapshot — so the merge provably commits MORE than one
      val chunks = events.grouped(events.length / 2 + 1).toSeq
      run.add(chunks.head.toSeq)
      assert(corpus().nonEmpty, "first chunk committed no snapshot")
      chunks.tail.foreach(c => run.add(c.toSeq))
      assert(corpus() == expected,
        s"lake corpus diverged from the fold: ${corpus().size} vs ${expected.size} rows; " +
          s"missing ${(expected -- corpus()).take(3)}")
      // the commit ledger advanced and a replayed batch id would skip
      val (lastId, _) = LakeMerge.latest(lakeDir).get
      assert(lastId >= 1L, "at least two snapshots should have committed")
    } finally run.stop()
  }
}
