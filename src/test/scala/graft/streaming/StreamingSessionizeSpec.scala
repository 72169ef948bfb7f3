package graft.streaming

/** The streaming sessionization twin, [[StreamingSessionize]]: `foldRun` is
  * associative over ordered concatenation and drops replayed prefixes (the
  * monotone frontier). Its stream arms — closures equal the batch
  * gaps-and-islands referee, the open sessions account for each user's
  * final island, and both roll up to `g_sessionize` — are the `Sessionize`
  * row of [[TwinContracts]]. */
class StreamingSessionizeSpec extends TwinSuite {

  import StreamingSessionize.{foldRun, EventRow}

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
}
