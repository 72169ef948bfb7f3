package graft.streaming

/** The streaming attribution twin, [[StreamingAttribution]]: `foldRun` is
  * associative over ordered concatenation (micro-batch boundaries are
  * invisible) and drops a replayed prefix (monotone frontier). Its stream
  * arms — verdicts equal the batch carry and roll up to `g_attribution`,
  * redelivery emits nothing, the carried click survives a restart — are
  * the `Attribution` row of [[TwinContracts]]. */
class StreamingAttributionSpec extends TwinSuite {

  import StreamingAttribution.{foldRun, TouchRow}

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
}
