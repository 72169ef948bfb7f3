package graft.streaming

/** The streaming bot screen, [[StreamingBotScreen]]: `foldRun` is associative
  * over ordered concatenation, so batch boundaries are invisible. Its stream
  * arms — per-user summaries that aggregate to exactly the batch
  * `g_bot_regularity` census — are the `BotScreen` row of
  * [[TwinContracts]]. */
class StreamingBotScreenSpec extends TwinSuite {

  import StreamingBotScreen.{foldRun, EventRow, RunStats}

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
}
