package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** stream_backlog: a pre-published backlog of small event bodies (the
  * `events` rows as JSON, numbered so every replay pass is unique; a seeded
  * 25 % of publishes repeat one of the last 1,000 bodies) on two fake
  * brokers, drained by `StreamPipeline.build` over the `nsq` source with
  * `maxPerTrigger=50000` and graft.Main's session settings. */
object Backlog {
  val PerSecond = 12000   // unique records per --seconds of input
  val WarmRecords = 1000
  val WarmRounds = 3

  def run(ctx: Harness.Ctx): Map[String, Any] = {
    val rows = Files.readAllLines(ctx.dataDir.resolve("events.jsonl"), UTF_8).asScala.toVector
      .map(_.trim).filter(_.startsWith("{"))
    def body(seq: Int): Array[Byte] =
      (SinkLedger.bodyPrefix(seq) + "," + rows(seq % rows.size).substring(1)).getBytes(UTF_8)
    val total = PerSecond * ctx.seconds
    val feed = new Feed(((total + WarmRounds * WarmRecords) / 0.7).toInt + 10000, ctx.seed, 0.25)
    val kernel = Harness.kernelRung(ctx, (0 until 50000).map(body))
    val calibration = Harness.calibrate(ctx, (0 until 40000).map(body))
    val log = ctx.runDir.resolve("system.log")
    val proc = new SystemProc(ctx.javaOpts, ctx.classpath, "perfbench.BacklogSystem", Nil, ctx.env, log)
    def brokers() = Vector.fill(2)(new FakeNsqd(feed.broker))
    def fill(bs: Vector[FakeNsqd], uniques: Int): Unit = {
      feed.newStream()
      val until = feed.uniques + uniques
      var i = 0
      while (feed.uniques < until) { feed.publish(bs(i % bs.size), Clock.nowNs, body); i += 1 }
    }
    def start(name: String, bs: Vector[FakeNsqd], sink: FakeKinesis): Long = {
      val t0 = Clock.nowNs
      proc.send(Seq("start", name, bs.map(_.hostPort).mkString(","), bs.map(_.statsHostPort).mkString(","),
        sink.endpoint, "50000", ctx.runDir.resolve(s"ckpt-$name").toAbsolutePath.toString).mkString(" "))
      proc.await(s"started $name", 60)
      t0
    }
    def lastReceipt(from: Int, until: Int): Long =
      (from until until).iterator.map(feed.sink.receivedNs.get).max
    try {
      proc.await("ready", 120)
      val readyS = (Clock.nowNs - proc.launchNs) / 1e9
      val warmSink = new FakeKinesis(ctx.creds, feed.sink, ctx.sinkThreads)
      val warm = (1 to WarmRounds).map { k =>
        val bs = brokers()
        val from = feed.uniques
        fill(bs, WarmRecords)
        val t0 = start(s"warm$k", bs, warmSink)
        if (!Paced.waitFor(() => feed.allReceived(from, feed.uniques), 90))
          throw new IllegalStateException(s"warm-up round $k did not deliver; see $log")
        val s = (lastReceipt(from, feed.uniques) - t0) / 1e9
        proc.send(s"stop warm$k"); proc.await("stopped", 60)
        bs.foreach(_.close())
        s
      }
      warmSink.close()
      val setupS = readyS + Stats.median(warm)

      val bs = brokers()
      val sink = new FakeKinesis(ctx.creds, feed.sink, ctx.sinkThreads)
      val from = feed.uniques
      val pub0 = feed.broker.published
      val planted0 = feed.planted
      fill(bs, total)
      val until = feed.uniques
      val published = feed.broker.published - pub0
      val t0 = start("bench", bs, sink)
      val depthMax = bs.map(_.outstanding).sum
      val drained = Paced.waitFor(() => feed.allReceived(from, until), 150)
      val drainS = if (drained) (lastReceipt(from, until) - t0) / 1e9 else Double.NaN
      Paced.waitFor(() => bs.forall(_.outstanding == 0), 10)
      val rssMb = proc.peakRssMb
      proc.send("stop bench")
      val stopped = Json.read(proc.await("stopped", 60))
      proc.send("exit"); proc.await("bye", 30); proc.waitExit(15)
      val progress = stopped.path("progress").elements().asScala.toVector
      val puts = stopped.path("puts").elements().asScala.toVector
        .map(a => (0 until 4).map(a.get(_).asLong()).toArray)
      val done = (from until until).map(s => (feed.sink.receivedNs.get(s) - t0) / 1e6).filter(_ > 0)
      val (tail, tailPct, n) = Stats.tail(done)
      val checks = Harness.sinkChecks(feed.sink, sink, feed.uniques, feed.planted)
      val drainRate = (until - from) / drainS
      val calibrationOk = calibration >= 3.0 * drainRate
      feed.traceMessages(ctx.tracer, feed.broker.published, 200000)
      puts.foreach(p => ctx.tracer.span(s"put#${p(0)}", 0, "streaming.sink", "putRecords", p(0), p(1)))
      val layers = Harness.progressMetrics(ctx, progress) ++
        Harness.brokerMetrics(feed.broker, pub0, feed.broker.published) ++
        Harness.sinkMetrics(sink, puts) ++ Map(
          "sources.nsq.backlog_depth.max" -> depthMax.toDouble,
          "streaming.dedup.drop_ratio" ->
            (1.0 - checks("duplicate_deliveries").asInstanceOf[Long].toDouble / math.max(1L, feed.planted)),
          "kernel.pack.ns_per_record" -> kernel("ns_per_record").asInstanceOf[Double])
      bs.foreach(_.close()); sink.close()
      Map(
        "workload" -> "stream_backlog",
        "correct" -> (drained && checks("error_share") == 0.0 && checks("duplicate_deliveries") == 0L &&
          checks("signature_rejects") == 0L && kernel("fixture_aggregates") == 42 && calibrationOk),
        "attempted" -> feed.uniques, "failed" -> (feed.uniques - feed.sink.unique.get()),
        "end_to_end" -> Map(
          "setup_s" -> setupS, "peak_rss_mb" -> rssMb,
          "intact_share" -> (1.0 - checks("error_share").asInstanceOf[Double]),
          "rate_per_s" -> drainRate,
          "latency_p50_ms" -> Stats.median(done), "latency_tail_ms" -> tail),
        "report" -> Map(
          "setup_s" -> setupS, "peak_rss_mb" -> rssMb, "error_share" -> checks("error_share"),
          "dup_share" -> checks("dup_share"), "drain_rec_s" -> drainRate,
          "put_units_per_krec" -> layers("kernel.pack.put_units_per_krec")),
        "per_layer" -> layers, "checks" -> checks, "kernel" -> kernel,
        "input" -> Map("unique_records" -> (until - from), "published" -> published,
          "planted_duplicates" -> (feed.planted - planted0), "brokers" -> 2, "max_per_trigger" -> 50000,
          "mean_body_bytes" -> (from until until).take(10000).map(body(_).length).sum / 10000.0),
        "setup" -> Map("session_s" -> readyS, "warm_rounds_s" -> warm, "warm_records" -> WarmRecords),
        "drain" -> Map("seconds" -> drainS, "completion_tail_pct" -> tailPct, "samples" -> n),
        "calibration" -> Map("rec_per_s" -> calibration, "required" -> 3.0 * drainRate, "valid" -> calibrationOk),
        "generator" -> Map("open_loop" -> false, "pre_published" -> true, "dup_share" -> 0.25),
        "trace" -> Paced.traceOut(ctx))
    } finally proc.stop(5)
  }
}
