package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

/** Publishes a seeded stream of unique bodies with planted duplicates: a
  * duplicate re-publishes, byte for byte, one of the last 1,000 unique
  * bodies. Unique bodies are numbered (`seq`); publishes are numbered too. */
final class Feed(capacity: Int, seed: Long, dupShare: Double) {
  val broker = new BrokerLedger(capacity)
  val sink = new SinkLedger(capacity)
  val dueNs = new Array[Long](capacity)
  val seqOfPublish = new Array[Int](capacity)
  private val rng = new scala.util.Random(seed)
  private val ring = new Array[Array[Byte]](1000)
  private val ringSeq = new Array[Int](1000)
  private var ringSize = 0
  private var ringAt = 0
  var uniques = 0
  var planted = 0L

  /** Plant later duplicates only from bodies published after this call:
    * each query's dedup state starts empty. */
  def newStream(): Unit = { ringSize = 0; ringAt = 0 }

  /** Publish the next slot to `to`; `body(seq)` builds a new unique body. */
  def publish(to: FakeNsqd, due: Long, body: Int => Array[Byte]): Unit = {
    if (ringSize > 0 && rng.nextDouble() < dupShare) {
      val k = rng.nextInt(ringSize)
      val n = broker.allocate()
      seqOfPublish(n) = ringSeq(k)
      planted += 1
      to.publish(n, ring(k))
    } else {
      val seq = uniques
      uniques += 1
      val b = body(seq)
      sink.expect(seq, b)
      dueNs(seq) = due
      ring(ringAt) = b; ringSeq(ringAt) = seq
      ringAt = (ringAt + 1) % ring.length
      ringSize = math.min(ringSize + 1, ring.length)
      val n = broker.allocate()
      seqOfPublish(n) = seq
      to.publish(n, b)
    }
  }

  /** Latency (ms) of each unique in [from, until) from its due time to its
    * first receipt at the sink; +inf if it never arrived. */
  def latencies(from: Int, until: Int): Vector[Double] =
    (from until until).iterator.map { s =>
      val r = sink.receivedNs.get(s)
      if (r == 0L) Double.PositiveInfinity else (r - dueNs(s)) / 1e6
    }.toVector

  /** Unique records per second the sink received for [from, until): the
    * inverse least-squares slope of receipt time over receipt rank. At a
    * rate the system keeps up with this is the offered rate; above its
    * capacity it is the capacity. */
  def deliveredRate(from: Int, until: Int): Double = {
    val all = (from until until).map(s => sink.receivedNs.get(s)).filter(_ > 0).sorted
    val ts = all.drop(all.size / 4).map(_ / 1e9)   // the first quarter shares batches with the rung before
    if (ts.size < 10) return 0.0
    val mx = (ts.size - 1) / 2.0
    val my = ts.sum / ts.size
    var cov = 0.0; var vr = 0.0
    ts.indices.foreach { i => cov += (i - mx) * (ts(i) - my); vr += (i - mx) * (i - mx) }
    vr / cov
  }

  def allReceived(from: Int, until: Int): Boolean =
    (from until until).forall(s => sink.receivedNs.get(s) != 0L)

  /** Message spans: publish → deliver at the broker, deliver → sink
    * receipt in the engine, receipt → FIN awaiting the commit. */
  def traceMessages(t: Tracer, publishes: Int, limit: Int): Unit =
    if (t.on) (0 until math.min(publishes, limit)).foreach { n =>
      val s = seqOfPublish(n)
      val pub = broker.publishNs.get(n); val del = broker.firstDeliverNs.get(n)
      val rec = sink.receivedNs.get(s); val fin = broker.finNs.get(n)
      if (del > 0 && rec > 0 && fin > 0) {
        val tr = s"msg#$n"
        val root = t.span(tr, 0, "e2e", "message", pub, math.max(rec, fin))
        t.span(tr, root, "sources.nsq", "queued", pub, del)
        if (rec > del) t.span(tr, root, "spark", "engine", del, rec)
        if (fin > rec) t.span(tr, root, "sources.nsq", "fin_wait", rec, fin)
      }
    }
}

/** stream_paced: graft.Main, unchanged, fed an open-loop ladder of 1 kB
  * bodies stamped with their due time (10 % planted duplicates). A rung is
  * met when its p99 latency from due time to sink receipt is ≤ 5 s, every
  * record arrives, and latency does not grow across the rung (a growing
  * backlog): its slope over due time stays ≤ 0.1 s per s. */
object Paced {
  val Rates = Seq(250, 500, 1000, 2000)
  val LimitMs = 5000.0
  val MaxGrowth = 0.1
  val BodyBytes = 1000

  def body(seed: Long, seq: Int, due: Long): Array[Byte] = {
    val head = SinkLedger.bodyPrefix(seq) + f""","due":$due%019d,"pad":""""
    val r = new scala.util.Random(seed * 1000003L + seq)
    val sb = new StringBuilder(head)
    while (sb.length < BodyBytes - 2) sb.append(('a' + r.nextInt(26)).toChar)
    sb.append("\"}").toString.getBytes(UTF_8)
  }

  def run(ctx: Harness.Ctx): Map[String, Any] = {
    val w = ctx.seconds
    val feed = new Feed(Rates.sum * w * 2 + 50000, ctx.seed, 0.10)
    val broker = new FakeNsqd(feed.broker)
    val sink = new FakeKinesis(ctx.creds, feed.sink, ctx.sinkThreads)
    val sample = (0 until 4000).map(i => body(ctx.seed, i, 0L))
    val kernel = Harness.kernelRung(ctx, sample)
    val calibration = Harness.calibrate(ctx, sample)
    val log = ctx.runDir.resolve("system.log")
    val proc = new SystemProc(ctx.javaOpts, ctx.classpath, "graft.Main", Seq(
      "--topic", "events", "--channel", "graft",
      "--nsqd-tcp-address", broker.hostPort, "--nsqd-http-address", broker.statsHostPort,
      "--stream", "bench", "--kinesis-endpoint", sink.endpoint,
      "--checkpoint", ctx.runDir.resolve("ckpt").toAbsolutePath.toString,
      "--sink-dir", ctx.runDir.resolve("sink").toAbsolutePath.toString), ctx.env, log)
    val depthMax = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var sampling = true
    val sampler = new Thread(() => while (sampling) {
      depthMax.accumulateAndGet(broker.outstanding, math.max)
      Thread.sleep(100)
    })
    sampler.setDaemon(true)
    try {
      // set-up: from launch until the first probe body reaches the sink
      while (feed.sink.unique.get() == 0) {
        if (!proc.alive) throw new IllegalStateException(s"graft.Main exited; see $log")
        if (Clock.nowNs - proc.launchNs > 150e9) throw new IllegalStateException("no delivery within 150 s")
        feed.publish(broker, Clock.nowNs, s => body(ctx.seed, s, Clock.nowNs))
        Thread.sleep(100)
      }
      val firstNs = (0 until feed.uniques).map(feed.sink.receivedNs.get).filter(_ > 0).min
      val setupS = (firstNs - proc.launchNs) / 1e9
      sampler.start()
      val publishes0 = feed.broker.published
      val lateness = Vector.newBuilder[Double]
      // the first rungs run back to back (each rung's first quarter is left
      // out of the growth test); a higher rung runs only while all below it
      // were met
      def rung(rate: Int, start: Long): (Int, Int, Long, Int) = {
        val from = feed.uniques
        val pub0 = feed.broker.published
        schedule(feed, broker, ctx.seed, rate, w, start, lateness)
        (from, feed.uniques, start, feed.broker.published - pub0)
      }
      def evaluate(rate: Int, r: (Int, Int, Long, Int)): Map[String, Any] = {
        val (from, until, start, published) = r
        waitFor(() => feed.allReceived(from, until), 30)
        val lat = feed.latencies(from, until)
        val (p99, p99pct, n) = Stats.p99(lat)
        val growth = growthSlope((from until until).map(s => (feed.dueNs(s) - start) / 1e9 -> lat(s - from)), w)
        val met = p99 <= LimitMs && growth <= MaxGrowth && !lat.exists(_.isInfinite)
        // delivered messages per second: unique receipts scaled by the
        // rung's published / unique ratio (planted duplicates are work too)
        Map("rate" -> rate, "records" -> n,
          "delivered_per_s" -> feed.deliveredRate(from, until) * published / (until - from),
          "latency_p50_ms" -> Stats.median(lat),
          "latency_p99_ms" -> p99, "latency_tail_pct" -> p99pct, "growth_s_per_s" -> growth, "met" -> met)
      }
      val t0 = Clock.nowNs + 100000000L
      val first = Rates.take(3).zipWithIndex.map { case (rate, i) => rate -> rung(rate, t0 + i * w * 1000000000L) }
      var rungs = first.map { case (rate, r) => evaluate(rate, r) }.toVector
      Rates.drop(3).foreach { rate =>
        if (rungs.forall(_("met") == true)) rungs :+= evaluate(rate, rung(rate, Clock.nowNs + 100000000L))
      }
      waitFor(() => feed.allReceived(0, feed.uniques), 30)
      val rssMb = proc.peakRssMb
      proc.stop(15)
      sampling = false
      val progress = parseProgress(log)
      val sustained = rungs.takeWhile(_("met") == true).lastOption.map(_("rate").asInstanceOf[Int]).getOrElse(0)
      // the highest rung run is either missed (saturated: delivered is the
      // capacity) or the top rung, met
      val peak = rungs.last("delivered_per_s").asInstanceOf[Double]
      val r500 = rungs.find(_("rate") == 500).get
      val r250 = rungs.find(_("rate") == 250).get
      val checks = Harness.sinkChecks(feed.sink, sink, feed.uniques, feed.planted)
      val maxRate = math.max(peak, Rates.head.toDouble)
      val calibrationOk = calibration >= 3.0 * maxRate
      val late = lateness.result()
      feed.traceMessages(ctx.tracer, feed.broker.published, 200000)
      val layers = Harness.progressMetrics(ctx, progress) ++
        Harness.brokerMetrics(feed.broker, publishes0, feed.broker.published) ++
        Harness.sinkMetrics(sink, Nil) ++ Map(
          "sources.nsq.backlog_depth.max" -> depthMax.get.toDouble,
          "streaming.dedup.drop_ratio" ->
            (1.0 - checks("duplicate_deliveries").asInstanceOf[Long].toDouble / math.max(1L, feed.planted)),
          "kernel.pack.ns_per_record" -> kernel("ns_per_record").asInstanceOf[Double])
      Map(
        "workload" -> "stream_paced",
        "correct" -> (checks("error_share") == 0.0 && checks("duplicate_deliveries") == 0L &&
          checks("signature_rejects") == 0L && kernel("fixture_aggregates") == 42 && calibrationOk),
        "attempted" -> feed.uniques, "failed" -> (feed.uniques - feed.sink.unique.get()),
        "end_to_end" -> Map(
          "setup_s" -> setupS, "peak_rss_mb" -> rssMb,
          "intact_share" -> (1.0 - checks("error_share").asInstanceOf[Double]),
          "rate_per_s" -> peak,
          "latency_p50_ms" -> r500("latency_p50_ms"), "latency_tail_ms" -> r500("latency_p99_ms")),
        "report" -> Map(
          "setup_s" -> setupS, "peak_rss_mb" -> rssMb, "error_share" -> checks("error_share"),
          "dup_share" -> checks("dup_share"), "sustained_rate" -> sustained, "peak_delivered_rate" -> peak,
          "latency_p50_ms.r250" -> r250("latency_p50_ms"), "latency_p99_ms.r250" -> r250("latency_p99_ms"),
          "latency_p50_ms.r500" -> r500("latency_p50_ms"), "latency_p99_ms.r500" -> r500("latency_p99_ms"),
          "put_units_per_krec" -> layers("kernel.pack.put_units_per_krec")),
        "per_layer" -> layers, "rungs" -> rungs, "checks" -> checks, "kernel" -> kernel,
        "calibration" -> Map("rec_per_s" -> calibration, "required" -> 3.0 * maxRate, "valid" -> calibrationOk),
        "generator" -> Map("lateness_p99_ms" -> Stats.pct(late, 99), "lateness_max_ms" -> late.max,
          "open_loop" -> true, "rung_seconds" -> w, "body_bytes" -> BodyBytes, "dup_share" -> 0.10),
        "trace" -> traceOut(ctx))
    } finally {
      sampling = false
      proc.stop(5)
      broker.close(); sink.close()
    }
  }

  /** Publish `rate`/s for `seconds` from `start`, open loop: each slot is
    * due at a fixed time whether or not the system keeps up. */
  def schedule(feed: Feed, broker: FakeNsqd, seed: Long, rate: Int, seconds: Int, start: Long,
               lateness: scala.collection.mutable.Builder[Double, Vector[Double]]): Unit = {
    val n = rate * seconds
    val step = 1e9 / rate
    var i = 0
    while (i < n) {
      val due = start + (i * step).toLong
      Clock.sleepUntilNs(due)
      lateness += (Clock.nowNs - due) / 1e6
      feed.publish(broker, due, s => body(seed, s, due))
      i += 1
    }
  }

  /** Least-squares slope of latency over due time (seconds of latency
    * per second of rung), skipping the rung's first quarter. Batches make
    * latency a sawtooth, whose bias on the slope is about period × depth /
    * rung² (≈ 0.03 here); a backlog that grows adds deficit / capacity. */
  def growthSlope(pts: Seq[(Double, Double)], rungS: Int): Double = {
    val xs = pts.filter { case (t, l) => t >= 0.25 * rungS && !l.isInfinite }
    if (xs.size < 10) return Double.PositiveInfinity
    val mx = xs.map(_._1).sum / xs.size
    val my = xs.map(_._2).sum / xs.size
    val cov = xs.map { case (t, l) => (t - mx) * (l - my) }.sum
    val vr = xs.map { case (t, _) => (t - mx) * (t - mx) }.sum
    cov / vr / 1000.0
  }

  def waitFor(cond: () => Boolean, timeoutS: Double): Boolean = {
    val deadline = Clock.nowNs + (timeoutS * 1e9).toLong
    while (!cond() && Clock.nowNs < deadline) Thread.sleep(20)
    cond()
  }

  /** Main's per-batch progress, from its log: each JSON object that
    * follows "Streaming query made progress: ". */
  def parseProgress(log: java.nio.file.Path): Vector[JsonNode] = {
    val text = new String(Files.readAllBytes(log), UTF_8)
    val marker = "made progress: "
    val out = Vector.newBuilder[JsonNode]
    var at = text.indexOf(marker)
    while (at >= 0) {
      val start = text.indexOf('{', at)
      var depth = 0; var i = start; var done = false
      while (i < text.length && !done) {
        text.charAt(i) match {
          case '{' => depth += 1
          case '}' => depth -= 1; if (depth == 0) done = true
          case _ => ()
        }
        i += 1
      }
      if (done) out += Json.read(text.substring(start, i))
      at = text.indexOf(marker, i)
    }
    out.result()
  }

  def traceOut(ctx: Harness.Ctx): Map[String, Any] =
    if (!ctx.tracer.on) Map("on" -> false)
    else Map("on" -> true, "self_ms_per_trace" -> ctx.tracer.selfMsPerTrace,
      "self_ms_by_layer" -> ctx.tracer.selfMsPerTrace.getOrElse("msg", Map.empty),
      "spans_total" -> ctx.tracer.all.size, "spans" -> ctx.tracer.toJson(3000))
}
