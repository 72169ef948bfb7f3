package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSuite

class PipelineMetricsSpec extends SparkSuite {

  test("listener reports per-batch input rows and dedup state size") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    InMemoryTransport.clear()
    val metrics = PipelineMetrics.attach(spark)
    val input = MemoryStream[Msg]
    input.addData((0 until 40).map(i =>
      Msg(f"$i%016d", new Timestamp(1000000000L + i), 1, s"m-$i".getBytes)))
    val q = StreamPipeline.build(input.toDF(), new InMemoryTransport,
      StreamPipeline.Options(streamName = "metrics",
        checkpoint = graft.SparkSpec.tempDir("m-ckpt").toString))
      .start()
    try { q.processAllAvailable() } finally q.stop()
    spark.streams.removeListener(metrics)
    // listener events are async; drain with a deadline
    val deadline = System.currentTimeMillis() + 10000
    while (metrics.totalInputRows < 40 && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(metrics.totalInputRows >= 40)
    assert(metrics.batches.stream().anyMatch(b => b.stateRows > 0)) // dedup state visible

    // X-Ray-style per-stage attribution (round 14): the engine's own
    // segment durations must be captured and roll up into the
    // where-does-the-time-go table — addBatch (the sink work) must be
    // attributed, and every share must be a sane millis value
    assert(metrics.batches.stream().anyMatch(b => b.segments.contains("addBatch")),
      "per-batch segment durations must be captured from the progress event")
    assert(metrics.batches.stream().anyMatch(b => b.stateSegments.contains("stateCommit")),
      "state-store segments must be captured for the stateful dedup")
    val attr = metrics.attribution
    assert(attr.contains("addBatch"))
    assert(attr.contains("stateCommit"))
    attr.foreach { case (k, (ms, share)) =>
      assert(ms >= 0L && share >= 0L, s"segment $k has negative attribution")
    }
    // engine segments partition the trigger wall: no single segment can be
    // attributed more than the whole (shares are ‰ of total trigger time)
    val engineOnly = attr -- Seq("stateUpdate", "stateRemove", "stateCommit")
    engineOnly.foreach { case (k, (_, share)) =>
      assert(share <= 1000L, s"engine segment $k claims ${share}‰ > 1000‰ of the trigger wall")
    }
    assert(metrics.traceLine.startsWith("trigger="), metrics.traceLine)
  }

  test("reporters export per-batch metric lines: log sink and statsd wire (round 17)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    InMemoryTransport.clear()

    // a real UDP listener on an ephemeral port stands in for statsd
    val server = new java.net.DatagramSocket(0)
    server.setSoTimeout(10000)
    val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val statsd = new StatsdReporter("127.0.0.1", server.getLocalPort, prefix = "graft")
    val metrics = PipelineMetrics.attach(
      spark, new LogReporter(sink = logged.add(_)), statsd)

    val input = MemoryStream[Msg]
    input.addData((0 until 25).map(i =>
      Msg(f"$i%016d", new Timestamp(1000000000L + i), 1, s"r-$i".getBytes)))
    val q = StreamPipeline.build(input.toDF(), new InMemoryTransport,
      StreamPipeline.Options(streamName = "reported",
        checkpoint = graft.SparkSpec.tempDir("rep-ckpt").toString))
      .start()
    try { q.processAllAvailable() } finally q.stop()
    spark.streams.removeListener(metrics)

    // drain the wire until the data-carrying batch's packet arrives
    val received = new scala.collection.mutable.ArrayBuffer[String]()
    val deadline = System.currentTimeMillis() + 10000
    while (!received.exists(_.contains("input_rows:25|c")) &&
        System.currentTimeMillis() < deadline) {
      val buf = new Array[Byte](65536)
      val pkt = new java.net.DatagramPacket(buf, buf.length)
      try {
        server.receive(pkt)
        received ++= new String(pkt.getData, 0, pkt.getLength, "UTF-8").linesIterator
      } catch { case _: java.net.SocketTimeoutException => }
    }
    statsd.close(); server.close()

    // statsd lines: <prefix>.<query>.<name>:<value>|<type>, one batch
    // carrying the 25 input rows as a counter and addBatch as a timer
    val wire = received.toSeq
    assert(wire.exists(_.matches("""graft\.[A-Za-z0-9_.-]+\.input_rows:25\|c""")),
      s"expected the 25-row counter on the wire, got:\n${wire.mkString("\n")}")
    assert(wire.exists(_.matches("""graft\.[A-Za-z0-9_.-]+\.segment\.addBatch:\d+\|ms""")),
      s"expected the addBatch timer on the wire, got:\n${wire.mkString("\n")}")
    assert(wire.exists(_.matches("""graft\.[A-Za-z0-9_.-]+\.state_rows:\d+\|g""")),
      s"expected the state-rows gauge on the wire, got:\n${wire.mkString("\n")}")
    wire.foreach { l =>
      assert(l.matches("""[A-Za-z0-9_.-]+:-?\d+\|(c|ms|g)"""), s"malformed statsd line: $l")
    }

    // the log sink carries the same metrics in its own line format
    val logLines = logged.toArray(Array.empty[String]).toSeq
    assert(logLines.exists(l => l.startsWith("metric graft.") && l.contains(".input_rows=25|c")),
      s"expected the log-sink counter, got:\n${logLines.mkString("\n")}")
    assert(logLines.forall(_.matches("""metric [A-Za-z0-9_.-]+=-?\d+\|(c|ms|g) batch=\d+""")),
      s"malformed log line among:\n${logLines.mkString("\n")}")
  }
}
