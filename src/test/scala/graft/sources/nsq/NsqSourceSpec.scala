package graft.sources.nsq

import org.apache.spark.sql.connector.read.InputPartition

import graft.SparkSpec.eventually
import graft.SparkSuite
import graft.streaming.{InMemoryTransport, StreamPipeline}
import graft.functions.KplFunctions

class NsqSourceSpec extends SparkSuite {

  private def msgId(i: Int): String = f"$i%016d"

  // how long a read of an empty shard waits for a first message, and how
  // long the source trusts a zero /stats answer
  private val PollMs = 300L

  private def mkStream(server: NsqMiniServer, numShards: Int = 2,
                       extra: Map[String, String] = Map.empty): NsqMicroBatchStream = {
    val opts = new java.util.HashMap[String, String]()
    opts.put("host", "127.0.0.1")
    opts.put("port", server.port.toString)
    opts.put("statsEndpoints", s"127.0.0.1:${server.httpPort}")
    opts.put("topic", "t")
    opts.put("channel", "ch")
    opts.put("numShards", numShards.toString)
    opts.put("pollMs", PollMs.toString)
    extra.foreach { case (k, v) => opts.put(k, v) }
    new NsqMicroBatchStream(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts),
      graft.SparkSpec.tempDir("nsq-drive").toString)
  }

  private def readAll(stream: NsqMicroBatchStream, parts: Array[InputPartition]): Seq[String] = {
    val factory = stream.createReaderFactory()
    parts.flatMap { p =>
      val r = factory.createReader(p)
      val ids = scala.collection.mutable.ArrayBuffer.empty[String]
      while (r.next()) ids += r.get().getUTF8String(0).toString
      ids
    }.toSeq
  }

  /** Opens each shard's standing consumer ahead of a read and waits until
    * the broker has `inFlight` messages out to them and the consumers hold
    * all of them (none left on the socket): a read returns only what its
    * consumer already holds, so even on a slow host it finds them all. */
  private def warm(server: NsqMiniServer, parts: Array[InputPartition], inFlight: Int): Unit = {
    val consumers = parts.map(p => NsqShardConsumers.getOrCreate(p.asInstanceOf[NsqShardPartition]))
    eventually(10000) { assert(server.inFlightCount === inFlight) }
    eventually(10000) { assert(consumers.map(_.buffered).sum === inFlight) }
  }

  private def timedMs[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1000000L)
  }

  test("protocol codec round-trips messages") {
    val m = NsqProtocol.NsqMessage(msgId(7), 123456789L, 3, "hello".getBytes)
    val decoded = NsqProtocol.decodeMessage(NsqProtocol.encodeMessage(m))
    assert(decoded.id === m.id)
    assert(decoded.timestampNs === m.timestampNs)
    assert(decoded.attempts === 3)
    assert(new String(decoded.body) === "hello")
  }

  test("client consumes from mini server, answers heartbeats, FINs on demand") {
    val server = new NsqMiniServer
    val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val client = new NsqClient("127.0.0.1", server.port, "t", "ch",
      maxInFlight = 100, onMessage = m => got.add(new String(m.body)))
    try {
      eventually(10000)(assert(server.hasSubscriber, "no consumer subscribed"))
      assert(client.rdy === 100, "a plain OK to IDENTIFY keeps the requested window")
      (0 until 5).foreach(i => server.publish(msgId(i), s"m$i".getBytes))
      eventually(10000) { assert(got.size === 5) }
      server.sendHeartbeat() // must be answered with NOP, not break the stream
      server.publish(msgId(5), "after-hb".getBytes)
      eventually(10000) { assert(got.size === 6) }
      client.fin(msgId(0))
      eventually(10000) { assert(server.finned.contains(msgId(0))) }
    } finally { client.close(); server.close() }
  }

  test("mini server models RDY as a standing in-flight cap: FIN frees a slot") {
    val server = new NsqMiniServer
    val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // cap 2: only 2 un-FINned messages may be in flight at once
    val client = new NsqClient("127.0.0.1", server.port, "t", "ch",
      maxInFlight = 2, onMessage = m => got.add(m.id))
    try {
      eventually(10000)(assert(server.hasSubscriber, "no consumer subscribed"))
      (0 until 5).foreach(i => server.publish(msgId(i), s"m$i".getBytes))
      eventually(10000) { assert(got.size === 2) } // cap reached
      Thread.sleep(200)
      assert(got.size === 2, "delivery beyond the in-flight cap")
      client.fin(msgId(0)) // frees one slot -> one more delivery
      eventually(10000) { assert(got.size === 3) }
      client.fin(msgId(1)); client.fin(msgId(2))
      eventually(10000) { assert(got.size === 5) }
    } finally { client.close(); server.close() }
  }

  test("IDENTIFY negotiates the window: RDY is clamped to the broker's max_rdy_count") {
    // a broker started with a lower --max-rdy-count than the source's
    // default window rejects a larger RDY with E_INVALID and closes the
    // connection; unclamped, every epoch would rebuild a session that dies
    val server = new NsqMiniServer(maxRdyCount = Some(50))
    val stream = mkStream(server, numShards = 1)
    try {
      (0 until 120).foreach(i => server.publish(msgId(i), s"m$i".getBytes))
      val o1 = stream.latestOffset().asInstanceOf[NsqOffset]
      val parts = stream.planInputPartitions(NsqOffset(0), o1)
      assert(parts.head.asInstanceOf[NsqShardPartition].rdy === NsqSource.DefaultRdy)
      warm(server, parts, 50)
      assert(server.readyCounts === Seq(50L))
      val ids1 = readAll(stream, parts)
      assert(ids1.size === 50)
      stream.commit(o1)
      val o2 = stream.latestOffset().asInstanceOf[NsqOffset]
      val ids2 = readAll(stream, stream.planInputPartitions(o1, o2))
      assert(ids2.nonEmpty, "FINning epoch 1 must free the window for more deliveries")
      assert(NsqShardConsumers.get(stream.sessionId, 0).exists(_.isAlive))
      assert(server.connections.get() === 1, "the negotiated session must never be rebuilt")
    } finally { stream.stop(); server.close() }
  }

  test("without maxPerTrigger one epoch admits everything the shard's window holds") {
    val server = new NsqMiniServer
    val stream = mkStream(server, numShards = 1)
    try {
      (0 until 1500).foreach(i => server.publish(msgId(i), s"m$i".getBytes))
      val o1 = stream.latestOffset().asInstanceOf[NsqOffset]
      val parts = stream.planInputPartitions(NsqOffset(0), o1)
      warm(server, parts, 1500)
      val ids = readAll(stream, parts)
      assert(ids.size === 1500, "no fixed per-trigger row budget may cut the epoch")
      assert(ids.toSet === (0 until 1500).map(msgId).toSet)
    } finally { stream.stop(); server.close() }
  }

  test("a read returns what its shard already holds without waiting out pollMs") {
    val server = new NsqMiniServer
    val stream = mkStream(server, numShards = 1, extra = Map("pollMs" -> "5000"))
    try {
      (0 until 20).foreach(i => server.publish(msgId(i), s"m$i".getBytes))
      val o1 = stream.latestOffset().asInstanceOf[NsqOffset]
      val parts = stream.planInputPartitions(NsqOffset(0), o1)
      warm(server, parts, 20)
      val (ids, ms) = timedMs(readAll(stream, parts))
      assert(ids.toSet === (0 until 20).map(msgId).toSet)
      assert(ms < 1000, s"a read of 20 held messages took $ms ms of a 5000 ms pollMs")
    } finally { stream.stop(); server.close() }
  }

  test("a read of an empty shard returns nothing after about pollMs") {
    val server = new NsqMiniServer
    val stream = mkStream(server, numShards = 1)
    try {
      val parts = stream.planInputPartitions(NsqOffset(0), NsqOffset(1))
      warm(server, parts, 0)
      val (ids, ms) = timedMs(readAll(stream, parts))
      assert(ids.isEmpty)
      assert(ms >= PollMs && ms < PollMs + 3000, s"an empty read took $ms ms for a $PollMs ms pollMs")
    } finally { stream.stop(); server.close() }
  }

  test("an explicit maxPerTrigger splits across shards with a 3x in-flight window") {
    val server = new NsqMiniServer
    val stream = mkStream(server, numShards = 2, extra = Map("maxPerTrigger" -> "100"))
    try {
      (0 until 400).foreach(i => server.publish(msgId(i), s"m$i".getBytes))
      val o1 = stream.latestOffset().asInstanceOf[NsqOffset]
      val parts = stream.planInputPartitions(NsqOffset(0), o1)
      warm(server, parts, 300)
      assert(server.readyCounts === Seq(150L, 150L))
      val perShard = parts.toSeq.map(p => readAll(stream, Array(p)).size)
      assert(perShard.forall(n => n > 0 && n <= 50), s"per-shard takes $perShard")
    } finally { stream.stop(); server.close() }
  }

  test("driver-API drive: epochs admit on depth, FIN lands only after commit") {
    val server = new NsqMiniServer
    val stream = mkStream(server, numShards = 2)
    try {
      // quiescent broker -> offset must NOT advance (processAllAvailable relies on this)
      assert(stream.latestOffset().asInstanceOf[NsqOffset].epoch === 0L)
      assert(stream.latestOffset().asInstanceOf[NsqOffset].epoch === 0L)

      (0 until 10).foreach(i => server.publish(msgId(i), s"m$i".getBytes))
      Thread.sleep(PollMs) // the zero answer above stands for one pollMs
      val o1 = stream.latestOffset().asInstanceOf[NsqOffset]
      assert(o1.epoch === 1L, "published depth must admit a new epoch")

      val parts = stream.planInputPartitions(NsqOffset(0), o1)
      assert(parts.length === 2, "one InputPartition per shard")
      warm(server, parts, 10)
      val ids1 = readAll(stream, parts)
      assert(ids1.toSet === (0 until 10).map(msgId).toSet)
      assert(server.finned.isEmpty, "nothing may be FINned before commit")

      stream.commit(o1)
      assert(server.finned.isEmpty, "FIN happens executor-side at the NEXT read, not in commit")

      // un-FINned in-flight keeps the source admitting epochs until acks land
      val o2 = stream.latestOffset().asInstanceOf[NsqOffset]
      assert(o2.epoch === 2L)
      val ids2 = readAll(stream, stream.planInputPartitions(o1, o2))
      assert(ids2.isEmpty)
      eventually(10000) { assert(server.finned.size === 10, "post-commit read must FIN epoch 1") }

      stream.commit(o2)
      val o3 = stream.latestOffset().asInstanceOf[NsqOffset]
      assert(o3.epoch === 2L, "all FINned + empty -> quiescent, offset frozen")
    } finally { stream.stop(); server.close() }
  }

  test("task retry for an epoch requeues the lost take instead of acking it") {
    val server = new NsqMiniServer
    val stream = mkStream(server, numShards = 1)
    try {
      (0 until 4).foreach(i => server.publish(msgId(i), s"m$i".getBytes))
      val o1 = stream.latestOffset().asInstanceOf[NsqOffset]
      val parts = stream.planInputPartitions(NsqOffset(0), o1)
      val attempt1 = readAll(stream, parts)
      assert(attempt1.nonEmpty)
      // simulate Spark re-executing the same epoch (failed task): the retry
      // must REQ attempt 1's messages (their rows died with the task) and
      // serve the redeliveries; committing afterwards must lose nothing
      val attempt2 = readAll(stream, parts)
      eventually(10000) { assert(server.requeued.size === attempt1.size) }
      val attempt3 = if (attempt2.size < 4) {
        // redeliveries may land after attempt 2's read: once the consumer
        // holds the rest, drain once more
        val consumer = NsqShardConsumers.get(stream.sessionId, 0).get
        eventually(10000) { assert(consumer.buffered === 4 - attempt2.size) }
        readAll(stream, stream.planInputPartitions(o1, NsqOffset(o1.epoch + 1)))
      } else Seq.empty
      assert((attempt2 ++ attempt3).toSet === (0 until 4).map(msgId).toSet)
      assert(server.finned.isEmpty)
    } finally { stream.stop(); server.close() }
  }

  test("end-to-end: nsq source -> dedup/pack pipeline -> kinesis entries, FIN after commit") {
    val server = new NsqMiniServer
    InMemoryTransport.clear()
    val ckpt = graft.SparkSpec.tempDir("graft-nsq-ckpt").toString
    val stream = spark.readStream
      .format("nsq")
      .option("host", "127.0.0.1")
      .option("port", server.port.toString)
      .option("statsEndpoints", s"127.0.0.1:${server.httpPort}")
      .option("topic", "t")
      .option("channel", "ch")
      .load()

    val q = StreamPipeline.build(stream, new InMemoryTransport,
      StreamPipeline.Options(streamName = "nsq-e2e", checkpoint = ckpt))
      .start()
    try {
      (0 until 20).foreach(i => server.publish(msgId(i), s"payload-$i".getBytes))
      (0 until 5).foreach(i => server.publish(msgId(100 + i), s"payload-$i".getBytes)) // dupes
      var user = Vector.empty[String]
      eventually(timeoutMs = 30000) {
        q.processAllAvailable()
        user ++= InMemoryTransport.drain()
          .flatMap { case (_, e) => KplFunctions.deaggregate(e.data).map(_.data) }.map(new String(_))
        assert(user.toSet === (0 until 20).map(i => s"payload-$i").toSet)
      }
      // offsets commit after the sink epoch -> server must see FINs
      eventually(timeoutMs = 30000) {
        q.processAllAvailable()
        assert(server.finned.size >= 20)
      }
    } finally { q.stop(); server.close() }
  }

  test("two brokers: executor-side ingest parallelism > 1, FINs routed to the right broker") {
    val s1 = new NsqMiniServer
    val s2 = new NsqMiniServer
    InMemoryTransport.clear()
    val ckpt = graft.SparkSpec.tempDir("graft-nsq2-ckpt").toString
    val stream = spark.readStream
      .format("nsq")
      .option("hosts", s"127.0.0.1:${s1.port},127.0.0.1:${s2.port}")
      .option("statsEndpoints", s"127.0.0.1:${s1.httpPort},127.0.0.1:${s2.httpPort}")
      .option("numShards", "2")
      .option("topic", "t")
      .option("channel", "ch")
      .load()
    val q = StreamPipeline.build(stream, new InMemoryTransport,
      StreamPipeline.Options(streamName = "nsq-2b", checkpoint = ckpt))
      .start()
    try {
      (0 until 10).foreach(i => s1.publish(msgId(i), s"b1-$i".getBytes))
      (0 until 10).foreach(i => s2.publish(msgId(100 + i), s"b2-$i".getBytes))
      var user = Vector.empty[String]
      eventually(timeoutMs = 30000) {
        q.processAllAvailable()
        user ++= InMemoryTransport.drain()
          .flatMap { case (_, e) => KplFunctions.deaggregate(e.data).map(_.data) }.map(new String(_))
        assert(user.toSet ===
          ((0 until 10).map(i => s"b1-$i") ++ (0 until 10).map(i => s"b2-$i")).toSet)
      }
      // ingest parallelism: each broker owns a standing consumer connection,
      // and >1 distinct shard did real work in task threads (pre-shuffle)
      assert(s1.connections.get() >= 1 && s2.connections.get() >= 1)
      val shards = NsqShardConsumers.ingestStats(ckpt)
      assert(shards.keySet.size >= 2,
        s"expected >=2 shards consuming, got $shards")
      // each broker must see FINs for exactly the ids it delivered
      eventually(timeoutMs = 30000) {
        q.processAllAvailable()
        assert((0 until 10).forall(i => s1.finned.contains(msgId(i))))
        assert((0 until 10).forall(i => s2.finned.contains(msgId(100 + i))))
        assert(!s1.finned.contains(msgId(100)) && !s2.finned.contains(msgId(0)))
      }
    } finally { q.stop(); s1.close(); s2.close() }
  }

  test("lookupd discovery: brokers + stats ports resolved from the /lookup HTTP API") {
    val s1 = new NsqMiniServer
    val s2 = new NsqMiniServer
    // stub nsqlookupd advertising both mini-nsqds (modern response shape)
    val lookupd = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    lookupd.createContext("/lookup", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body =
        s"""{"producers":[
           |{"broadcast_address":"127.0.0.1","tcp_port":${s1.port},"http_port":${s1.httpPort}},
           |{"broadcast_address":"127.0.0.1","tcp_port":${s2.port},"http_port":${s2.httpPort}}]}""".stripMargin
      val b = body.getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length.toLong)
      ex.getResponseBody.write(b); ex.close()
    })
    lookupd.start()
    try {
      val resolved = NsqLookupd.resolve(
        Seq(("127.0.0.1", lookupd.getAddress.getPort)), "t")
      assert(resolved === Seq(("127.0.0.1", s1.port), ("127.0.0.1", s2.port)))
      assert(NsqLookupd.resolveProducers(
        Seq(("127.0.0.1", lookupd.getAddress.getPort)), "t").map(_.httpPort) ===
        Seq(s1.httpPort, s2.httpPort))

      val opts = new java.util.HashMap[String, String]()
      opts.put("lookupd", s"127.0.0.1:${lookupd.getAddress.getPort}")
      opts.put("topic", "t")
      opts.put("channel", "ch")
      opts.put("pollMs", PollMs.toString)
      val stream = new NsqMicroBatchStream(
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts),
        graft.SparkSpec.tempDir("nsq-lkp").toString)
      try {
        // discovered stats endpoints gate admission: empty brokers -> frozen
        assert(stream.latestOffset().asInstanceOf[NsqOffset].epoch === 0L)
        s1.publish(msgId(1), "from-1".getBytes)
        s2.publish(msgId(2), "from-2".getBytes)
        Thread.sleep(PollMs) // the zero answer above stands for one pollMs
        val o1 = stream.latestOffset().asInstanceOf[NsqOffset]
        assert(o1.epoch === 1L)
        // shards cover both discovered brokers; both messages arrive
        val parts = stream.planInputPartitions(NsqOffset(0), o1)
        val hosts = parts.map(_.asInstanceOf[NsqShardPartition].port).toSet
        assert(hosts === Set(s1.port, s2.port))
        val ids = readAll(stream, parts)
        assert(ids.toSet === Set(msgId(1), msgId(2)))
      } finally stream.stop()
    } finally { lookupd.stop(0); s1.close(); s2.close() }
  }

  test("lookupd resolve fails loudly when no producer advertises the topic") {
    val empty = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    empty.createContext("/lookup", (ex: com.sun.net.httpserver.HttpExchange) => {
      val b = """{"producers":[]}""".getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length.toLong)
      ex.getResponseBody.write(b); ex.close()
    })
    empty.start()
    try {
      val e = intercept[java.io.IOException] {
        NsqLookupd.resolve(Seq(("127.0.0.1", empty.getAddress.getPort)), "ghost")
      }
      assert(e.getMessage.contains("ghost"))
    } finally empty.stop(0)
  }

  test("a dead consumer connection is detected and rebuilt; messages redeliver") {
    def frame(size: Int, rest: Array[Byte]): Array[Byte] =
      java.nio.ByteBuffer.allocate(4 + rest.length).putInt(size).put(rest).array()
    // a fatal protocol error, or malformed bytes (NsqProtocolException),
    // kills the reader thread -> dead session; the client closes its
    // socket, so the broker requeues the un-FINned in-flight immediately
    // (no msg_timeout stall)
    val killers = Seq[(String, NsqMiniServer => Unit)](
      "fatal error frame" -> (_.sendError("E_INVALID bad frame")),
      "size field under 4" -> (_.sendRaw(frame(2, Array[Byte](0, 0)))),
      "negative size field" -> (_.sendRaw(frame(-7, Array.emptyByteArray))),
      "message under its 26-byte header" ->
        (_.sendRaw(frame(4 + 10, Array[Byte](0, 0, 0, NsqProtocol.FrameMessage.toByte) ++ new Array[Byte](10)))))
    killers.foreach { case (name, kill) =>
      val server = new NsqMiniServer
      val stream = mkStream(server, numShards = 1)
      try {
        (0 until 3).foreach(i => server.publish(msgId(i), s"m$i".getBytes))
        val o1 = stream.latestOffset().asInstanceOf[NsqOffset]
        val parts = stream.planInputPartitions(NsqOffset(0), o1)
        warm(server, parts, 3)
        val ids1 = readAll(stream, parts)
        assert(ids1.size === 3, name)
        val consumer1 = NsqShardConsumers.get(stream.sessionId, 0).get
        assert(consumer1.isAlive, name)
        kill(server)
        eventually(10000) { assert(!consumer1.isAlive, name) }
        eventually(10000) { assert(server.outstanding === 3, name) }
        // the next epoch's consumer lookup (the one its read makes, run
        // ahead here by warm) must rebuild the connection (round-6 advice:
        // previously take() silently returned empty forever) and serve the
        // broker's redeliveries
        val o2 = stream.latestOffset().asInstanceOf[NsqOffset]
        assert(o2.epoch === o1.epoch + 1, s"$name: outstanding redeliveries must admit an epoch")
        val parts2 = stream.planInputPartitions(o1, o2)
        warm(server, parts2, 3)
        val ids2 = readAll(stream, parts2)
        val consumer2 = NsqShardConsumers.get(stream.sessionId, 0).get
        assert(consumer2 ne consumer1, s"$name: dead consumer must be replaced, not reused")
        assert(consumer2.isAlive, name)
        assert(ids2.toSet === (0 until 3).map(msgId).toSet, name)
      } finally { stream.stop(); server.close() }
    }
  }

  test("idle-TTL reaper closes orphaned consumers so the broker requeues promptly") {
    val server = new NsqMiniServer
    // the default TTL, so the JVM-wide background reaper (every 5 s) never
    // fires during the test; the reap below runs on a clock past the TTL
    val stream = mkStream(server, numShards = 1)
    try {
      (0 until 2).foreach(i => server.publish(msgId(i), s"m$i".getBytes))
      val o1 = stream.latestOffset().asInstanceOf[NsqOffset]
      val parts = stream.planInputPartitions(NsqOffset(0), o1)
      warm(server, parts, 2)
      val ids1 = readAll(stream, parts)
      assert(ids1.size === 2)
      assert(NsqShardConsumers.get(stream.sessionId, 0).isDefined)
      val ttlMs = parts.head.asInstanceOf[NsqShardPartition].idleTtlMs
      NsqShardConsumers.reap(System.nanoTime() + (ttlMs + 1) * 1000000L)
      // the orphan is gone from the registry and its socket close made the
      // broker requeue the un-FINned messages at once (round-6 advice: an
      // abandoned consumer must not blackhole messages until msg_timeout)
      assert(NsqShardConsumers.get(stream.sessionId, 0).isEmpty)
      eventually(10000) { assert(server.outstanding === 2) }
      // a later epoch simply builds a fresh consumer and re-serves
      val o2 = stream.latestOffset().asInstanceOf[NsqOffset]
      val parts2 = stream.planInputPartitions(o1, o2)
      warm(server, parts2, 2)
      val ids2 = readAll(stream, parts2)
      assert(ids2.toSet === (0 until 2).map(msgId).toSet)
    } finally { stream.stop(); server.close() }
  }

  test("an idle source asks each broker for /stats at most once per pollMs") {
    // batches run back to back, so an idle query asks for the next offset
    // every few ms; each ask used to be a /stats request
    val server = new NsqMiniServer
    val stream = mkStream(server, numShards = 1, extra = Map("pollMs" -> "5000"))
    try {
      val epochs = (0 until 50).map(_ => stream.latestOffset().asInstanceOf[NsqOffset].epoch)
      assert(epochs.toSet === Set(0L))
      assert(server.statsRequests.get() <= 2, s"${server.statsRequests.get()} /stats requests")
    } finally { stream.stop(); server.close() }
  }

  test("closeSession pauses every connection before closing any: no requeue reaches the session") {
    // closing shard 0 makes the broker requeue its in-flight messages; were
    // shard 1 still taking deliveries, they would bounce to it and be
    // requeued again by its own close. The broker handles each connection
    // on its own thread, so a bounce is a race: three rounds
    (1 to 3).foreach { round =>
      val server = new NsqMiniServer
      val stream = mkStream(server, numShards = 2)
      try {
        // both connections ready before publishing, so both get a share
        warm(server, stream.planInputPartitions(NsqOffset(0), NsqOffset(1)), 0)
        eventually(10000) { assert(server.readyCounts === Seq.fill(2)(NsqSource.DefaultRdy.toLong)) }
        (0 until 40).foreach(i => server.publish(msgId(i), s"m$i".getBytes))
        eventually(10000) { assert(server.inFlightCount === 40) }
        assert(server.inFlightCounts.size === 2 && server.inFlightCounts.forall(_ > 0),
          s"round $round: in flight per connection: ${server.inFlightCounts}")
        val sent = server.delivered.get()
        NsqShardConsumers.closeSession(stream.sessionId)
        eventually(10000) { assert(server.activeConns === 0) }
        assert(server.outstanding === 40, s"round $round: every in-flight message must be requeued")
        assert(server.delivered.get() === sent,
          s"round $round: a closing connection's requeues reached another of the session's connections")
        assert(server.connRequeued.get() === 40, s"round $round: each message must be requeued once")
      } finally { stream.stop(); server.close() }
    }
  }

  test("the negotiated max_msg_size bounds frames: a larger one kills the session") {
    val server = new NsqMiniServer(maxRdyCount = Some(100), maxMsgSize = 64)
    val plain = new NsqMiniServer
    val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val client = new NsqClient("127.0.0.1", server.port, "t", "ch",
      maxInFlight = 10, onMessage = m => got.add(m.id))
    val plainClient = new NsqClient("127.0.0.1", plain.port, "t", "ch",
      maxInFlight = 10, onMessage = _ => ())
    try {
      assert(client.maxMsgSize === 64L)
      assert(plainClient.maxMsgSize === NsqProtocol.DefaultMaxMsgSize, "a plain OK keeps nsqd's default")
      eventually(10000)(assert(server.hasSubscriber, "no consumer subscribed"))
      server.publish(msgId(0), new Array[Byte](64))
      eventually(10000) { assert(got.size === 1) }
      server.publish(msgId(1), new Array[Byte](65))
      eventually(10000) { assert(!client.isAlive) }
      eventually(10000) { assert(server.outstanding === 2) } // the broker requeues on the drop
      assert(got.size === 1)
    } finally { client.close(); plainClient.close(); server.close(); plain.close() }
  }

  test("transient stats failure backs off, then quiescence detection recovers") {
    val server = new NsqMiniServer
    // stats endpoint that 500s the first request then reports zero work
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val flaky = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    flaky.createContext("/stats", (ex: com.sun.net.httpserver.HttpExchange) => {
      if (calls.getAndIncrement() == 0) { ex.sendResponseHeaders(500, -1); ex.close() }
      else {
        val b = ("""{"topics":[{"topic_name":"t","depth":0,"channels":[""" +
          """{"channel_name":"ch","depth":0,"in_flight_count":0}]}]}""").getBytes("UTF-8")
        ex.sendResponseHeaders(200, b.length.toLong)
        ex.getResponseBody.write(b); ex.close()
      }
    })
    flaky.start()
    val stream = mkStream(server, numShards = 1,
      extra = Map("statsEndpoints" -> s"127.0.0.1:${flaky.getAddress.getPort}"))
    try {
      // failure -> plan unconditionally (availability), with bounded backoff
      assert(stream.latestOffset().asInstanceOf[NsqOffset].epoch === 1L)
      // NOT latched (round-6 advice): once the endpoint answers again with
      // zero outstanding, the offset must freeze so processAllAvailable()
      // can terminate
      val epochs = (0 until 8).map(_ => stream.latestOffset().asInstanceOf[NsqOffset].epoch)
      assert(epochs.takeRight(2).distinct.size === 1, s"offset must freeze, got $epochs")
      assert(calls.get() >= 2, "stats polling must resume after the failure")
    } finally { stream.stop(); flaky.stop(0); server.close() }
  }

  test("restart on the same checkpoint resumes: no loss, no duplicates, no re-FIN replay") {
    // The production restart story: a query stops (deploy, crash after
    // quiescence), messages keep arriving, a NEW query starts on the SAME
    // checkpoint dir. It must (a) pick up the committed epoch instead of
    // restarting at 0, (b) deliver everything published while it was down,
    // (c) never re-emit a payload the first incarnation already committed.
    val server = new NsqMiniServer
    InMemoryTransport.clear()
    val ckpt = graft.SparkSpec.tempDir("graft-nsq-restart").toString
    def startQuery() = StreamPipeline.build(
      spark.readStream.format("nsq")
        .option("host", "127.0.0.1")
        .option("port", server.port.toString)
        .option("statsEndpoints", s"127.0.0.1:${server.httpPort}")
        .option("topic", "t").option("channel", "ch")
        .load(),
      new InMemoryTransport,
      StreamPipeline.Options(streamName = "nsq-restart", checkpoint = ckpt)).start()
    def drainPayloads(): Vector[String] =
      InMemoryTransport.drain()
        .flatMap { case (_, e) => KplFunctions.deaggregate(e.data).map(_.data) }.map(new String(_)).toVector
    var seen = Vector.empty[String]
    val q1 = startQuery()
    try {
      (0 until 10).foreach(i => server.publish(msgId(i), s"gen1-$i".getBytes))
      eventually(timeoutMs = 30000) {
        q1.processAllAvailable()
        seen ++= drainPayloads()
        assert(seen.toSet === (0 until 10).map(i => s"gen1-$i").toSet)
      }
      // quiescent stop: all gen1 FINned, offsets committed
      eventually(timeoutMs = 30000) {
        q1.processAllAvailable()
        assert(server.finned.size >= 10)
      }
    } finally q1.stop()
    // published while no query is running — the broker queues them
    (0 until 10).foreach(i => server.publish(msgId(100 + i), s"gen2-$i".getBytes))
    val q2 = startQuery()
    try {
      eventually(timeoutMs = 30000) {
        q2.processAllAvailable()
        seen ++= drainPayloads()
        assert(seen.toSet === ((0 until 10).map(i => s"gen1-$i") ++
          (0 until 10).map(i => s"gen2-$i")).toSet, "restart lost or hallucinated payloads")
      }
      // exactly-once to the sink across the restart boundary
      assert(seen.size === seen.distinct.size,
        s"duplicate emission across restart: ${seen.groupBy(identity).filter(_._2.size > 1).keys}")
      // and the second incarnation resumed PAST the committed epoch
      assert(server.finned.size >= 20)
    } finally { q2.stop(); server.close() }
  }

  test("a pre-epoch 'position' checkpoint offset fails fast instead of restarting at 0") {
    val server = new NsqMiniServer
    val stream = mkStream(server)
    try {
      val e = intercept[IllegalStateException] {
        stream.deserializeOffset("""{"position":42}""")
      }
      assert(e.getMessage.contains("position"))
      assert(e.getMessage.contains("checkpoint"))
      // the current format still parses
      assert(stream.deserializeOffset("""{"epoch":7}""").asInstanceOf[NsqOffset].epoch === 7L)
    } finally { stream.stop(); server.close() }
  }

  test("shards carry stable preferredLocations so standing consumers are reused") {
    spark // force the shared session so executor info is available
    val server = new NsqMiniServer
    val stream = mkStream(server, numShards = 4)
    try {
      server.publish(msgId(0), "x".getBytes)
      val o1 = stream.latestOffset().asInstanceOf[NsqOffset]
      val p1 = stream.planInputPartitions(NsqOffset(0), o1).map(_.asInstanceOf[NsqShardPartition])
      assert(p1.forall(_.preferredLocations().length === 1),
        "every shard must pin to a host when executors are known")
      // pinning must be stable across epochs - that is what keeps a shard's
      // task landing where its standing consumer lives
      val p2 = stream.planInputPartitions(o1, NsqOffset(o1.epoch + 1))
        .map(_.asInstanceOf[NsqShardPartition])
      assert(p1.map(_.preferredHost).toSeq === p2.map(_.preferredHost).toSeq)
    } finally { stream.stop(); server.close() }
  }
}
