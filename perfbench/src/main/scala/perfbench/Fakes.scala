package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataOutputStream, InputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicLongArray}
import java.util.concurrent.Executors

import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.kernel.KplProtobuf
import graft.streaming.SigV4

/** Per-message broker bookkeeping shared by every fake nsqd of a run,
  * indexed by the message's publish number (its NSQ id is that number in
  * 16 hex digits). */
final class BrokerLedger(capacity: Int) {
  val publishNs = new AtomicLongArray(capacity)
  val firstDeliverNs = new AtomicLongArray(capacity)
  val finNs = new AtomicLongArray(capacity)
  val redeliveries = new AtomicLong(0)
  val requeues = new AtomicLong(0)   // REQ commands, timeouts and dropped connections
  val fins = new AtomicLong(0)
  private val next = new AtomicLong(0)
  def allocate(): Int = {
    val n = next.getAndIncrement()
    require(n < capacity, s"broker ledger full ($capacity messages)")
    n.toInt
  }
  def published: Int = next.get().toInt
}

/** A fake nsqd serving one topic over protocol v2 plus `/stats` over HTTP,
  * with nsqd's delivery rules: RDY is a standing in-flight cap per
  * connection, a channel's messages go to one connection each, REQ and
  * `msg_timeout` requeue, a closed connection requeues its in-flight. IO is
  * buffered and a delivery pass flushes once, so the broker is not what
  * limits the engine (the harness calibrates this before each run). */
final class FakeNsqd(ledger: BrokerLedger) {
  private final class Msg(val n: Int, val body: Array[Byte], var attempts: Int) {
    var deliveredNs = 0L
  }
  private final class Conn(val socket: Socket) {
    val out = new DataOutputStream(new BufferedOutputStream(socket.getOutputStream, 1 << 16))
    var ready = 0L
    var msgTimeoutNs = 60000000000L
    val inFlight = mutable.LinkedHashMap.empty[Int, Msg]
    var dirty = false
  }

  private val lock = new Object
  private val pending = new java.util.ArrayDeque[Msg]()
  private val deferred = mutable.ArrayBuffer.empty[(Long, Msg)]
  private val conns = mutable.ArrayBuffer.empty[Conn]
  private var rr = 0
  @volatile private var channel = ""
  private val running = new AtomicBoolean(true)
  private val server = new ServerSocket(0, 64, java.net.InetAddress.getLoopbackAddress)
  val tcpPort: Int = server.getLocalPort

  private val http = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  val httpPort: Int = http.getAddress.getPort
  http.createContext("/stats", (ex: HttpExchange) => {
    val q = Option(ex.getRequestURI.getQuery).getOrElse("")
    val topic = q.split("&").collectFirst { case kv if kv.startsWith("topic=") => kv.substring(6) }
      .getOrElse("t")
    val (depth, inFlight) = lock.synchronized((pending.size + deferred.size, conns.map(_.inFlight.size).sum))
    val chans = if (channel.isEmpty) "" else
      s"""{"channel_name":"$channel","depth":$depth,"in_flight_count":$inFlight}"""
    val body = s"""{"version":"fake","topics":[{"topic_name":"$topic","depth":$depth,"channels":[$chans]}]}"""
      .getBytes(UTF_8)
    ex.sendResponseHeaders(200, body.length.toLong)
    ex.getResponseBody.write(body); ex.close()
  })
  http.start()

  def hostPort: String = s"127.0.0.1:$tcpPort"
  def statsHostPort: String = s"127.0.0.1:$httpPort"

  /** Queued plus in-flight: nsqd's own notion of outstanding work. */
  def outstanding: Int = lock.synchronized(pending.size + deferred.size + conns.map(_.inFlight.size).sum)

  def publish(n: Int, body: Array[Byte]): Unit = {
    ledger.publishNs.set(n, Clock.nowNs)
    lock.synchronized { pending.add(new Msg(n, body, 1)); deliver() }
  }

  private def idHex(n: Int): String = f"$n%016x"

  /** Fill every connection's spare RDY round-robin; flush what was written.
    * Caller holds `lock`. */
  private def deliver(): Unit = {
    var progress = true
    while (!pending.isEmpty && progress && conns.nonEmpty) {
      progress = false
      var i = 0
      val k = conns.size
      while (!pending.isEmpty && i < k) {
        val c = conns(rr % k); rr += 1; i += 1
        if (c.inFlight.size < c.ready) {
          val m = pending.poll()
          val now = Clock.nowNs
          m.deliveredNs = now
          c.inFlight.put(m.n, m)
          if (!ledger.firstDeliverNs.compareAndSet(m.n, 0L, now)) ledger.redeliveries.incrementAndGet()
          // a dead socket keeps the message in flight; the connection's
          // reader sees EOF and requeues it
          try {
            c.out.writeInt(4 + 8 + 2 + 16 + m.body.length)
            c.out.writeInt(2)
            c.out.writeLong(ledger.publishNs.get(m.n))
            c.out.writeShort(m.attempts)
            c.out.write(idHex(m.n).getBytes(UTF_8))
            c.out.write(m.body)
            c.dirty = true
          } catch { case _: java.io.IOException => () }
          progress = true
        }
      }
    }
    conns.foreach { c =>
      if (c.dirty) { c.dirty = false; try c.out.flush() catch { case _: java.io.IOException => () } }
    }
  }

  private def requeue(m: Msg, delayNs: Long): Unit = {
    ledger.requeues.incrementAndGet()
    m.attempts += 1
    if (delayNs <= 0) pending.add(m) else deferred += ((Clock.nowNs + delayNs, m))
  }

  private def dropConn(c: Conn): Unit = lock.synchronized {
    if (conns.contains(c)) {
      conns -= c
      c.inFlight.values.foreach(requeue(_, 0L))
      c.inFlight.clear()
      deliver()
    }
    try c.socket.close() catch { case _: Throwable => () }
  }

  private val reaper = new Thread(() => {
    while (running.get()) {
      Thread.sleep(100)
      lock.synchronized {
        val now = Clock.nowNs
        conns.foreach { c =>
          val expired = c.inFlight.values.filter(m => now - m.deliveredNs > c.msgTimeoutNs).toVector
          expired.foreach { m => c.inFlight.remove(m.n); requeue(m, 0L) }
        }
        val (due, later) = deferred.partition(_._1 <= now)
        deferred.clear(); deferred ++= later
        due.foreach { case (_, m) => pending.add(m) }
        deliver()
      }
    }
  }, "fake-nsqd-reaper")
  reaper.setDaemon(true)
  reaper.start()

  private val acceptor = new Thread(() => {
    try {
      while (running.get()) {
        val s = server.accept()
        s.setTcpNoDelay(true)
        val t = new Thread(() => serve(s), "fake-nsqd-conn")
        t.setDaemon(true)
        t.start()
      }
    } catch { case _: Throwable => () }
  }, "fake-nsqd-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  private def readLine(in: InputStream, buf: java.lang.StringBuilder): String = {
    buf.setLength(0)
    var b = in.read()
    while (b >= 0 && b != '\n') { buf.append(b.toChar); b = in.read() }
    if (b < 0) null else buf.toString
  }

  private def respond(c: Conn, frameType: Int, s: String): Unit = lock.synchronized {
    val d = s.getBytes(UTF_8)
    try { c.out.writeInt(d.length + 4); c.out.writeInt(frameType); c.out.write(d); c.out.flush() }
    catch { case _: java.io.IOException => () }
  }

  private def serve(s: Socket): Unit = {
    val c = new Conn(s)
    val in = new BufferedInputStream(s.getInputStream, 1 << 16)
    val buf = new java.lang.StringBuilder
    try {
      val magic = new Array[Byte](4)
      new java.io.DataInputStream(in).readFully(magic)
      var line = readLine(in, buf)
      while (line != null && running.get()) {
        val parts = line.split(' ')
        parts(0) match {
          case "FIN" =>
            val n = java.lang.Long.parseLong(parts(1), 16).toInt
            lock.synchronized {
              if (c.inFlight.remove(n).isDefined) {
                ledger.fins.incrementAndGet()
                ledger.finNs.compareAndSet(n, 0L, Clock.nowNs)
              }
              deliver()
            }
          case "RDY" => lock.synchronized { c.ready = parts(1).toLong; deliver() }
          case "REQ" =>
            val n = java.lang.Long.parseLong(parts(1), 16).toInt
            val delayNs = if (parts.length > 2) parts(2).toLong * 1000000L else 0L
            lock.synchronized { c.inFlight.remove(n).foreach(requeue(_, delayNs)); deliver() }
          case "IDENTIFY" =>
            val d = new java.io.DataInputStream(in)
            val body = new Array[Byte](d.readInt()); d.readFully(body)
            """"msg_timeout"\s*:\s*(\d+)""".r.findFirstMatchIn(new String(body, UTF_8))
              .foreach(m => c.msgTimeoutNs = m.group(1).toLong * 1000000L)
            respond(c, 0, "OK")
          case "SUB" =>
            if (parts.length > 2) channel = parts(2)
            lock.synchronized(conns += c)
            respond(c, 0, "OK")
          case "CLS" => respond(c, 0, "CLOSE_WAIT")
          case _ => ()   // NOP
        }
        line = readLine(in, buf)
      }
    } catch { case _: Throwable => () }
    dropConn(c)
  }

  def close(): Unit = {
    running.set(false)
    try http.stop(0) catch { case _: Throwable => () }
    try server.close() catch { case _: Throwable => () }
    lock.synchronized(conns.toVector).foreach(c => try c.socket.close() catch { case _: Throwable => () })
  }
}

/** What the sink knows about the records it should receive: a 64-bit
  * checksum of each unique body by record number, and the first receipt
  * time of each. */
final class SinkLedger(capacity: Int) {
  val expected = new Array[Long](capacity)
  val receivedNs = new AtomicLongArray(capacity)
  val duplicates = new AtomicLong(0)
  val corrupt = new AtomicLong(0)
  val unique = new AtomicLong(0)

  def expect(seq: Int, body: Array[Byte]): Unit = expected(seq) = SinkLedger.checksum(body)

  /** Record one delivered user record; bodies start `{"seq":<12 digits>`. */
  def receive(body: Array[Byte], nowNs: Long): Unit = {
    val seq = SinkLedger.seqOf(body)
    if (seq < 0 || seq >= capacity || expected(seq) != SinkLedger.checksum(body)) corrupt.incrementAndGet()
    else if (receivedNs.compareAndSet(seq, 0L, nowNs)) unique.incrementAndGet()
    else duplicates.incrementAndGet()
  }
}

object SinkLedger {
  private val prefix = "{\"seq\":".getBytes(UTF_8)
  def checksum(b: Array[Byte]): Long =
    (scala.util.hashing.MurmurHash3.bytesHash(b, 0x5eed).toLong << 32) ^
      (scala.util.hashing.MurmurHash3.bytesHash(b, 0x2bad).toLong & 0xffffffffL)
  def seqOf(b: Array[Byte]): Int = {
    if (b.length < prefix.length + 12) return -1
    var i = 0
    while (i < prefix.length) { if (b(i) != prefix(i)) return -1; i += 1 }
    var v = 0L
    while (i < prefix.length + 12) {
      val d = b(i) - '0'
      if (d < 0 || d > 9) return -1
      v = v * 10 + d; i += 1
    }
    v.toInt
  }
  def bodyPrefix(seq: Int): String = f"""{"seq":$seq%012d"""
}

/** A Kinesis `PutRecords` endpoint that re-derives every request's SigV4
  * signature from the bytes it received (403 on mismatch), checks each KPL
  * aggregate's magic and MD5, de-aggregates, and hands every user record to
  * the [[SinkLedger]]. Counts what the user pays: requests, wire bytes,
  * entries and 25 KB PUT payload units. */
final class FakeKinesis(creds: SigV4.Credentials, ledger: SinkLedger, threads: Int) {
  val requests = new AtomicLong(0)
  val signatureRejects = new AtomicLong(0)
  val badAggregates = new AtomicLong(0)
  val entries = new AtomicLong(0)
  val userRecords = new AtomicLong(0)
  val userBytes = new AtomicLong(0)
  val wireBytes = new AtomicLong(0)
  val putUnits = new AtomicLong(0)
  val entryBytes = new AtomicLong(0)

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "fake-kinesis"); t.setDaemon(true); t
  })
  server.setExecutor(pool)
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val seqNo = new AtomicLong(0)

  server.createContext("/", (ex: HttpExchange) => {
    val body = ex.getRequestBody.readAllBytes()
    val h = ex.getRequestHeaders
    def hdr(k: String) = Option(h.getFirst(k)).getOrElse("")
    val amzDate = hdr("X-Amz-Date")
    val signed = Seq("content-type" -> hdr("Content-Type"), "host" -> hdr("Host"),
      "x-amz-date" -> amzDate, "x-amz-target" -> hdr("X-Amz-Target"))
    val ok = amzDate.length == 16 && SigV4.authorization("POST", "/", "", signed, body,
      "us-east-1", "kinesis", creds, amzDate) == hdr("Authorization")
    val (code, resp) =
      if (!ok) {
        signatureRejects.incrementAndGet()
        403 -> """{"__type":"AccessDeniedException","message":"signature mismatch"}"""
      } else if (hdr("X-Amz-Target").endsWith("CreateStream")) 200 -> "{}"
      else {
        requests.incrementAndGet()
        wireBytes.addAndGet(body.length.toLong)
        val recs = mapper.readTree(body).path("Records")
        val out = new StringBuilder("""{"FailedRecordCount":0,"Records":[""")
        val now = Clock.nowNs
        var i = 0
        while (i < recs.size()) {
          val r = recs.get(i)
          val data = java.util.Base64.getDecoder.decode(r.path("Data").asText())
          val pk = r.path("PartitionKey").asText().getBytes(UTF_8).length
          entries.incrementAndGet()
          entryBytes.addAndGet(data.length.toLong)
          putUnits.addAndGet((data.length + pk + 25599L) / 25600L)
          if (KplProtobuf.isAggregated(data)) {
            KplProtobuf.decodeFramed(data).records.foreach { u =>
              userRecords.incrementAndGet(); userBytes.addAndGet(u.data.length.toLong)
              ledger.receive(u.data, now)
            }
          } else if (data.startsWith(KplProtobuf.Magic)) {
            badAggregates.incrementAndGet()   // KPL magic with a bad MD5
          } else {
            userRecords.incrementAndGet(); userBytes.addAndGet(data.length.toLong)
            ledger.receive(data, now)
          }
          if (i > 0) out.append(',')
          out.append(s"""{"SequenceNumber":"${seqNo.incrementAndGet()}","ShardId":"shardId-000000000000"}""")
          i += 1
        }
        out.append("]}")
        200 -> out.toString
      }
    val bytes = resp.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/x-amz-json-1.1")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  })
  server.start()

  def endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}/"
  def close(): Unit = { server.stop(0); pool.shutdownNow() }
}
