package graft.sources.nsq

import java.io.{DataInputStream, DataOutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import NsqProtocol._

/** In-process fake nsqd speaking enough protocol v2 for the connector,
  * with nsqd's actual delivery semantics (nsqd clientV2 / protocol_v2
  * messagePump, public source):
  *
  *  - multiple concurrent consumer connections, one channel: each queued
  *    message is delivered to exactly ONE connection (channel
  *    load-balancing, round-robin over connections with capacity);
  *  - RDY is a STANDING in-flight cap, not a one-shot credit: a connection
  *    is eligible while inFlight < ready, and FIN/REQ free a slot
  *    (round-5 advice — the old stub's decrement-only credit could stall
  *    tests that never stall against real nsqd);
  *  - REQ puts the message back on the queue for redelivery;
  *  - a connection dying requeues its un-FINned in-flight messages;
  *  - `/stats?format=json` on [[httpPort]] reports channel depth +
  *    in_flight_count in nsqd's JSON shape (what [[NsqStats]] polls);
  *  - with `maxRdyCount` set, IDENTIFY with feature negotiation is answered
  *    with JSON carrying `max_rdy_count` and `maxMsgSize` as
  *    `max_msg_size`, and a larger RDY is a fatal `E_INVALID` that closes
  *    the connection, like nsqd's `--max-rdy-count`; unset, IDENTIFY is
  *    answered `OK`;
  *  - `CLS` forces the connection to RDY 0 before answering `CLOSE_WAIT`,
  *    as nsqd's `StartClose` does.
  */
final class NsqMiniServer(maxRdyCount: Option[Int] = None,
                          maxMsgSize: Long = NsqProtocol.DefaultMaxMsgSize) {
  private val server = new ServerSocket(0)
  val port: Int = server.getLocalPort

  private val pending = new ConcurrentLinkedQueue[NsqMessage]()
  val finned = new ConcurrentLinkedQueue[String]()
  val requeued = new ConcurrentLinkedQueue[String]()
  private val running = new AtomicBoolean(true)
  private val subscribed = new CountDownLatch(1)
  val connections = new AtomicInteger(0) // total SUBs seen (parallelism evidence)
  val delivered = new AtomicInteger(0) // message frames written to consumers
  val statsRequests = new AtomicInteger(0)
  // client_ids from IDENTIFY bodies (graft-<pid>): which JVMs ever connected
  val identities = new ConcurrentLinkedQueue[String]()

  private final class Conn(val socket: Socket) {
    val out = new DataOutputStream(socket.getOutputStream)
    val writeLock = new Object
    @volatile var ready = 0L
    val inFlight = new ConcurrentHashMap[String, NsqMessage]()
  }
  private val conns = new ConcurrentLinkedQueue[Conn]()
  private var rr = 0 // round-robin cursor, guarded by deliverLock
  private val deliverLock = new Object

  // --- HTTP stats endpoint (nsqd serves this on tcp+1; we bind any port) ---
  private val http = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  val httpPort: Int = http.getAddress.getPort
  http.createContext("/stats", (ex: HttpExchange) => {
    statsRequests.incrementAndGet()
    val body =
      s"""{"version":"mini","topics":[{"topic_name":"t","depth":0,"channels":[
         |{"channel_name":"ch","depth":${pending.size},
         |"in_flight_count":$inFlightCount}]}]}""".stripMargin
    // the stub serves one topic/channel under whatever names were SUBbed;
    // reuse the requested topic name so NsqStats's name filter matches
    val q = Option(ex.getRequestURI.getQuery).getOrElse("")
    val topic = q.split("&").collectFirst {
      case kv if kv.startsWith("topic=") => kv.substring(6)
    }.getOrElse("t")
    val payload = body.replace(""""topic_name":"t"""", s""""topic_name":"$topic"""")
      .replace(""""channel_name":"ch"""", s""""channel_name":"$subbedChannel"""")
      .getBytes("UTF-8")
    ex.sendResponseHeaders(200, payload.length.toLong)
    ex.getResponseBody.write(payload); ex.close()
  })
  http.start()
  @volatile private var subbedChannel = "ch"

  def inFlightCount: Int = conns.asScala.map(_.inFlight.size).sum
  /** Un-FINned messages on each live connection. */
  def inFlightCounts: Seq[Int] = conns.asScala.toVector.map(_.inFlight.size)
  /** The RDY each live connection last set. */
  def readyCounts: Seq[Long] = conns.asScala.toVector.map(_.ready)
  def outstanding: Int = pending.size + inFlightCount
  def activeConns: Int = conns.size

  def publish(id: String, body: Array[Byte], attempts: Int = 1): Unit = {
    pending.add(NsqMessage(id, System.nanoTime(), attempts, body))
    maybeDeliver()
  }

  def sendHeartbeat(): Unit = conns.asScala.foreach { c =>
    c.writeLock.synchronized(writeFrame(c.out, FrameResponse, "_heartbeat_".getBytes("UTF-8")))
  }

  def sendError(msg: String): Unit = conns.asScala.headOption.foreach { c =>
    c.writeLock.synchronized(writeFrame(c.out, FrameError, msg.getBytes("UTF-8")))
  }

  /** Write arbitrary bytes to the first connection (malformed-frame tests). */
  def sendRaw(bytes: Array[Byte]): Unit = conns.asScala.headOption.foreach { c =>
    c.writeLock.synchronized { c.out.write(bytes); c.out.flush() }
  }

  /** Deliver queued messages to connections with spare in-flight capacity,
    * round-robin — nsqd's messagePump picks any eligible client.
    *
    * Round-18 fix: the old loop reset its stall counter even when the
    * write FAILED, so a stale snapshot of dead connections span forever —
    * write → IOException → dropConn (requeue) → retry the same dead conn —
    * while holding `deliverLock`, which also blocks every FIN/REQ handler
    * (the ChaosPipelineSpec connection-kill storm found it: tens of
    * millions of phantom requeues per minute and frozen FIN accounting).
    * Now each full pass re-snapshots live connections and the loop exits
    * once a pass delivers nothing. */
  private def maybeDeliver(): Unit = deliverLock.synchronized {
    var progress = true
    while (!pending.isEmpty && progress) {
      progress = false
      val cs = conns.asScala.toVector
      if (cs.isEmpty) return
      var i = 0
      while (!pending.isEmpty && i < cs.size) {
        val c = cs(rr % cs.size); rr += 1; i += 1
        if (conns.contains(c) && c.inFlight.size < c.ready) {
          val m = pending.poll()
          if (m != null) {
            c.inFlight.put(m.id, m)
            try {
              c.writeLock.synchronized(writeFrame(c.out, FrameMessage, encodeMessage(m)))
              delivered.incrementAndGet()
              progress = true
            } catch { case _: java.io.IOException => dropConn(c) }
          }
        }
      }
    }
  }

  /** Messages requeued because their connection died (chaos evidence,
    * distinct from [[requeued]] which counts explicit REQ commands). */
  val connRequeued = new AtomicInteger(0)

  /** A dead connection's in-flight messages requeue (nsqd does this on
    * client disconnect) — redelivery to surviving consumers is immediate. */
  private def dropConn(c: Conn): Unit = {
    conns.remove(c)
    c.inFlight.values.asScala.foreach { m =>
      pending.add(m.copy(attempts = m.attempts + 1))
      connRequeued.incrementAndGet()
    }
    c.inFlight.clear()
    try c.socket.close() catch { case _: Throwable => () }
  }

  def awaitSubscribe(): Unit = subscribed.await()

  /** Chaos hook: kill every live consumer connection (nsqd's behavior on
    * client timeout/reset) — each connection's un-FINned in-flight
    * messages requeue for redelivery to whichever consumers reconnect. */
  def killConnections(): Unit = conns.asScala.toVector.foreach(dropConn)

  private val acceptor = new Thread(() => {
    try {
      while (running.get()) {
        val s = server.accept()
        val t = new Thread(() => handle(s), s"nsq-mini-conn-${s.getPort}")
        t.setDaemon(true)
        t.start()
      }
    } catch { case _: Throwable if !running.get() => () }
  }, "nsq-mini-acceptor")
  acceptor.setDaemon(true)
  acceptor.start()

  private def handle(s: Socket): Unit = {
    val in = new DataInputStream(s.getInputStream)
    val conn = new Conn(s)
    val magic = new Array[Byte](4)
    in.readFully(magic)
    require(new String(magic, "UTF-8") == "  V2", "bad magic")
    val lineBuf = new mutable.ArrayBuffer[Byte]()
    try {
      while (running.get()) {
        val b = in.read()
        if (b < 0) { dropConn(conn); maybeDeliver(); return }
        if (b == '\n') {
          val line = new String(lineBuf.toArray, "UTF-8")
          lineBuf.clear()
          val parts = line.split(" ")
          parts(0) match {
            case "IDENTIFY" =>
              val size = in.readInt()
              val body = new Array[Byte](size)
              in.readFully(body)
              val identify = new String(body, "UTF-8")
              """"client_id"\s*:\s*"([^"]+)"""".r
                .findFirstMatchIn(identify)
                .foreach(m => identities.add(m.group(1)))
              val reply = maxRdyCount match {
                case Some(max) if identify.contains(""""feature_negotiation":true""") =>
                  s"""{"max_rdy_count":$max,"max_msg_size":$maxMsgSize,"version":"mini"}"""
                case _ => "OK"
              }
              conn.writeLock.synchronized(writeFrame(conn.out, FrameResponse, reply.getBytes("UTF-8")))
            case "SUB" =>
              if (parts.length > 2) subbedChannel = parts(2)
              conns.add(conn)
              connections.incrementAndGet()
              conn.writeLock.synchronized(writeFrame(conn.out, FrameResponse, "OK".getBytes("UTF-8")))
              subscribed.countDown()
            case "RDY" =>
              val n = parts(1).toLong
              if (maxRdyCount.exists(n > _)) {
                conn.writeLock.synchronized(writeFrame(conn.out, FrameError,
                  s"E_INVALID RDY count $n out of range 0-${maxRdyCount.get}".getBytes("UTF-8")))
                dropConn(conn); maybeDeliver(); return
              }
              conn.ready = n
              maybeDeliver()
            case "FIN" =>
              finned.add(parts(1))
              conn.inFlight.remove(parts(1))
              maybeDeliver() // a freed slot may admit a queued message
            case "REQ" =>
              requeued.add(parts(1))
              val m = conn.inFlight.remove(parts(1))
              if (m != null) pending.add(m.copy(attempts = m.attempts + 1))
              maybeDeliver()
            case "NOP" => ()
            case "CLS" =>
              conn.ready = 0
              conn.writeLock.synchronized(writeFrame(conn.out, FrameResponse, "CLOSE_WAIT".getBytes("UTF-8")))
            case _ => ()
          }
        } else lineBuf += b.toByte
      }
    } catch { case _: Throwable => dropConn(conn); maybeDeliver() }
  }

  def close(): Unit = {
    running.set(false)
    try http.stop(0) catch { case _: Throwable => () }
    try server.close() catch { case _: Throwable => () }
    conns.asScala.foreach(c => { try c.socket.close() catch { case _: Throwable => () } })
  }
}
