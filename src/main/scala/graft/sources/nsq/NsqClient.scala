package graft.sources.nsq

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.MissingNode

import NsqProtocol._

/** Minimal blocking NSQ consumer: connect, IDENTIFY, SUB, RDY; a reader
  * thread dispatches messages to `onMessage` and answers heartbeats with
  * NOP. `fin`/`requeue` provide the per-message ack surface the pipeline's
  * commit path uses (reference semantics: handler.go:19, kinesis_writer.go:
  * 114-127). Tuning mirrors main.go:62-68 (maxInFlight etc.).
  *
  * IDENTIFY asks for feature negotiation and its one response is read
  * before SUB: nsqd answers with its limits as JSON, and the requested
  * window is clamped to `max_rdy_count` (nsqd rejects a larger RDY with
  * `E_INVALID`, which would kill the session). The same JSON's
  * `max_msg_size` bounds every frame the reader accepts. A plain `OK` (a
  * broker that does not negotiate) keeps the requested window and nsqd's
  * default max message size.
  *
  * Closing is two-phase so a caller can pause several connections before
  * dropping any: [[startClose]] stops deliveries, [[awaitCloseWait]] waits
  * for the broker's acknowledgement, [[close]] drops the socket (the broker
  * then requeues whatever is still in flight here).
  */
final class NsqClient(
    host: String,
    port: Int,
    topic: String,
    channel: String,
    maxInFlight: Int = 1000,
    msgTimeoutMs: Long = 10000,
    outputBufferTimeoutMs: Long = 50,
    onMessage: NsqMessage => Unit) {

  private val socket = new Socket(host, port)
  socket.setTcpNoDelay(true)
  private val out = new DataOutputStream(socket.getOutputStream)
  private val in = new DataInputStream(socket.getInputStream)
  private val running = new AtomicBoolean(true)
  private val writeLock = new Object
  // set when the reader thread dies or a write fails: the session is broken
  // and the owner must rebuild the connection (round-6 advice: a dead client
  // must not sit in the registry returning empty takes forever)
  @volatile private var failed = false

  /** Liveness of the standing session: reader thread healthy, socket open.
    * False ⇒ nsqd has (or will, on socket close) requeued everything
    * un-FINned here, so the safe recovery is simply a new connection. */
  def isAlive: Boolean = running.get() && !failed && !socket.isClosed

  writeMagic(out)
  // client_id carries the JVM pid (real NSQ clients send hostname/short-id):
  // on a cluster it tells the broker operator WHICH executor JVM holds each
  // connection, and the multi-JVM spec asserts distributed ingest from it
  writeIdentify(out,
    s"""{"client_id":"graft-${ProcessHandle.current().pid()}","feature_negotiation":true,"msg_timeout":$msgTimeoutMs,"output_buffer_timeout":$outputBufferTimeoutMs}""")

  // the IDENTIFY reply: the broker's limits, or a missing node for `OK`
  private val negotiated: JsonNode =
    try {
      socket.setSoTimeout(msgTimeoutMs.toInt) // a silent broker must not hang the read task
      val reply = readFrame(in)
      socket.setSoTimeout(0)
      val text = new String(reply.data, UTF_8)
      if (reply.frameType != FrameResponse)
        throw new java.io.IOException(s"nsq IDENTIFY to $host:$port rejected: $text")
      if (text == "OK") MissingNode.getInstance()
      else new ObjectMapper().readTree(text)
    } catch {
      case e: Throwable => try socket.close() catch { case _: Throwable => () }; throw e
    }

  /** The in-flight window this connection runs with: `maxInFlight`, clamped
    * to the broker's negotiated `max_rdy_count`. */
  val rdy: Int = math.min(maxInFlight, negotiated.path("max_rdy_count").asInt(maxInFlight))

  /** The largest message body the broker sends: its `max_msg_size`, or
    * nsqd's default. A larger frame kills the session before allocating. */
  val maxMsgSize: Long = negotiated.path("max_msg_size").asLong(DefaultMaxMsgSize)

  writeCommand(out, s"SUB $topic $channel")
  writeCommand(out, s"RDY $rdy")

  // released by the broker's CLOSE_WAIT, or when the reader stops
  private val closeWait = new CountDownLatch(1)

  private val reader = new Thread(() => {
    try {
      while (running.get()) {
        val frame = readFrame(in, maxMsgSize)
        frame.frameType match {
          case FrameResponse =>
            new String(frame.data, UTF_8) match {
              case "_heartbeat_" => writeLock.synchronized(writeCommand(out, "NOP"))
              case "CLOSE_WAIT" => closeWait.countDown()
              case _ => ()
            }
          case FrameMessage =>
            onMessage(decodeMessage(frame.data))
          case FrameError =>
            // Error frames are mostly non-fatal per the NSQ protocol
            // (E_FIN_FAILED, E_REQ_FAILED, ...): log and keep consuming.
            // Only E_INVALID/E_BAD_* indicate a broken session worth dying on.
            val msg = new String(frame.data, "UTF-8")
            if (msg.startsWith("E_INVALID") || msg.startsWith("E_BAD"))
              throw new java.io.IOException(s"nsq fatal error: $msg")
            else System.err.println(s"[nsq] non-fatal error frame: $msg")
          case other =>
            throw new NsqProtocolException(s"unknown frame type $other")
        }
      }
    } catch {
      case _: Throwable if !running.get() => // closed
      case e: Throwable =>
        failed = true
        if (running.get()) System.err.println(s"[nsq] reader for $host:$port died: $e")
        // close the socket NOW so nsqd requeues this connection's un-FINned
        // in-flight immediately instead of waiting out msg_timeout
        try socket.close() catch { case _: Throwable => () }
    } finally closeWait.countDown()
  }, s"nsq-reader-$topic")
  reader.setDaemon(true)
  reader.start()

  def fin(messageId: String): Unit = ackWrite(s"FIN $messageId")

  def requeue(messageId: String, delayMs: Long = 1000): Unit =
    ackWrite(s"REQ $messageId $delayMs")

  // a failed ack write means the socket is gone: mark dead (the owner will
  // rebuild) and let nsqd's requeue-on-disconnect redeliver — duplicates,
  // never loss, per the at-least-once contract
  private def ackWrite(cmd: String): Unit =
    try writeLock.synchronized(writeCommand(out, cmd))
    catch {
      case e: java.io.IOException =>
        failed = true
        System.err.println(s"[nsq] ack write '$cmd' to $host:$port failed: $e")
        try socket.close() catch { case _: Throwable => () }
    }

  /** Stops deliveries: `RDY 0` pauses the connection on any broker, and
    * `CLS` (which makes nsqd force RDY 0 itself) is answered `CLOSE_WAIT`
    * once the broker has handled both, as it handles a connection's
    * commands in order. Messages in flight stay here until [[close]]. */
  def startClose(): Unit =
    try writeLock.synchronized { writeCommand(out, "RDY 0"); writeCommand(out, "CLS") }
    catch { case _: Throwable => () }

  /** Waits until the broker has answered [[startClose]], the session has
    * died, or `deadlineNs` (`System.nanoTime`) has passed. */
  def awaitCloseWait(deadlineNs: Long): Unit =
    closeWait.await(deadlineNs - System.nanoTime(), TimeUnit.NANOSECONDS)

  def close(): Unit = {
    running.set(false)
    try socket.close() catch { case _: Throwable => () }
  }
}
