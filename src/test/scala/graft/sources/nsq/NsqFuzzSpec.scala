package graft.sources.nsq

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException}

import org.scalatest.funsuite.AnyFunSuite

import NsqProtocol._

/** Malformed broker bytes against the NSQ frame codec, on the `KplFuzzSpec`
  * model. Contract: `readFrame` and `decodeMessage` either return a value or
  * throw [[NsqProtocolException]] — never a raw `NegativeArraySizeException`
  * (a size field under 4 once allocated `size - 4` bytes) or
  * `BufferUnderflowException` (a message payload under its 26-byte header).
  * The only other outcome is `EOFException` when the stream ends before a
  * whole size field. A size field past the max message size plus the frame
  * type and message header is rejected before anything is allocated, up to
  * `Int.MaxValue`. `NsqSourceSpec`'s dead-consumer test drives malformed
  * frames through a live session: the consumer is rebuilt and nsqd
  * redelivers.
  */
class NsqFuzzSpec extends AnyFunSuite {

  private def outcome[T](body: => T): Either[Throwable, T] =
    try Right(body) catch { case t: Throwable => Left(t) }

  private def frameBytes(size: Int, rest: Array[Byte]): Array[Byte] =
    java.nio.ByteBuffer.allocate(4 + rest.length).putInt(size).put(rest).array()

  private def read(bytes: Array[Byte], maxMsgSize: Long = DefaultMaxMsgSize): Either[Throwable, Frame] =
    outcome(readFrame(new DataInputStream(new ByteArrayInputStream(bytes)), maxMsgSize))

  // the largest size field a max-size message frame carries
  private val bound = (4 + MessageHeaderBytes + DefaultMaxMsgSize).toInt

  private val valid: Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val m = NsqMessage("0000000000000042", 1700000000000000000L, 2, "hello nsq".getBytes("UTF-8"))
    writeFrame(new DataOutputStream(bytes), FrameMessage, encodeMessage(m))
    bytes.toByteArray
  }

  test("10k seeded frames with negative, short and small size fields: a frame or NsqProtocolException") {
    val rnd = new scala.util.Random(0x4E5351L) // seeded: failures reproduce
    (1 to 10000).foreach { i =>
      val size = rnd.nextInt(3) match {
        case 0 => -1 - rnd.nextInt(Int.MaxValue) // negative
        case 1 => rnd.nextInt(4) // under the frame-type field
        case _ => 4 + rnd.nextInt(60) // well-formed, maybe truncated
      }
      val rest = new Array[Byte](rnd.nextInt(64))
      rnd.nextBytes(rest)
      read(frameBytes(size, rest)) match {
        case Right(f) =>
          assert(size >= 4 && rest.length >= size, s"iteration $i: size $size read a frame")
          assert(f.data.length === size - 4)
        case Left(t) =>
          assert(t.isInstanceOf[NsqProtocolException],
            s"iteration $i: size $size threw ${t.getClass.getName}: ${t.getMessage}")
          assert(size < 4 || rest.length < size, s"iteration $i: a whole frame was rejected")
      }
    }
  }

  test("10k seeded size fields from 64 bytes to Int.MaxValue: past the bound, rejected before allocating") {
    val rnd = new scala.util.Random(0x4E5352L)
    (1 to 10000).foreach { i =>
      val size =
        if (rnd.nextInt(4) == 0) 64 + rnd.nextInt(bound - 63) // up to the bound, truncated
        else bound + 1 + rnd.nextInt(Int.MaxValue - bound) // past it
      val rest = new Array[Byte](rnd.nextInt(64))
      rnd.nextBytes(rest)
      read(frameBytes(size, rest)) match {
        case Left(t: NsqProtocolException) if size > bound =>
          assert(t.getMessage.contains("max message size"), s"iteration $i: size $size: ${t.getMessage}")
        case Left(t: NsqProtocolException) =>
          assert(t.getMessage.contains("ended inside"), s"iteration $i: size $size: ${t.getMessage}")
        case other => fail(s"iteration $i: size $size gave $other")
      }
    }
  }

  test("the frame bound follows the negotiated max message size") {
    val body = new Array[Byte](4 + MessageHeaderBytes + 100)
    assert(read(frameBytes(body.length, body), maxMsgSize = 100).map(_.data.length) ===
      Right(MessageHeaderBytes + 100))
    read(frameBytes(body.length + 1, body :+ 0.toByte), maxMsgSize = 100) match {
      case Left(t: NsqProtocolException) => assert(t.getMessage.contains("max message size"))
      case other => fail(s"a frame one byte past the bound gave $other")
    }
    assert(read(frameBytes(bound, new Array[Byte](bound))).isRight, "nsqd's default bound admits a full message")
  }

  test("every truncation of a valid message frame is rejected with a typed error") {
    assert(decodeMessage(read(valid).toOption.get.data).id === "0000000000000042")
    (0 until valid.length).foreach { n =>
      read(java.util.Arrays.copyOf(valid, n)) match {
        case Left(_: EOFException) => assert(n < 4, s"truncation to $n: EOF past the size field")
        case Left(_: NsqProtocolException) => assert(n >= 4, s"truncation to $n")
        case other => fail(s"truncation to $n gave $other")
      }
    }
  }

  test("seeded message payloads under the 26-byte header throw NsqProtocolException") {
    val rnd = new scala.util.Random(0x4D5347L)
    (1 to 10000).foreach { i =>
      val data = new Array[Byte](rnd.nextInt(64))
      rnd.nextBytes(data)
      outcome(decodeMessage(data)) match {
        case Right(m) =>
          assert(data.length >= MessageHeaderBytes, s"iteration $i")
          assert(m.body.length === data.length - MessageHeaderBytes)
        case Left(t) =>
          assert(t.isInstanceOf[NsqProtocolException] && data.length < MessageHeaderBytes,
            s"iteration $i: ${data.length} bytes threw ${t.getClass.getName}: ${t.getMessage}")
      }
    }
  }
}
