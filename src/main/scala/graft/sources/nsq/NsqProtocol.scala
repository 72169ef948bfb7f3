package graft.sources.nsq

import java.io.{DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

/** NSQ wire protocol v2 essentials (public protocol spec; behavior mirrored
  * from the reference's use of go-nsq in main.go:61-73 / handler.go:18-26).
  *
  * Client → server: 4-byte magic "  V2", then newline commands (`SUB`,
  * `RDY`, `FIN`, `REQ`, `NOP`), `IDENTIFY` carrying a size-prefixed JSON
  * body. Server → client frames: [int32 size][int32 frameType][data] with
  * frameType 0=response, 1=error, 2=message; a message payload is
  * [int64 ns-timestamp][int16 attempts][16-byte id][body].
  */
object NsqProtocol {

  /** Malformed bytes from the broker. [[NsqClient]]'s reader treats it like
    * any broken session: it closes the socket, so nsqd requeues the
    * connection's in-flight messages, and the owner rebuilds the client. */
  final class NsqProtocolException(msg: String) extends java.io.IOException(msg)

  val Magic: Array[Byte] = "  V2".getBytes(UTF_8)

  val FrameResponse = 0
  val FrameError = 1
  val FrameMessage = 2

  final case class NsqMessage(id: String, timestampNs: Long, attempts: Int, body: Array[Byte])

  final case class Frame(frameType: Int, data: Array[Byte])

  def writeMagic(out: DataOutputStream): Unit = { out.write(Magic); out.flush() }

  def writeCommand(out: DataOutputStream, cmd: String): Unit = {
    out.write((cmd + "\n").getBytes(UTF_8)); out.flush()
  }

  def writeIdentify(out: DataOutputStream, json: String): Unit = {
    out.write("IDENTIFY\n".getBytes(UTF_8))
    val body = json.getBytes(UTF_8)
    out.writeInt(body.length)
    out.write(body)
    out.flush()
  }

  /** Header bytes of a message payload: ns-timestamp, attempts, id. */
  val MessageHeaderBytes: Int = 8 + 2 + 16

  /** nsqd's default `--max-msg-size`, assumed for a broker whose IDENTIFY
    * reply does not state `max_msg_size`. */
  val DefaultMaxMsgSize: Long = 1048576L

  /** Reads one frame. A clean end of stream before the size field surfaces
    * as `EOFException`; a size under the 4-byte frame type, a size past
    * what a `maxMsgSize` body plus the frame type and message header can
    * fill (checked before allocating), or a stream that ends inside the
    * frame, throws [[NsqProtocolException]]. */
  def readFrame(in: DataInputStream, maxMsgSize: Long = DefaultMaxMsgSize): Frame = {
    val size = in.readInt()
    if (size < 4) throw new NsqProtocolException(s"frame size $size is under the 4-byte frame type")
    if (size > 4 + MessageHeaderBytes + maxMsgSize)
      throw new NsqProtocolException(s"frame size $size exceeds the $maxMsgSize-byte max message size")
    try {
      val frameType = in.readInt()
      val data = new Array[Byte](size - 4)
      in.readFully(data)
      Frame(frameType, data)
    } catch {
      case _: java.io.EOFException =>
        throw new NsqProtocolException(s"stream ended inside a $size-byte frame")
    }
  }

  def writeFrame(out: DataOutputStream, frameType: Int, data: Array[Byte]): Unit = {
    out.writeInt(data.length + 4)
    out.writeInt(frameType)
    out.write(data)
    out.flush()
  }

  def decodeMessage(data: Array[Byte]): NsqMessage = {
    if (data.length < MessageHeaderBytes)
      throw new NsqProtocolException(
        s"message payload of ${data.length} bytes is under the $MessageHeaderBytes-byte header")
    val buf = java.nio.ByteBuffer.wrap(data)
    val ts = buf.getLong()
    val attempts = buf.getShort() & 0xffff
    val idBytes = new Array[Byte](16)
    buf.get(idBytes)
    val body = new Array[Byte](buf.remaining())
    buf.get(body)
    NsqMessage(new String(idBytes, UTF_8), ts, attempts, body)
  }

  def encodeMessage(m: NsqMessage): Array[Byte] = {
    val id = m.id.getBytes(UTF_8)
    require(id.length == 16, s"NSQ message id must be 16 bytes, got ${id.length}")
    val buf = java.nio.ByteBuffer.allocate(MessageHeaderBytes + m.body.length)
    buf.putLong(m.timestampNs)
    buf.putShort(m.attempts.toShort)
    buf.put(id)
    buf.put(m.body)
    buf.array()
  }
}
