package graft.streaming

import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.kernel.KinesisEntry

/** Where `PutRecords` requests go. The reference hardwires the AWS SDK
  * (kinesis_writer.go:93-96); the engine takes the transport as a seam so
  * the identical pipeline runs against AWS, a kinesalite endpoint, a file,
  * or an in-memory buffer in tests. Returns per-entry success flags — the
  * signal the reference uses for per-record Finish()/Requeue routing
  * (kinesis_writer.go:114-127). */
trait KinesisTransport extends Serializable {
  def putRecords(stream: String, entries: Seq[KinesisEntry]): Seq[Boolean]
}

/** Durable local transport: appends length-prefixed framed entries to one
  * file per (stream, partition) under `dir` — a stand-in sink with the same
  * write shape as a Kinesis shard. */
class FileTransport(dir: String) extends KinesisTransport {
  override def putRecords(stream: String, entries: Seq[KinesisEntry]): Seq[Boolean] = {
    Files.createDirectories(Paths.get(dir))
    val pid = org.apache.spark.TaskContext.getPartitionId()
    val path = Paths.get(dir, s"$stream-p$pid.bin")
    val out = new java.io.ByteArrayOutputStream()
    entries.foreach { e =>
      val kb = e.partitionKey.getBytes("UTF-8")
      val hdr = java.nio.ByteBuffer.allocate(8).putInt(kb.length).putInt(e.data.length).array()
      out.write(hdr); out.write(kb); out.write(e.data)
    }
    Files.write(path, out.toByteArray, StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    Vector.fill(entries.size)(true)
  }
}

/** Retry with capped full-jitter backoff — the backoff the reference left
  * as a TODO (kinesis_writer.go:101-104 "XXX: Should backoff here"; its NSQ
  * side already used FullJitterStrategy, main.go:67). Failed entries are
  * re-sent as a smaller request; records still failing after `maxRetries`
  * surface to the caller (who lets the task fail ⇒ Spark retries the task
  * ⇒ at-least-once, matching the reference's requeue semantics). */
class RetryingTransport(
    inner: KinesisTransport,
    maxRetries: Int = 3,
    baseBackoffMs: Long = 50,
    maxBackoffMs: Long = 1000,
    sleeper: Long => Unit = Thread.sleep) extends KinesisTransport {

  override def putRecords(stream: String, entries: Seq[KinesisEntry]): Seq[Boolean] = {
    val ok = Array.fill(entries.size)(false)
    var pending = entries.indices.toVector
    var attempt = 0
    // per-call randomness: a deterministic seed would synchronize the
    // "jitter" across every task retrying the same stream (thundering herd)
    val rnd = java.util.concurrent.ThreadLocalRandom.current()
    while (pending.nonEmpty && attempt <= maxRetries) {
      if (attempt > 0) {
        val cap = math.min(maxBackoffMs, baseBackoffMs << (attempt - 1))
        sleeper(rnd.nextLong(cap + 1L)) // AWS full-jitter: uniform [0, cap]
      }
      val res = inner.putRecords(stream, pending.map(entries))
      pending.zip(res).foreach { case (idx, succeeded) => if (succeeded) ok(idx) = true }
      pending = pending.zip(res).collect { case (idx, false) => idx }
      attempt += 1
    }
    ok.toVector
  }
}
