package graft.streaming

import scala.annotation.unused
import scala.collection.mutable

import graft.kernel.{KinesisEntry, KplPacker}

/** One flushed `PutRecords` request: the packed entries. The reference
  * also maps each entry to its source records (kinesis_writer.go:34,69-73)
  * to requeue them one by one; here a failed entry fails the whole task
  * (`StreamPipeline.deliverBatch`), so nothing needs that map. */
final case class PutRequest(entries: Vector[KinesisEntry])

/** Request-level batching on top of [[KplPacker]] — the engine's analogue of
  * the reference's `KinesisBatchWriter` (kinesis_writer.go:52-205) minus the
  * AWS client:
  *
  *  - admission bounds per request: ≤500 user records and <4.9 MB of user
  *    bytes incl. partition keys (kinesis_writer.go:55-59);
  *  - a record that would exceed either bound flushes the current request
  *    first, then re-adds (the flush-and-retry loop, kinesis_writer.go:172-181);
  *  - bodies >1 MiB are dropped (O6 oversize filter, kinesis_writer.go:167-170);
  *  - `flush()` drains the tail request (graceful shutdown, O15).
  *
  * Runs strictly per Spark task/partition — single-threaded by construction.
  */
final class BatchWriter {

  private val packer = new KplPacker
  private val flushed = mutable.ArrayBuffer.empty[PutRequest]
  private var dropped = 0L

  def droppedCount: Long = dropped

  /** Add one source record. Oversize bodies are dropped, mirroring the
    * reference's silent `continue`. */
  def add(body: Array[Byte], key: String = ""): Unit = {
    if (body.length > BatchWriter.MaxMessageSize) { dropped += 1; return }
    if (packer.count >= BatchWriter.MaxBatchRecords ||
        packer.size + body.length + key.length > BatchWriter.MaxBatchBytes) flushCurrent()
    packer.put(body, key)
  }

  /** The former form with a caller record id, which is ignored; the
    * perfbench harness still calls it. */
  def add(@unused recordId: Long, body: Array[Byte], key: String): Unit = add(body, key)

  private def flushCurrent(): Unit = {
    val entries = packer.drain()
    if (entries.nonEmpty) flushed += PutRequest(entries)
  }

  /** Flush the in-progress request and return every completed request. */
  def flush(): Vector[PutRequest] = {
    flushCurrent()
    val out = flushed.toVector
    flushed.clear()
    out
  }
}

object BatchWriter {
  /** Kinesis PutRecords limits as hardcoded by the reference. */
  val MaxBatchRecords = 500          // kinesis_writer.go:57
  val MaxBatchBytes = 4900000        // kinesis_writer.go:55-57 (5 MB minus headroom)
  val MaxMessageSize = 1024 * 1024   // kinesis_writer.go:167-170
}
