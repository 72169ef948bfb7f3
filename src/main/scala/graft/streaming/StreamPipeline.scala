package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.functions.GraftFunctions

/** The reference pipeline as Structured Streaming (SURVEY.md §2.1 O1–O15):
  *
  * {{{
  * source (NSQ / MemoryStream / rate)
  *   → fnv64a(body)                         // O9 identity hash
  *   → withWatermark + dropDuplicatesWithinWatermark   // O3/O4 dedup, state-store
  *   → foreachBatch:                        // O7 micro-batch, run back to back
  *       per partition: BatchWriter         // O6 oversize drop, O8 request bounds
  *         → KplPacker                      // O9 partition key, O10 pack
  *       → transport.putRecords (retry)     // O13/O14 send + per-entry routing
  * }}}
  *
  * As in the reference (kinesis_writer.go:167-170, aggregator.go:124-130),
  * the writer drops bodies over 1 MiB and the packer keys each record on
  * the `%x` of its body's FNV-64a; the SQL plan ends at the dedup.
  *
  * Delivery semantics: at-least-once — offsets commit only after the batch
  * sink returns, a failed task re-runs whole (the reference requeues
  * per-message; both admit duplicates on retry, see SURVEY §7.4). The dedup
  * window maps the reference's 2×120 s generation rotation onto a watermark
  * TTL (deduper.go:42-47 ↔ state-store eviction).
  *
  * Cadence: the reference flushes a batch when it fills or when its 1 s
  * `MaxDelay` runs out (kinesis_writer.go:42-59), so 1 s bounds a record's
  * wait. Here the next micro-batch starts as soon as the previous one has
  * committed and the source reports new work (Spark's default trigger), so
  * a record waits about one batch duration, not a fixed tick.
  *
  * Scale: dedup state is hash-partitioned across executors (the Go original
  * was one mutex-guarded map); packing is per-partition sequential with no
  * shuffle after the dedup exchange.
  */
object StreamPipeline {

  final case class Options(
      streamName: String = "graft",
      checkpoint: String = "/tmp/graft-checkpoint",
      // Trigger.AvailableNow: drain everything available, then STOP — the
      // backfill/catch-up mode (reprocess a backlog with streaming
      // semantics and exactly the same code path, without a standing job)
      availableNow: Boolean = false)

  /** How long a body is remembered: 2 × the reference's 120 s generation
    * (main.go:113). */
  val DedupWindow = "4 minutes"

  /** Expects columns: id STRING, ts TIMESTAMP, attempts INT, body BINARY;
    * adds `body_hash` (FNV-64a of the body) and drops the bodies seen within
    * [[DedupWindow]]. The dedup state is keyed on `body_hash` alone. */
  def transform(stream: DataFrame): DataFrame = {
    GraftFunctions.registerAll(stream.sparkSession)
    stream
      .withColumn("body_hash", GraftFunctions.fnv64a(col("body")))
      .withWatermark("ts", DedupWindow)
      .dropDuplicatesWithinWatermark("body_hash")
  }

  /** Sink one micro-batch: fold each partition's bodies through a
    * BatchWriter, which drops oversize bodies and lets the packer key each
    * record, and push its requests via the transport, retrying failed
    * slots. A slot still failing after the retries fails the task, so Spark
    * re-runs it (at-least-once). */
  private def deliverBatch(batch: Dataset[org.apache.spark.sql.Row],
                           transport: KinesisTransport,
                           streamName: String): Unit = {
    batch.select("body").foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      val writer = new BatchWriter()
      rows.foreach(r => writer.add(r.getAs[Array[Byte]](0)))
      val retrying = transport match {
        case rt: RetryingTransport => rt
        case other => new RetryingTransport(other)
      }
      writer.flush().foreach { req =>
        val oks = retrying.putRecords(streamName, req.entries)
        if (oks.contains(false)) {
          // reference: Requeue(-1) the failed slots (kinesis_writer.go:120-126);
          // Spark model: fail the task, engine re-runs it => at-least-once
          val failedSlots = oks.zipWithIndex.collect { case (false, s) => s }
          throw new java.io.IOException(
            s"putRecords failed for slots ${failedSlots.mkString(",")} after retries")
        }
      }
    }
  }

  /** Full assembly: transform + foreachBatch sink, micro-batches back to
    * back (or `AvailableNow`). Caller starts the returned writer. */
  def build(stream: DataFrame, transport: KinesisTransport,
            opts: Options = Options()): DataStreamWriter[org.apache.spark.sql.Row] = {
    val writer = transform(stream).writeStream
      .queryName(s"graft-${opts.streamName}")
      .option("checkpointLocation", opts.checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        deliverBatch(batch, transport, opts.streamName)
      }
    if (opts.availableNow) writer.trigger(Trigger.AvailableNow()) else writer
  }
}
