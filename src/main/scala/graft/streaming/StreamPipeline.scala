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
  *   → filter(octet_length(body) ≤ 1 MiB)   // O6 oversize drop
  *   → foreachBatch:                        // O7 micro-batch, run back to back
  *       per partition: BatchWriter         // O8/O10/O11/O12 pack + chunk
  *       → transport.putRecords (retry)     // O13/O14 send + per-entry routing
  * }}}
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
      dedupWindow: String = "4 minutes",   // 2 × 120 s generations, main.go:113
      checkpoint: String = "/tmp/graft-checkpoint",
      // Trigger.AvailableNow: drain everything available, then STOP — the
      // backfill/catch-up mode (reprocess a backlog with streaming
      // semantics and exactly the same code path, without a standing job)
      availableNow: Boolean = false)

  /** Expects columns: id STRING, ts TIMESTAMP, attempts INT, body BINARY,
    * and optionally key STRING (invalid/missing keys fall back to the body
    * hash, aggregator.go:124-130). `dedupWindow` is the dedup horizon
    * (default = 2 × the reference's 120 s generation, main.go:113). */
  def transform(stream: DataFrame, dedupWindow: String = "4 minutes"): DataFrame = {
    val spark = stream.sparkSession
    GraftFunctions.registerAll(spark)
    val keyed =
      if (stream.columns.contains("key")) stream
      else stream.withColumn("key", lit(null).cast("string"))
    keyed
      .withColumn("body_hash", GraftFunctions.fnv64a(col("body")))
      .withWatermark("ts", dedupWindow)
      .dropDuplicatesWithinWatermark("body_hash")
      .filter(octet_length(col("body")) <= BatchWriter.MaxMessageSize)
      .withColumn("partition_key", GraftFunctions.partitionKey(col("body"), col("key")))
  }

  /** Sink one micro-batch: fold each partition through a BatchWriter and
    * push its requests via the transport, retrying failed slots. A slot
    * still failing after the retries fails the task, so Spark re-runs it
    * (at-least-once). */
  def deliverBatch(batch: Dataset[org.apache.spark.sql.Row],
                   transport: KinesisTransport,
                   streamName: String): Unit = {
    val sent = batch.selectExpr("body", "partition_key")
    sent.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      val writer = new BatchWriter()
      var i = 0L
      rows.foreach { r =>
        writer.add(i, r.getAs[Array[Byte]]("body"), r.getAs[String]("partition_key"))
        i += 1
      }
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
    val writer = transform(stream, opts.dedupWindow).writeStream
      .queryName(s"graft-${opts.streamName}")
      .option("checkpointLocation", opts.checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        deliverBatch(batch, transport, opts.streamName)
      }
    if (opts.availableNow) writer.trigger(Trigger.AvailableNow()) else writer
  }
}
