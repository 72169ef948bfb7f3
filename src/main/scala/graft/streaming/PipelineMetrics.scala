package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Pipeline observability — the Spark-native home for the reference's
  * Size()/Count()/Recs() stats and shutdown log lines (aggregator.go:185-205,
  * kinesis_writer.go:155-158): per-batch progress from the engine's own
  * listener bus, no instrumentation inside operators.
  *
  * Round 14 adds the X-Ray analogue the reference left TODO (TODO.md:9):
  * per-STAGE latency attribution. Each batch carries the engine's own
  * segment durations (`durationMs`: offset discovery, planning, addBatch
  * = the actual sink work, WAL + offset commits) plus the state-store
  * segments (update/remove/commit), and [[PipelineMetrics.attribution]]
  * rolls them up into the where-does-the-time-go table a trace viewer
  * would render — from the listener bus alone, zero code in the hot path,
  * exactly the posture a 1000-executor deployment needs (the driver
  * already has these numbers; nothing new is measured or shipped).
  *
  * Round 17 closes the reference's remaining metrics item (TODO.md:8
  * "Metrics (statsd or cloudwatch?)"): every batch's stats additionally
  * fan out to pluggable [[MetricsReporter]]s — [[LogReporter]] /
  * [[StatsdReporter]] ship in-repo; a CloudWatch/OTel sink is the same
  * trait. Reporter failures are swallowed (a metrics outage must never
  * wedge the listener bus, the reference's own fire-and-forget stats
  * posture).
  */
final class PipelineMetrics(reporters: Seq[MetricsReporter] = Nil)
    extends StreamingQueryListener {
  import PipelineMetrics.BatchStats

  val batches = new ConcurrentLinkedQueue[BatchStats]()

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    val stateRows = Option(p.stateOperators).map(_.map(_.numRowsTotal).sum).getOrElse(0L)
    val segs = Option(p.durationMs)
      .map(_.asScala.map { case (k, v) => k -> v.longValue() }.toMap)
      .getOrElse(Map.empty)
    val stateSegs = Option(p.stateOperators).map { ops =>
      Map(
        "stateUpdate" -> ops.map(_.allUpdatesTimeMs).sum,
        "stateRemove" -> ops.map(_.allRemovalsTimeMs).sum,
        "stateCommit" -> ops.map(_.commitTimeMs).sum)
    }.getOrElse(Map.empty)
    val stats = BatchStats(
      Option(p.name).getOrElse(p.id.toString), p.batchId, p.numInputRows,
      p.inputRowsPerSecond, p.processedRowsPerSecond, stateRows, segs, stateSegs)
    batches.add(stats)
    if (reporters.nonEmpty) {
      // counters for work, timers for segments, gauges for levels — the
      // statsd typing every aggregation backend understands
      val lines: Seq[(String, Long, String)] =
        Seq(
          ("input_rows", stats.numInputRows, "c"),
          ("processed_rows_per_sec", stats.processedRowsPerSecond.toLong, "g"),
          ("state_rows", stats.stateRows, "g")) ++
        stats.segments.toSeq.sortBy(_._1).map { case (k, ms) => (s"segment.$k", ms, "ms") } ++
        stats.stateSegments.toSeq.sortBy(_._1).map { case (k, ms) => (s"state.$k", ms, "ms") }
      reporters.foreach { r =>
        try r.report(stats.queryName, stats.batchId, lines)
        catch { case scala.util.control.NonFatal(_) => () } // never wedge the bus
      }
    }
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()

  def totalInputRows: Long = {
    var sum = 0L
    batches.forEach(b => sum += b.numInputRows)
    sum
  }

  /** Per-stage latency attribution over all observed batches: segment →
    * (total ms, share in millis of total trigger time). Engine segments
    * other than `triggerExecution` partition the trigger wall (addBatch
    * dominates a healthy pipeline; a fat walCommit or commitOffsets says
    * checkpoint I/O is the problem); the state segments attribute WITHIN
    * addBatch (task-summed, so they can exceed driver wall on a
    * multi-core stage — report them alongside, never subtract). */
  def attribution: Map[String, (Long, Long)] = {
    val all = batches.asScala.toSeq
    val total = math.max(1L, all.flatMap(_.segments.get("triggerExecution")).sum)
    val engine = all.flatMap(_.segments.toSeq)
      .filter(_._1 != "triggerExecution")
      .groupMapReduce(_._1)(_._2)(_ + _)
    val state = all.flatMap(_.stateSegments.toSeq)
      .groupMapReduce(_._1)(_._2)(_ + _)
    (engine ++ state).map { case (k, ms) => k -> (ms, 1000L * ms / total) }
  }

  /** The X-Ray-style one-line trace summary for logs: segments sorted by
    * total time, `name=ms(share‰)`. */
  def traceLine: String = {
    val total = batches.asScala.toSeq.flatMap(_.segments.get("triggerExecution")).sum
    attribution.toSeq.sortBy(-_._2._1)
      .map { case (k, (ms, share)) => s"$k=${ms}ms(${share}‰)" }
      .mkString(s"trigger=${total}ms: ", " ", "")
  }
}

object PipelineMetrics {
  /** One micro-batch's progress, as the listener received it. */
  final case class BatchStats(
      queryName: String, batchId: Long, numInputRows: Long,
      inputRowsPerSecond: Double, processedRowsPerSecond: Double,
      stateRows: Long,
      /** engine segment → ms for this batch (triggerExecution = total) */
      segments: Map[String, Long],
      /** state-store segment → ms (updates/removals/commit, summed ops) */
      stateSegments: Map[String, Long])

  /** Attach a fresh metrics listener to the session, fanning each
    * batch's stats out to the given reporters (none = collect-only). */
  def attach(spark: SparkSession, reporters: MetricsReporter*): PipelineMetrics = {
    val m = new PipelineMetrics(reporters.toSeq)
    spark.streams.addListener(m)
    m
  }
}
