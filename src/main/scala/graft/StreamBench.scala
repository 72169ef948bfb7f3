package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.kernel.{KinesisEntry, KplProtobuf}
import graft.streaming.{KinesisTransport, NoForkLocalFs, PipelineMetrics, StreamPipeline, StreamingSimJoin}

/** Streaming soak: one stateful query ([[Twin]]) fed continuously for
  * `SPARK_GRAFT_SOAK_SEC` (default 300) with a bounded backlog, sampled
  * every `SPARK_GRAFT_SOAK_SAMPLE_SEC` (default 15), then drained. One JSON
  * line with the headline rate, the twin's counters, the per-stage
  * attribution from Spark's progress events and the sample series: the
  * north star's second number (`STREAM_r21.json`) is the `dedup` twin on
  * the RocksDB state store. Its other variables are in README's table.
  *
  * {{{
  * SPARK_GRAFT_SOAK_SEC=300 SPARK_GRAFT_CONF="spark.sql.streaming.stateStore.providerClass=org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider" \
  *   sbt "runMain graft.StreamBench"
  * }}}
  *
  * Comparison point (BASELINE.md): the reference's sink-bound ceiling is
  * ~500 user-rec/s and ~4.9 MB/s per pipeline instance (500-record
  * requests at 1 req/s, kinesis_writer.go:57,42-44). The `dedup` twin
  * measures the engine's pre-sink capacity on one node.
  */
object StreamBench {

  final case class BenchMsg(id: String, ts: Timestamp, attempts: Int, body: Array[Byte])

  /** Sink-unconstrained measurement transport: validates framing and counts
    * bytes and deaggregated user records without retaining payloads
    * (retaining 200 MB of delivered entries in one JVM-wide queue, as the
    * test transport does, turns the bench into a GC measurement). A
    * serialized object resolves to the one instance, so tasks count here. */
  object CountingTransport extends KinesisTransport {
    val bytes = new AtomicLong(0)
    val userRecords = new AtomicLong(0)
    def reset(): Unit = { bytes.set(0); userRecords.set(0) }
    override def putRecords(stream: String, es: Seq[KinesisEntry]): Seq[Boolean] = {
      es.foreach { e =>
        bytes.addAndGet(e.data.length.toLong)
        userRecords.addAndGet(
          if (KplProtobuf.isAggregated(e.data)) KplProtobuf.decodeFramed(e.data).records.length.toLong
          else 1L)
      }
      Vector.fill(es.size)(true)
    }
  }

  /** A stateful query the soak drives: its metric, the rows fed per chunk,
    * the default backlog in input rows, and `start`, which starts it in a
    * checkpoint dir and returns the [[Running]] handle. */
  final case class Twin(metric: String, unit: String, chunk: Int, backlog: Long,
                        start: (SparkSession, String, PipelineMetrics) => Running)

  /** A started twin. `feed(from, until)` adds the input rows with ids
    * `[from, until)`; `processed()` is the input rows processed and
    * `headline()` the counter the rate is made of, both since the last
    * `reset()`; `keys(line)` adds the twin's own fields. */
  final case class Running(query: StreamingQuery, feed: (Long, Long) => Unit,
                           processed: () => Long, headline: () => Long, reset: () => Unit,
                           keys: ObjectNode => Unit)

  /** The reference pipeline: 1 kB bodies, every 10th a duplicate of its
    * predecessor's body 1 ms later, through [[StreamPipeline.build]] into
    * [[CountingTransport]]; the headline is delivered user records. Rows
    * count as processed when delivered (9 in 10 are), as each partition
    * ends: a backlog that waits for the batch's progress event halves
    * every other batch. */
  val dedup: Twin = Twin("stream_soak_user_rec_per_sec", "rec/sec", chunk = 10000,
    // 60,000 delivered records: a 200k backlog let single micro-batches outgrow
    // what 32 state-store tasks can sort in an 8 GB heap (OOM ~25 s in)
    backlog = 66667, (spark, ckpt, _) => {
      import spark.implicits._
      val filler = "x" * 970
      def msg(i: Long): BenchMsg = {
        val of = if (i % 10 == 9) i - 1 else i
        BenchMsg(f"$i%016d", new Timestamp(1700000000000L + i), 1, s"body-$of-$filler".getBytes("UTF-8"))
      }
      val input = MemoryStream[BenchMsg](spark)
      CountingTransport.reset()
      val query = StreamPipeline.build(input.toDF(), CountingTransport,
        StreamPipeline.Options(streamName = "bench", checkpoint = ckpt)).start()
      Running(query, (from, until) => input.addData((from until until).map(msg)),
        () => CountingTransport.userRecords.get() * 10 / 9,
        () => CountingTransport.userRecords.get(), () => CountingTransport.reset(),
        line => {
          val provider = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
          line.put("state", if (provider.contains("RocksDB")) "rocksdb" else "hdfs")
          line.put("shuffle", spark.conf.get("spark.sql.shuffle.partitions").toInt)
          line.put("delivered_user_records", CountingTransport.userRecords.get())
          line.put("mb", CountingTransport.bytes.get() / 1e6)
        })
    })

  /** [[StreamingSimJoin]], the standing-index twin: ~40-word documents from
    * a 1,000-word vocabulary, every 20th a one-word edit of its predecessor
    * so the join emits pairs; deterministic per doc_id. The headline is
    * documents processed. `retentionMs = 0` keeps every enrollment, so the
    * state curve shows the O(corpus) growth; `> 0` shows it flatten. */
  def simjoin(retentionMs: Long): Twin = Twin("simjoin_soak_docs_per_sec", "docs/sec",
    chunk = 2000, backlog = 20000, (spark, ckpt, metrics) => {
      import spark.implicits._
      val vocab = (0 until 1000).map(i => f"w$i%04d")
      def word(r: scala.util.Random): String = vocab(r.nextInt(vocab.length))
      def words(seed: Long): Array[String] = { val r = new scala.util.Random(seed); Array.fill(40)(word(r)) }
      def text(id: Long): String =
        if (id % 20 == 19) words(id - 1).updated(20, word(new scala.util.Random(id))).mkString(" ")
        else words(id).mkString(" ")
      val pairs = new AtomicLong(0)
      val input = MemoryStream[(Long, String)](spark)
      val query = StreamingSimJoin(input.toDF().toDF("doc_id", "text"), retentionMs)
        .writeStream
        .trigger(Trigger.ProcessingTime(100L)) // transformWithState needs an explicit trigger
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: Dataset[StreamingSimJoin.SimPair], _: Long) =>
          pairs.addAndGet(b.count()); ()
        }
        .start()
      var docs0 = 0L
      val docs = () => metrics.totalInputRows - docs0
      Running(query, (from, until) => input.addData((from until until).map(i => (i, text(i)))),
        docs, docs, () => { docs0 = metrics.totalInputRows; pairs.set(0) },
        line => {
          line.put("retention_ms", retentionMs)
          line.put("docs", docs())
          line.put("pairs", pairs.get())
        })
    })

  private val Warmup = 1000L

  /** Soak `twin` for `soakSec`: warm up on [[Warmup]] rows, feed `chunk`-row
    * chunks while fewer than `backlog` fed rows are unprocessed, sample every
    * `sampleSec`, drain, stop. Progress is polled from the twin's
    * `processed()` counter, because `processAllAvailable` never settles
    * under `TimeMode.ProcessingTime`; `drained` in the line says whether
    * the drain caught up within two minutes. */
  def run(spark: SparkSession, twin: Twin, soakSec: Int, sampleSec: Int, backlog: Long): ObjectNode = {
    val metrics = PipelineMetrics.attach(spark)
    val ckpt = Files.createTempDirectory("graft-soak")
    try {
      val running = twin.start(spark, ckpt.toString, metrics)
      try soak(running, metrics, twin, soakSec, sampleSec, backlog)
      finally running.query.stop()
    } finally {
      spark.streams.removeListener(metrics)
      if (!FileUtils.deleteQuietly(ckpt.toFile)) System.err.println(s"[stream-bench] could not delete $ckpt")
    }
  }

  private def soak(running: Running, metrics: PipelineMetrics, twin: Twin,
                   soakSec: Int, sampleSec: Int, backlog: Long): ObjectNode = {
    var fed = 0L
    def feed(n: Long): Unit = { running.feed(fed, fed + n); fed += n }
    def drain(rows: Long, timeoutMs: Long): Boolean = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (running.processed() < rows && System.currentTimeMillis() < deadline) Thread.sleep(50L)
      running.processed() >= rows
    }
    feed(Warmup) // state-store and codegen set-up, outside the measurement
    if (!drain(Warmup, 60000L)) throw new IllegalStateException(s"${twin.metric}: warm-up did not drain in 60 s")
    running.reset()

    val rt = Runtime.getRuntime
    val samples = Bench.Json.createArrayNode()
    val t0 = System.nanoTime()
    var lastCount = 0L
    var lastNs = t0
    def sample(): Unit = {
      val now = System.nanoTime()
      val count = running.headline()
      val st = Option(running.query.lastProgress).flatMap(_.stateOperators.headOption)
      samples.addObject()
        .put("t_sec", ((now - t0) / 1e9).round)
        .put("rate", ((count - lastCount) / ((now - lastNs) / 1e9)).round)
        .put("state_rows", st.map(_.numRowsTotal).getOrElse(-1L))
        .put("state_bytes", st.map(_.memoryUsedBytes).getOrElse(-1L))
        .put("heap_mb", (rt.totalMemory() - rt.freeMemory()) / 1048576)
      lastCount = count; lastNs = now
    }
    var nextSample = t0 + sampleSec * 1000000000L
    while (System.nanoTime() - t0 < soakSec * 1000000000L) {
      if (fed - Warmup - running.processed() < backlog) feed(twin.chunk) else Thread.sleep(20L)
      if (System.nanoTime() >= nextSample) { sample(); nextSample += sampleSec * 1000000000L }
    }
    val drained = drain(fed - Warmup, 120000L)
    sample() // the drain sample closes the series
    val sec = (System.nanoTime() - t0) / 1e9

    val line = Bench.Json.createObjectNode()
      .put("metric", twin.metric)
      .put("value", (running.headline() / sec).round)
      .put("unit", twin.unit)
      .put("soak_sec", sec.round)
      .put("input_msgs", fed - Warmup)
      .put("drained", drained)
    running.keys(line)
    val attribution = line.putObject("attribution")
    metrics.attribution.toSeq.sortBy(-_._2._1).foreach { case (k, (ms, permille)) =>
      attribution.putObject(k).put("ms", ms).put("permille", permille)
    }
    line.set[ObjectNode]("samples", samples)
    line
  }

  def main(args: Array[String]): Unit = {
    val env = sys.env
    val twin = env.getOrElse("SPARK_GRAFT_SOAK_TWIN", "dedup") match {
      case "dedup" => dedup
      case "simjoin" => simjoin(env.getOrElse("SPARK_GRAFT_SIMJOIN_RETENTION_MS", "0").toLong)
      case other => throw new IllegalArgumentException(s"unknown SPARK_GRAFT_SOAK_TWIN $other")
    }
    val cpus = GraftSession.cpus()
    // NoForkLocalFs: graft.Main's checkpoint filesystem
    val spark = GraftSession(s"local[$cpus]", cpus, NoForkLocalFs.SessionConf.toSeq: _*)
    spark.sparkContext.setLogLevel("WARN")
    val line =
      try run(spark, twin,
        env.getOrElse("SPARK_GRAFT_SOAK_SEC", "300").toInt,
        env.getOrElse("SPARK_GRAFT_SOAK_SAMPLE_SEC", "15").toInt,
        env.get("SPARK_GRAFT_SOAK_BACKLOG").map(_.toLong).getOrElse(twin.backlog))
      finally spark.stop()
    Bench.emit(line, env.getOrElse("SPARK_GRAFT_STREAM_OUT", "/tmp/graft_stream_bench.json"))
  }
}
