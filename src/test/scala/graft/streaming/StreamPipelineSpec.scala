package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{SparkSpec, SparkSuite}
import graft.kernel.KplProtobuf

case class Msg(id: String, ts: Timestamp, attempts: Int, body: Array[Byte])

class StreamPipelineSpec extends SparkSuite {

  private def msg(i: Int, body: String, t: Long = 1000000000L): Msg =
    Msg(f"$i%016d", new Timestamp(t + i), 1, body.getBytes("UTF-8"))

  test("memory-stream pipeline dedups, packs, and delivers KPL entries") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    InMemoryTransport.clear()
    val input = MemoryStream[Msg]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString

    val distinct = (0 until 100).map(i => msg(i, s"payload-$i-${"x" * 50}"))
    val dupes = (0 until 50).map(i => msg(1000 + i, s"payload-$i-${"x" * 50}")) // same bodies
    input.addData(distinct ++ dupes)

    val q = StreamPipeline.build(
      input.toDF(), new InMemoryTransport,
      StreamPipeline.Options(streamName = "t", checkpoint = ckpt))
      .start()
    try { q.processAllAvailable() } finally { q.stop() }

    val delivered = InMemoryTransport.drain()
    val userRecords = delivered.flatMap { case (_, e) =>
      if (KplProtobuf.isAggregated(e.data)) KplProtobuf.deframe(e.data).records.map(_.data)
      else Vector(e.data)
    }
    assert(userRecords.length === 100) // 50 duplicate bodies removed
    assert(userRecords.map(b => new String(b, "UTF-8")).toSet ===
      distinct.map(m => new String(m.body, "UTF-8")).toSet)
  }

  test("micro-batches run back to back, not on a 1 s clock") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    InMemoryTransport.clear()
    val input = MemoryStream[Msg]
    val q = StreamPipeline.build(input.toDF(), new InMemoryTransport,
      StreamPipeline.Options(streamName = "cadence",
        checkpoint = java.nio.file.Files.createTempDirectory("cadence-ckpt").toString)).start()
    val feeding = new java.util.concurrent.atomic.AtomicBoolean(true)
    val feeder = new Thread(() => {
      var i = 0
      while (feeding.get()) { input.addData(msg(i, s"cadence-$i")); i += 1; Thread.sleep(20) }
    })
    feeder.start()
    // a 1 s processing-time trigger starts each batch at or after the next
    // 1 s tick past the previous start (later only when a batch overruns),
    // so any three of its batches span more than 1,000 ms
    def threeBatchSpansMs: Seq[Long] =
      q.recentProgress.toSeq.filter(_.numInputRows > 0)
        .map(p => java.time.Instant.parse(p.timestamp).toEpochMilli)
        .sliding(3).collect { case Seq(a, _, c) => c - a }.toSeq
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (!threeBatchSpansMs.exists(_ < 900) && System.currentTimeMillis() < deadline) Thread.sleep(200)
      assert(threeBatchSpansMs.exists(_ < 900),
        s"spans (ms) of three consecutive data batches: $threeBatchSpansMs")
    } finally { feeding.set(false); feeder.join(); q.stop() }
  }

  test("Trigger.AvailableNow drains the backlog then terminates on its own") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    InMemoryTransport.clear()
    val input = MemoryStream[Msg]
    input.addData((0 until 40).map(i => msg(i, s"backlog-$i")))
    val q = StreamPipeline.build(input.toDF(), new InMemoryTransport,
      StreamPipeline.Options(streamName = "drain",
        checkpoint = java.nio.file.Files.createTempDirectory("drain-ckpt").toString,
        availableNow = true)).start()
    try {
      // the backfill mode must finish WITHOUT stop(): the trigger drains
      // what was available at start and terminates the query itself
      assert(q.awaitTermination(60000), "AvailableNow query did not self-terminate")
      val bodies = InMemoryTransport.drain().flatMap { case (_, e) =>
        if (KplProtobuf.isAggregated(e.data)) KplProtobuf.deframe(e.data).records.map(_.data)
        else Vector(e.data)
      }.map(new String(_)).toSet
      assert(bodies === (0 until 40).map(i => s"backlog-$i").toSet,
        "backfill drain lost or duplicated bodies")
    } finally q.stop()
  }

  test("oversize bodies are dropped by the stream filter") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    InMemoryTransport.clear()
    val input = MemoryStream[Msg]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    input.addData(Seq(
      msg(1, "small"),
      Msg("big0000000000000", new Timestamp(1000000002L), 1, new Array[Byte](1024 * 1024 + 1))))
    val q = StreamPipeline.build(
      input.toDF(), new InMemoryTransport,
      StreamPipeline.Options(streamName = "t2", checkpoint = ckpt)).start()
    try { q.processAllAvailable() } finally { q.stop() }
    val userRecords = InMemoryTransport.drain().flatMap { case (_, e) =>
      if (KplProtobuf.isAggregated(e.data)) KplProtobuf.deframe(e.data).records.map(_.data)
      else Vector(e.data)
    }
    assert(userRecords.length === 1)
    assert(new String(userRecords.head, "UTF-8") === "small")
  }

  test("BatchWriter request bounds: 600 records split at 500") {
    val w = new BatchWriter()
    (0 until 600).foreach(i => w.add(i.toLong, s"rec-$i".getBytes, "k"))
    val reqs = w.flush()
    assert(reqs.length === 2)
    def userCount(r: PutRequest) = r.entries.map { e =>
      if (KplProtobuf.isAggregated(e.data)) KplProtobuf.deframe(e.data).records.length else 1
    }.sum
    assert(userCount(reqs(0)) === 500)
    assert(userCount(reqs(1)) === 100)
  }

  test("BatchWriter byte bound: requests stay under 4.9 MB") {
    val w = new BatchWriter()
    val body = new Array[Byte](500000) // 0.5 MB, 12 per request fit under 4.9MB? 9 fit
    (0 until 20).foreach(i => w.add(i.toLong, body, "k"))
    val reqs = w.flush()
    assert(reqs.length >= 2)
    reqs.foreach { r =>
      val bytes = r.entries.map(_.data.length).sum
      assert(bytes <= BatchWriter.MaxBatchBytes + 25000) // entry overhead margin
    }
  }

  test("BatchWriter drops oversize and counts them") {
    val w = new BatchWriter()
    w.add(0, new Array[Byte](BatchWriter.MaxMessageSize + 1), "k")
    w.add(1, "ok".getBytes, "k")
    assert(w.droppedCount === 1)
    val reqs = w.flush()
    assert(reqs.map(_.entries.size).sum === 1)
  }

  test("RetryingTransport: flaky entries succeed on retry with backoff") {
    InMemoryTransport.clear()
    var sleeps = Vector.empty[Long]
    // request 0: entries 1 and 3 fail; retry request (as request 1): all pass
    val flaky = new FlakyTransport(new InMemoryTransport, (req, i) => req == 0 && (i == 1 || i == 3))
    val rt = new RetryingTransport(flaky, maxRetries = 3, sleeper = ms => sleeps :+= ms)
    val entries = (0 until 5).map(i => graft.kernel.KinesisEntry(s"e$i".getBytes, s"k$i")).toVector
    val oks = rt.putRecords("s", entries)
    assert(oks.forall(identity))
    assert(sleeps.length === 1) // one backoff round
    assert(InMemoryTransport.drain().length === 5)
  }

  test("RetryingTransport: permanently failing entry reported false") {
    val flaky = new FlakyTransport(new InMemoryTransport, (_, i) => i == 0)
    val rt = new RetryingTransport(flaky, maxRetries = 2, sleeper = _ => ())
    val entries = (0 until 3).map(i => graft.kernel.KinesisEntry(s"e$i".getBytes, s"k$i")).toVector
    val oks = rt.putRecords("s", entries)
    assert(oks === Vector(false, true, true))
  }
}
