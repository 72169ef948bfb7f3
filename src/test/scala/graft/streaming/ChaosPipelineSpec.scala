package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.SparkSpec.eventually
import graft.SparkSuite
import graft.functions.KplFunctions
import graft.sources.nsq.NsqMiniServer

/** The FIFTEENTH twin: the reference's whole identity (main.go:38-141 —
  * consume NSQ, dedup, pack, deliver to Kinesis, ack per outcome) driven
  * END TO END over the real wire protocols UNDER FAILURE. The existing
  * specs each prove one seam (NsqSourceSpec: source e2e + FIN-after-commit;
  * HttpKinesisTransportSpec: HTTP sink + throttle retry;
  * CheckpointRecoverySpec: restart), but no single run composed all of them
  * with faults injected at every layer at once. This spec runs ONE pipeline
  * — fake-nsqd TCP source → watermark dedup → KPL packing → HTTP
  * `PutRecords` against a kinesalite-style stub — through three chaos
  * events:
  *
  *  1. THROTTLE STORMS: the stub rejects every record of every fifth
  *     `PutRecords` request with `ProvisionedThroughputExceededException`
  *     for the entire run (the sustained-throttle regime
  *     kinesis_writer.go:101-104 left as TODO);
  *  2. BROKER CONNECTION KILL: every live consumer connection is dropped
  *     with a wave un-FINned in flight — nsqd requeues those messages, the
  *     connector must rebuild connections and take the redeliveries;
  *  3. CHECKPOINT RESTART: the query stops with a wave (plus replayed
  *     duplicate bodies) pending and a NEW query resumes from the same
  *     checkpoint.
  *
  * The at-least-once ACCOUNTING must hold through all of it:
  *  - every published message id is eventually FINned (nothing lost or
  *    stuck; a FIN can repeat only for a message instance that was
  *    redelivered first);
  *  - the broker ends with zero pending and zero in-flight;
  *  - the deaggregated Kinesis payload SET equals the unique published
  *    bodies — no entry lost, replayed duplicates removed by the dedup
  *    stage (delivery MULTIPLICITY may exceed one across epochs: that is
  *    what at-least-once means);
  *  - each chaos hook demonstrably fired (throttles > 0, conn-kill
  *    redeliveries > 0).
  */
class ChaosPipelineSpec extends SparkSuite {

  private def msgId(i: Int): String = f"$i%016d"

  private def deagg(stored: Vector[(String, Array[Byte])]): Vector[String] =
    stored.flatMap { case (_, data) => KplFunctions.deaggregate(data).map(_.data) }
      .map(new String(_, "UTF-8"))

  test("chaos soak: throttle storms + connection kill + checkpoint restart keep at-least-once accounting end-to-end") {
    val throttled = new AtomicLong(0)
    // every fifth request loses ALL its records to throttling, for the whole
    // run — RetryingTransport must absorb it (6 retries; the global request
    // counter advances per attempt, so a retry never re-draws its own storm)
    val stub = new KinesisStubServer(failRecord = (attempt, _) =>
      if (attempt % 5 == 1) { throttled.incrementAndGet(); true } else false)
    val server = new NsqMiniServer
    new HttpKinesisTransport(stub.endpoint).createStream("chaos")
    val ckpt = graft.SparkSpec.tempDir("graft-chaos-ckpt").toString

    def startQuery() = {
      val stream = spark.readStream
        .format("nsq")
        .option("host", "127.0.0.1")
        .option("port", server.port.toString)
        .option("statsEndpoints", s"127.0.0.1:${server.httpPort}")
        .option("topic", "t")
        .option("channel", "ch")
        .load()
      StreamPipeline.build(
        stream,
        new RetryingTransport(new HttpKinesisTransport(stub.endpoint),
          maxRetries = 6, sleeper = _ => ()),
        StreamPipeline.Options(streamName = "chaos", checkpoint = ckpt)).start()
    }

    def finnedIds: Set[String] = server.finned.asScala.toSet

    def dump(tag: String): Unit =
      System.err.println(s"[chaos $tag] finned=${server.finned.size} pending+inflight=${server.outstanding} " +
        s"connReq=${server.connRequeued.get()} req=${server.requeued.size} " +
        s"throttled=${throttled.get()} stored=${stub.records("chaos").size}")

    val q1 = startQuery()
    try {
      // wave 1: plain delivery under the standing throttle storm
      (0 until 20).foreach(i => server.publish(msgId(i), s"chaos-$i".getBytes("UTF-8")))
      // NOTE no processAllAvailable anywhere: with the outstanding-driven
      // epoch admission a FIN lands one epoch after its commit, so the
      // settle-point processAllAvailable waits for can lag the assertions
      // by minutes under chaos; the ProcessingTime trigger drives itself
      // and the counters are polled instead.
      eventually(timeoutMs = 60000) { dump("w1"); assert(finnedIds.size >= 20) }

      // chaos 2: wave 2 goes out, and once some of it is un-FINned in
      // flight, every consumer connection dies — nsqd requeues, the
      // connector must rebuild and take the redeliveries
      (20 until 40).foreach(i => server.publish(msgId(i), s"chaos-$i".getBytes("UTF-8")))
      eventually(timeoutMs = 60000) { assert(server.inFlightCount > 0) }
      server.killConnections()
      assert(server.connRequeued.get() > 0, "connection kill caught nothing in flight")
      eventually(timeoutMs = 90000) { dump("w2"); assert(finnedIds.size >= 40) }
    } finally q1.stop()

    // chaos 3: restart from the checkpoint with wave 3 pending, plus ten
    // REPLAYED bodies under fresh ids (the at-least-once upstream) that the
    // dedup stage must drop — while still FINning their messages
    (40 until 60).foreach(i => server.publish(msgId(i), s"chaos-$i".getBytes("UTF-8")))
    (0 until 10).foreach(i => server.publish(msgId(100 + i), s"chaos-$i".getBytes("UTF-8")))
    val q2 = startQuery()
    try {
      val expectedIds = ((0 until 60).map(msgId) ++ (0 until 10).map(i => msgId(100 + i))).toSet
      eventually(timeoutMs = 120000) {
        dump("w3")
        assert(finnedIds === expectedIds, "every published id must be FINned")
        assert(server.outstanding === 0, "no message may stay pending or in flight")
      }
      // nothing lost on the sink side: the deaggregated payload SET is the
      // unique published bodies (multiplicity may exceed 1 across epochs —
      // at-least-once — but the replayed-duplicate BODIES must be deduped)
      val delivered = deagg(stub.records("chaos"))
      assert(delivered.toSet === (0 until 60).map(i => s"chaos-$i").toSet)
      // a FIN may repeat only for a message that was first requeued: the
      // total FIN count is bounded by publishes + every recorded requeue
      val totalPublished = 70
      val fins = server.finned.asScala.size
      assert(fins >= totalPublished, "at-least-once: every instance FINs")
      assert(fins <= totalPublished + server.requeued.size + server.connRequeued.get(),
        s"FINs ($fins) exceed publishes + requeues — an instance was acked twice")
      // the chaos demonstrably fired
      assert(throttled.get() > 0, "throttle storm never hit a request")
      assert(server.connRequeued.get() > 0, "connection kill never redelivered")
    } finally { q2.stop(); server.close(); stub.stop() }
  }
}
