package graft.streaming

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec.eventually
import graft.functions.KplFunctions
import graft.sources.nsq.NsqMiniServer

/** Round-19 verdict item 5: compose the chaos soak with the CLUSTER
  * posture. [[ChaosPipelineSpec]] proves the at-least-once accounting
  * under a standing throttle storm + connection kill + restart in ONE
  * JVM; NsqClusterSpec proves source migration under executor kill. This
  * spec runs the FULL reference pipeline (NSQ TCP source → watermark
  * dedup → KPL pack → HTTP `PutRecords` against a throttling stub) on a
  * REAL multi-JVM `local-cluster[2,1,*]` and kills one executor JVM
  * mid-backlog — the failure mode local[32] cannot exhibit: state-store
  * and sink tasks die WITH their JVM and must re-schedule on the
  * survivor while the ack/dedup ledgers stay exact.
  *
  * Invariants through the kill (same as the single-JVM chaos soak):
  * every published id FINned, broker ends drained, the deaggregated
  * Kinesis payload SET equals the unique published bodies (replayed
  * duplicate bodies dropped by dedup; multiplicity may exceed one — that
  * is at-least-once), FIN count bounded by publishes + recorded
  * requeues, and the chaos demonstrably fired (throttles > 0, an
  * executor actually died, consumers ran in ≥ 2 executor JVMs). */
class ChaosClusterSpec extends AnyFunSuite {

  private def msgId(i: Int): String = f"$i%016d"

  private def deagg(stored: Vector[(String, Array[Byte])]): Vector[String] =
    stored.flatMap { case (_, data) => KplFunctions.deaggregate(data).map(_.data) }
      .map(new String(_, "UTF-8"))

  test("executor kill mid-backlog on local-cluster: ack/dedup accounting holds through task re-schedule") {
    assume(new File("/opt/spark/jars").isDirectory, "needs a Spark distribution")
    val driverPid = ProcessHandle.current().pid()
    val throttled = new AtomicLong(0)
    // standing storm: every fifth PutRecords attempt loses ALL records —
    // the stub runs on the DRIVER, executors reach it over HTTP, so the
    // counter is cross-JVM-correct by construction
    val stub = new KinesisStubServer(failRecord = (attempt, _) =>
      if (attempt % 5 == 1) { throttled.incrementAndGet(); true } else false)
    val server = new NsqMiniServer
    new HttpKinesisTransport(stub.endpoint).createStream("chaoscluster")
    val ckpt = graft.SparkSpec.tempDir("graft-chaos-cluster-ckpt").toString

    sys.props("spark.test.home") = "/opt/spark"
    val spark = graft.GraftSession("local-cluster[2,1,1024]", "4",
      "spark.executor.memory" -> "768m",
      "spark.locality.wait" -> "0")
    try {
      val sc = spark.sparkContext
      sc.setLogLevel("WARN")
      val execIds = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val removed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onExecutorAdded(
            e: org.apache.spark.scheduler.SparkListenerExecutorAdded): Unit =
          execIds.add(e.executorId)
        override def onExecutorRemoved(
            e: org.apache.spark.scheduler.SparkListenerExecutorRemoved): Unit =
          removed.add(e.executorId)
      })
      eventually(90000, pollMs = 250) {
        assert(sc.statusTracker.getExecutorInfos.length >= 3, "2 executors not up")
        assert(execIds.size >= 2, "executor ids not observed")
      }

      val stream = spark.readStream
        .format("nsq")
        .option("host", "127.0.0.1")
        .option("port", server.port.toString)
        .option("statsEndpoints", s"127.0.0.1:${server.httpPort}")
        .option("topic", "t").option("channel", "ch")
        .option("numShards", "2")
        .option("maxPerTrigger", "60")
        .option("pollMs", "200")
        .option("idleTtlMs", "5000")
        .load()
      val q = StreamPipeline.build(
        stream,
        new RetryingTransport(new HttpKinesisTransport(stub.endpoint), maxRetries = 6),
        StreamPipeline.Options(streamName = "chaoscluster", checkpoint = ckpt)).start()

      def finnedIds: Set[String] = server.finned.asScala.toSet
      def dump(tag: String): Unit =
        System.err.println(s"[chaos-cluster $tag] finned=${server.finned.size} " +
          s"outstanding=${server.outstanding} req=${server.requeued.size} " +
          s"connReq=${server.connRequeued.get()} throttled=${throttled.get()} " +
          s"removed=${removed.size}")

      try {
        // wave 1: both executor JVMs consuming under the standing storm
        (0 until 40).foreach(i => server.publish(msgId(i), s"cc-$i".getBytes("UTF-8")))
        eventually(120000, pollMs = 250) { dump("w1"); assert(finnedIds.size >= 40) }
        val pids = server.identities.toArray(Array.empty[String]).toSet
          .map((s: String) => s.stripPrefix("graft-"))
        assert(!pids.contains(driverPid.toString),
          s"driver JVM held a broker connection: $pids")
        assert(pids.size >= 2, s"expected consumers in >=2 executor JVMs, got $pids")

        // wave 2 builds a real backlog (plus 20 replayed duplicate BODIES
        // under fresh ids that dedup must drop), then one executor dies
        (40 until 200).foreach(i => server.publish(msgId(i), s"cc-$i".getBytes("UTF-8")))
        (0 until 20).foreach(i => server.publish(msgId(1000 + i), s"cc-$i".getBytes("UTF-8")))
        eventually(60000, pollMs = 250) { assert(server.inFlightCount > 0, "no backlog in flight yet") }
        val victim = execIds.peek()
        assert(sc.killExecutors(Seq(victim)), s"kill request for executor $victim refused")
        eventually(60000, pollMs = 250) { assert(removed.size >= 1, "executor removal not observed") }
        dump("killed")

        // the survivor (plus any standalone replacement) must drain EVERYTHING:
        // the victim's un-FINned in-flight requeues and re-schedules
        val expectedIds = ((0 until 200).map(msgId) ++ (0 until 20).map(i => msgId(1000 + i))).toSet
        eventually(300000, pollMs = 250) {
          dump("drain")
          assert(finnedIds === expectedIds, s"missing FINs: ${(expectedIds -- finnedIds).size}")
          assert(server.outstanding === 0, "messages stayed pending or in flight")
        }
        // sink-side conservation: unique bodies exactly once as a SET
        val delivered = deagg(stub.records("chaoscluster"))
        assert(delivered.toSet === (0 until 200).map(i => s"cc-$i").toSet,
          "deaggregated payload set diverged from the unique published bodies")
        // FIN multiplicity bounded by publishes + every recorded requeue
        val totalPublished = 220
        val fins = server.finned.asScala.size
        assert(fins >= totalPublished, "at-least-once: every instance FINs")
        assert(fins <= totalPublished + server.requeued.size + server.connRequeued.get(),
          s"FINs ($fins) exceed publishes + requeues — an instance was acked twice")
        // the chaos demonstrably fired
        assert(throttled.get() > 0, "throttle storm never hit a request")
        assert(removed.asScala.toSet.contains(victim), "victim executor not removed")
      } finally q.stop()
    } finally {
      spark.stop()
      server.close()
      stub.stop()
    }
  }
}
