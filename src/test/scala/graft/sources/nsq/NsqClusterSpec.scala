package graft.sources.nsq

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec.eventually

/** Multi-JVM proof of the connector's cluster-mode contract (round-7
  * verdict task #4). Everything before this ran same-JVM, where
  * `closeSession` can reach every consumer and "executor" threads share
  * the driver's registry; this suite runs a REAL `local-cluster[2,1,*]`
  * — two executor processes with their own NsqShardConsumers registries —
  * against one in-process nsqd, and asserts the three behaviors only a
  * multi-JVM run can show:
  *
  *  1. **Distributed ingest**: consumer connections originate from ≥2
  *     distinct executor JVMs (client_id carries the pid), none from the
  *     driver.
  *  2. **Migration without loss**: killing an executor mid-stream drops
  *     its connections (nsqd requeues its un-FINned in-flight), the
  *     shards' next tasks land on the survivor, and every published
  *     message still arrives (at-least-once: dupes allowed, loss not).
  *  3. **Cross-JVM orphan reap**: stopping the query runs `closeSession`
  *     on the DRIVER only — the executors' standing consumers are
  *     orphans. The idle-TTL reaper inside each executor JVM must close
  *     them (broker sees zero connections) within idleTtl + reaper
  *     period, without any driver involvement.
  *
  * Runs in its own forked JVM (build.sbt test grouping) because the
  * cluster master can't coexist with the shared local[4] session.
  */
class NsqClusterSpec extends AnyFunSuite {

  test("local-cluster: distributed ingest, executor-kill migration without loss, cross-JVM orphan reap") {
    assume(new File("/opt/spark/jars").isDirectory, "needs a Spark distribution")
    val driverPid = ProcessHandle.current().pid()
    val srv = new NsqMiniServer
    val total = 300
    (0 until 150).foreach(i => srv.publish(f"$i%016d", s"m-$i".getBytes("UTF-8")))

    // the in-JVM standalone Worker resolves sparkHome for executor launch
    sys.props("spark.test.home") = "/opt/spark"
    val spark = graft.GraftSession("local-cluster[2,1,1024]", "4",
      "spark.executor.memory" -> "768m",
      // host-level locality can't pin between two same-host executors, so
      // shards WILL move — exactly the migration surface under test
      "spark.locality.wait" -> "0")
    try {
      val sc = spark.sparkContext
      sc.setLogLevel("WARN")
      // collect executor ids as they register (getExecutorIds is
      // private[spark]); registration takes seconds, the listener is up in ms
      val execIds = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onExecutorAdded(
            e: org.apache.spark.scheduler.SparkListenerExecutorAdded): Unit =
          execIds.add(e.executorId)
      })
      eventually(90000, pollMs = 250) {
        assert(sc.statusTracker.getExecutorInfos.length >= 3, "2 executors not up")
        assert(execIds.size >= 2, "executor ids not observed")
      }

      val ckpt = graft.SparkSpec.tempDir("graft-nsq-cluster-ckpt").toString
      val stream = spark.readStream
        .format("nsq")
        .option("host", "127.0.0.1")
        .option("port", srv.port.toString)
        .option("statsEndpoints", s"127.0.0.1:${srv.httpPort}")
        .option("topic", "t").option("channel", "ch")
        .option("numShards", "2")
        .option("maxPerTrigger", "100")
        .option("pollMs", "200")
        .option("idleTtlMs", "3000")
        .load()
        .selectExpr("CAST(body AS STRING) AS payload") // no test-class closures shipped
      val q = stream.writeStream
        .format("memory").queryName("nsq_cluster")
        .option("checkpointLocation", ckpt)
        .start()
      try {
        // phase 1: half the corpus arrives across BOTH executor JVMs
        eventually(90000, pollMs = 250) {
          val n = spark.sql("SELECT count(DISTINCT payload) FROM nsq_cluster").head.getLong(0)
          assert(n >= 150L, s"only $n/150 distinct payloads before kill")
        }
        val pids = srv.identities.toArray(Array.empty[String]).toSet
          .map((s: String) => s.stripPrefix("graft-"))
        assert(!pids.contains(driverPid.toString),
          s"driver JVM held a broker connection: $pids")
        assert(pids.size >= 2, s"expected consumers in >=2 executor JVMs, got $pids")

        // phase 2: kill one executor mid-stream; its connections drop, nsqd
        // requeues its in-flight, the survivor picks the shards up
        val victim = execIds.peek()
        assert(sc.killExecutors(Seq(victim)), s"kill request for executor $victim refused")
        (150 until total).foreach(i => srv.publish(f"$i%016d", s"m-$i".getBytes("UTF-8")))
        // 240 s, not 120: post-kill shard reassignment rides idleTtl plus
        // micro-batch progress, and under heavy host co-tenant load the
        // single surviving 1-core executor can sit starved for minutes —
        // measured 188/300 at the 120 s deadline at loadavg ~3, complete
        // shortly after (quiesced runs finish in ~20 s)
        eventually(240000, pollMs = 250) {
          val n = spark.sql("SELECT count(DISTINCT payload) FROM nsq_cluster").head.getLong(0)
          assert(n == total.toLong, s"migration lost messages: $n/$total distinct")
        }
      } finally q.stop()

      // phase 3: the stopped query's executor-side consumers are orphans the
      // driver cannot reach; each executor's reaper must close them
      eventually(30000, pollMs = 250) {
        assert(srv.activeConns == 0,
          s"${srv.activeConns} orphaned consumer connections survived idleTtl+reaper")
      }
    } finally {
      spark.stop()
      srv.close()
    }
  }
}
