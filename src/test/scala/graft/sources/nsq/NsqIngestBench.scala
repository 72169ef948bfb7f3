package graft.sources.nsq

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** NSQ ingest throughput: mini-nsqd brokers → executor-sharded `nsq` source
  * → count sink (no dedup/pack — isolates the source path). A/Bs the
  * round-5 driver-funnel seam: `numShards=1` forces all messages through
  * one consumer connection and one read task (the old design's single
  * driver pipe, minus its extra driver→executor ship), vs one shard per
  * broker consuming in parallel tasks.
  *
  * Run: `sbt "Test/runMain graft.sources.nsq.NsqIngestBench"`
  * Env: SPARK_GRAFT_NSQ_N (msgs, default 100000), SPARK_GRAFT_NSQ_BROKERS
  * (default 4). One JSON line, same contract as [[graft.Bench]].
  */
object NsqIngestBench {

  private val delivered = new AtomicLong(0)

  private def run(spark: SparkSession, n: Int, nBrokers: Int, numShards: Int): Double = {
    val servers = Vector.fill(nBrokers)(new NsqMiniServer)
    val body = ("x" * 1000).getBytes("UTF-8")
    (0 until n).foreach(i => servers(i % nBrokers).publish(f"$i%016d", body))
    delivered.set(0)
    val ckpt = java.nio.file.Files.createTempDirectory(s"nsq-bench-$numShards").toString
    val stream = spark.readStream.format("nsq")
      .option("hosts", servers.map(s => s"127.0.0.1:${s.port}").mkString(","))
      .option("statsEndpoints", servers.map(s => s"127.0.0.1:${s.httpPort}").mkString(","))
      .option("topic", "t").option("channel", "ch")
      .option("numShards", numShards.toString)
      .option("pollMs", "250")
      .load()
    val t0 = System.nanoTime()
    val q = stream.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(10L))
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        delivered.addAndGet(b.count())
        ()
      }
      .start()
    val deadline = System.currentTimeMillis() + 120000
    while (delivered.get() < n && System.currentTimeMillis() < deadline) Thread.sleep(50)
    val sec = (System.nanoTime() - t0) / 1e9
    q.stop()
    servers.foreach(_.close())
    require(delivered.get() >= n, s"ingest incomplete: ${delivered.get()}/$n")
    n / sec
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_NSQ_N", "100000").toInt
    val nBrokers = sys.env.getOrElse("SPARK_GRAFT_NSQ_BROKERS", "4").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val warm = run(spark, math.min(n, 20000), nBrokers, nBrokers) // codegen/state init
    val funnel = run(spark, n, nBrokers, 1)
    val sharded = run(spark, n, nBrokers, nBrokers * 2)
    println(
      s"""{"metric":"nsq_ingest_rec_per_sec","value":${sharded.round},"unit":"rec/sec",""" +
      s""""funnel_1shard":${funnel.round},"sharded":${sharded.round},""" +
      s""""speedup":${math.round(sharded / funnel * 100.0) / 100.0},""" +
      s""""n":$n,"brokers":$nBrokers,"shards":${nBrokers * 2},"warm":${warm.round}}""")
    spark.stop()
  }
}
