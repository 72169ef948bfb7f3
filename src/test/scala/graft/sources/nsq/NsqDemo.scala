package graft.sources.nsq

import graft.SparkSpec.eventually
import graft.streaming.{InMemoryTransport, StreamPipeline}
import graft.functions.KplFunctions

/** Manual drive: mini nsqd -> readStream("nsq") -> dedup/pack -> transport.
  * Run: sbt "Test/runMain graft.sources.nsq.NsqDemo" */
object NsqDemo {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val server = new NsqMiniServer
    InMemoryTransport.clear()
    val ckpt = graft.SparkSpec.tempDir("nsq-demo").toString
    val stream = spark.readStream.format("nsq")
      .option("host", "127.0.0.1").option("port", server.port.toString)
      .option("statsEndpoints", s"127.0.0.1:${server.httpPort}")
      .option("topic", "events").option("channel", "graft").load()
    println(s"[demo] schema: ${stream.schema.simpleString}")
    val q = StreamPipeline.build(stream, new InMemoryTransport,
      StreamPipeline.Options(streamName = "demo", checkpoint = ckpt)).start()
    // publish first: consumers connect lazily once stats show depth
    (0 until 30).foreach(i => server.publish(f"$i%016d", s"msg-$i".getBytes))
    eventually(10000)(assert(server.hasSubscriber, "no consumer subscribed"))
    (0 until 10).foreach(i => server.publish(f"${100+i}%016d", s"msg-$i".getBytes)) // redelivery dupes
    server.sendHeartbeat() // probe: heartbeat mid-stream
    (30 until 35).foreach(i => server.publish(f"$i%016d", s"msg-$i".getBytes))
    q.processAllAvailable(); q.processAllAvailable()
    val user = InMemoryTransport.drain()
      .flatMap { case (_, e) => KplFunctions.deaggregate(e.data).map(_.data) }.map(new String(_))
    println(s"[demo] delivered=${user.size} distinct=${user.toSet.size} (expect 35/35: 10 dupes dropped)")
    Thread.sleep(500)
    println(s"[demo] server FINs=${server.finned.size} requeues=${server.requeued.size}")
    q.stop(); server.close(); spark.stop()
  }
}
