package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Ingest-time near-dup throughput: N synthetic docs (10 % planted
  * near-dups) through [[StreamingNearDup]] — shingle → MinHash → 16-band
  * explode → bucket-keyed stateful compare. One JSON line, same contract
  * as [[graft.Bench]].
  *
  * Run: `sbt "Test/runMain graft.streaming.NearDupBench"`
  * Env: SPARK_GRAFT_NEARDUP_N (docs, default 20000), SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_CONF (8 shuffle partitions unless it sets them).
  */
object NearDupBench {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_NEARDUP_N", "20000").toInt
    val cpus = graft.GraftSession.cpus()
    val spark = graft.GraftSession(s"local[$cpus]", cpus, "spark.sql.shuffle.partitions" -> "8")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext

    def text(seed: Int): String =
      (0 until 40).map(i => s"w${seed}_${(i * 7) % 97}").mkString(" ")
    // 10 % of docs are near-dups of an earlier doc (first word dropped)
    val docs = (0 until n).map { i =>
      if (i % 10 == 9) (i.toLong, text(i - 1).split(" ").drop(1).mkString(" "))
      else (i.toLong, text(i))
    }

    val input = MemoryStream[(Long, String)]
    val q = StreamingNearDup(input.toDF().toDF("doc_id", "text")).writeStream
      .format("memory").queryName("neardup_bench")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime(10L))
      .option("checkpointLocation",
        graft.SparkSpec.tempDir("neardup-bench-ckpt").toString)
      .start()

    input.addData(docs.take(1000)) // warm-up: state store + codegen init
    Thread.sleep(4000L)
    val expected = (1000 until n).count(_ % 10 == 9)
    val t0 = System.nanoTime()
    docs.drop(1000).grouped(5000).foreach(input.addData(_))
    // under TimeMode.ProcessingTime the engine keeps scheduling batches, so
    // poll the sink for the expected distinct pair count instead of
    // processAllAvailable
    val deadline = System.currentTimeMillis() + 180000L
    var pairs = 0L
    while (pairs < expected && System.currentTimeMillis() < deadline) {
      pairs = spark.sql("SELECT count(DISTINCT a_id, b_id) FROM neardup_bench").head.getLong(0)
      Thread.sleep(100L)
    }
    val sec = (System.nanoTime() - t0) / 1e9
    q.stop()
    require(pairs >= expected, s"detector incomplete: $pairs/$expected pairs")
    println(
      s"""{"metric":"neardup_docs_per_sec","value":${((n - 1000) / sec).round},"unit":"docs/sec",""" +
      s""""docs":${n - 1000},"planted_pairs":$expected,"pairs_found":$pairs,"sec":$sec}""")
    spark.stop()
  }
}
