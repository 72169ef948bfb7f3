package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.SparkSuite

class StreamingNearDupSpec extends SparkSuite {

  // deterministic word-soup docs, long enough that a one-word mutation
  // keeps Jaccard ≈ 0.95 (the planted-near-dup workload the batch
  // h_neardup_minhash pipeline verifies against brute force)
  private def text(seed: Int): String =
    (0 until 40).map(i => s"w${seed}_${(i * 7) % 97}").mkString(" ")

  private def awaitHits(expected: Int, timeoutMs: Long = 60000L): Long = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var n = -1L
    while (System.currentTimeMillis() < deadline) {
      n = spark.sql(
        "SELECT count(DISTINCT a_id, b_id) FROM neardup_hits").head.getLong(0)
      if (n >= expected) return n
      Thread.sleep(250)
    }
    n
  }

  test("planted near-dups are flagged against already-ingested residents; unrelated docs are not") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val hits = StreamingNearDup(input.toDF().toDF("doc_id", "text"))
    val q = hits.writeStream
      .format("memory").queryName("neardup_hits")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime(200L))
      .option("checkpointLocation",
        graft.SparkSpec.tempDir("neardup-ckpt").toString)
      .start()
    try {
      // phase 1: 20 distinct originals — residents only, no hits expected
      input.addData((0L until 20L).map(i => i -> text(i.toInt)))
      Thread.sleep(3000L)

      // phase 2: a near-dup of each original (first word dropped) arrives
      // LATER — each must match its resident original
      input.addData((0L until 20L).map(i =>
        (i + 1000L) -> text(i.toInt).split(" ").drop(1).mkString(" ")))
      val n = awaitHits(20)
      assert(n >= 20, s"only $n/20 planted near-dup pairs detected")

      val rows = spark.sql(
        """SELECT a_id, b_id, max(est_jaccard_x10k) AS est
          |FROM neardup_hits GROUP BY a_id, b_id""".stripMargin).collect()
      rows.foreach { r =>
        val (a, b, est) = (r.getLong(0), r.getLong(1), r.getLong(2))
        assert(b == a + 1000L,
          s"false pair ($a, $b): only planted (i, i+1000) pairs exist at this threshold")
        assert(est >= 8000L, s"planted pair ($a, $b) estimated too low: $est")
      }
    } finally q.stop()
  }
}
