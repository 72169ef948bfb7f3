package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.{SparkSpec, SparkSuite, Tables}
import graft.operators.TrainingOps

/** The streaming sampler's contract: after ANY prefix of the stream, the
  * latest per-stratum emission equals the batch `h_stratified_sample`
  * over exactly the rows seen — the bottom-k sketch is order- and
  * batching-insensitive, so streaming and batch agree without a
  * reconciliation pass. */
class StreamingStratifiedSamplerSpec extends SparkSuite {

  test("mergeBottomK is commutative, associative, idempotent, and split-invariant") {
    import StreamingStratifiedSampler.{mergeBottomK, SampleEntry}
    // deterministic pseudo-random entries, duplicates included on purpose
    def entry(i: Long): SampleEntry =
      SampleEntry(draw = (i * 2654435761L) % 997, doc_id = i % 61, n_chars = i % 13)
    val pool = (0L until 200L).map(entry).toVector
    val k = 10
    val whole = mergeBottomK(pool, Vector.empty, k)
    for (seed <- 1 to 20) {
      val shuffled = new scala.util.Random(seed).shuffle(pool)
      val (a, b) = shuffled.splitAt(seed * 7 % pool.size)
      val ka = mergeBottomK(a, Vector.empty, k)
      val kb = mergeBottomK(b, Vector.empty, k)
      // commutative + split-invariant: any split, any order, same sample
      assert(mergeBottomK(ka, kb, k) == whole, s"seed $seed: split changed the sample")
      assert(mergeBottomK(kb, ka, k) == whole, s"seed $seed: order changed the sample")
      // associative over a 3-way split
      val (b1, b2) = b.splitAt(b.size / 2)
      val lhs = mergeBottomK(mergeBottomK(a, b1, k), b2, k)
      val rhs = mergeBottomK(a, mergeBottomK(b1, b2, k), k)
      assert(lhs == whole && rhs == whole, s"seed $seed: associativity broke")
      // idempotent: re-merging a sample (redelivery) is a no-op
      assert(mergeBottomK(whole, whole, k) == whole)
      assert(mergeBottomK(whole, a, k) == mergeBottomK(whole ++ a, Vector.empty, k))
    }
  }

  test("streaming sample equals the batch query over the same rows, across batch splits") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val docs = Tables.load(spark, SparkSpec.sf0001, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(docs.length > 100)

    val input = MemoryStream[(Long, String, String, String, Long)]
    val out = StreamingStratifiedSampler(
      input.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"))
    val q = out.writeStream
      .format("memory").queryName("strat_sample")
      .outputMode(OutputMode.Update())
      .trigger(Trigger.ProcessingTime(200L))
      .option("checkpointLocation",
        graft.SparkSpec.tempDir("strat-ckpt").toString)
      .start()

    def latest(): Map[(String, String), (Long, Long, Long, Long)] = {
      // memory sink in Update mode appends re-emissions; the row with the
      // highest n_stratum per stratum is the latest (n_stratum is monotone)
      spark.sql(
        """SELECT lang, source, n_stratum, n_sampled, sampled_id_sum, sampled_chars
          |FROM strat_sample""".stripMargin).collect()
        .groupBy(r => (r.getString(0), r.getString(1)))
        .view.mapValues(rs => {
          val r = rs.maxBy(_.getLong(2))
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
        }).toMap
    }

    def awaitTotal(expected: Long, timeoutMs: Long = 60000L): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (System.currentTimeMillis() < deadline) {
        if (latest().values.iterator.map(_._1).sum == expected) return
        Thread.sleep(250)
      }
      assert(latest().values.iterator.map(_._1).sum == expected,
        "stream did not drain the planted rows in time")
    }

    try {
      // deliberately awkward split: mid-stratum, unordered
      val (first, second) = docs.sortBy(d => (d._1 * 2654435761L) % 1000).splitAt(docs.length / 3)
      input.addData(first.toSeq)
      awaitTotal(first.length.toLong)
      input.addData(second.toSeq)
      awaitTotal(docs.length.toLong)

      val batch = TrainingOps.hStratifiedSample(spark, SparkSpec.sf0001).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      val streamed = latest()
      assert(streamed.keySet == batch.keySet,
        s"stratum sets differ: ${streamed.keySet} vs ${batch.keySet}")
      streamed.foreach { case (k, v) =>
        assert(v == batch(k), s"stratum $k: streaming $v != batch ${batch(k)}")
      }
    } finally q.stop()
  }
}
