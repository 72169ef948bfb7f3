package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkSpec, SparkSuite, Tables}
import graft.operators.TrainingOps

/** The streaming novelty classifier's contract: feeding the standing
  * corpus as one wave and the ingest batch as a second reproduces the
  * batch `h_novelty_incremental` report exactly — even when the trigger
  * splits the ingest wave across micro-batches mid-gram (the max(novel)
  * roll-up is split-invariant). */
class StreamingNoveltySpec extends SparkSuite {

  test("streaming novelty equals the batch incremental audit across micro-batch splits") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val docs = Tables.load(spark, SparkSpec.sf0001, "documents")
      .select("doc_id", "text", "lang")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(docs.length > 100)
    // the batch operator's split: doc_id % 3 <> 0 is the standing corpus,
    // % 3 = 0 is the ingest batch
    val standing = docs.filter(_._1 % 3 != 0)
    val ingest = docs.filter(_._1 % 3 == 0)

    val batch = TrainingOps.hNoveltyIncremental(spark, SparkSpec.sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap

    // foreachBatch capture: (batchId -> verdicts); the wave roll-up
    // aggregates ACROSS micro-batches, so batch alignment never matters
    val captured = new ConcurrentHashMap[Long, Array[(String, String, Boolean)]]()
    val input = MemoryStream[(Long, String, String)]
    val out = StreamingNovelty(input.toDF().toDF("doc_id", "text", "lang"))
    val q = out.writeStream
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(200L))
      .option("checkpointLocation",
        graft.SparkSpec.tempDir("novelty-ckpt").toString)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamingNovelty.GramVerdict], id: Long) =>
        captured.put(id, df.collect().map(v => (v.lang, v.gram, v.novel)))
        ()
      }
      .start()

    def grams(waveIds: Set[Long]): Array[(String, String, Boolean)] =
      captured.asScala.filterKeys(waveIds).values.flatten.toArray

    def awaitDistinctGrams(waveIds: () => Set[Long], expected: Long,
        timeoutMs: Long = 60000L): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (System.currentTimeMillis() < deadline &&
        grams(waveIds()).map(g => (g._1, g._2)).distinct.length != expected) {
        Thread.sleep(250)
      }
      assert(grams(waveIds()).map(g => (g._1, g._2)).distinct.length == expected,
        "stream did not drain the planted wave in time")
    }

    try {
      // ---- wave 1: the standing corpus (its distinct gram count is the
      // batch operator's n_index_grams)
      val expectIndex = batch.values.iterator.map(_._1).sum
      input.addData(standing.toSeq)
      awaitDistinctGrams(() => captured.keySet().asScala.toSet, expectIndex)
      val wave1Ids = captured.keySet().asScala.toSet
      val indexSizes = grams(wave1Ids).map(g => (g._1, g._2)).distinct
        .groupBy(_._1).view.mapValues(_.length.toLong).toMap
      assert(indexSizes == batch.view.mapValues(_._1).toMap,
        s"standing index sizes diverged: $indexSizes")

      // ---- wave 2: the ingest batch, split in two adds so the trigger
      // can cut it across micro-batches (including mid-gram repeats)
      val (w2a, w2b) = ingest.splitAt(ingest.length / 2)
      val expectBatchGrams = batch.values.iterator.map(_._2).sum
      input.addData(w2a.toSeq)
      input.addData(w2b.toSeq)
      awaitDistinctGrams(
        () => captured.keySet().asScala.toSet -- wave1Ids, expectBatchGrams)
      val wave2Ids = captured.keySet().asScala.toSet -- wave1Ids

      val wave2 = spark.createDataFrame(grams(wave2Ids).toSeq)
        .toDF("lang", "gram", "novel")
      val streamed = StreamingNovelty.report(wave2, indexSizes).collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap

      assert(streamed.keySet == batch.keySet,
        s"lang sets differ: ${streamed.keySet} vs ${batch.keySet}")
      streamed.foreach { case (lang, row) =>
        assert(row == batch(lang),
          s"lang $lang: streaming $row != batch ${batch(lang)}")
      }
    } finally q.stop()
  }
}
