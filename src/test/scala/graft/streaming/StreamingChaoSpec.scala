package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkSpec, SparkSuite, Tables}
import graft.kernel.Fnv64a
import graft.operators.LlmOps

/** The streaming Chao estimator's contract (the SIXTEENTH twin): after the
  * replay-doubled ingest corpus has streamed — in adversarial order,
  * across arbitrary micro-batch splits, through a committed-wave replay
  * and a checkpoint restart — the per-language
  * (n_sampled, d_obs, f1, f2, chao_est) row equals the batch
  * `h_dup_chao`'s sample columns over the same corpus, and mid-stream
  * rows equal the batch rule applied to the delivered prefix. */
class StreamingChaoSpec extends SparkSuite {

  private def md5b(s: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    d(0) & 0xff
  }

  /** The batch sample rule + estimator, recomputed in plain Scala. */
  private def referee(rows: Seq[(Long, String, String)]): Map[String, (Long, Long, Long, Long, Long)] =
    rows.filter { case (id, _, _) => md5b(id.toString) < 51 }
      .groupBy(_._2).map { case (lang, ds) =>
        val byText = ds.groupBy(r => Fnv64a.hash(r._3)).map(_._2.size.toLong)
        val dObs = byText.size.toLong
        val f1 = byText.count(_ == 1L).toLong
        val f2 = byText.count(_ == 2L).toLong
        lang -> (ds.size.toLong, dObs, f1, f2, dObs + f1 * (f1 - 1) / (2 * (f2 + 1)))
      }

  test("streaming chao equals the batch sample estimator across replay and restart") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val docs = Tables.load(spark, SparkSpec.sf0001, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // the batch operator's ingest-replay corpus: a third redelivered
    // under +1e6 re-crawl ids
    val ingest = docs ++ docs.filter(_._1 % 3 == 0).map { case (id, l, t) => (id + 1000000L, l, t) }
    // adversarial arrival order: md5-shuffled, not id order
    val shuffled = ingest.sortBy { case (id, _, _) => md5b("order|" + id) * 10000000L + id }
    val (w1, w2) = shuffled.splitAt(shuffled.length / 2)

    val captured = new ConcurrentHashMap[Long, Array[StreamingChao.ChaoEstimate]]()
    val ckpt = graft.SparkSpec.tempDir("chao-ckpt").toString
    val input = MemoryStream[(Long, String, String)]

    def startQuery(in: MemoryStream[(Long, String, String)]) =
      StreamingChao(in.toDF().toDF("doc_id", "lang", "text")).writeStream
        .outputMode("update")
        .trigger(Trigger.ProcessingTime(200L))
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamingChao.ChaoEstimate], id: Long) =>
          captured.put(id, df.collect())
          ()
        }
        .start()

    def latest: Map[String, (Long, Long, Long, Long, Long)] =
      captured.asScala.toSeq.sortBy(_._1).flatMap(_._2.toSeq)
        .groupBy(_.lang).map { case (l, es) =>
          val e = es.last
          l -> (e.nSampled, e.dObs, e.f1, e.f2, e.chaoEst)
        }

    def await(expect: Map[String, (Long, Long, Long, Long, Long)], what: String,
        timeoutMs: Long = 60000L): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (System.currentTimeMillis() < deadline && latest != expect) Thread.sleep(250)
      assert(latest == expect, s"$what: streaming estimates diverged from the batch rule")
    }

    val q1 = startQuery(input)
    try {
      input.addData(w1.toSeq)
      await(referee(w1), "wave 1")

      // committed-wave REPLAY: every replayed doc_id is already in the seen
      // ledger, so no counter may move
      val before = captured.keySet().asScala.max
      input.addData(w1.take(w1.length / 2).toSeq)
      val deadline = System.currentTimeMillis() + 60000L
      while (System.currentTimeMillis() < deadline &&
        !captured.keySet().asScala.exists(_ > before)) Thread.sleep(250)
      assert(latest == referee(w1), "replayed wave moved the estimator")
    } finally q1.stop()

    // checkpoint RESTART with wave 2 pending
    val q2 = startQuery(input)
    try {
      input.addData(w2.toSeq)
      await(referee(shuffled), "after restart + wave 2")

      // final cross-check against the DECLARED batch operator's sample
      // columns over the same corpus
      val batch = LlmOps.hDupChao(spark, SparkSpec.sf0001).collect()
        .map(r => r.getString(0) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
      assert(latest == batch, "streaming estimator diverged from h_dup_chao's sample arm")
    } finally q2.stop()
  }
}
