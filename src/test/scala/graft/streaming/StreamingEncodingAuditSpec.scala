package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkSpec, SparkSuite}
import graft.operators.CorpusOps

/** The streaming encoding audit's contract (the NINETEENTH twin): after
  * the full corrupted corpus — artifacts AND decoys — has streamed in
  * adversarial order, across arbitrary micro-batch splits, through a
  * committed-wave replay and a checkpoint restart, the per-(lang, source)
  * row equals the batch `h_encoding_audit`'s (n_docs, n_moji, n_repl,
  * n_ctrl, n_crlf) columns. The twin shares the batch operator's
  * detection PROJECTION (one implementation), so this is a contract on
  * the stateful ledger, not a re-derivation of the probes. */
class StreamingEncodingAuditSpec extends SparkSuite {

  private def md5b(s: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    d(0) & 0xff
  }

  test("streaming audit equals the batch detection table across replay and restart") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    // the batch operator's own corrupted corpus (synthesis side)
    val corpus = CorpusOps.encPlanted(spark, SparkSpec.sf0001)
      .select("doc_id", "lang", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val shuffled = corpus.sortBy { case (id, _, _, _) => md5b(id.toString) * 10000L + id }
    val (w1, w2) = shuffled.splitAt(shuffled.length / 2)

    // batch expected: the declared operator's ingest-knowable columns
    val batchExpected: Map[(String, String), (Long, Long, Long, Long, Long)] =
      CorpusOps.hEncodingAudit(spark, SparkSpec.sf0001).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap

    // referee for a PREFIX of the corpus: the shared detection projection
    // aggregated in plain Scala
    def referee(rows: Seq[(Long, String, String, String)]): Map[(String, String), (Long, Long, Long, Long, Long)] = {
      val det = CorpusOps.encDetect(
        rows.toDF("doc_id", "lang", "source", "text")).collect()
      det.groupBy(r => (r.getString(1), r.getString(2))).map { case (k, rs) =>
        k -> (rs.length.toLong,
          rs.map(_.getLong(4)).sum, rs.map(_.getLong(5)).sum,
          rs.map(_.getLong(6)).sum, rs.map(_.getLong(7)).sum)
      }
    }

    val captured = new ConcurrentHashMap[Long, Array[StreamingEncodingAudit.EncStat]]()
    val ckpt = graft.SparkSpec.tempDir("encaudit-ckpt").toString
    val input = MemoryStream[(Long, String, String, String)]

    def startQuery(in: MemoryStream[(Long, String, String, String)]) =
      StreamingEncodingAudit(in.toDF().toDF("doc_id", "lang", "source", "text")).writeStream
        .outputMode("update")
        .trigger(Trigger.ProcessingTime(200L))
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamingEncodingAudit.EncStat], id: Long) =>
          captured.put(id, df.collect())
          ()
        }
        .start()

    def latest: Map[(String, String), (Long, Long, Long, Long, Long)] =
      captured.asScala.toSeq.sortBy(_._1).flatMap(_._2.toSeq)
        .groupBy(e => (e.lang, e.source)).map { case (k, es) =>
          val e = es.last
          k -> (e.nDocs, e.nMoji, e.nRepl, e.nCtrl, e.nCrlf)
        }

    def await(expect: Map[(String, String), (Long, Long, Long, Long, Long)], what: String): Unit = {
      val deadline = System.currentTimeMillis() + 60000L
      def trimmed = latest.filter { case (k, _) => expect.contains(k) }
      while (System.currentTimeMillis() < deadline && trimmed != expect) Thread.sleep(250)
      assert(trimmed == expect, s"$what: streaming audit diverged from the batch rule")
    }

    val q1 = startQuery(input)
    try {
      input.addData(w1.toSeq)
      await(referee(w1), "wave 1")

      // committed-wave REPLAY: every replayed doc is in the ledger — no
      // counter may move
      val before = captured.keySet().asScala.max
      input.addData(w1.take(w1.length / 2).toSeq)
      val deadline = System.currentTimeMillis() + 60000L
      while (System.currentTimeMillis() < deadline &&
        !captured.keySet().asScala.exists(_ > before)) Thread.sleep(250)
      assert(latest.filter { case (k, _) => referee(w1).contains(k) } == referee(w1),
        "replayed wave moved the audit")
    } finally q1.stop()

    // checkpoint RESTART with wave 2 pending
    val q2 = startQuery(input)
    try {
      input.addData(w2.toSeq)
      await(referee(shuffled), "after restart + wave 2")

      // final cross-check against the DECLARED batch operator's columns
      assert(latest == batchExpected,
        "streaming audit diverged from h_encoding_audit's detection columns")
    } finally q2.stop()
  }
}
