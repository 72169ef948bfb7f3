package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkSpec, SparkSuite}
import graft.operators.GovernanceOps

/** The streaming PII census' contract (the EIGHTEENTH twin): after the
  * full planted corpus — spans AND decoys — has streamed in adversarial
  * order, across arbitrary micro-batch splits, through a committed-wave
  * replay and a checkpoint restart, the per-(lang, pattern) row equals
  * the batch `h_pii_census`'s (n_docs_hit, n_hits, span_chars, n_resid)
  * columns. The twin shares the batch operator's detection PROJECTION
  * (one implementation), so this is a contract on the stateful ledger,
  * not a re-derivation of the regexes. */
class StreamingPiiCensusSpec extends SparkSuite {

  private def md5b(s: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    d(0) & 0xff
  }

  test("streaming census equals the batch detection table across replay and restart") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    // the batch operator's own planted corpus (synthesis side)
    val corpus = GovernanceOps.piiPlanted(spark, SparkSpec.sf0001)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val shuffled = corpus.sortBy { case (id, _, _) => md5b(id.toString) * 10000L + id }
    val (w1, w2) = shuffled.splitAt(shuffled.length / 2)

    // batch expected: the declared operator's ingest-knowable columns
    val batchExpected: Map[(String, String), (Long, Long, Long, Long)] =
      GovernanceOps.hPiiCensus(spark, SparkSpec.sf0001).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(3), r.getLong(4), r.getLong(8), r.getLong(9))).toMap

    // referee for a PREFIX of the corpus: the shared detection projection
    // aggregated in plain Scala
    def referee(rows: Seq[(Long, String, String)]): Map[(String, String), (Long, Long, Long, Long)] = {
      val det = GovernanceOps.piiDetect(
        rows.toDF("doc_id", "lang", "text")).collect()
      Seq("email", "phone", "id").flatMap { pat =>
        val idx = pat match {
          case "email" => (4, 7, 10); case "phone" => (5, 8, 11); case _ => (6, 9, 12)
        }
        det.groupBy(_.getString(1)).map { case (lang, rs) =>
          (lang, pat) -> (
            rs.count(_.getLong(idx._1) > 0).toLong,
            rs.map(_.getLong(idx._1)).sum,
            rs.map(_.getLong(idx._2)).sum,
            rs.map(_.getLong(idx._3)).sum)
        }
      }.toMap
    }

    val captured = new ConcurrentHashMap[Long, Array[StreamingPiiCensus.PiiStat]]()
    val ckpt = graft.SparkSpec.tempDir("piicensus-ckpt").toString
    val input = MemoryStream[(Long, String, String)]

    def startQuery(in: MemoryStream[(Long, String, String)]) =
      StreamingPiiCensus(in.toDF().toDF("doc_id", "lang", "text")).writeStream
        .outputMode("update")
        .trigger(Trigger.ProcessingTime(200L))
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamingPiiCensus.PiiStat], id: Long) =>
          captured.put(id, df.collect())
          ()
        }
        .start()

    def latest: Map[(String, String), (Long, Long, Long, Long)] =
      captured.asScala.toSeq.sortBy(_._1).flatMap(_._2.toSeq)
        .groupBy(e => (e.lang, e.pattern)).map { case (k, es) =>
          val e = es.last
          k -> (e.nDocsHit, e.nHits, e.spanChars, e.nResid)
        }

    // the streaming ledger only reports patterns with ≥0 counts for langs
    // it has SEEN; compare on the touched-key set
    def await(expect: Map[(String, String), (Long, Long, Long, Long)], what: String): Unit = {
      val deadline = System.currentTimeMillis() + 60000L
      def trimmed = latest.filter { case (k, _) => expect.contains(k) }
      while (System.currentTimeMillis() < deadline && trimmed != expect) Thread.sleep(250)
      assert(trimmed == expect, s"$what: streaming census diverged from the batch rule")
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
        "replayed wave moved the census")
    } finally q1.stop()

    // checkpoint RESTART with wave 2 pending
    val q2 = startQuery(input)
    try {
      input.addData(w2.toSeq)
      await(referee(shuffled), "after restart + wave 2")

      // final cross-check against the DECLARED batch operator's columns
      assert(latest == batchExpected,
        "streaming census diverged from h_pii_census's detection columns")
    } finally q2.stop()
  }
}
