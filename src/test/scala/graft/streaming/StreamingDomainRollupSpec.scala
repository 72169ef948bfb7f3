package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkSpec, SparkSuite}
import graft.operators.CorpusOps

/** The streaming domain rollup's contract (the SEVENTEENTH twin): after
  * the full synthesized fetch log — originals AND re-crawl variants — has
  * streamed in adversarial order, across arbitrary micro-batch splits,
  * through a committed-wave replay and a checkpoint restart, the
  * per-domain (n_docs, n_raw_urls, n_canon_urls, n_hosts) row equals the
  * batch `h_domain_rollup`'s columns over the same corpus. The twin
  * shares the batch operator's canonicalization PROJECTION (one
  * implementation), so this is a contract on the stateful ledger, not a
  * re-derivation of the parse. */
class StreamingDomainRollupSpec extends SparkSuite {

  private def md5b(s: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    d(0) & 0xff
  }

  test("streaming rollup equals the batch domain table across replay and restart") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    // the batch operator's own synthesized fetch log (2 raw URLs per doc)
    val fetchLog = CorpusOps.domainRawUrls(spark, SparkSpec.sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // adversarial arrival order: md5-shuffled, variants interleaved with
    // originals of unrelated docs
    val shuffled = fetchLog.sortBy { case (id, u) => md5b(u) * 10000000L + id }
    val (w1, w2) = shuffled.splitAt(shuffled.length / 2)

    // batch expected: the declared operator's first five columns
    def batchExpected: Map[String, (Long, Long, Long, Long)] =
      CorpusOps.hDomainRollup(spark, SparkSpec.sf0001).collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap

    // referee for a PREFIX of the log: the batch rule in plain Scala over
    // the canonicalization projection's output (shared implementation)
    def referee(rows: Seq[(Long, String)]): Map[String, (Long, Long, Long, Long)] = {
      val canon = CorpusOps.canonicalizeUrls(
        rows.toSeq.toDF("doc_id", "url")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getString(4)))
      canon.groupBy(_._5).map { case (etld1, rs) =>
        etld1 -> (rs.map(_._1).distinct.length.toLong,
          rs.map(_._2).distinct.length.toLong,
          rs.map(_._4).distinct.length.toLong,
          rs.map(_._3).distinct.length.toLong)
      }
    }

    val captured = new ConcurrentHashMap[Long, Array[StreamingDomainRollup.DomainStat]]()
    val ckpt = graft.SparkSpec.tempDir("domroll-ckpt").toString
    val input = MemoryStream[(Long, String)]

    def startQuery(in: MemoryStream[(Long, String)]) =
      StreamingDomainRollup(in.toDF().toDF("doc_id", "url")).writeStream
        .outputMode("update")
        .trigger(Trigger.ProcessingTime(200L))
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamingDomainRollup.DomainStat], id: Long) =>
          captured.put(id, df.collect())
          ()
        }
        .start()

    def latest: Map[String, (Long, Long, Long, Long)] =
      captured.asScala.toSeq.sortBy(_._1).flatMap(_._2.toSeq)
        .groupBy(_.etld1).map { case (d, es) =>
          val e = es.last
          d -> (e.nDocs, e.nRawUrls, e.nCanonUrls, e.nHosts)
        }

    def await(expect: Map[String, (Long, Long, Long, Long)], what: String,
        timeoutMs: Long = 60000L): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (System.currentTimeMillis() < deadline && latest != expect) Thread.sleep(250)
      assert(latest == expect, s"$what: streaming rollup diverged from the batch rule")
    }

    val q1 = startQuery(input)
    try {
      input.addData(w1.toSeq)
      await(referee(w1), "wave 1")

      // committed-wave REPLAY: every replayed raw URL is already in the
      // ledger, so no counter may move
      val before = captured.keySet().asScala.max
      input.addData(w1.take(w1.length / 2).toSeq)
      val deadline = System.currentTimeMillis() + 60000L
      while (System.currentTimeMillis() < deadline &&
        !captured.keySet().asScala.exists(_ > before)) Thread.sleep(250)
      assert(latest == referee(w1), "replayed wave moved the rollup")
    } finally q1.stop()

    // checkpoint RESTART with wave 2 pending
    val q2 = startQuery(input)
    try {
      input.addData(w2.toSeq)
      await(referee(shuffled), "after restart + wave 2")

      // final cross-check against the DECLARED batch operator
      assert(latest == batchExpected,
        "streaming rollup diverged from h_domain_rollup's domain table")
    } finally q2.stop()
  }

  test("re-fetch of a seen raw URL under a NEW doc_id still counts the doc (round-19 advice)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    // a real crawl can re-fetch one URL under a new doc id — the doc/canon/
    // host ledgers must count independently of raw-URL idempotence (only
    // n_raw dedups on the raw URL, mirroring the at-least-once replay guard)
    val base = CorpusOps.domainRawUrls(spark, SparkSpec.sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1))).take(20).toSeq
    val refetch = base.map { case (id, u) => (id + 5000000L, u) }

    def referee(rows: Seq[(Long, String)]): Map[String, (Long, Long, Long, Long)] = {
      val canon = CorpusOps.canonicalizeUrls(rows.toDF("doc_id", "url")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getString(4)))
      canon.groupBy(_._5).map { case (etld1, rs) =>
        etld1 -> (rs.map(_._1).distinct.length.toLong,
          rs.map(_._2).distinct.length.toLong,
          rs.map(_._4).distinct.length.toLong,
          rs.map(_._3).distinct.length.toLong)
      }
    }
    // the re-fetch wave doubles n_docs but must move NO other ledger
    val exp = referee(base ++ refetch)
    assert(exp.values.map(_._1).sum == 2L * base.map(_._1).distinct.length,
      "referee sanity: re-fetch wave must double the distinct-doc count")
    assert(exp == referee(base).map { case (d, (nd, nr, nc, nh)) => d -> (2 * nd, nr, nc, nh) },
      "referee sanity: raw/canon/host ledgers must be unmoved by the re-fetch wave")

    val captured = new ConcurrentHashMap[Long, Array[StreamingDomainRollup.DomainStat]]()
    val ckpt = graft.SparkSpec.tempDir("domroll-refetch-ckpt").toString
    val input = MemoryStream[(Long, String)]
    val q = StreamingDomainRollup(input.toDF().toDF("doc_id", "url")).writeStream
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(200L))
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamingDomainRollup.DomainStat], id: Long) =>
        captured.put(id, df.collect())
        ()
      }
      .start()
    try {
      def latest: Map[String, (Long, Long, Long, Long)] =
        captured.asScala.toSeq.sortBy(_._1).flatMap(_._2.toSeq)
          .groupBy(_.etld1).map { case (d, es) =>
            val e = es.last
            d -> (e.nDocs, e.nRawUrls, e.nCanonUrls, e.nHosts)
          }
      input.addData(base)
      val d1 = System.currentTimeMillis() + 60000L
      while (System.currentTimeMillis() < d1 && latest != referee(base)) Thread.sleep(250)
      assert(latest == referee(base), "base wave diverged from the referee")

      input.addData(refetch)
      val d2 = System.currentTimeMillis() + 60000L
      while (System.currentTimeMillis() < d2 && latest != exp) Thread.sleep(250)
      assert(latest == exp,
        "re-fetched URLs under new doc ids were not counted as new docs")
    } finally q.stop()
  }
}
