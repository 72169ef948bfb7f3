package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.{SparkSpec, SparkSuite, Tables}
import graft.operators.{Checkpoints, TrainingOps}

/** The tenth twin's contract: the streaming prefix-filter join emits
  * EXACTLY the batch `h_simjoin_prefix` pair set — same pairs, same exact
  * `jac_milli` — regardless of micro-batch chunking, arrival order, or a
  * stop → restart from the same RocksDB checkpoint in the middle of the
  * corpus. The batch arm supplies truth; the restart makes this twin's
  * standing-inverted-index claim a tested property, not prose. */
class StreamingSimJoinSpec extends SparkSuite {

  private def await(cond: () => Boolean, what: String, timeoutMs: Long = 90000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline && !cond()) Thread.sleep(250)
    assert(cond(), s"timed out waiting for $what")
  }

  test("streamed corpus emits exactly the batch pair set, across a mid-corpus restart") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    // truth: the batch AllPairs join over the same corpus
    val batch = TrainingOps.hSimjoinPrefix(spark, SparkSpec.sf0001)
      .select("a_id", "b_id", "jac_milli").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    Checkpoints.releaseAll()
    assert(batch.nonEmpty, "sf0.001 must contain J >= 0.6 pairs for this test to bite")

    val docs = Tables.load(spark, SparkSpec.sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val (wave1, wave2) = docs.splitAt(docs.length * 3 / 5)

    val input = MemoryStream[(Long, String)]
    val captured = new ConcurrentHashMap[Long, Array[StreamingSimJoin.SimPair]]()
    val ckpt = graft.SparkSpec.tempDir("simjoin-ckpt").toString
    def start() = StreamingSimJoin(input.toDF().toDF("doc_id", "text"))
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamingSimJoin.SimPair], id: Long) =>
        val rows = df.collect()
        if (rows.nonEmpty) captured.put(id, rows)
        ()
      }
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime(200L))
      .option("checkpointLocation", ckpt)
      .start()

    def pairs(): Set[(Long, Long, Long)] =
      captured.asScala.values.flatten.map(p => (p.a_id, p.b_id, p.jac_milli)).toSet

    val q1 = start()
    try {
      input.addData(wave1)
      // within-wave pairs must land before the restart proves anything
      await(() => pairs().nonEmpty, "first-wave pairs")
      Thread.sleep(1500L) // let the enrollment commits land
    } finally q1.stop()

    // restart from the SAME checkpoint: the standing inverted index must
    // still hold wave 1's prefixes, or cross-wave pairs silently vanish
    val q2 = start()
    try {
      input.addData(wave2)
      await(() => pairs() == batch,
        s"stream set (${pairs().size}) to equal batch set (${batch.size})")
    } finally q2.stop()

    assert(pairs() == batch,
      s"missing: ${(batch -- pairs()).take(5)}; extra: ${(pairs() -- batch).take(5)}")
  }

  test("at-least-once redelivery: replayed docs re-emit but never re-enroll") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    def doc(seed: Int): String = (0 until 30).map(i => s"w${seed}_${(i * 7) % 97}").mkString(" ")
    // b = a with one word dropped: 3-gram Jaccard well above 0.6
    val a = 1L -> doc(1)
    val b = 2L -> doc(1).split(" ").drop(1).mkString(" ")

    val input = MemoryStream[(Long, String)]
    val captured = new ConcurrentHashMap[Long, Array[StreamingSimJoin.SimPair]]()
    val q = StreamingSimJoin(input.toDF().toDF("doc_id", "text"))
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamingSimJoin.SimPair], id: Long) =>
        val rows = df.collect()
        if (rows.nonEmpty) captured.put(id, rows)
        ()
      }
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime(200L))
      .option("checkpointLocation",
        graft.SparkSpec.tempDir("simjoin-replay-ckpt").toString)
      .start()
    try {
      def all() = captured.asScala.values.flatten.toSeq
      input.addData(Seq(a, b))
      await(() => all().exists(p => p.a_id == 1L && p.b_id == 2L), "the planted pair")
      val jac = all().find(p => p.a_id == 1L && p.b_id == 2L).get.jac_milli

      // redeliver BOTH docs (at-least-once: same content, new offsets),
      // then land a fresh near-dup of `a` and count its raw hits — a
      // double-enrolled resident would double them
      input.addData(Seq(a, b))
      Thread.sleep(2000L)
      val c = 3L -> doc(1).split(" ").dropRight(1).mkString(" ")
      input.addData(Seq(c))
      await(() => all().exists(p => p.a_id == 1L && p.b_id == 3L), "the post-replay pair")
      Thread.sleep(1500L)

      val rows = all()
      // replay re-emits (1,2) hits but never with a different score, and
      // never invents pairs
      assert(rows.map(p => (p.a_id, p.b_id)).toSet.subsetOf(
        Set((1L, 2L), (1L, 3L), (2L, 3L))),
        s"unexpected pairs: ${rows.map(p => (p.a_id, p.b_id)).distinct}")
      assert(rows.filter(p => p.a_id == 1L && p.b_id == 2L).forall(_.jac_milli == jac),
        "a replayed emission changed its exact score")
      // the double-enrollment detector: doc 3 probes EVERY gram key once,
      // so its hits against doc 1 equal the number of shared gram keys
      // doc 1 is enrolled under — a duplicate resident would exactly
      // double that count. Bound: shared keys <= doc 1's prefix length
      // (its only enrollments), so hits <= |sig1| strictly; 2x would
      // exceed it only if... compute directly instead:
      val hits13 = rows.count(p => p.a_id == 1L && p.b_id == 3L)
      val sig = (s: String) => s.split(" ").sliding(3).map(_.mkString("|")).toSet
      val n1 = sig(a._2).size
      val prefix1 = n1 - ((3 * n1 + 4) / 5) + 1
      assert(hits13 <= prefix1,
        s"doc 3 hit doc 1 $hits13 times > prefix $prefix1: a replayed doc re-enrolled")
    } finally q.stop()
  }

  test("retention contract: expired enrollments stop matching; in-window pairs still emit") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    def doc(seed: Int): String = (0 until 30).map(i => s"r${seed}_${(i * 7) % 97}").mkString(" ")
    val a = 10L -> doc(10)
    val b = 11L -> doc(10).split(" ").drop(1).mkString(" ") // near-dup of a
    val c = 20L -> doc(20)
    val d = 21L -> doc(20).split(" ").drop(1).mkString(" ") // near-dup of c

    val retentionMs = 2000L
    val input = MemoryStream[(Long, String)]
    val captured = new ConcurrentHashMap[Long, Array[StreamingSimJoin.SimPair]]()
    val q = StreamingSimJoin(input.toDF().toDF("doc_id", "text"), retentionMs)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamingSimJoin.SimPair], id: Long) =>
        val rows = df.collect()
        if (rows.nonEmpty) captured.put(id, rows)
        ()
      }
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime(200L))
      .option("checkpointLocation",
        graft.SparkSpec.tempDir("simjoin-ttl-ckpt").toString)
      .start()
    try {
      def all() = captured.asScala.values.flatten.toSeq
      input.addData(Seq(a))
      // wait until a is actually PROCESSED (enrollment timestamped), then
      // let the retention window lapse with margin before b arrives
      await(() => Option(q.lastProgress).exists(_ => q.recentProgress.map(_.numInputRows).sum >= 1),
        "doc a processed")
      Thread.sleep(retentionMs + 4000L)
      input.addData(Seq(b))
      // control pair INSIDE the window: both docs in one micro-batch
      input.addData(Seq(c, d))
      await(() => all().exists(p => p.a_id == 20L && p.b_id == 21L),
        "the in-window pair (20, 21)")
      Thread.sleep(1500L) // allow any (wrong) late (10, 11) emission to surface

      val got = all().map(p => (p.a_id, p.b_id)).toSet
      assert(!got.contains((10L, 11L)),
        "a pair straddling the retention window emitted — TTL'd enrollments must expire " +
          "(that pair is the declared job of the batch h_simjoin_prefix repair)")
      assert(got.contains((20L, 21L)), "the in-window pair must still emit under TTL")
    } finally q.stop()
  }
}
