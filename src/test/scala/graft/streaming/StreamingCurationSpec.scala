package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.{SparkSpec, SparkSuite, Tables}

/** The composed curation capstone's contract, in four parts:
  *
  *  1. COMPOSED BATCH EQUIVALENCE — after any stream prefix, the
  *     admitted set AND every waterfall counter equal the batch curation
  *     waterfall over exactly the rows delivered: exact-dedup survivors
  *     (`h_dedup_exact`'s min-doc_id representative — which IS the first
  *     delivery under this spec's arrival order, duplicates always
  *     arriving after their original) → `h_curation_funnel`'s quality
  *     gate (tokens ≥ 8) → `h_token_budget_mix`'s prefix cut (via the
  *     property-proven `recut`). The referee derives its hash/token/draw
  *     columns through the SAME Spark expressions the twin uses, so the
  *     comparison tests the composition, not expression drift.
  *  2. STAGE ORDER — the budget admits from POST-quality mass only: a
  *     long-enough corpus with duplicates planted ensures rows exist
  *     that pass dedup but fail quality, and rows that are gated by
  *     dedup but would fit the budget — both must be invisible to the
  *     ledger.
  *  3. REDELIVERY — replaying a committed wave changes NOTHING but
  *     `n_seen` (replayed keys are Bloom-gated before any counter or
  *     ledger touch): admitted ids, dedup/quality counters, tokens all
  *     byte-stable.
  *  4. RESTART — a new query from the same RocksDB checkpoint keeps all
  *     three stages' state: a post-restart duplicate of a pre-restart
  *     text stays gated, and the recovered ledger continues admitting;
  *     the final state equals the referee over all waves.
  */
class StreamingCurationSpec extends SparkSuite {

  import StreamingCuration._
  import StreamingTokenBudget.{recut, Adm}

  /** One referee row: the twin's derived columns, computed by Spark. */
  private case class Derived(lang: String, docId: Long, h: Long, toks: Long, draw: Long)

  private def derive(rows: Seq[(Long, String, String)]): Seq[Derived] = {
    import spark.implicits._
    graft.functions.GraftFunctions.registerAll(spark)
    rows.toDF("doc_id", "text", "lang")
      .selectExpr(
        "lang", "doc_id",
        "xxhash64(fnv64a(text)) AS h",
        "CAST(size(split(text, ' ')) AS BIGINT) AS toks",
        "CAST(conv(substring(md5(text), 1, 6), 16, 10) AS BIGINT) AS draw")
      .collect()
      .map(r => Derived(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
  }

  /** The batch waterfall referee over a delivered multiset: per lang
    * (n_seen, n_past_dedup, n_past_quality, admitted set). */
  private def referee(
      rows: Seq[(Long, String, String)],
      budgets: Map[String, Long]): Map[String, (Long, Long, Long, Vector[Adm])] = {
    derive(rows).groupBy(_.lang).map { case (lang, rs) =>
      // stage 1: h_dedup_exact's survivor — min doc_id per distinct text
      val survivors = rs.groupBy(_.h).values.map(_.minBy(_.docId)).toVector
      // stage 2: h_curation_funnel's quality gate
      val quality = survivors.filter(_.toks >= MinTokens)
      // stage 3: h_token_budget_mix's prefix cut (property-proven recut)
      val admitted = recut(
        quality.map(d => Adm(d.draw, d.docId, d.toks)),
        Long.MaxValue, Long.MaxValue, budgets.getOrElse(lang, 0L)).admitted
      lang -> (rs.size.toLong, survivors.size.toLong, quality.size.toLong, admitted)
    }
  }

  test("composed gate equals the batch waterfall; replay only inflates n_seen; restart keeps all stages") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val corpus = Tables.load(spark, SparkSpec.sf0001, "documents")
      .select("doc_id", "text", "lang")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq
    assert(corpus.length > 100)

    // budgets tight enough that the cut CUTS (~40 % of each lang's
    // quality-surviving token mass)
    val budgets: Map[String, Long] = derive(corpus)
      .filter(_.toks >= MinTokens)
      .groupBy(_.lang).map { case (l, rs) => l -> rs.map(_.toks).sum * 2 / 5 }
    assert(budgets.values.forall(_ > 0))

    // adversarial global order: descending draw, so the budgeted prefix
    // (small draws) arrives LAST and early admissions must be evicted
    val drawOf = derive(corpus).map(d => d.docId -> d.draw).toMap
    val ordered = corpus.sortBy(d => (-drawOf(d._1), d._1))
    val (wave1, rest) = ordered.splitAt(corpus.length / 3)
    val (wave2base, wave3base) = rest.splitAt(rest.length / 2)
    // planted duplicates, ALWAYS in a later wave than the original so
    // first-delivery == min doc_id deterministically: wave 2 replays
    // every 5th wave-1 text under a fresh id; wave 3 replays every 7th
    // text of waves 1+2 under a fresh id (crossing the restart)
    val dup2 = wave1.zipWithIndex.collect {
      case ((id, t, l), i) if i % 5 == 0 => (id + 1000000L, t, l)
    }
    val dup3 = (wave1 ++ wave2base).zipWithIndex.collect {
      case ((id, t, l), i) if i % 7 == 0 && id < 1000000L => (id + 2000000L, t, l)
    }
    val wave2 = wave2base ++ dup2
    val wave3 = wave3base ++ dup3

    val captured = new ConcurrentHashMap[Long, Array[CurationLedger]]()
    val input = MemoryStream[(Long, String, String)]
    val out = StreamingCuration(input.toDF().toDF("doc_id", "text", "lang"), budgets)
    val checkpoint = graft.SparkSpec.tempDir("curation-ckpt").toString
    def start(): StreamingQuery = out.writeStream
      .outputMode(OutputMode.Update())
      .trigger(Trigger.ProcessingTime(200L))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: Dataset[CurationLedger], id: Long) =>
        val rows = df.collect()
        if (rows.nonEmpty) captured.put(id, rows)
        ()
      }
      .start()

    // latest emission per lang: n_seen is the monotone recency ordinal
    def latest(): Map[String, CurationLedger] =
      captured.asScala.values.flatten.toSeq
        .groupBy(_.lang).view.mapValues(_.maxBy(_.n_seen)).toMap
    def await(cond: () => Boolean, what: String): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (System.currentTimeMillis() < deadline && !cond()) Thread.sleep(200)
      assert(cond(), s"timed out waiting for $what")
    }
    def seenTotal(): Long = latest().values.iterator.map(_.n_seen).sum

    def assertMatches(delivered: Seq[(Long, String, String)], phase: String): Unit = {
      val expect = referee(delivered.distinct, budgets)
      val got = latest()
      assert(got.keySet == expect.keySet, s"$phase: lang sets differ")
      expect.foreach { case (lang, (_, nDedup, nQuality, admitted)) =>
        val g = got(lang)
        assert(g.n_past_dedup == nDedup,
          s"$phase $lang: n_past_dedup ${g.n_past_dedup} != referee $nDedup")
        assert(g.n_past_quality == nQuality,
          s"$phase $lang: n_past_quality ${g.n_past_quality} != referee $nQuality")
        assert(g.n_admitted == admitted.size.toLong &&
            g.admitted_tokens == admitted.map(_.toks).sum,
          s"$phase $lang: admitted size/tokens differ")
        assert(g.admitted_ids.toSeq == admitted.map(_.doc_id).sorted.toSeq,
          s"$phase $lang: admitted ids ${g.admitted_ids.mkString(",")} != referee")
        // the waterfall is monotone by construction
        assert(g.n_seen >= g.n_past_dedup && g.n_past_dedup >= g.n_past_quality &&
          g.n_past_quality >= g.n_admitted, s"$phase $lang: waterfall not monotone")
      }
    }

    val q1 = start()
    try {
      input.addData(wave1)
      await(() => seenTotal() == wave1.length.toLong, "wave 1 drained")
      assertMatches(wave1, "after wave 1")

      // wave 2: fresh docs + planted duplicates — duplicates must be
      // gated (never reach quality or the ledger)
      input.addData(wave2)
      await(() => seenTotal() == (wave1.length + wave2.length).toLong, "wave 2 drained")
      assertMatches(wave1 ++ wave2, "after wave 2")

      // adversarial redelivery of the committed wave 2: ONLY n_seen moves
      val before = latest()
      input.addData(wave2)
      await(() => seenTotal() ==
        (wave1.length + 2 * wave2.length).toLong, "replay drained")
      val after = latest()
      assert(after.keySet == before.keySet)
      before.foreach { case (lang, b) =>
        val a = after(lang)
        assert(a.n_past_dedup == b.n_past_dedup && a.n_past_quality == b.n_past_quality &&
          a.n_admitted == b.n_admitted && a.admitted_tokens == b.admitted_tokens &&
          a.admitted_ids.toSeq == b.admitted_ids.toSeq,
          s"replay must change nothing but n_seen for $lang")
        assert(a.n_seen >= b.n_seen, s"n_seen must be monotone for $lang")
      }
      // let in-flight commits land before the deliberate stop (the
      // CheckpointRecoverySpec convention — keeps the happy path
      // deterministic; an uncommitted batch re-runs idempotently anyway)
      Thread.sleep(1200L)
    } finally q1.stop()

    // restart from the same checkpoint: wave 3 carries duplicates of
    // PRE-restart texts — the recovered filter must gate them, and the
    // recovered ledger must keep admitting the fresh budgeted prefix
    val q2 = start()
    try {
      input.addData(wave3)
      await(() => seenTotal() ==
        (wave1.length + 2 * wave2.length + wave3.length).toLong, "wave 3 drained")
      assertMatches(wave1 ++ wave2 ++ wave2 ++ wave3, "after restart + wave 3")
    } finally q2.stop()
  }
}
