package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.{SparkSpec, SparkSuite, Tables}
import graft.operators.TrainingOps

/** The streaming admission ledger's contract: after ANY prefix of the
  * stream, the latest per-lang emission equals the batch
  * `h_token_budget_mix` prefix cut over exactly the rows seen — the
  * admitted-set + cut-boundary state is order- and batching-insensitive,
  * so streaming and batch agree without a reconciliation pass. */
class StreamingTokenBudgetSpec extends SparkSuite {

  import StreamingTokenBudget._

  test("ledger recut/insert/merge is commutative, associative, idempotent, split-invariant") {
    // deterministic pseudo-random entries with VARIED weights — the
    // weighted prefix cut is where naive admitted-only state goes wrong
    // (a doc under the local cut but over the global one); duplicates
    // planted on purpose
    def entry(i: Long): Adm = Adm(
      draw = (i * 2654435761L) % 997, doc_id = i % 61, toks = 1L + (i * 7919L) % 40L)
    val pool = (0L until 240L).map(entry).toVector
    for (budget <- Seq(50L, 300L, 1500L, 100000L); seed <- 1 to 20) {
      val whole = recut(pool, Long.MaxValue, Long.MaxValue, budget)
      val shuffled = new scala.util.Random(seed).shuffle(pool)
      val (a, b) = shuffled.splitAt(seed * 11 % pool.size)
      val la = recut(a, Long.MaxValue, Long.MaxValue, budget)
      val lb = recut(b, Long.MaxValue, Long.MaxValue, budget)
      // commutative + split-invariant: any split, any order, same ledger
      assert(merge(la, lb, budget) == whole, s"b=$budget seed=$seed: split changed the cut")
      assert(merge(lb, la, budget) == whole, s"b=$budget seed=$seed: order changed the cut")
      // associative over a 3-way split (incremental arrival)
      val (b1, b2) = b.splitAt(b.size / 2)
      val lhs = insert(insert(la, b1, budget), b2, budget)
      val rhs = merge(la, insert(recut(b1, Long.MaxValue, Long.MaxValue, budget), b2, budget), budget)
      assert(lhs == whole && rhs == whole, s"b=$budget seed=$seed: associativity broke")
      // idempotent: redelivery of the ledger's own rows is a no-op
      assert(merge(whole, whole, budget) == whole)
      assert(insert(whole, whole.admitted, budget) == whole)
    }
  }

  test("streaming admission equals the batch prefix cut over the same rows, across batch splits") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val docs = Tables.load(spark, SparkSpec.sf0001, "documents")
      .select("doc_id", "text", "lang")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(docs.length > 100)

    // batch result = oracle; its budget_tokens column is the control-plane
    // input the streaming twin receives
    val batch = TrainingOps.hTokenBudgetMix(spark, SparkSpec.sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val budgets = batch.map { case (lang, (b, _, _, _)) => lang -> b }

    val input = MemoryStream[(Long, String, String)]
    val out = StreamingTokenBudget(
      input.toDF().toDF("doc_id", "text", "lang"), budgets)
    val q = out.writeStream
      .format("memory").queryName("tok_budget")
      .outputMode(OutputMode.Update())
      .trigger(Trigger.ProcessingTime(200L))
      .option("checkpointLocation",
        graft.SparkSpec.tempDir("tokbudget-ckpt").toString)
      .start()

    def latest(): Map[String, (Long, Long, Long, Long, Long)] =
      // memory sink in Update mode appends re-emissions; n_seen is the
      // monotone recency ordinal
      spark.sql(
        """SELECT lang, n_seen, budget_tokens, n_kept, kept_tokens, utilization_millis
          |FROM tok_budget""".stripMargin).collect()
        .groupBy(_.getString(0))
        .view.mapValues(rs => {
          val r = rs.maxBy(_.getLong(1))
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
        }).toMap

    def awaitSeen(expected: Long, timeoutMs: Long = 60000L): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (System.currentTimeMillis() < deadline) {
        if (latest().values.iterator.map(_._1).sum == expected) return
        Thread.sleep(250)
      }
      assert(latest().values.iterator.map(_._1).sum == expected,
        "stream did not drain the planted rows in time")
    }

    try {
      // adversarial order: sorted by DESCENDING draw-ish hash, so the
      // budgeted prefix arrives LAST and early admissions must be evicted
      val shuffled = docs.sortBy(d => -((d._1 * 2654435761L) % 100003))
      val (first, rest) = shuffled.splitAt(docs.length / 3)
      val (second, third) = rest.splitAt(rest.length / 2)
      input.addData(first.toSeq)
      awaitSeen(first.length.toLong)
      input.addData(second.toSeq)
      awaitSeen((first.length + second.length).toLong)
      input.addData(third.toSeq)
      awaitSeen(docs.length.toLong)

      val streamed = latest()
      assert(streamed.keySet == batch.keySet,
        s"lang sets differ: ${streamed.keySet} vs ${batch.keySet}")
      streamed.foreach { case (lang, (_, b, nk, kt, um)) =>
        assert((b, nk, kt, um) == batch(lang),
          s"lang $lang: streaming ($b,$nk,$kt,$um) != batch ${batch(lang)}")
      }
    } finally q.stop()
  }
}
