package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
import org.apache.spark.util.sketch.BloomFilter

import graft.functions.GraftFunctions

/** STREAMING curation capstone — the THIRTEENTH batch/stream twin, and
  * the first COMPOSED one: the reference's entire identity is a chained
  * pipeline (consume → dedup → filter → batch → deliver, main.go:38-141),
  * and the twelve prior twins each prove ONE stage; this twin chains the
  * ingest-curation stages in ONE `transformWithState` pipeline, keyed by
  * language, the way a pretraining ingest gate actually runs:
  *
  *   1. SEEN-BEFORE gate — a per-lang Bloom filter probed row-at-a-time
  *      (probe-then-insert, so the FIRST delivery of a text passes and
  *      every later delivery — in the same micro-batch, a later batch,
  *      or an at-least-once replay — is gated). Same constructor sizing
  *      and `putLong(xxhash64(fnv64a(text)))` key as
  *      [[StreamingBloomGate]], so the state stays bit-compatible with
  *      the batch `BloomFilterAggregate` family.
  *   2. QUALITY gate — `tokens ≥ 8`, exactly `h_curation_funnel`'s
  *      stage-3 rule (the shortest useful context).
  *   3. TOKEN-BUDGET admission — [[StreamingTokenBudget]]'s
  *      admitted-set + cut-boundary ledger (literally its `insert` /
  *      `recut` algebra, reused), holding the budgeted prefix of the
  *      deterministic content-hash order.
  *
  * The composed contract (StreamingCurationSpec): after ANY stream
  * prefix, the admitted set equals the batch curation waterfall prefix
  * over exactly the rows delivered — exact-dedup survivors
  * (`h_dedup_exact`'s first-delivery representative; min doc_id under
  * the spec's arrival order) → `h_curation_funnel`'s quality gate →
  * `h_token_budget_mix`'s prefix cut (via the property-proven `recut`)
  * — and the per-stage waterfall counters are monotone non-increasing,
  * matching the batch referee stage by stage. Composition is what this
  * twin adds: each stage was already proven alone; here stage 2 only
  * ever sees stage-1 survivors and the ledger only ever sees stage-2
  * survivors, so the proof is about the CHAIN (budget computed on
  * post-quality mass, never on rows an earlier gate removed — the stage
  * order every real pipeline uses).
  *
  * Redelivery contract: the admitted ledger, `n_past_dedup`, and
  * `n_past_quality` are EXACT under at-least-once replay — a replayed
  * row's key is already in the filter, so it is gated BEFORE any
  * counter or ledger touch (Bloom cannot miss; modulo the design fpp
  * for fresh keys, ~1e-10 at test occupancy). `n_seen` counts
  * deliveries — the usual upper bound. Restart: all three stages'
  * state (filter bytes, ledger, counters) lives in RocksDB and the
  * spec proves a pre-restart duplicate stays gated and the recovered
  * ledger keeps admitting across the cycle.
  *
  * Scale posture: ONE stateful operator, hash-partitioned by lang;
  * per-lang state is numBits/8 Bloom bytes + O(budget / mean-doc-tokens)
  * ledger entries + three counters — all bounded regardless of corpus
  * size. Per-row work is two hashes, one Bloom probe/insert, and
  * amortized participation in the per-batch ledger re-cut. */
object StreamingCuration {

  /** `h_curation_funnel`'s quality rule (TrainingOps.scala): the
    * shortest useful training context. */
  val MinTokens = 8L

  import StreamingTokenBudget.{Adm, insert, Ledger}

  final case class DocIn(lang: String, doc_id: Long, h: Long, toks: Long, draw: Long)

  /** Latest per-lang ledger emission: the cumulative waterfall
    * (n_seen ≥ n_past_dedup ≥ n_past_quality ≥ n_admitted) plus the
    * admitted set itself (sorted doc_ids — what a downstream writer
    * materializes). */
  final case class CurationLedger(
      lang: String,
      n_seen: Long,
      n_past_dedup: Long,
      n_past_quality: Long,
      budget_tokens: Long,
      n_admitted: Long,
      admitted_tokens: Long,
      admitted_ids: Array[Long])

  class Processor(budgets: Map[String, Long])
      extends StatefulProcessor[String, DocIn, CurationLedger] {

    @transient private var bf: ValueState[Array[Byte]] = _
    @transient private var admitted: ListState[Adm] = _
    @transient private var cut: ValueState[(Long, Long)] = _
    @transient private var waterfall: ValueState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      bf = getHandle.getValueState[Array[Byte]]("bf", Encoders.BINARY, TTLConfig.NONE)
      admitted = getHandle.getListState[Adm](
        "admitted", Encoders.product[Adm], TTLConfig.NONE)
      cut = getHandle.getValueState[(Long, Long)](
        "cut", Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
      waterfall = getHandle.getValueState[(Long, Long, Long)](
        "waterfall",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)
    }

    override def handleInputRows(
        key: String, rows: Iterator[DocIn],
        timerValues: TimerValues): Iterator[CurationLedger] = {
      if (!rows.hasNext) return Iterator.empty
      val filter =
        if (bf.exists()) BloomFilter.readFrom(new java.io.ByteArrayInputStream(bf.get()))
        else BloomFilter.create(
          StreamingBloomGate.ExpectedKeysPerShard, StreamingBloomGate.NumBits)
      // stage 1+2 fused in one pass: probe-then-insert ROW AT A TIME so a
      // within-batch duplicate is gated just like a cross-batch one
      var nSeen = 0L
      var nDedup = 0L
      val fresh = Vector.newBuilder[Adm]
      rows.foreach { d =>
        nSeen += 1
        if (!filter.mightContainLong(d.h)) {
          filter.putLong(d.h)
          nDedup += 1
          if (d.toks >= MinTokens) fresh += Adm(d.draw, d.doc_id, d.toks)
        }
      }
      val quality = fresh.result()
      val out = new java.io.ByteArrayOutputStream()
      filter.writeTo(out)
      bf.update(out.toByteArray)
      // stage 3: the token-budget ledger, fed ONLY with stage-2 survivors
      val budget = budgets.getOrElse(key, 0L)
      val current = {
        val it = admitted.get()
        val b = Vector.newBuilder[Adm]
        while (it.hasNext) b += it.next()
        b.result()
      }
      val (cd, ci) = if (cut.exists()) cut.get() else (Long.MaxValue, Long.MaxValue)
      val next = insert(Ledger(current, cd, ci), quality, budget)
      if (next.admitted != current) {
        admitted.clear()
        admitted.appendList(next.admitted.toArray)
      }
      cut.update((next.cutDraw, next.cutId))
      val (s0, d0, q0) =
        if (waterfall.exists()) waterfall.get() else (0L, 0L, 0L)
      val wf = (s0 + nSeen, d0 + nDedup, q0 + quality.size)
      waterfall.update(wf)
      Iterator.single(CurationLedger(
        key, wf._1, wf._2, wf._3, budget,
        next.admitted.size.toLong, next.admitted.iterator.map(_.toks).sum,
        next.admitted.iterator.map(_.doc_id).toArray.sorted))
    }
  }

  /** Wire the composed gate onto a stream of documents
    * (doc_id LONG, text STRING, lang STRING). Emits an updated
    * [[CurationLedger]] per touched language per micro-batch. All three
    * derived columns use the EXACT batch expressions — the dedup key is
    * [[StreamingBloomGate]]'s, the token count and draw are
    * [[StreamingTokenBudget]]'s — composed equivalence depends on all
    * three. */
  def apply(stream: DataFrame, budgets: Map[String, Long]): Dataset[CurationLedger] = {
    val spark = stream.sparkSession
    import spark.implicits._
    GraftFunctions.registerAll(spark)
    // session-wide provider switch — see StreamingState.requireRocksDB
    StreamingState.requireRocksDB(spark)
    stream
      .selectExpr(
        "lang",
        "doc_id",
        "xxhash64(fnv64a(text)) AS h",
        "CAST(size(split(text, ' ')) AS BIGINT) AS toks",
        "CAST(conv(substring(md5(text), 1, 6), 16, 10) AS BIGINT) AS draw")
      .as[DocIn]
      .groupByKey(_.lang)
      .transformWithState(new Processor(budgets), TimeMode.ProcessingTime(), OutputMode.Update())
  }
}
