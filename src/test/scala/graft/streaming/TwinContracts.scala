package graft.streaming

import java.sql.Timestamp

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.util.sketch.CountMinSketch

import graft.{SparkSpec, Tables}
import graft.kernel.Fnv64a
import graft.operators.{AnalyticsOps, Checkpoints, CorpusOps, GovernanceOps, LlmOps, TrainingOps}

/** The contract table: one row per `transformWithState` twin in
  * `src/main/scala/graft/streaming` (TwinContractSpec fails on a twin
  * without one). Each row feeds the batch operator's own planted data, or
  * an inline `Seq`, in the arrival order the twin's checks have always
  * used, and states COVERAGE.md's rules for it: the referee for a
  * delivered prefix, the batch query the stream must equal after the last
  * wave, what a replay may not move (`exact`) and what it may
  * (`upper`). */
object TwinContracts {

  private implicit def products[T <: Product: TypeTag]: Encoder[T] = Encoders.product[T]
  private implicit val longs: Encoder[Long] = Encoders.scalaLong

  private def spark: SparkSession = SparkSpec.spark
  private def sf = SparkSpec.sf0001
  private val Update = OutputMode.Update()
  private val Append = OutputMode.Append()

  private def md5(s: String): Array[Byte] =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
  private def md5b(s: String): Int = md5(s)(0) & 0xff
  /** `CAST(conv(substring(md5(text), 1, 6), 16, 10) AS BIGINT)` */
  private def draw(text: String): Long =
    md5(text).take(3).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
  /** `size(split(text, ' '))` */
  private def toks(text: String): Long = text.split(" ", -1).length.toLong

  private def halves[T](rows: Seq[T]): Seq[Seq[T]] = {
    val (a, b) = rows.splitAt(rows.length / 2)
    Seq(a, b)
  }
  /** Three prefix chunks: batch boundaries land mid-user on purpose. */
  private def thirds[T](rows: Seq[T]): Seq[Seq[T]] = rows.grouped(rows.length / 3 + 1).toSeq

  private def documents(cols: String*): DataFrame =
    Tables.load(spark, sf, "documents").select(cols.map(col): _*)

  /** Events in global (tus, event_id) order, which is per-user event-time
    * order: the delivery the fold twins' equivalence assumes. */
  private lazy val userEvents: Seq[(Long, Long, Long, String)] = {
    val events = Tables.eventsCanonical(spark, sf)
      .selectExpr("event_id", "user_id", "tus", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(e => (e._3, e._1)).toSeq
    assert(events.length >= 1000)
    events
  }

  object TwoGen extends Twin[Msg, TwoGenDeduper.DedupRow]("TwoGenDeduper", Append) {
    type V = Seq[String]
    private def msg(i: Int, body: String) =
      Msg(f"$i%016d", new Timestamp(1000000000L + i), 1, body.getBytes("UTF-8"))
    // wave 2 redelivers wave 1 beside one fresh key
    lazy val waves = Seq(Seq(msg(1, "a"), msg(2, "b")), Seq(msg(1, "a"), msg(2, "b"), msg(3, "c")))
    // 10-min rotation: every wave sits inside one generation
    def build(in: DataFrame) = TwoGenDeduper(in, rotationMs = 600000L)
    def view(run: TwinRun[Msg, TwoGenDeduper.DedupRow]) = run.emitted.map(_.id).sorted
    def referee(delivered: Seq[Msg]) =
      delivered.distinctBy(m => new String(m.body, "UTF-8")).map(_.id).sorted
  }

  object NearDup extends Twin[(Long, String), StreamingNearDup.NearDupHit](
      "StreamingNearDup", Append, "doc_id", "text") {
    /** pair → its hits' (band, estimate) */
    type V = Map[(Long, Long), Seq[(Int, Long)]]
    // word-soup docs long enough that dropping one word keeps Jaccard ≈ 0.95
    private def text(seed: Long) = (0 until 40).map(i => s"w${seed}_${(i * 7) % 97}").mkString(" ")
    // 20 originals, then a near-dup of each (first word dropped) under id + 1000
    lazy val waves = Seq(
      (0L until 20L).map(i => i -> text(i)),
      (0L until 20L).map(i => (i + 1000L) -> text(i).split(" ").drop(1).mkString(" ")))
    def build(in: DataFrame) = StreamingNearDup(in)
    def view(run: TwinRun[(Long, String), StreamingNearDup.NearDupHit]) =
      run.emitted.groupBy(h => (h.a_id, h.b_id))
        .map { case (k, hs) => k -> hs.map(h => (h.band, h.est_jaccard_x10k)).sorted }
    // only the planted (i, i + 1000) pairs exist at this threshold
    def referee(delivered: Seq[(Long, String)]) = {
      val ids = delivered.map(_._1).toSet
      ids.filter(i => i >= 1000L && ids(i - 1000L)).map(i => (i - 1000L, i) -> Seq.empty[(Int, Long)]).toMap
    }
    override def agrees(got: V, want: V) =
      got.keySet == want.keySet && got.values.flatten.forall(_._2 >= 8000L)
  }

  object Novelty extends Twin[(Long, String, String), StreamingNovelty.GramVerdict](
      "StreamingNovelty", Update, "doc_id", "text", "lang") {
    /** (lang, gram) → (novel=true verdicts, all verdicts) */
    type V = Map[(String, String), (Int, Int)]
    // the batch operator's split: doc_id % 3 <> 0 is the standing corpus,
    // % 3 = 0 the ingest batch, fed in two waves that cut it mid-gram
    lazy val waves = {
      val docs = documents("doc_id", "text", "lang").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      assert(docs.length > 100)
      val (standing, ingest) = docs.partition(_._1 % 3 != 0)
      standing +: halves(ingest)
    }
    private def grams(docs: Seq[(Long, String, String)]): Set[(String, String)] =
      docs.flatMap { case (_, text, lang) =>
        text.split(" ", -1).sliding(8).filter(_.length == 8).map(g => lang -> g.mkString("|"))
      }.toSet
    def build(in: DataFrame) = StreamingNovelty(in)
    def view(run: TwinRun[(Long, String, String), StreamingNovelty.GramVerdict]) =
      run.emitted.groupBy(v => (v.lang, v.gram)).map { case (k, vs) => k -> (vs.count(_.novel), vs.size) }
    // every gram delivered is novel exactly once, ever
    def referee(delivered: Seq[(Long, String, String)]) = grams(delivered).map(_ -> ((1, 0))).toMap
    override def agrees(got: V, want: V) = got.keySet == want.keySet && got.values.forall(_._1 == 1)
    override def exact(v: V) = v.map { case (k, (novel, _)) => k -> novel }
    override def upper(control: V, got: V, replays: Int) = {
      val replayed = grams(waves.head)
      Seq("each replayed gram gets exactly one more verdict, novel=false, per replay" ->
        (got.keySet == control.keySet && got.forall { case (k, (novel, n)) =>
          novel == control(k)._1 && n == control(k)._2 + (if (replayed(k)) replays else 0)
        }))
    }
    override def batch(run: TwinRun[(Long, String, String), StreamingNovelty.GramVerdict]) = {
      val batch = TrainingOps.hNoveltyIncremental(spark, sf).collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      val standingEnd = run.marks.head
      val indexSizes = run.batches.takeWhile(_._1 <= standingEnd).flatMap(_._2)
        .map(v => (v.lang, v.gram)).distinct.groupBy(_._1).map { case (l, gs) => l -> gs.size.toLong }
      val ingest = spark.createDataFrame(run.batchesAfter(standingEnd).map(v => (v.lang, v.gram, v.novel)))
        .toDF("lang", "gram", "novel")
      val report = StreamingNovelty.report(ingest, indexSizes).collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      Seq(
        ("standing index sizes vs h_novelty_incremental n_index_grams", indexSizes,
          batch.map { case (l, v) => l -> v._1 }),
        ("ingest report vs h_novelty_incremental", report, batch))
    }
  }

  object Sampler extends Twin[(Long, String, String, String, Long), StreamingStratifiedSampler.StratumSample](
      "StreamingStratifiedSampler", Update, "doc_id", "text", "lang", "source", "n_chars") {
    import StreamingStratifiedSampler.{mergeBottomK, SampleEntry}
    /** (lang, source) → (n_stratum, n_sampled, sampled_id_sum, sampled_chars) */
    type V = Map[(String, String), (Long, Long, Long, Long)]
    // deliberately awkward split: mid-stratum, unordered
    lazy val waves = {
      val docs = documents("doc_id", "text", "lang", "source", "n_chars").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSeq
      assert(docs.length > 100)
      val (first, second) = docs.sortBy(d => (d._1 * 2654435761L) % 1000).splitAt(docs.length / 3)
      Seq(first, second)
    }
    def build(in: DataFrame) = StreamingStratifiedSampler(in)
    def view(run: TwinRun[(Long, String, String, String, Long), StreamingStratifiedSampler.StratumSample]) =
      run.latest(s => (s.lang, s.source))
        .map { case (k, s) => k -> (s.n_stratum, s.n_sampled, s.sampled_id_sum, s.sampled_chars) }
    def referee(delivered: Seq[(Long, String, String, String, Long)]) =
      delivered.groupBy(d => (d._3, d._4)).map { case (k, ds) =>
        val sample = mergeBottomK(ds.map(d => SampleEntry(draw(d._2), d._1, d._5)).toVector, Vector.empty, 10)
        k -> (ds.size.toLong, sample.size.toLong, sample.map(_.doc_id).sum, sample.map(_.n_chars).sum)
      }
    override def batch(run: TwinRun[(Long, String, String, String, Long), StreamingStratifiedSampler.StratumSample]) =
      Seq(("h_stratified_sample", view(run), TrainingOps.hStratifiedSample(spark, sf).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap))
    override def exact(v: V) = v.map { case (k, s) => k -> (s._2, s._3, s._4) }
    override def upper(control: V, got: V, replays: Int) = {
      val delivered = fed(replays)
      Seq("n_stratum counts deliveries" -> (got.keySet == control.keySet &&
        got.forall { case (k, s) => s._1 == delivered.count(d => (d._3, d._4) == k) }))
    }
  }

  object TokenBudget extends Twin[(Long, String, String), StreamingTokenBudget.LangBudget](
      "StreamingTokenBudget", Update, "doc_id", "text", "lang") {
    import StreamingTokenBudget.{recut, Adm}
    /** lang → (n_seen, budget_tokens, n_kept, kept_tokens, utilization_millis) */
    type V = Map[String, (Long, Long, Long, Long, Long)]
    // the batch result is the oracle; its budget_tokens column is the
    // control-plane input the stream receives
    private lazy val batchRows = TrainingOps.hTokenBudgetMix(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    private lazy val budgets = batchRows.map { case (lang, (b, _, _, _)) => lang -> b }
    // adversarial order: descending draw-ish hash, so the budgeted prefix
    // arrives last and early admissions must be evicted
    lazy val waves = {
      val docs = documents("doc_id", "text", "lang").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      assert(docs.length > 100)
      val shuffled = docs.sortBy(d => -((d._1 * 2654435761L) % 100003))
      val (first, rest) = shuffled.splitAt(docs.length / 3)
      first +: halves(rest)
    }
    def build(in: DataFrame) = StreamingTokenBudget(in, budgets)
    def view(run: TwinRun[(Long, String, String), StreamingTokenBudget.LangBudget]) =
      run.latest(_.lang).map { case (l, b) =>
        l -> (b.n_seen, b.budget_tokens, b.n_kept, b.kept_tokens, b.utilization_millis)
      }
    def referee(delivered: Seq[(Long, String, String)]) =
      delivered.groupBy(_._3).map { case (lang, ds) =>
        val budget = budgets.getOrElse(lang, 0L)
        val kept = recut(ds.map(d => Adm(draw(d._2), d._1, toks(d._2))).distinct.toVector,
          Long.MaxValue, Long.MaxValue, budget).admitted
        val tokens = kept.map(_.toks).sum
        lang -> (ds.size.toLong, budget, kept.size.toLong, tokens,
          if (budget > 0) tokens * 1000L / budget else 0L)
      }
    override def batch(run: TwinRun[(Long, String, String), StreamingTokenBudget.LangBudget]) =
      Seq(("h_token_budget_mix", exact(view(run)), batchRows))
    override def exact(v: V) = v.map { case (l, b) => l -> (b._2, b._3, b._4, b._5) }
    override def upper(control: V, got: V, replays: Int) = {
      val delivered = fed(replays)
      Seq("n_seen counts deliveries" -> (got.keySet == control.keySet &&
        got.forall { case (l, b) => b._1 == delivered.count(_._3 == l) }))
    }
  }

  object BotScreen extends Twin[(Long, Long, Long), StreamingBotScreen.UserRegularity](
      "StreamingBotScreen", Update, "event_id", "user_id", "tus") {
    import StreamingBotScreen.{bucket, foldRun, EventRow, MinGaps}
    /** user → (n_events, n_gaps, sg, sg2, cv2_bucket) */
    type V = Map[Long, (Long, Long, Long, Long, Long)]
    lazy val waves = thirds(userEvents.map(e => (e._1, e._2, e._3)))
    def build(in: DataFrame) = StreamingBotScreen(in)
    def view(run: TwinRun[(Long, Long, Long), StreamingBotScreen.UserRegularity]) =
      run.latest(_.user_id).map { case (u, r) => u -> (r.n_events, r.n_gaps, r.sg, r.sg2, r.cv2_bucket) }
    def referee(delivered: Seq[(Long, Long, Long)]) =
      delivered.groupBy(_._2).map { case (u, es) =>
        val s = foldRun(None, es.map(e => EventRow(e._1, e._2, e._3))).get
        u -> (s.n_events, s.n_gaps, s.sg, s.sg2,
          if (s.n_gaps >= MinGaps) bucket(s.n_gaps, s.sg, s.sg2) else -1L)
      }
    // per-user emissions → (bucket → users, gaps) census, ≥ 5-gap support
    override def batch(run: TwinRun[(Long, Long, Long), StreamingBotScreen.UserRegularity]) =
      Seq(("g_bot_regularity census",
        view(run).values.filter(_._2 >= MinGaps).groupBy(_._5)
          .map { case (b, vs) => b -> (vs.size.toLong, vs.iterator.map(_._2).sum) },
        AnalyticsOps.gBotRegularity(spark, sf).collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap))
    override def exact(v: V) = v.map { case (u, r) => u -> (r._3, r._4) }
    // replayed rows clamp to zero gaps behind the frontier but count as
    // events and gaps; the bucket's support shifts, so it is undefined
    override def upper(control: V, got: V, replays: Int) = {
      val replayed = waves.head.groupBy(_._2).map { case (u, es) => u -> es.size.toLong * replays }
      Seq(
        "n_events and n_gaps count deliveries" -> (got.keySet == control.keySet &&
          got.forall { case (u, r) =>
            val extra = replayed.getOrElse(u, 0L)
            r._1 == control(u)._1 + extra && r._2 == control(u)._2 + extra
          }),
        "cv2_bucket stays in [-1, 10]" -> got.values.forall(r => r._5 >= -1L && r._5 <= 10L))
    }
  }

  object ActiveUsers extends Twin[(Long, Long), StreamingActiveUsers.ShardSketch](
      "StreamingActiveUsers", Update, "user_id", "tus") {
    /** (day → estimate, (day, shard) → (estimate, sketch bytes)) */
    type V = (Map[Long, Long], Map[(Long, Long), (Long, Seq[Byte])])
    lazy val waves = {
      val rows = Tables.eventsCanonical(spark, sf).selectExpr("user_id", "tus").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows.length > 500)
      halves(rows)
    }
    private def latest(run: TwinRun[(Long, Long), StreamingActiveUsers.ShardSketch]) =
      run.latest(s => (s.day, s.shard)).values.toSeq
    def build(in: DataFrame) = StreamingActiveUsers(in)
    def view(run: TwinRun[(Long, Long), StreamingActiveUsers.ShardSketch]) = {
      val sketches = latest(run)
      val days = spark.createDataFrame(sketches).groupBy(col("day"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sketch))").as("est"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (days, sketches.map(s => (s.day, s.shard) -> (s.est, s.sketch.toSeq)).toMap)
    }
    private def batchRows(rows: Seq[(Long, Long)]): Unit = {
      spark.createDataFrame(rows).toDF("user_id", "tus").createOrReplaceTempView("au_batch_rows")
    }
    def referee(delivered: Seq[(Long, Long)]) = {
      batchRows(delivered)
      (spark.sql(
        """SELECT tus DIV 86400000000L AS day,
          |  hll_sketch_estimate(hll_sketch_agg(user_id, 14)) AS est
          |FROM au_batch_rows GROUP BY tus DIV 86400000000L""".stripMargin)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, Map.empty)
    }
    override def agrees(got: V, want: V) = got._1 == want._1
    // report() reproduces g_active_users_approx's estimate arm
    override def batch(run: TwinRun[(Long, Long), StreamingActiveUsers.ShardSketch]) = {
      def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      val got = rows(StreamingActiveUsers.report(spark.createDataFrame(latest(run))))
      batchRows(waves.flatten)
      Seq(("g_active_users_approx estimate arm", got, rows(spark.sql(
        """WITH daysk AS (
          |  SELECT tus DIV 86400000000L AS day,
          |    hll_sketch_agg(user_id, 14) AS sk
          |  FROM au_batch_rows GROUP BY tus DIV 86400000000L),
          |win AS (
          |  SELECT day + i AS d, i, sk
          |  FROM daysk LATERAL VIEW explode(sequence(0, 29)) t AS i)
          |SELECT d AS day,
          |  hll_sketch_estimate(hll_union_agg(sk) FILTER (WHERE i = 0)) AS dau_est,
          |  hll_sketch_estimate(hll_union_agg(sk) FILTER (WHERE i <= 6)) AS wau_est,
          |  hll_sketch_estimate(hll_union_agg(sk)) AS mau_est
          |FROM win GROUP BY d HAVING dau_est IS NOT NULL
          |ORDER BY day""".stripMargin))))
    }
  }

  object BloomGate extends Twin[(Long, String), StreamingBloomGate.ShardFilter](
      "StreamingBloomGate", Update, "doc_id", "text") {
    /** (shard → filter bytes, rows probed, rows already present), the
      * counts summed over every batch (per-batch columns) */
    type V = (Map[Long, Seq[Byte]], Long, Long)
    private def docs(ids: Range) = ids.map(i => (i.toLong, s"document body number $i with drift ${i % 7}"))
    // wave 2 repeats 100 wave-1 texts beside 200 new ones: Bloom cannot
    // miss them, and false positives on 200 fresh keys at this sizing have
    // ~1e-4 odds
    lazy val waves = Seq(docs(0 until 400), docs(300 until 600), docs(600 until 700))
    def build(in: DataFrame) = StreamingBloomGate(in)
    def view(run: TwinRun[(Long, String), StreamingBloomGate.ShardFilter]) =
      (run.latest(_.shard).map { case (s, f) => s -> f.filter.toSeq },
        run.emitted.map(_.n_probed).sum, run.emitted.map(_.n_seen).sum)
    private def repeats(rows: Seq[(Long, String)]): Long = (rows.size - rows.map(_._2).distinct.size).toLong
    // the batch BloomFilterAggregate over the same keys
    def referee(delivered: Seq[(Long, String)]) = {
      graft.functions.GraftFunctions.registerAll(spark)
      val filters = spark.createDataFrame(delivered).toDF("doc_id", "text")
        .selectExpr(s"pmod(fnv64a(text), ${StreamingBloomGate.Shards}) AS shard", "fnv64a(text) AS k")
        .groupBy(col("shard"))
        .agg(org.apache.spark.sql.graft.BloomCols.bloomFilterAgg(
          col("k"), StreamingBloomGate.ExpectedKeysPerShard, StreamingBloomGate.NumBits).as("bf"))
        .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("bf").toSeq).toMap
      (filters, delivered.size.toLong, repeats(delivered))
    }
    override def exact(v: V) = v._1
    override def upper(control: V, got: V, replays: Int) = {
      val delivered = fed(replays)
      Seq("n_probed and n_seen count deliveries" ->
        (got._2 == delivered.size.toLong && got._3 == repeats(delivered)))
    }
  }

  private type Event = (Long, Long, Long, String)

  /** Closed intervals / sessions / verdicts come from each user's fold
    * over the delivered prefix; the batch query checks the fold. */
  private def perUser[E](rows: Seq[Event])(fold: (Long, Seq[Event]) => Seq[E]): Seq[E] =
    rows.groupBy(_._2).toSeq.flatMap { case (u, es) => fold(u, es) }

  /** A user outside the corpus whose hand-built rows straddle the restart
    * the restart arm makes after the first wave: at sf0.001 the cut has
    * no session with events on both sides and no purchase past the
    * lookback, and no replayed row. */
  private val Planted = -9L
  private val Sec = 1000000L

  /** The first tus of the second wave: the restart point. */
  private def restartTus(waves: Seq[Seq[Event]]): Long = waves(1).head._3

  /** Adds [[Planted]]'s rows to the first two waves: `before` to the
    * first, `after` to the second, each (event_id, seconds from
    * [[restartTus]], event_type). */
  private def plant(waves: Seq[Seq[Event]])(before: (Long, Long, String)*)(after: (Long, Long, String)*): Seq[Seq[Event]] = {
    val t0 = restartTus(waves)
    def rows(rs: Seq[(Long, Long, String)]) = rs.map { case (id, s, t) => (id, Planted, t0 + s * Sec, t) }
    (waves.head ++ rows(before)) +: (waves(1) ++ rows(after)) +: waves.drop(2)
  }

  object Scd2 extends Twin[(Long, Long, Long, String), StreamingScd2.ClosedInterval](
      "StreamingScd2", Append, "event_id", "user_id", "tus", "event_type") {
    import StreamingScd2.{foldRun, ClosedInterval, EventRow}
    type V = Seq[ClosedInterval]
    // planted: wave 1 leaves version 2 ('b' from -1 s) open; wave 2 brings
    // a replayed wave-1 row, which the recovered frontier must drop, then
    // extends 'b' and switches to 'a'
    lazy val waves = plant(thirds(userEvents))((1L, -3L, "a"), (2L, -2L, "a"), (3L, -1L, "b"))(
      (2L, -2L, "a"), (4L, 1L, "b"), (5L, 2L, "a"))
    def build(in: DataFrame) = StreamingScd2(in)
    def view(run: TwinRun[(Long, Long, Long, String), ClosedInterval]) =
      run.emitted.sortBy(c => (c.user_id, c.version))
    def referee(delivered: Seq[(Long, Long, Long, String)]) =
      perUser(delivered)((u, es) => foldRun(u, None, es.map(e => EventRow(e._1, e._2, e._3, e._4)))._1)
        .sortBy(c => (c.user_id, c.version))
    // lost state would close version 1 from +1 s with one event
    override def restartCases = {
      val t0 = restartTus(waves)
      def planted(rows: Seq[Event]) = referee(rows).filter(_.user_id == Planted)
      Seq("the planted interval open at the stop, closed after it from its pre-restart valid_from" ->
        (planted(waves.head) == Seq(ClosedInterval(Planted, 1L, "a", t0 - 3 * Sec, t0 - Sec, 2L)) &&
          planted(waves.head ++ waves(1)) == planted(waves.head) :+
            ClosedInterval(Planted, 2L, "b", t0 - Sec, t0 + 2 * Sec, 2L)))
    }
    override def batch(run: TwinRun[(Long, Long, Long, String), ClosedInterval]) =
      Seq(("g_scd2_state closed rows", view(run).filter(_.user_id != Planted).toSet,
        AnalyticsOps.gScd2State(spark, sf).filter("is_current = 0").collect()
          .map(r => ClosedInterval(r.getLong(0), r.getLong(1), r.getString(2),
            r.getLong(3), r.getLong(4), r.getLong(5))).toSet))
  }

  object Sessionize extends Twin[(Long, Long, Long, String), StreamingSessionize.ClosedSession](
      "StreamingSessionize", Append, "event_id", "user_id", "tus", "event_type") {
    import StreamingSessionize.{foldRun, ClosedSession, EventRow}
    type V = Seq[ClosedSession]
    // planted: wave 1 leaves session 1 open; wave 2 brings a replayed
    // wave-1 row, an in-gap extension, then a jump past the gap
    lazy val waves = plant(thirds(userEvents))((1L, -2L, "a"), (2L, -1L, "b"))(
      (2L, -1L, "b"), (3L, 1L, "b"), (4L, 3998L, "c"))
    private def fold(u: Long, es: Seq[(Long, Long, Long, String)]) =
      foldRun(u, None, es.map(e => EventRow(e._1, e._2, e._3, e._4)))
    def build(in: DataFrame) = StreamingSessionize(in)
    def view(run: TwinRun[(Long, Long, Long, String), ClosedSession]) =
      run.emitted.sortBy(c => (c.user_id, c.sid))
    def referee(delivered: Seq[(Long, Long, Long, String)]) =
      perUser(delivered)((u, es) => fold(u, es)._1).sortBy(c => (c.user_id, c.sid))
    // lost state would close a session from +1 s with one event, or none
    override def restartCases = {
      val t0 = restartTus(waves)
      def planted(rows: Seq[Event]) = referee(rows).filter(_.user_id == Planted)
      Seq("the planted session open at the stop, closed after it with the events either side" ->
        (planted(waves.head).isEmpty && planted(waves.head ++ waves(1)) ==
          Seq(ClosedSession(Planted, 1L, "a", t0 - 2 * Sec, t0 + Sec, 3L))))
    }
    override def batch(run: TwinRun[(Long, Long, Long, String), ClosedSession]) = {
      // batch gaps-and-islands: every session (user, sid) with the batch
      // query's own island algebra
      Tables.eventsCanonical(spark, sf).createOrReplaceTempView("sess_ref_events")
      val refSessions = spark.sql(
        """WITH seq AS (
          |  SELECT user_id, event_id, tus, event_type,
          |    CASE WHEN lag(tus) OVER (PARTITION BY user_id
          |           ORDER BY tus, event_id) IS NULL
          |           OR tus - lag(tus) OVER (PARTITION BY user_id
          |                ORDER BY tus, event_id) > 1800000000L
          |         THEN 1 ELSE 0 END AS is_new
          |  FROM sess_ref_events),
          |ids AS (
          |  SELECT user_id, tus, event_type, is_new,
          |    sum(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS sid
          |  FROM seq)
          |SELECT user_id, sid, max(CASE WHEN is_new = 1 THEN event_type END) AS entry_type,
          |  min(tus) AS start_tus, max(tus) AS end_tus, count(*) AS n_events
          |FROM ids GROUP BY user_id, sid""".stripMargin).collect()
        .map(r => ClosedSession(r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))
      val lastSid = refSessions.groupBy(_.user_id).map { case (u, ss) => u -> ss.map(_.sid).max }
      val (refOpen, refClosed) = refSessions.partition(c => lastSid(c.user_id) == c.sid)
      // the fold's open sessions are the state half of the equivalence
      val foldOpen = perUser(waves.flatten.filter(_._2 != Planted))((u, es) => fold(u, es)._2.toSeq
        .map(s => ClosedSession(u, s.sid, s.entry_type, s.start_tus, s.last_tus, s.n_events)))
      val closed = view(run).filter(_.user_id != Planted)
      // closures + opens, rolled up by the census SQL
      spark.createDataFrame(closed ++ foldOpen).createOrReplaceTempView("sess_all")
      val rolled = spark.sql(
        """SELECT entry_type,
          |  CAST(count(*) AS BIGINT) AS n_sessions,
          |  CAST(sum(n_events) AS BIGINT) AS n_events,
          |  CAST(1000L * sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
          |    DIV count(*) AS BIGINT) AS bounce_milli,
          |  CAST(1000L * sum(n_events) DIV count(*) AS BIGINT)
          |    AS events_per_session_milli,
          |  CAST(sum(end_tus - start_tus) DIV (1000L * count(*)) AS BIGINT)
          |    AS mean_duration_milli
          |FROM sess_all GROUP BY entry_type
          |ORDER BY entry_type""".stripMargin).collect().map(_.toSeq).toSeq
      Seq(
        ("batch islands' non-final sessions", closed.toSet, refClosed.toSet),
        ("the fold's open sessions vs the batch final islands", foldOpen.toSet, refOpen.toSet),
        ("closure + open rollup vs g_sessionize", rolled,
          AnalyticsOps.gSessionize(spark, sf).collect().map(_.toSeq).toSeq))
    }
  }

  object Attribution extends Twin[(Long, Long, Long, String), StreamingAttribution.Attribution](
      "StreamingAttribution", Append, "event_id", "user_id", "tus", "event_type") {
    import StreamingAttribution.{foldRun, TouchRow, Attribution => Verdict}
    type V = Seq[Verdict]
    // clicks before purchases at equal tus: the batch carry's tie order
    lazy val waves = {
      val events = userEvents.filter(e => e._4 == "click" || e._4 == "purchase")
        .sortBy(e => (e._3, if (e._4 == "click") 0 else 1, e._1))
      assert(events.length >= 300)
      // planted: a click and an attributed purchase before the restart;
      // after it a replayed wave-1 purchase, one the carried click
      // attributes and one past the lookback
      plant(thirds(events))((1L, -3L, "click"), (2L, -2L, "purchase"))(
        (2L, -2L, "purchase"), (3L, 1L, "purchase"), (4L, 2 * StreamingAttribution.LookbackUs / Sec, "purchase"))
    }
    def build(in: DataFrame) = StreamingAttribution(in)
    def view(run: TwinRun[(Long, Long, Long, String), Verdict]) =
      run.emitted.sortBy(a => (a.user_id, a.event_id))
    def referee(delivered: Seq[(Long, Long, Long, String)]) =
      perUser(delivered)((_, es) => foldRun(None, es.map(e => TouchRow(e._1, e._2, e._3, e._4)))._1)
        .sortBy(a => (a.user_id, a.event_id))
    override def restartCases = {
      val click = restartTus(waves) - 3 * Sec
      def planted(rows: Seq[Event]) = referee(rows).filter(_.user_id == Planted)
      def verdict(id: Long, tus: Long, attributed: Boolean) =
        Verdict(Planted, id, tus, tus / 86400000000L, attributed, click)
      Seq("a planted purchase after the restart that only the carried click attributes, and one past the lookback" ->
        (planted(waves.head) == Seq(verdict(2L, click + Sec, attributed = true)) &&
          planted(waves.head ++ waves(1)) == Seq(verdict(2L, click + Sec, attributed = true),
            verdict(3L, click + 4 * Sec, attributed = true),
            verdict(4L, click + 3 * Sec + 2 * StreamingAttribution.LookbackUs, attributed = false))))
    }
    override def batch(run: TwinRun[(Long, Long, Long, String), Verdict]) = {
      Tables.bind(spark, sf, "events")
      // per-purchase truth: the union-and-carry g_attribution rides
      val verdicts = spark.sql(
        """WITH clk AS (
          |  SELECT user_id, tus, 0 AS kind, event_id AS c_id, tus AS c_tus,
          |    CAST(NULL AS BIGINT) AS p_id
          |  FROM events WHERE event_type = 'click'),
          |pur AS (
          |  SELECT user_id, tus, 1 AS kind, CAST(NULL AS BIGINT) AS c_id,
          |    CAST(NULL AS BIGINT) AS c_tus, event_id AS p_id
          |  FROM events WHERE event_type = 'purchase'),
          |carried AS (
          |  SELECT user_id, tus, kind, p_id,
          |    last(c_tus, true) OVER (PARTITION BY user_id
          |      ORDER BY tus, kind, c_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lct
          |  FROM (SELECT * FROM clk UNION ALL SELECT * FROM pur))
          |SELECT user_id, p_id AS event_id, tus,
          |  CAST(tus DIV 86400000000L AS BIGINT) AS day,
          |  (lct IS NOT NULL AND tus - lct <= 604800000000L) AS attributed,
          |  coalesce(lct, -1L) AS click_tus
          |FROM carried WHERE kind = 1""".stripMargin).collect()
        .map(r => Verdict(r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getBoolean(4), r.getLong(5))).toSet
      val corpus = view(run).filter(_.user_id != Planted)
      spark.createDataFrame(corpus).createOrReplaceTempView("attr_verdicts")
      def daily(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      val rollup = daily(spark.sql(
        """SELECT day, count(*) AS n_purchases,
          |  CAST(sum(CASE WHEN attributed THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
          |  CAST(1000L * sum(CASE WHEN attributed THEN 1 ELSE 0 END) DIV count(*)
          |    AS BIGINT) AS attribution_millis
          |FROM attr_verdicts GROUP BY day ORDER BY day""".stripMargin))
      Seq(
        ("per-purchase verdicts vs the batch carry", corpus.toSet, verdicts),
        ("daily rollup vs g_attribution", rollup, daily(AnalyticsOps.gAttribution(spark, sf))))
    }
  }

  object SimJoin extends Twin[(Long, String), StreamingSimJoin.SimPair](
      "StreamingSimJoin", Append, "doc_id", "text") {
    /** pair → (its exact scores, hits) */
    type V = Map[(Long, Long), (Set[Long], Int)]
    // truth: the batch AllPairs join over the same corpus
    private lazy val batchPairs: Map[(Long, Long), Long] = {
      val pairs = TrainingOps.hSimjoinPrefix(spark, sf).select("a_id", "b_id", "jac_milli").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      Checkpoints.releaseAll()
      assert(pairs.nonEmpty, "sf0.001 must contain J >= 0.6 pairs for the join to bite")
      pairs
    }
    lazy val waves = {
      val docs = documents("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val (a, b) = docs.splitAt(docs.length * 3 / 5)
      Seq(a, b)
    }
    def build(in: DataFrame) = StreamingSimJoin(in)
    def view(run: TwinRun[(Long, String), StreamingSimJoin.SimPair]) =
      run.emitted.groupBy(p => (p.a_id, p.b_id)).map { case (k, ps) => k -> (ps.map(_.jac_milli).toSet, ps.size) }
    // the batch pair set over the delivered docs (Jaccard is pairwise)
    def referee(delivered: Seq[(Long, String)]) = {
      val ids = delivered.map(_._1).toSet
      batchPairs.collect { case ((a, b), j) if ids(a) && ids(b) => (a, b) -> ((Set(j), 0)) }
    }
    override def exact(v: V) = v.map { case (k, (scores, _)) => k -> scores }
    override def agrees(got: V, want: V) = exact(got) == exact(want)
    override def batch(run: TwinRun[(Long, String), StreamingSimJoin.SimPair]) =
      Seq(("h_simjoin_prefix pairs", exact(view(run)), batchPairs.map { case (k, j) => k -> Set(j) }))
    // a replayed doc re-probes, so pairs among replayed docs re-emit; it
    // never enrolls twice, so a pair with a doc the replay did not touch
    // keeps its hit count
    override def upper(control: V, got: V, replays: Int) = {
      val replayed = waves.head.map(_._1).toSet
      Seq("a replayed doc re-emits but never re-enrolls" -> got.forall { case (k @ (a, b), (_, n)) =>
        if (replayed(a) && replayed(b)) n >= control(k)._2 else n == control(k)._2
      })
    }
  }

  object HeavyHitters extends Twin[Long, StreamingHeavyHitters.ShardSketch](
      "StreamingHeavyHitters", Update, "key") {
    /** (merged sketch bytes, rows counted) */
    type V = (Seq[Byte], Long)
    /** Skewed key stream: keys 0–4 are the heavy hitters (~1/3 of rows),
      * the rest spread over 100–499. */
    def keys(ids: Range): Seq[Long] =
      ids.map(i => if (i % 3 == 0) (i % 5).toLong else (100 + (i * 7919) % 400).toLong)
    lazy val waves = Seq(keys(0 until 3000), keys(3000 until 5000), keys(5000 until 6000))
    def build(in: DataFrame) = StreamingHeavyHitters(in)
    def view(run: TwinRun[Long, StreamingHeavyHitters.ShardSketch]) = {
      val shards = run.latest(_.shard)
      (StreamingHeavyHitters.merge(shards.toSeq.sortBy(_._1).map(_._2.sketch)).toByteArray.toSeq,
        shards.values.map(_.total).sum)
    }
    // the batch count_min_sketch over every delivered row
    def referee(delivered: Seq[Long]) = {
      (spark.createDataFrame(delivered.map(Tuple1(_))).toDF("key").selectExpr(
        s"count_min_sketch(key, CAST(${StreamingHeavyHitters.Eps} AS DOUBLE), " +
          s"CAST(${StreamingHeavyHitters.Confidence} AS DOUBLE), ${StreamingHeavyHitters.Seed}) AS sk")
        .head().getAs[Array[Byte]](0).toSeq, delivered.size.toLong)
    }
    // counter adds are not idempotent: nothing is exact under a replay
    override def exact(v: V) = ()
    override def upper(control: V, got: V, replays: Int) = {
      val delivered = fed(replays)
      val cms = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(got._1.toArray))
      Seq(
        "the sketch byte-equals the batch build over every delivered row, the replay included" ->
          (got == referee(delivered)),
        "every estimate stays at or above the true count" -> delivered.distinct.forall(k =>
          cms.estimateCount(java.lang.Long.valueOf(k)) >= delivered.count(_ == k)))
    }
  }

  object Curation extends Twin[(Long, String, String), StreamingCuration.CurationLedger](
      "StreamingCuration", Update, "doc_id", "text", "lang") {
    import StreamingCuration.MinTokens
    import StreamingTokenBudget.{recut, Adm}
    /** lang → (n_seen, n_past_dedup, n_past_quality, n_admitted, admitted_tokens, admitted_ids) */
    type V = Map[String, (Long, Long, Long, Long, Long, Seq[Long])]
    private case class Derived(lang: String, docId: Long, h: Long, toks: Long, draw: Long)
    // the twin's derived columns, computed by the same Spark expressions,
    // so the comparison tests the composition, not expression drift
    private def derive(rows: Seq[(Long, String, String)]): Seq[Derived] = {
      graft.functions.GraftFunctions.registerAll(spark)
      spark.createDataFrame(rows).toDF("doc_id", "text", "lang")
        .selectExpr("lang", "doc_id", "xxhash64(fnv64a(text)) AS h",
          "CAST(size(split(text, ' ')) AS BIGINT) AS toks",
          "CAST(conv(substring(md5(text), 1, 6), 16, 10) AS BIGINT) AS draw")
        .collect()
        .map(r => Derived(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    }
    private lazy val corpus = {
      val docs = documents("doc_id", "text", "lang").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      assert(docs.length > 100)
      docs
    }
    // budgets tight enough that the cut cuts (~40 % of each lang's
    // quality-surviving token mass)
    private lazy val budgets: Map[String, Long] = {
      val b = derive(corpus).filter(_.toks >= MinTokens)
        .groupBy(_.lang).map { case (l, rs) => l -> rs.map(_.toks).sum * 2 / 5 }
      assert(b.values.forall(_ > 0))
      b
    }
    // adversarial order: descending draw, so the budgeted prefix arrives
    // last; planted duplicates always arrive in a later wave than their
    // original (first delivery == min doc_id): wave 2 repeats every 5th
    // wave-1 text, wave 3 every 7th text of waves 1 and 2, under fresh ids
    lazy val waves = {
      val drawOf = derive(corpus).map(d => d.docId -> d.draw).toMap
      val ordered = corpus.sortBy(d => (-drawOf(d._1), d._1))
      val (wave1, rest) = ordered.splitAt(corpus.length / 3)
      val (wave2, wave3) = rest.splitAt(rest.length / 2)
      val dup2 = wave1.zipWithIndex.collect { case ((id, t, l), i) if i % 5 == 0 => (id + 1000000L, t, l) }
      val dup3 = (wave1 ++ wave2).zipWithIndex.collect {
        case ((id, t, l), i) if i % 7 == 0 => (id + 2000000L, t, l)
      }
      Seq(wave1, wave2 ++ dup2, wave3 ++ dup3)
    }
    def build(in: DataFrame) = StreamingCuration(in, budgets)
    def view(run: TwinRun[(Long, String, String), StreamingCuration.CurationLedger]) =
      run.latest(_.lang).map { case (l, g) =>
        l -> (g.n_seen, g.n_past_dedup, g.n_past_quality, g.n_admitted, g.admitted_tokens, g.admitted_ids.toSeq)
      }
    // dedup survivor (h_dedup_exact's min doc_id per text) → quality gate
    // (h_curation_funnel) → prefix cut (h_token_budget_mix, via recut)
    def referee(delivered: Seq[(Long, String, String)]) = {
      val seen = delivered.groupBy(_._3).map { case (l, ds) => l -> ds.size.toLong }
      derive(delivered.distinct).groupBy(_.lang).map { case (lang, rs) =>
        val survivors = rs.groupBy(_.h).values.map(_.minBy(_.docId)).toVector
        val quality = survivors.filter(_.toks >= MinTokens)
        val admitted = recut(quality.map(d => Adm(d.draw, d.docId, d.toks)),
          Long.MaxValue, Long.MaxValue, budgets.getOrElse(lang, 0L)).admitted
        lang -> (seen(lang), survivors.size.toLong, quality.size.toLong,
          admitted.size.toLong, admitted.map(_.toks).sum, admitted.map(_.doc_id).sorted)
      }
    }
    // the waterfall is monotone by construction
    override def agrees(got: V, want: V) = got == want &&
      got.values.forall(g => g._1 >= g._2 && g._2 >= g._3 && g._3 >= g._4)
    // a replayed key is gated before any counter or ledger touch
    override def exact(v: V) = v.map { case (l, g) => l -> g.copy(_1 = 0L) }
    override def upper(control: V, got: V, replays: Int) = {
      val delivered = fed(replays)
      Seq("n_seen counts deliveries" -> (got.keySet == control.keySet &&
        got.forall { case (l, g) => g._1 == delivered.count(_._3 == l) }))
    }
  }

  /** md5-shuffled arrival, the corpus cut in half. */
  private def shuffledHalves[T](rows: Seq[T])(key: T => (String, Long), scale: Long): Seq[Seq[T]] =
    halves(rows.sortBy { r => val (s, id) = key(r); md5b(s) * scale + id })

  object Chao extends Twin[(Long, String, String), StreamingChao.ChaoEstimate](
      "StreamingChao", Update, "doc_id", "lang", "text") {
    /** lang → (n_sampled, d_obs, f1, f2, chao_est) */
    type V = Map[String, (Long, Long, Long, Long, Long)]
    // the batch operator's ingest-replay corpus: a third redelivered under
    // +1e6 re-crawl ids, in md5-shuffled (not id) order
    lazy val waves = {
      val docs = documents("doc_id", "lang", "text").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      val ingest = docs ++ docs.filter(_._1 % 3 == 0).map { case (id, l, t) => (id + 1000000L, l, t) }
      shuffledHalves(ingest)(d => ("order|" + d._1, d._1), 10000000L)
    }
    def build(in: DataFrame) = StreamingChao(in)
    def view(run: TwinRun[(Long, String, String), StreamingChao.ChaoEstimate]) =
      run.latest(_.lang).map { case (l, e) => l -> (e.nSampled, e.dObs, e.f1, e.f2, e.chaoEst) }
    // the batch sample rule + estimator in plain Scala
    def referee(delivered: Seq[(Long, String, String)]) =
      delivered.filter { case (id, _, _) => md5b(id.toString) < 51 }
        .groupBy(_._2).map { case (lang, ds) =>
          val byText = ds.groupBy(r => Fnv64a.hash(r._3)).map(_._2.size.toLong)
          val dObs = byText.size.toLong
          val f1 = byText.count(_ == 1L).toLong
          val f2 = byText.count(_ == 2L).toLong
          lang -> (ds.size.toLong, dObs, f1, f2, dObs + f1 * (f1 - 1) / (2 * (f2 + 1)))
        }
    override def batch(run: TwinRun[(Long, String, String), StreamingChao.ChaoEstimate]) =
      Seq(("h_dup_chao sample columns", view(run), LlmOps.hDupChao(spark, sf).collect()
        .map(r => r.getString(0) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap))
  }

  object DomainRollup extends Twin[(Long, String), StreamingDomainRollup.DomainStat](
      "StreamingDomainRollup", Update, "doc_id", "url") {
    /** etld1 → (n_docs, n_raw_urls, n_canon_urls, n_hosts) */
    type V = Map[String, (Long, Long, Long, Long)]
    // the batch operator's own synthesized fetch log (2 raw URLs per doc),
    // variants interleaved with originals of unrelated docs
    lazy val waves = shuffledHalves(CorpusOps.domainRawUrls(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq)(d => (d._2, d._1), 10000000L)
    def build(in: DataFrame) = StreamingDomainRollup(in)
    def view(run: TwinRun[(Long, String), StreamingDomainRollup.DomainStat]) =
      run.latest(_.etld1).map { case (d, e) => d -> (e.nDocs, e.nRawUrls, e.nCanonUrls, e.nHosts) }
    // the batch rule over the shared canonicalization projection's output
    def referee(delivered: Seq[(Long, String)]) = {
      CorpusOps.canonicalizeUrls(spark.createDataFrame(delivered).toDF("doc_id", "url")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
        .groupBy(_._5).map { case (etld1, rs) =>
          etld1 -> (rs.map(_._1).distinct.length.toLong, rs.map(_._2).distinct.length.toLong,
            rs.map(_._4).distinct.length.toLong, rs.map(_._3).distinct.length.toLong)
        }
    }
    override def batch(run: TwinRun[(Long, String), StreamingDomainRollup.DomainStat]) =
      Seq(("h_domain_rollup", view(run), CorpusOps.hDomainRollup(spark, sf).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap))
  }

  /** The ledger reports only keys it has seen: a prefix is compared on
    * the referee's keys. */
  private def onTouched[K, T](got: Map[K, T], want: Map[K, T]): Boolean =
    got.filter { case (k, _) => want.contains(k) } == want

  object EncodingAudit extends Twin[(Long, String, String, String), StreamingEncodingAudit.EncStat](
      "StreamingEncodingAudit", Update, "doc_id", "lang", "source", "text") {
    /** (lang, source) → (n_docs, n_moji, n_repl, n_ctrl, n_crlf) */
    type V = Map[(String, String), (Long, Long, Long, Long, Long)]
    // the batch operator's own corrupted corpus, artifacts and decoys
    lazy val waves = shuffledHalves(CorpusOps.encPlanted(spark, sf)
      .select("doc_id", "lang", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSeq)(
      d => (d._1.toString, d._1), 10000L)
    def build(in: DataFrame) = StreamingEncodingAudit(in)
    def view(run: TwinRun[(Long, String, String, String), StreamingEncodingAudit.EncStat]) =
      run.latest(e => (e.lang, e.source)).map { case (k, e) => k -> (e.nDocs, e.nMoji, e.nRepl, e.nCtrl, e.nCrlf) }
    // the shared detection projection, aggregated in plain Scala
    def referee(delivered: Seq[(Long, String, String, String)]) = {
      CorpusOps.encDetect(spark.createDataFrame(delivered).toDF("doc_id", "lang", "source", "text")).collect()
        .groupBy(r => (r.getString(1), r.getString(2))).map { case (k, rs) =>
          k -> (rs.length.toLong, rs.map(_.getLong(4)).sum, rs.map(_.getLong(5)).sum,
            rs.map(_.getLong(6)).sum, rs.map(_.getLong(7)).sum)
        }
    }
    override def agrees(got: V, want: V) = onTouched(got, want)
    override def batch(run: TwinRun[(Long, String, String, String), StreamingEncodingAudit.EncStat]) =
      Seq(("h_encoding_audit detection columns", view(run), CorpusOps.hEncodingAudit(spark, sf).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap))
  }

  object PiiCensus extends Twin[(Long, String, String), StreamingPiiCensus.PiiStat](
      "StreamingPiiCensus", Update, "doc_id", "lang", "text") {
    /** (lang, pattern) → (n_docs_hit, n_hits, span_chars, n_resid) */
    type V = Map[(String, String), (Long, Long, Long, Long)]
    // the batch operator's own planted corpus, spans and decoys
    lazy val waves = shuffledHalves(GovernanceOps.piiPlanted(spark, sf)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq)(d => (d._1.toString, d._1), 10000L)
    def build(in: DataFrame) = StreamingPiiCensus(in)
    def view(run: TwinRun[(Long, String, String), StreamingPiiCensus.PiiStat]) =
      run.latest(e => (e.lang, e.pattern)).map { case (k, e) => k -> (e.nDocsHit, e.nHits, e.spanChars, e.nResid) }
    // the shared detection projection, aggregated in plain Scala
    def referee(delivered: Seq[(Long, String, String)]) = {
      val det = GovernanceOps.piiDetect(spark.createDataFrame(delivered).toDF("doc_id", "lang", "text")).collect()
      Seq("email" -> (4, 7, 10), "phone" -> (5, 8, 11), "id" -> (6, 9, 12)).flatMap { case (pat, (hits, span, resid)) =>
        det.groupBy(_.getString(1)).map { case (lang, rs) =>
          (lang, pat) -> (rs.count(_.getLong(hits) > 0).toLong, rs.map(_.getLong(hits)).sum,
            rs.map(_.getLong(span)).sum, rs.map(_.getLong(resid)).sum)
        }
      }.toMap
    }
    override def agrees(got: V, want: V) = onTouched(got, want)
    override def batch(run: TwinRun[(Long, String, String), StreamingPiiCensus.PiiStat]) =
      Seq(("h_pii_census detection columns", view(run), GovernanceOps.hPiiCensus(spark, sf).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(3), r.getLong(4), r.getLong(8), r.getLong(9))).toMap))
  }

  // lazy: a spec may touch a row first, and the row's constructor reads
  // this object, which must not read the row back while it is built
  lazy val all: Seq[Twin[_, _]] = Seq(TwoGen, NearDup, Novelty, Sampler, TokenBudget, BotScreen,
    ActiveUsers, BloomGate, Scd2, Sessionize, Attribution, SimJoin, HeavyHitters, Curation,
    Chao, DomainRollup, EncodingAudit, PiiCensus)

  /** Arms that took over a test written before this table run under that
    * test's suite and title, so its id stays in the suite's history;
    * TwinContractSpec runs every other arm of every row. */
  final case class Home(suite: Class[_ <: TwinSuite], title: String, twin: Twin[_, _], arms: Arm*)

  import Arm._
  lazy val homes: Seq[Home] = Seq(
    Home(classOf[RedeliverySpec], "TwoGenDeduper: a replayed batch emits nothing (emitted set exact)", TwoGen, Replay),
    Home(classOf[RedeliverySpec], "StreamingNearDup: a replayed doc never enrolls a second bucket resident", NearDup, Replay),
    Home(classOf[RedeliverySpec], "StreamingNovelty: a replayed wave re-emits only novel=false", Novelty, Replay),
    Home(classOf[RedeliverySpec],
      "StreamingStratifiedSampler: replay leaves the sample exact, n_stratum counts deliveries", Sampler, Replay),
    Home(classOf[RedeliverySpec],
      "StreamingTokenBudget: replay leaves the admitted ledger exact, n_seen counts deliveries", TokenBudget, Replay),
    Home(classOf[RedeliverySpec],
      "StreamingBotScreen: replay keeps gap sums exact, counts inflate, bucket is undefined", BotScreen, Replay),
    Home(classOf[CheckpointRecoverySpec],
      "TwoGenDeduper: generation state survives restart — replayed keys stay suppressed", TwoGen, Restart),
    Home(classOf[CheckpointRecoverySpec],
      "StreamingNearDup: bucket residents survive restart — a post-restart probe still hits", NearDup, Restart),
    Home(classOf[CheckpointRecoverySpec],
      "StreamingNovelty: the (lang, gram) seen-set survives restart — no second novel=true", Novelty, Restart),
    Home(classOf[CheckpointRecoverySpec],
      "StreamingStratifiedSampler: bottom-k state survives restart — final sample equals the no-restart run",
      Sampler, Restart),
    Home(classOf[CheckpointRecoverySpec],
      "StreamingTokenBudget: the admission ledger survives restart — final budget equals the no-restart run",
      TokenBudget, Restart),
    Home(classOf[CheckpointRecoverySpec],
      "StreamingBotScreen: the gap frontier survives restart — sums continue, not reset", BotScreen, Restart),
    Home(classOf[CheckpointRecoverySpec],
      "StreamingActiveUsers: day sketches survive restart — estimates equal batch over both waves",
      ActiveUsers, Restart),
    Home(classOf[CheckpointRecoverySpec],
      "StreamingScd2: the open interval survives restart — closures continue version and valid_from",
      Scd2, Restart),
    Home(classOf[CheckpointRecoverySpec],
      "StreamingSessionize: the open session survives restart — the closure spans both waves",
      Sessionize, Restart),
    Home(classOf[StreamingActiveUsersSpec],
      "streaming day sketches equal batch hll_sketch_agg; report matches the batch arm; replay is a no-op",
      ActiveUsers, Parity, Replay),
    Home(classOf[StreamingAttributionSpec],
      "drained verdicts equal the batch carry; rollup matches g_attribution; redelivery is a no-op",
      Attribution, Parity, Replay),
    Home(classOf[StreamingAttributionSpec], "carried click survives a stop -> restart-from-checkpoint cycle",
      Attribution, Restart),
    Home(classOf[StreamingBloomGateSpec],
      "stream filters byte-equal the batch aggregate; gate flags replays; restart continues the state",
      BloomGate, Parity, Replay, Restart),
    Home(classOf[StreamingBotScreenSpec],
      "streaming census equals batch g_bot_regularity after draining in event-time order", BotScreen, Parity),
    Home(classOf[StreamingChaoSpec], "streaming chao equals the batch sample estimator across replay and restart",
      Chao, Parity, Replay, Restart),
    Home(classOf[StreamingCurationSpec],
      "composed gate equals the batch waterfall; replay only inflates n_seen; restart keeps all stages",
      Curation, Parity, Replay, Restart),
    Home(classOf[StreamingDomainRollupSpec], "streaming rollup equals the batch domain table across replay and restart",
      DomainRollup, Parity, Replay, Restart),
    Home(classOf[StreamingEncodingAuditSpec],
      "streaming audit equals the batch detection table across replay and restart",
      EncodingAudit, Parity, Replay, Restart),
    Home(classOf[StreamingHeavyHittersSpec],
      "merged stream sketches byte-equal the batch aggregate; bounds hold; restart continues",
      HeavyHitters, Parity, Replay, Restart),
    Home(classOf[StreamingNearDupSpec],
      "planted near-dups are flagged against already-ingested residents; unrelated docs are not", NearDup, Parity),
    Home(classOf[StreamingNoveltySpec], "streaming novelty equals the batch incremental audit across micro-batch splits",
      Novelty, Parity),
    Home(classOf[StreamingPiiCensusSpec], "streaming census equals the batch detection table across replay and restart",
      PiiCensus, Parity, Replay, Restart),
    Home(classOf[StreamingScd2Spec], "drained closures equal batch g_scd2_state closed rows; redelivery emits nothing",
      Scd2, Parity, Replay),
    Home(classOf[StreamingSessionizeSpec],
      "drained closures equal the batch islands; rollup equals g_sessionize; redelivery emits nothing",
      Sessionize, Parity, Replay),
    Home(classOf[StreamingSimJoinSpec], "streamed corpus emits exactly the batch pair set, across a mid-corpus restart",
      SimJoin, Parity, Restart),
    Home(classOf[StreamingSimJoinSpec], "at-least-once redelivery: replayed docs re-emit but never re-enroll",
      SimJoin, Replay),
    Home(classOf[StreamingStratifiedSamplerSpec],
      "streaming sample equals the batch query over the same rows, across batch splits", Sampler, Parity),
    Home(classOf[StreamingTokenBudgetSpec],
      "streaming admission equals the batch prefix cut over the same rows, across batch splits",
      TokenBudget, Parity))
}
