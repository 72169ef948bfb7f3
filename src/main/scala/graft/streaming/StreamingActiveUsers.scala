package graft.streaming

import org.apache.datasketches.hll.{HllSketch, TgtHllType}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** STREAMING active-users sketching — the ingest-time form of the batch
  * `g_active_users_approx` HLL path, and the seventh batch/stream twin.
  * Per (day, shard) the state holds ONE mergeable HLL sketch
  * (lgConfigK=14, HLL_8 — the exact configuration Spark's
  * `hll_sketch_agg(user_id, 14)` builds, so the streaming state and the
  * batch SQL produce BIT-COMPATIBLE sketches); every micro-batch updates
  * the touched shards and re-emits their compact sketch bytes plus the
  * shard estimate. A downstream [[report]] rolls the latest per-shard
  * emissions into live DAU/WAU/MAU with plain `hll_union_agg` /
  * `hll_sketch_estimate` SQL — state-resident sketches stay
  * SQL-composable because the emitted bytes are the standard
  * datasketches wire form Spark's HLL functions heapify.
  *
  * Two-level shape is the scale decision: keying by bare day would
  * funnel the whole day's traffic through one task (today IS the hot
  * key); the (day, user_id % [[Shards]]) key spreads it, and the
  * sketch's mergeability makes the downstream day-level union exact —
  * the same partial-then-merge algebra `hll_union_agg` runs map-side in
  * batch. HLL register state is a content-determined max, so the
  * union of shard sketches equals the one-shot per-day sketch for the
  * same row set, regardless of arrival order, batching, or sharding
  * (StreamingActiveUsersSpec proves estimate-equality against the batch
  * SQL arm).
  *
  * Redelivery contract: ALL outputs are exact under at-least-once replay
  * — `HllSketch.update` is idempotent per item, so a replayed batch
  * leaves every register, byte array, and estimate unchanged. This twin
  * has no delivery-counting column at all (the caveat the sampler's
  * `n_stratum` and the budget's `n_seen` carry does not arise), which is
  * precisely the operational argument for sketch-based counters at
  * ingest: the number a dashboard shows cannot be inflated by requeues.
  *
  * State per key is one ≤ ~2 KB sparse / ≤ 16 KB dense sketch; total
  * state is days × [[Shards]] sketches regardless of event volume. */
object StreamingActiveUsers {

  val LgK = 14
  val Shards = 32

  final case class UserDay(day: Long, shard: Long, user_id: Long)
  /** Latest per-(day, shard) sketch: standard datasketches compact bytes
    * (readable by `hll_sketch_estimate`/`hll_union_agg`) + the shard's
    * own rounded estimate. */
  final case class ShardSketch(day: Long, shard: Long, sketch: Array[Byte], est: Long)

  class Processor extends StatefulProcessor[(Long, Long), UserDay, ShardSketch] {

    @transient private var sk: ValueState[Array[Byte]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sk = getHandle.getValueState[Array[Byte]]("sk", Encoders.BINARY, TTLConfig.NONE)

    override def handleInputRows(
        key: (Long, Long), rows: Iterator[UserDay],
        timerValues: TimerValues): Iterator[ShardSketch] = {
      if (!rows.hasNext) return Iterator.empty
      val sketch =
        if (sk.exists()) HllSketch.heapify(sk.get())
        else new HllSketch(LgK, TgtHllType.HLL_8)
      rows.foreach(r => sketch.update(r.user_id))
      sk.update(sketch.toUpdatableByteArray)
      Iterator.single(ShardSketch(
        key._1, key._2, sketch.toCompactByteArray, Math.round(sketch.getEstimate)))
    }
  }

  /** Wire the sketcher onto a stream of events (user_id LONG, tus LONG
    * epoch-micros). Emits an updated [[ShardSketch]] per touched
    * (day, shard) per micro-batch. */
  def apply(stream: DataFrame): Dataset[ShardSketch] = {
    val spark = stream.sparkSession
    import spark.implicits._
    StreamingState.requireRocksDB(spark)
    stream
      .selectExpr(
        "tus DIV 86400000000L AS day",
        s"pmod(user_id, $Shards) AS shard",
        "user_id")
      .as[UserDay]
      .groupByKey(d => (d.day, d.shard))
      .transformWithState(new Processor, TimeMode.ProcessingTime(), OutputMode.Update())
  }

  /** Roll the LATEST emission per (day, shard) into the
    * `g_active_users_approx` estimate columns: per observed day, union
    * the trailing 1/7/30-day shard sketches. Pure SQL over the emitted
    * bytes — the same FILTERed `hll_union_agg` shape as the batch arm. */
  def report(latest: DataFrame): DataFrame = {
    val spark = latest.sparkSession
    latest.createOrReplaceTempView("au_shards")
    spark.sql(
      """WITH win AS (
        |  SELECT day + i AS d, i, sketch
        |  FROM au_shards LATERAL VIEW explode(sequence(0, 29)) t AS i),
        |est AS (
        |  SELECT d,
        |    hll_sketch_estimate(hll_union_agg(sketch) FILTER (WHERE i = 0)) AS dau_est,
        |    hll_sketch_estimate(hll_union_agg(sketch) FILTER (WHERE i <= 6)) AS wau_est,
        |    hll_sketch_estimate(hll_union_agg(sketch)) AS mau_est
        |  FROM win GROUP BY d)
        |SELECT d AS day, dau_est, wau_est, mau_est
        |FROM est WHERE dau_est IS NOT NULL
        |ORDER BY day""".stripMargin)
  }
}
