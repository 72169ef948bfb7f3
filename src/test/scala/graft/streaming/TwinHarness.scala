package graft.streaming

import java.util.concurrent.ConcurrentSkipListMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress, Trigger}
import org.scalatest.Assertions._

import graft.{SparkSpec, SparkSuite}

/** One streaming twin under test: one `MemoryStream`, one checkpoint and a
  * `foreachBatch` capture keyed by batch id (a batch that re-runs after a
  * restart overwrites its entry). [[add]] returns once the query has
  * committed a batch covering the rows, so a check right after it sees
  * them all, the next `add` lands in later batches, and [[stop]] needs no
  * settling pause. `sink` sees every batch before the capture does.
  * Under `TimeMode.ProcessingTime` the engine keeps scheduling batches, so
  * `processAllAvailable()` never settles; the waits read the committed
  * offset from the query's progress instead. */
final class TwinRun[In, Out](
    name: String,
    build: DataFrame => Dataset[Out],
    mode: OutputMode,
    columns: Seq[String] = Nil,
    deadlineMs: Long = 30000L,
    sink: (Dataset[Out], Long) => Unit = (_: Dataset[Out], _: Long) => ())(
    implicit enc: Encoder[In]) {

  private val input = MemoryStream[In](enc, SparkSpec.spark)
  val checkpoint = SparkSpec.tempDir(s"${name.toLowerCase}-ckpt").toString
  private val captured = new ConcurrentSkipListMap[java.lang.Long, Vector[Out]]()
  private var query: Option[StreamingQuery] = None
  private var wave = 0
  private var committedBatches = Vector.empty[Long]

  def start(): this.type = {
    require(query.isEmpty, s"$name is already running")
    val source = if (columns.isEmpty) input.toDF() else input.toDF().toDF(columns: _*)
    query = Some(build(source).writeStream
      .outputMode(mode)
      .trigger(Trigger.ProcessingTime(200L))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: Dataset[Out], id: Long) =>
        sink(df, id)
        val rows = df.collect().toVector
        if (rows.nonEmpty) captured.put(id, rows)
        ()
      }
      .start())
    this
  }

  def stop(): Unit = {
    query.foreach(_.stop())
    query = None
  }

  /** Stops the query, adds `pending` while it is down, then starts a new
    * query on the same stream and checkpoint and waits for `pending`. */
  def restart(pending: Seq[In] = Nil): this.type = {
    stop()
    val target = offer(pending)
    start()
    target.foreach(awaitCommitted)
    this
  }

  def add(rows: Seq[In]): this.type = {
    require(query.nonEmpty, s"$name is not running")
    offer(rows).foreach(awaitCommitted)
    this
  }

  private def offer(rows: Seq[In]): Option[Long] =
    if (rows.isEmpty) None
    else {
      wave += 1
      Some(input.addData(rows).json.toLong)
    }

  private def lastProgress: Option[StreamingQueryProgress] =
    query.flatMap(q => Option(q.lastProgress))

  private def awaitCommitted(target: Long): Unit = {
    def end = lastProgress.flatMap(_.sources.headOption).flatMap(s => Option(s.endOffset))
    await(s"$name wave $wave: no committed batch covers offset $target")(
      end.exists(_.toLong >= target))
    committedBatches :+= lastProgress.get.batchId
  }

  /** Polls `cond` until it holds; fails with `what` at the deadline, or at
    * once with the query's own error when the query has died. */
  private def await(what: => String)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + deadlineMs
    while (!cond) {
      query.flatMap(_.exception).foreach(e => fail(s"$name: the query failed", e))
      if (System.currentTimeMillis() > deadline) fail(s"$what within $deadlineMs ms")
      Thread.sleep(20L)
    }
  }

  /** The id of the last batch each wave was committed in, in wave order. */
  def marks: Vector[Long] = committedBatches

  /** Progress of the running query, oldest first. */
  def progress: Seq[StreamingQueryProgress] =
    query.map(_.recentProgress.toSeq).getOrElse(Nil)

  /** Every non-empty batch so far, by id. */
  def batches: Seq[(Long, Vector[Out])] =
    captured.asScala.toSeq.map { case (id, rows) => (id.longValue, rows) }

  /** Everything emitted, in batch order (for append-mode twins). */
  def emitted: Vector[Out] = batches.toVector.flatMap(_._2)

  /** What batches after `id` emitted. */
  def batchesAfter(id: Long): Vector[Out] =
    captured.tailMap(id, false).values.asScala.toVector.flatten

  /** The last row per key (for update-mode twins). */
  def latest[K](key: Out => K): Map[K, Out] = emitted.map(o => key(o) -> o).toMap
}

/** One row of [[TwinContracts]]: a twin, the waves it is fed, and the
  * rules its output follows — COVERAGE.md's redelivery table, stated once
  * per twin and checked by the three [[Arm]]s. */
abstract class Twin[In, Out](val name: String, val mode: OutputMode, val columns: String*)(
    implicit val enc: Encoder[In]) {

  /** What the stream answers, read from a run's capture. */
  type V

  /** The input in arrival order, split into waves (at least two). */
  def waves: Seq[Seq[In]]

  def build(in: DataFrame): Dataset[Out]

  def view(run: TwinRun[In, Out]): V

  /** The batch rule over the rows delivered so far. */
  def referee(delivered: Seq[In]): V

  def agrees(got: V, want: V): Boolean = got == want

  /** After the last wave: (what, the stream's answer, the declared batch
    * operator's answer) for each comparison with the batch twin. */
  def batch(run: TwinRun[In, Out]): Seq[(String, Any, Any)] = Nil

  /** The part of the answer a replayed committed wave may not move. */
  def exact(v: V): Any = v

  /** Checks on what a replay may move (the upper-bound fields): `control`
    * is the answer without the replay, `replays` how many more times the
    * first wave was delivered, each time in a batch of its own. */
  def upper(control: V, got: V, replays: Int): Seq[(String, Boolean)] = Nil

  /** Every row fed when the first wave comes `replays` more times. */
  def fed(replays: Int): Seq[In] = Seq.fill(replays)(waves.head).flatten ++ waves.flatten

  /** Checks that the first two waves hold what a restart between them
    * must carry (an interval open at the stop, a click a later purchase
    * needs); the restart arm fails on a vacuous split. */
  def restartCases: Seq[(String, Boolean)] = Nil

  def run(sink: (Dataset[Out], Long) => Unit = (_: Dataset[Out], _: Long) => ()): TwinRun[In, Out] =
    new TwinRun[In, Out](name, build, mode, columns, sink = sink)

  /** The uninterrupted run's final answer, made once per twin by whichever
    * arm needs it first. Making it runs the parity checks, so an arm whose
    * control is wrong fails with the parity arm's message. */
  lazy val control: V = feed(restartAt = -1)

  /** Feeds every wave (restarting with wave `restartAt` pending), checks
    * the referee after each wave and the batch twin after the last, and
    * returns the final answer. */
  def feed(restartAt: Int): V = {
    val run = this.run().start()
    try {
      var delivered = Vector.empty[In]
      waves.zipWithIndex.foreach { case (w, i) =>
        if (i == restartAt) run.restart(w) else run.add(w)
        delivered ++= w
        val (got, want) = (view(run), referee(delivered))
        assert(agrees(got, want),
          s"$name wave ${i + 1}: stream ${Twin.show(got)} disagrees with the batch rule ${Twin.show(want)}")
      }
      batch(run).foreach { case (what, stream, batch) =>
        assert(stream == batch, s"$name: $what: stream ${Twin.show(stream)} != batch ${Twin.show(batch)}")
      }
      view(run)
    } finally run.stop()
  }
}

object Twin {
  def show(v: Any): String = {
    val s = String.valueOf(v)
    if (s.length <= 400) s else s.take(400) + s"... (${s.length} chars)"
  }
}

/** The three checks every twin goes through. */
sealed abstract class Arm(val title: String) {
  def check[In, Out](t: Twin[In, Out]): Unit
}

object Arm {

  /** Each wave is checked against the referee, then the stream against
    * the batch operator. */
  case object Parity extends Arm("stream equals the batch rule after each wave") {
    def check[In, Out](t: Twin[In, Out]): Unit = { t.control; () }
  }

  /** The first wave is fed twice while the query runs, then a third time
    * right after a restart from the checkpoint, as an at-least-once
    * source redelivers what it sent before a crash; no delivery may move
    * the exact outputs, and `upper` checks the rest after the last wave. */
  case object Replay extends Arm("a replayed committed wave leaves the exact outputs unchanged") {
    def check[In, Out](t: Twin[In, Out]): Unit = {
      val control = t.control
      val first = t.waves.head
      val run = t.run().start()
      try {
        run.add(first)
        val before = t.exact(t.view(run))
        run.add(first)
        assert(t.exact(t.view(run)) == before, s"${t.name}: the replayed wave moved an exact output")
        run.restart(first)
        assert(t.exact(t.view(run)) == before,
          s"${t.name}: the wave replayed after a restart moved an exact output")
        t.waves.tail.foreach(run.add)
        val got = t.view(run)
        assert(t.exact(got) == t.exact(control),
          s"${t.name}: after the replays the exact outputs differ from the uninterrupted run")
        t.upper(control, got, replays = 2).foreach { case (what, ok) =>
          assert(ok, s"${t.name} under replay: $what")
        }
      } finally run.stop()
    }
  }

  /** The query stops after the first wave and restarts from its
    * checkpoint with the second wave pending; every later check still
    * holds and the end state equals the uninterrupted run's. */
  case object Restart extends Arm("state survives a restart with the next wave pending") {
    def check[In, Out](t: Twin[In, Out]): Unit = {
      t.restartCases.foreach { case (what, ok) => assert(ok, s"${t.name}: the restart never meets $what") }
      val got = t.feed(restartAt = 1)
      assert(got == t.control,
        s"${t.name}: after a restart ${Twin.show(got)} != uninterrupted ${Twin.show(t.control)}")
    }
  }

  val all: Seq[Arm] = Seq(Parity, Replay, Restart)
}

/** A suite that runs, under its own name, the arms [[TwinContracts.homes]]
  * gives it; its other tests are what is particular to its twin. */
abstract class TwinSuite extends SparkSuite {
  TwinContracts.homes.filter(_.suite == getClass).foreach { h =>
    test(h.title)(h.arms.foreach(_.check(h.twin)))
  }
}
