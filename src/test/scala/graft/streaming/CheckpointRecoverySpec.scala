package graft.streaming

import java.sql.Timestamp

import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.OutputMode

/** The crash-recovery contract: a twin's operational claim is a
  * state-resident standing index, and that claim only holds if the index
  * survives a restart. Each twin test here is the restart [[Arm]] of its
  * [[TwinContracts]] row (stop after the first wave, start a new query
  * from the same RocksDB checkpoint with the next wave pending, and end
  * where the uninterrupted run ends); the StreamPipeline tests give the
  * reference pipeline's own dedup the same contract. This is the
  * Structured-Streaming analogue of the reference's crash posture: NSQ
  * redelivers un-FINed messages after `MsgTimeout` (main.go:66) and the
  * writer requeues on failure (kinesis_writer.go:114-127) — state that
  * forgets across a restart would silently re-admit, re-emit, or
  * under-count everything in flight at the crash. */
class CheckpointRecoverySpec extends TwinSuite {

  private def msg(i: Int, body: String): Msg =
    Msg(f"$i%016d", new Timestamp(1700000000000L + i), 1, body.getBytes("UTF-8"))

  private def pipeline(build: DataFrame => DataFrame) =
    new TwinRun[Msg, Row]("recover-pipeline", build, OutputMode.Append())(Encoders.product[Msg])

  private def ids(rows: Seq[Row]): Seq[String] = rows.map(_.getAs[String]("id"))

  test("StreamPipeline watermark dedup: dedup state survives restart — replayed bodies stay suppressed") {
    // operator O3 (the reference pipeline's own dedup, dropDuplicatesWithin
    // Watermark) gets the same restart contract as the stateful twins: the
    // NSQ crash posture redelivers un-FINed messages after MsgTimeout
    // (main.go:66), and those redeliveries can land AFTER a restart — a
    // forgotten dedup state would double-deliver everything in flight.
    // The first query writes the checkpoint at 32 shuffle partitions and
    // the second restarts it from a session set to 4: the checkpoint's
    // count must win, so a graft.Main checkpoint keeps the state-partition
    // count it started with when the cluster's core count changes.
    // It runs twice: a checkpoint written through Hadoop's stock LocalFs
    // restarts through NoForkLocalFs, and the other way round. ChecksumFs
    // verifies every .crc sidecar it reads, so a sidecar one filesystem
    // wrote and the other cannot read fails the restart.
    val stock = classOf[LocalFs].getName
    val nofork = classOf[NoForkLocalFs].getName
    Seq(stock -> nofork, nofork -> stock).foreach { case (before, after) =>
      pipelineRestart(before, after)
    }
  }

  private def pipelineRestart(q1Fs: String, q2Fs: String): Unit = {
    val wave1 = Seq(msg(1, "pa"), msg(2, "pb"))
    val fresh = msg(3, "pc")
    val run = pipeline(StreamPipeline.transform)

    def statePartitions: Seq[Int] =
      run.progress.flatMap(_.stateOperators).map(_.numShufflePartitions.toInt)
    // the session's Hadoop conf, which the checkpoint's logs and the state
    // store tasks are built from, takes every session conf key verbatim
    val fileFs = "fs.AbstractFileSystem.file.impl"
    // the offset log goes through FileContext whichever state store runs
    // (a twin earlier in this suite leaves the session on RocksDB, whose
    // SST uploads use Hadoop's FileSystem API, not FileContext)
    def forks(starts: Seq[ProcessStarts.Start]): Seq[String] =
      ProcessStarts.forksOn(s"${run.checkpoint}/offsets", starts)
    def checkFs(fs: String, starts: Seq[ProcessStarts.Start]): Unit =
      if (fs == classOf[NoForkLocalFs].getName) assert(forks(starts).isEmpty, s"$fs forked")
      else assert(NativeIO.isAvailable || forks(starts).nonEmpty, s"$fs did not run")
    val shufflePartitions = "spark.sql.shuffle.partitions"
    val sessionPartitions = spark.conf.get(shufflePartitions)
    try {
      spark.conf.set(shufflePartitions, 32L)
      spark.conf.set(fileFs, q1Fs)
      val (preRestartMax, q1Starts) = ProcessStarts.during {
        try {
          run.start().add(wave1)
          assert(run.emitted.size === 2, "first wave emitted")
          assert(statePartitions.toSet === Set(32))
          run.marks.last
        } finally run.stop()
      }
      checkFs(q1Fs, q1Starts)

      spark.conf.set(shufflePartitions, 4L)
      spark.conf.set(fileFs, q2Fs)
      val (_, q2Starts) = ProcessStarts.during {
        try {
          // post-restart redelivery + one new body
          run.start().add(wave1 :+ fresh)
          val postRestart = ids(run.batchesAfter(preRestartMax))
          assert(postRestart === Seq(fresh.id),
            s"replayed bodies must stay suppressed by the RECOVERED dedup state, got $postRestart")
          val restored = statePartitions
          assert(restored.nonEmpty && restored.forall(_ == 32),
            s"the restart must keep the checkpoint's 32 state partitions, got $restored")
        } finally run.stop()
      }
      checkFs(q2Fs, q2Starts)
    } finally {
      spark.conf.set(shufflePartitions, sessionPartitions)
      spark.conf.unset(fileFs)
    }
  }

  test("StreamPipeline dedup state written with a key column restarts without it — replays stay suppressed") {
    // existing graft.Main checkpoints were written by a plan that carried a
    // null `key STRING` column through the dedup, and must restart on the
    // plan without it: the dedup state is keyed on body_hash alone, so the
    // column changes no state schema
    val wave1 = Seq(msg(1, "ka"), msg(2, "kb"))
    val fresh = msg(3, "kc")
    var keyed = true
    val run = pipeline(in =>
      StreamPipeline.transform(if (keyed) in.withColumn("key", lit(null).cast("string")) else in))

    val preRestartMax =
      try {
        run.start().add(wave1)
        assert(run.emitted.size === 2, "first wave emitted")
        assert(run.emitted.forall(_.schema.fieldNames.contains("key")))
        run.marks.last
      } finally run.stop()

    keyed = false
    try {
      // post-restart redelivery + one new body
      run.start().add(wave1 :+ fresh)
      val postRestart = ids(run.batchesAfter(preRestartMax))
      assert(postRestart === Seq(fresh.id),
        s"replayed bodies must stay suppressed by the key-column run's dedup state, got $postRestart")
    } finally run.stop()
  }
}
