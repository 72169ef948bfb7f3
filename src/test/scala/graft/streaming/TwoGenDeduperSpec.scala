package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSuite

/** [[TwoGenDeduper]]'s rotation; its replay and restart arms are the
  * `TwoGen` row of [[TwinContracts]]. */
class TwoGenDeduperSpec extends SparkSuite {

  private def msg(i: Int, body: String): Msg =
    Msg(f"$i%016d", new Timestamp(1000000000L + i), 1, body.getBytes("UTF-8"))

  test("exact two-generation dedup: within-batch dupes dropped, key re-admitted after 2 rotations") {
    // generous rotation: under full-suite load a batch can take >1 s to
    // schedule, and a rotation crossing mid-phase breaks the scenario
    val rotationMs = 6000L
    val run = new TwinRun[Msg, TwoGenDeduper.DedupRow]("twogen", TwoGenDeduper(_, rotationMs = rotationMs),
      OutputMode.Append())(Encoders.product[Msg]).start()
    try {
      // batch 1: a, a, b  ->  a, b   (op-string "aa"+"b" semantics)
      run.add(Seq(msg(1, "a"), msg(2, "a"), msg(3, "b")))
      assert(run.emitted.size === 2, "within-batch duplicate must be dropped")

      // immediate redelivery: still within generation -> dropped ("aa")
      run.add(Seq(msg(4, "a")))
      assert(run.emitted.size === 2)

      // wait 2 full rotations without re-seeing 'a' -> "a##a" readmits
      Thread.sleep(2 * rotationMs + 1500L)
      run.add(Seq(msg(5, "a")))
      assert(run.emitted.size === 3, "key must age out after 2 rotations")
    } finally run.stop()
  }
}
