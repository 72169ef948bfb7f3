package graft.streaming

/** The tenth twin, [[StreamingSimJoin]]: the streaming prefix-filter join
  * emits exactly the batch `h_simjoin_prefix` pair set (same pairs, same
  * exact `jac_milli`) whatever the micro-batch chunking, arrival order, a
  * replayed wave or a restart from the same RocksDB checkpoint mid-corpus —
  * the `SimJoin` row of [[TwinContracts]]. Retention is particular to it. */
class StreamingSimJoinSpec extends TwinSuite {

  test("retention contract: expired enrollments stop matching; in-window pairs still emit") {
    def doc(seed: Int): String = (0 until 30).map(i => s"r${seed}_${(i * 7) % 97}").mkString(" ")
    val a = 10L -> doc(10)
    val b = 11L -> doc(10).split(" ").drop(1).mkString(" ") // near-dup of a
    val c = 20L -> doc(20)
    val d = 21L -> doc(20).split(" ").drop(1).mkString(" ") // near-dup of c

    val retentionMs = 2000L
    val twin = TwinContracts.SimJoin
    val run = new TwinRun[(Long, String), StreamingSimJoin.SimPair]("simjoin-ttl",
      StreamingSimJoin(_, retentionMs), twin.mode, twin.columns, deadlineMs = 90000L)(twin.enc).start()
    try {
      // a is processed (its enrollment timestamped) once its wave commits;
      // the retention window then lapses with margin before b arrives
      run.add(Seq(a))
      Thread.sleep(retentionMs + 4000L)
      run.add(Seq(b))
      // control pair INSIDE the window: both docs in one micro-batch
      run.add(Seq(c, d))
      // any (wrong) late (10, 11) emission had its batches to surface
      val got = run.emitted.map(p => (p.a_id, p.b_id)).toSet
      assert(!got.contains((10L, 11L)),
        "a pair straddling the retention window emitted — TTL'd enrollments must expire " +
          "(that pair is the declared job of the batch h_simjoin_prefix repair)")
      assert(got.contains((20L, 21L)), "the in-window pair must still emit under TTL")
    } finally run.stop()
  }
}
