package graft.streaming

import org.apache.spark.util.sketch.CountMinSketch

/** The eleventh batch/stream twin, [[StreamingHeavyHitters]]: the merged
  * per-shard state sketches byte-equal the batch SQL `count_min_sketch(key,
  * eps, confidence, seed)` over the rows delivered, a replay inflates the
  * counters by exactly the wave (estimates stay upper bounds), and a
  * restart continues the same counters — the `HeavyHitters` row of
  * [[TwinContracts]]. */
class StreamingHeavyHittersSpec extends TwinSuite {

  test("every probed estimate lies in [exact, exact + ceil(eps * N)] on the merged stream sketch") {
    val twin = TwinContracts.HeavyHitters
    val delivered = twin.waves.take(2).flatten
    val run = twin.run().start()
    try {
      twin.waves.take(2).foreach(run.add)
      val cms = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(twin.view(run)._1.toArray))
      val n = cms.totalCount()
      assert(n === delivered.size.toLong)
      val slack = math.ceil(StreamingHeavyHitters.Eps * n).toLong
      val exact = delivered.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      // the heavy hitters and a tail key
      ((0L to 4L) ++ Seq(107L)).foreach { k =>
        val e = exact.getOrElse(k, 0L)
        val est = cms.estimateCount(java.lang.Long.valueOf(k))
        assert(est >= e && est <= e + slack, s"key $k: est $est outside [$e, ${e + slack}]")
      }
    } finally run.stop()
  }
}
