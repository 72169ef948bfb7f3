package graft

import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.Checkpoints

/** Queries reached through `SparkEntry.queries` are hermetic: each is built
  * in its own clone of the caller's session, so two queries sharing one
  * session (two threads, two scale dirs) cannot bind each other's temp
  * views, while a shared table one query built still serves the next. */
class HermeticQuerySpec extends SparkSuite {

  private val sf001 = "/root/testdata/sf0.01"

  private def run(name: String, dir: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  test("h_mmr_diversify at two scale dirs from two threads on one session gets the sequential results") {
    def collect(dir: String): Seq[Row] =
      try run("h_mmr_diversify", dir).collect().toSeq finally Checkpoints.releaseAll()
    val expected = Seq(SparkSpec.sf0001, sf001).map(d => d -> collect(d)).toMap
    assert(expected.values.forall(_.nonEmpty))
    assert(expected(SparkSpec.sf0001) != expected(sf001))
    for (round <- 1 to 3) {
      val start = new java.util.concurrent.CountDownLatch(1)
      val got = new java.util.concurrent.ConcurrentHashMap[String, Either[Throwable, Seq[Row]]]
      val threads = expected.keys.toSeq.map { dir =>
        val t = new Thread(() => {
          start.await()
          got.put(dir,
            try Right(run("h_mmr_diversify", dir).collect().toSeq)
            catch { case e: Throwable => Left(e) })
        })
        t.start(); t
      }
      start.countDown()
      threads.foreach(_.join())
      Checkpoints.releaseAll()
      expected.foreach { case (dir, rows) =>
        assert(got.get(dir) == Right(rows), s"round $round, $dir")
      }
    }
  }

  test("h_rank_convergence builds coSupplyPairs once per dir and returns a frame of its own clone") {
    val key = s"coSupplyPairs:${SparkSpec.sf0001}"
    Checkpoints.releaseShared()
    def built = Checkpoints.sharedBuildSeconds.getOrElse(key, 0.0)
    val before = built
    val first = run("h_rank_convergence", SparkSpec.sf0001)
    val rows1 = try first.collect().toSeq finally Checkpoints.releaseAll()
    val afterFirst = built
    assert(afterFirst > before, "the first run builds the shared table")
    val second = run("h_rank_convergence", SparkSpec.sf0001)
    val rows2 = try second.collect().toSeq finally Checkpoints.releaseAll()
    assert(built == afterFirst, "the second run reuses the shared table")
    assert(rows2 == rows1)
    val s2 = second.sparkSession
    assert((s2 ne spark) && (s2 ne first.sparkSession))
    assert((s2.sparkContext eq spark.sparkContext) && (s2.sharedState eq spark.sharedState))
    assert(s2.conf.get("spark.sql.session.timeZone") == "UTC")
  }
}
