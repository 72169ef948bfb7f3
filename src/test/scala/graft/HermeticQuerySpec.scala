package graft

import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.Checkpoints

/** Queries reached through `SparkEntry.queries` are hermetic: each is built
  * in its own clone of the caller's session, so two queries sharing one
  * session (two threads, two scale dirs) cannot bind each other's temp
  * views or free each other's checkpoints, while a shared table one query
  * built still serves the next. */
class HermeticQuerySpec extends SparkSuite {

  private val sf001 = "/root/testdata/sf0.01"

  private def run(name: String, dir: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  private def rows(name: String, dir: String): Seq[Row] =
    SparkEntry.run(spark, name, dir)(_.collect().toSeq)

  test("h_mmr_diversify at two scale dirs from two threads on one session gets the sequential results") {
    val expected = Seq(SparkSpec.sf0001, sf001).map(d => d -> rows("h_mmr_diversify", d)).toMap
    assert(expected.values.forall(_.nonEmpty))
    assert(expected(SparkSpec.sf0001) != expected(sf001))
    for (round <- 1 to 3) {
      val start = new java.util.concurrent.CountDownLatch(1)
      val got = new java.util.concurrent.ConcurrentHashMap[String, Either[Throwable, Seq[Row]]]
      val threads = expected.keys.toSeq.map { dir =>
        val t = new Thread(() => {
          start.await()
          got.put(dir,
            try Right(rows("h_mmr_diversify", dir))
            catch { case e: Throwable => Left(e) })
        })
        t.start(); t
      }
      start.countDown()
      threads.foreach(_.join())
      expected.foreach { case (dir, want) =>
        assert(got.get(dir) == Right(want), s"round $round, $dir")
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

  test("a query run through SparkEntry.run leaves the checkpoints of a query built before it alone") {
    val expected = rows("h_rank_convergence", SparkSpec.sf0001)
    val first = run("h_rank_convergence", SparkSpec.sf0001)
    try {
      assert(rows("h_mmr_diversify", SparkSpec.sf0001).nonEmpty)
      assert(first.collect().toSeq == expected)
    } finally Checkpoints.releaseSession(first.sparkSession)
  }
}
