package graft.tools

/** Shuffle-exchange census: `sbt "runMain graft.tools.ExchangeBudget [sfDir]"`
  * prints one `BUDGET name count` line per declared query — the number of
  * SHUFFLE exchanges (hash/range/single-partition/round-robin; broadcasts
  * excluded) in the initial physical plan at the given scale. Regenerate
  * the checked-in census with:
  * {{{
  *   java -cp "target/scala-2.13/classes:<spark-jars-glob>" \
  *     graft.tools.ExchangeBudget 2>/dev/null | grep '^BUDGET ' \
  *     | sed 's,^BUDGET ,,' | sort > src/test/resources/exchange_budgets.txt
  * }}}
  * (spark-jars-glob = every jar under /opt/spark/jars — a literal glob
  * can't appear in this comment)
  * (the spec also tolerates unstripped `BUDGET`-prefixed lines and skips
  * ERR lines). That file is the source of truth, which
  * `ExchangeBudgetSpec` enforces as a per-query ceiling: a code change
  * that silently adds a shuffle to ANY of the declared queries fails the
  * suite. Regenerate (and review the diff!) when adding queries or
  * deliberately re-planning one.
  */
object ExchangeBudget {

  /** Shuffle exchanges only — `BroadcastExchange` is deliberately not
    * counted (broadcasts are the cheap alternative the gate encourages). */
  def countShuffles(plan: String): Int =
    plan.linesIterator.count { l =>
      val t = l.dropWhile(c => !c.isLetter)
      t.startsWith("Exchange ")
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // local[4] with 4 shuffle partitions: the shape the census is pinned at
    val spark = graft.GraftSession("local[4]", "4")
    spark.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.select(None).foreach { n =>
      try {
        val plan = graft.SparkEntry.run(spark, n, sfDir)(_.queryExecution.executedPlan.toString)
        println(s"BUDGET $n ${countShuffles(plan)}")
      } catch { case e: Throwable =>
        println(s"BUDGET $n ERR ${String.valueOf(e.getMessage).take(80)}") }
    }
    spark.stop()
  }
}
