package graft.operators

import graft.{SparkSpec, SparkSuite}
import graft.tools.ExchangeBudget

/** The full-surface shuffle gate: every declared query's initial physical
  * plan must not contain more shuffle exchanges than the checked-in
  * budget (`src/test/resources/exchange_budgets.txt`, regenerated via
  * `runMain graft.tools.ExchangeBudget`). Exchanges are THE unit of
  * 100 TB cost — a refactor that silently adds one to any query is a
  * cluster-scale regression the row-level oracle cannot see. Budgets are
  * ceilings: beating one is fine (regenerate to ratchet down); exceeding
  * one fails; a query without a budget row fails (new queries must be
  * censused).
  */
class ExchangeBudgetSpec extends SparkSuite {

  private lazy val budgets: Map[String, Int] = {
    val src = scala.io.Source.fromResource("exchange_budgets.txt")
    try src.getLines()
      .map(_.trim).filter(_.nonEmpty)
      .map(l => if (l.startsWith("BUDGET ")) l.drop(7) else l) // unstripped tool output
      .map(_.split(' '))
      .collect { case Array(n, c) if c.forall(_.isDigit) => n -> c.toInt } // skip ERR lines
      .toMap
    finally src.close()
  }

  /** The same walk checks checkpoint ownership: `SparkEntry.run` must
    * leave behind only the shared tables a query newly built (one
    * persistent RDD each, counted as `sharedBuildSeconds` keys whose
    * cumulative build time grew), and `releaseShared` must take the
    * session back to where the walk started. */
  test("every declared query stays within its shuffle-exchange budget") {
    val over = scala.collection.mutable.ArrayBuffer.empty[String]
    val leftBehind = scala.collection.mutable.ArrayBuffer.empty[String]
    def persistent = spark.sparkContext.getPersistentRDDs.size
    Checkpoints.releaseShared()
    val start = persistent
    graft.SparkEntry.select(None).foreach { name =>
      val (before, builds) = (persistent, Checkpoints.sharedBuildSeconds)
      val planned =
        try Right(graft.SparkEntry.run(spark, name, SparkSpec.sf0001)(
          _.queryExecution.executedPlan.toString))
        catch { case e: Throwable => Left(String.valueOf(e.getMessage).take(120)) }
      val built = Checkpoints.sharedBuildSeconds.count { case (k, t) => t > builds.getOrElse(k, 0.0) }
      if (persistent - before > built)
        leftBehind += s"$name: ${persistent - before} persistent RDDs, $built shared tables built"
      planned match {
        case Left(err) => over += s"$name: planning failed: $err"
        case Right(plan) =>
          val n = ExchangeBudget.countShuffles(plan)
          budgets.get(name) match {
            case None => over += s"$name: no budget row (census it: runMain graft.tools.ExchangeBudget)"
            case Some(b) if n > b => over += s"$name: $n shuffles > budget $b"
            case _ => ()
          }
      }
    }
    Checkpoints.releaseShared()
    assert(over.isEmpty, s"shuffle regressions:\n${over.mkString("\n")}")
    assert(leftBehind.isEmpty, s"queries left checkpoints behind:\n${leftBehind.mkString("\n")}")
    assert(persistent == start, s"releaseShared left ${persistent - start} persistent RDDs")
  }
}
