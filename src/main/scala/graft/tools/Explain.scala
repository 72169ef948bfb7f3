package graft.tools

/** Plan inspector: `sbt "runMain graft.tools.Explain <query|ALL> [sfDir]"`
  * prints explain("formatted") for SparkEntry queries — the loop used to
  * iterate on physical plans (broadcasts, pushed filters, codegen spans)
  * before accepting an operator as scale-ready.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("ALL")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    // local[4]: the shape the checked-in exchange census is pinned at
    val spark = graft.GraftSession("local[4]", "4")
    spark.sparkContext.setLogLevel("ERROR")
    // ALL, or comma-separated names
    graft.SparkEntry.select(Some(name).filter(_ != "ALL")).foreach { n =>
      println(s"\n===== $n =====")
      try graft.SparkEntry.run(spark, n, sfDir)(_.explain("formatted"))
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
