package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: enables the engine's native
  * expressions (simhash64 among them) cluster-wide with
  * `--conf spark.sql.extensions=graft.GraftExtensions` — no driver-side
  * `registerAll` call needed. Only the `kpl_aggregate` UDAF still
  * registers per session, via
  * [[graft.functions.GraftFunctions.registerAll]], since UDF registration
  * requires a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "4.1.2", "", "scala_udf")

  override def apply(ext: SparkSessionExtensions): Unit =
    org.apache.spark.sql.graft.GraftBuilders.all.foreach { case (name, builder, usage) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
}
