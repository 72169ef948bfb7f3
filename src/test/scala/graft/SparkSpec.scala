package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all Spark-backed suites (one JVM-wide session —
  * startup is ~4 s, so suites must not create their own). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession("local[4]", "4", graft.streaming.NoForkLocalFs.SessionConf.toSeq: _*)
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.registerAll(s)
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
}
