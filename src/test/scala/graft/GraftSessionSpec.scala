package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The session settings contract, checked on [[GraftSession.settings]]
  * without starting Spark, and the guard that keeps it the only copy. */
class GraftSessionSpec extends AnyFunSuite {

  private def conf(master: String, env: Map[String, String] = Map.empty): Map[String, String] =
    GraftSession.settings(master, "4", env).toMap

  private val executorKeys = Set(
    "spark.executor.memory", "spark.executor.extraClassPath", "spark.executor.extraJavaOptions")

  test("every local and local-cluster master gets the batch settings") {
    for (m <- Seq("local", "local[1]", "local[4]", "local[*]", "local-cluster[2,1,1024]",
                  "local-cluster[2,8,6144]")) {
      val c = conf(m)
      assert(c("spark.sql.shuffle.partitions") == "4", m)
      assert(c("spark.sql.session.timeZone") == "UTC", m)
      assert(c("spark.sql.legacy.parquet.nanosAsLong") == "true", m)
      assert(c("spark.sql.warehouse.dir") == "/tmp/graft-warehouse", m)
      assert(c("spark.ui.enabled") == "false", m)
    }
  }

  test("SPARK_GRAFT_CONF is applied last and overrides a default") {
    val env = Map("SPARK_GRAFT_CONF" ->
      "spark.sql.shuffle.partitions=64; spark.eventLog.enabled = true;junk")
    val settings = GraftSession.settings("local[4]", "4", env,
      extra = Seq("spark.sql.shuffle.partitions" -> "8"))
    val c = settings.toMap
    assert(c("spark.sql.shuffle.partitions") == "64")
    assert(c("spark.eventLog.enabled") == "true")
    assert(settings.last == ("spark.eventLog.enabled" -> "true"))
  }

  test("local-cluster[2,8,6144] gets 6144m executors, the full classpath and the add-opens") {
    val c = conf("local-cluster[2,8,6144]")
    assert(c("spark.executor.memory") == "6144m")
    assert(c("spark.executor.extraClassPath") == System.getProperty("java.class.path"))
    assert(c("spark.executor.extraJavaOptions") == GraftSession.addOpens)
    assert(GraftSession.addOpens.contains("--add-opens java.base/sun.nio.ch=ALL-UNNAMED"))
    assert(conf("local-cluster[2, 1, 1024]")("spark.executor.memory") == "1024m")
  }

  test("plain local[n] gets none of the executor wiring") {
    for (m <- Seq("local", "local[4]", "local[*]"))
      assert((conf(m).keySet & executorKeys).isEmpty, m)
  }

  test("SPARK_GRAFT_MASTER and SPARK_GRAFT_CPUS defaults") {
    assert(GraftSession.master(Map("SPARK_GRAFT_CPUS" -> "3")) == "local[3]")
    assert(GraftSession.master(Map("SPARK_GRAFT_MASTER" -> "local-cluster[2,1,1024]",
      "SPARK_GRAFT_CPUS" -> "3")) == "local-cluster[2,1,1024]")
    assert(GraftSession.cpus(Map.empty) == Runtime.getRuntime.availableProcessors().toString)
  }

  test("SparkSession.builder appears in src/main only in GraftSession.scala and Main.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), "run from the repository root")
    val walk = Files.walk(root)
    val builders =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains("SparkSession.builder"))
        .map(p => root.relativize(p).toString).toSet
      finally walk.close()
    assert(builders == Set("graft/GraftSession.scala", "graft/Main.scala"))
  }
}
