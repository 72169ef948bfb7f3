package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

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

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]

  // Hadoop runs shutdown hooks by priority, highest first. Spark stops its
  // contexts and streaming queries at 40, so at 20 nothing writes to the
  // dirs any more.
  org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
    () => tempDirs.forEach { d =>
      if (Files.exists(d)) scala.util.Using.resource(Files.walk(d)) {
        _.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      }
    }, 20)

  /** Runs `check` until it returns without throwing and returns its
    * result; after `timeoutMs` the last failure is rethrown. */
  def eventually[T](timeoutMs: Long, pollMs: Long = 100L)(check: => T): T = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var last: Throwable = null
    while (System.nanoTime() < deadline) {
      try return check
      catch { case t: Throwable => last = t; Thread.sleep(pollMs) }
    }
    throw last
  }

  /** A new temp dir, deleted with everything in it when the JVM exits. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
}
