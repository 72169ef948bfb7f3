package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe for graft's driver-side mains (Bench, Verify,
  * StreamBench, the `graft.tools` mains) and the test suites.
  *
  * Five settings are part of the correctness contract, not tuning:
  *  - `spark.sql.shuffle.partitions` = cpus, one per core;
  *  - `spark.sql.session.timeZone=UTC`: [[Tables.instantColumn]] and
  *    [[Tables.tusColumn]] reinterpret NTZ and nanos instants as UTC, which
  *    is how DuckDB reads the same files;
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`: keeps the INT64-nanos
  *    generation of `events.parquet` readable (as BIGINT);
  *  - the warehouse dir under /tmp, and the UI off.
  *
  * A `local-cluster[n,c,mem]` master also gets what spark-submit would
  * otherwise inject into the executors' fresh JVMs: the launching JVM's
  * classpath, [[addOpens]], and executor memory equal to the worker's
  * `mem` MB, so an executor always fits its worker. `SPARK_GRAFT_CONF=
  * "k=v;k2=v2"` is applied last and overrides any of these, so
  * deployment-dependent settings (shuffle codec, join strategy, AQE
  * sizing, the event log) stay out of the code.
  *
  * graft.Main keeps its own builder: spark-submit supplies its master, and
  * its settings face deployment. */
object GraftSession {

  /** The JDK-17 `--add-opens` set Spark 4 executors need when launched
    * outside spark-submit (mirrors
    * `org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions`,
    * same list as build.sbt's forked-test javaOptions). */
  val addOpens: String = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")

  /** Spark's own pattern for the master (SparkContext.LOCAL_CLUSTER_REGEX). */
  private val LocalCluster = """local-cluster\[\s*([0-9]+)\s*,\s*([0-9]+)\s*,\s*([0-9]+)\s*\]""".r

  /** `SPARK_GRAFT_CPUS`, default all cores. */
  def cpus(env: Map[String, String] = sys.env): String =
    env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)

  /** `SPARK_GRAFT_MASTER`, default `local[cpus]`. */
  def master(env: Map[String, String] = sys.env): String =
    env.getOrElse("SPARK_GRAFT_MASTER", s"local[${cpus(env)}]")

  /** The session settings in the order they are applied (a later key
    * wins): the five batch settings, the local-cluster executor wiring,
    * the caller's `extra`, then `SPARK_GRAFT_CONF` from `env`. */
  def settings(master: String, cpus: String, env: Map[String, String],
               extra: Seq[(String, String)] = Nil): Seq[(String, String)] = {
    val batch = Seq(
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.warehouse.dir" -> "/tmp/graft-warehouse",
      "spark.ui.enabled" -> "false")
    val executors = master match {
      case LocalCluster(_, _, mem) => Seq(
        "spark.executor.memory" -> s"${mem}m",
        "spark.executor.extraClassPath" -> System.getProperty("java.class.path"),
        "spark.executor.extraJavaOptions" -> addOpens)
      case _ => Nil
    }
    val passThrough = env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';')).filter(_.contains('=')).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k.trim -> v.trim
      }
    batch ++ executors ++ extra ++ passThrough
  }

  /** A session on `master` with [[settings]] from the process env. */
  def apply(master: String, cpus: String, extra: (String, String)*): SparkSession =
    settings(master, cpus, sys.env, extra)
      .foldLeft(SparkSession.builder().master(master)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()

  /** A session on `SPARK_GRAFT_MASTER` with `SPARK_GRAFT_CPUS` partitions. */
  def fromEnv(): SparkSession = apply(master(), cpus())
}
