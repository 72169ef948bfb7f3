package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge

import graft.functions.GraftFunctions
import graft.operators.{AnalyticsOps, Checkpoints, CorpusOps, FormatOps, GovernanceOps, LlmOps, Multimodal, PipelineQueries, ProfileOps, RelationalQueries, ScaleOps, TrainingOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps each declared operator from SURVEY.md §2 to a runnable
  * DataFrame program over one scale-factor directory; `oracleSql` holds the
  * DuckDB-equivalent SQL the driver hash-compares against (omitted only for
  * ops DuckDB can't express — those get a rows-only check).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.q1Pricing(spark, "/root/testdata/sf0.001")

  /** Every declared query, built in the session it is given. */
  private def declared: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++ PipelineQueries.queries ++ LlmOps.queries ++
      Multimodal.queries ++ FormatOps.queries ++ ScaleOps.queries ++
      TrainingOps.queries ++ AnalyticsOps.queries ++ GovernanceOps.queries ++
      CorpusOps.queries ++ ProfileOps.queries

  /** One entry per implemented operator from SURVEY.md §2. Each runs in
    * its own [[querySession]] of the caller's session; the checkpoints it
    * registers there stay until `Checkpoints.releaseAll`. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map { case (name, f) =>
      name -> ((s: SparkSession, dir: String) => f(querySession(s), dir))
    }

  /** Build query `name` over `dir` in its own [[querySession]] of `spark`,
    * run `action` on it, then release the checkpoints that clone
    * registered — and nothing else, so a query another caller built in
    * the same session keeps its blocks. Shared tables stay (see
    * `Checkpoints.sharedTable`). */
  def run[A](spark: SparkSession, name: String, dir: String)(action: DataFrame => A): A = {
    val s = querySession(spark)
    try action(declared(name)(s, dir)) finally Checkpoints.releaseSession(s)
  }

  /** The session one query is built in: a clone of `s`, after the engine's
    * functions are registered in `s` (once per session). The query's temp
    * views stay in the clone, so queries sharing `s` (two threads, two
    * scale dirs) cannot bind each other's tables; the clone keeps `s`'s
    * runtime conf, functions and query-execution listeners. */
  def querySession(s: SparkSession): SparkSession = {
    GraftFunctions.registerAll(s)
    Bridge.cloneSession(s)
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracle ++ PipelineQueries.oracle ++ LlmOps.oracle ++
      Multimodal.oracle ++ FormatOps.oracle ++ ScaleOps.oracle ++
      TrainingOps.oracle ++ AnalyticsOps.oracleSql ++ GovernanceOps.oracleSql ++
      CorpusOps.oracle ++ ProfileOps.oracle

  /** The sorted names of the queries a comma-separated name filter
    * selects, all of them when there is none. Unknown names are reported
    * once on stderr: a misspelled name would otherwise select nothing and
    * make an empty run look successful. */
  def select(filter: Option[String]): Seq[String] = {
    val all = declared.keySet
    filter.map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet).fold(all) { names =>
      val unknown = names -- all
      if (unknown.nonEmpty)
        Console.err.println(s"[graft] WARNING: unknown query names: ${unknown.toSeq.sorted.mkString(",")}")
      names & all
    }.toSeq.sorted
  }
}
