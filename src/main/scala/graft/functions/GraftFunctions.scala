package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Bridge, Fnv64aExpr}

/** Column-API facade + SQL registration for the engine's custom functions.
  *
  * Scala callers use the typed functions; SQL callers get the same names via
  * [[registerAll]] (idempotent, safe to call per-session), which
  * `SparkEntry.querySession` calls before cloning a query's session.
  */
object GraftFunctions {

  /** FNV-64a of a binary/string column, as BIGINT (native codegen expr). */
  def fnv64a(c: Column): Column = Bridge.column(Fnv64aExpr(Bridge.expression(c)))

  /** The reference's partition-key rendering of the hash: lowercase hex,
    * no leading zeros (Go `%x`, aggregator.go:30). Java's `%x` prints a
    * `long` as unsigned, as `Fnv64a.hex` does. */
  def fnv64aHex(c: Column): Column = format_string("%x", fnv64a(c))

  /** Reference partition-key rule (aggregator.go:124-130): caller key when
    * 1–255 chars, else body-hash hex. The batch form; the streaming
    * pipeline leaves the key to `KplPacker.put`, which applies the same rule. */
  def partitionKey(body: Column, key: Column): Column =
    when(key.isNotNull && length(key).between(1, 255), key).otherwise(fnv64aHex(body))

  /** Sessions already registered — re-registration is correct but spams
    * "replaced a previously registered function" warnings from every query
    * helper, so guard once per session instance. Weak keys: the guard must
    * not pin stopped sessions in memory. */
  private val registered =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]))

  def registerAll(spark: SparkSession): Unit = {
    if (!registered.add(spark)) return
    // native expressions: same builders the GraftExtensions entry point uses
    org.apache.spark.sql.graft.GraftBuilders.all.foreach { case (name, builder, _) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
    }
    spark.udf.register("kpl_aggregate", udaf(KplFunctions.KplAggregateAgg))
  }
}
