package graft.operators

import graft.SparkSuite

/** Proves `a_compaction_bins`' plan is EXECUTABLE (round-13 verdict item
  * 6): `executeCompactionMonth` rewrites one partition-month into
  * target-sized files and the produced layout must reproduce the plan —
  * one data file per planned bin, and per bin the rewritten rows
  * re-aggregate to the plan's n_files / bin_bytes / first_file /
  * last_file under the planner's deterministic size model. */
class CompactionExecuteSpec extends SparkSuite {

  test("executed rewrite reproduces the plan for one partition-month") {
    import org.apache.spark.sql.functions._
    // sf0.01: the busiest months pack 4 bins — sf0.001 fits every month
    // in one bin, which would not exercise the packing boundary at all
    val dir = "/root/testdata/sf0.01"
    val plan = AnalyticsOps.aCompactionBins(spark, dir).collect()
    assert(plan.nonEmpty)
    // pick the month with the most bins so the test exercises real packing
    val month = plan.groupBy(_.getDate(0)).maxBy(_._2.length)._1.toString
    val monthPlan = plan.filter(_.getDate(0).toString == month)
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(monthPlan.size >= 2, s"month $month must need more than one rewrite bin")

    val out = graft.SparkSpec.tempDir("compact-exec").toString
    val nBins = AnalyticsOps.executeCompactionMonth(spark, dir, month, out)
    assert(nBins === monthPlan.size.toLong, "executor must produce the planned bin count")

    // layout: exactly one data file per planned bin directory
    val binDirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("bin="))
    assert(binDirs.map(_.getName.stripPrefix("bin=").toLong).sorted.toSeq ===
      monthPlan.keys.toSeq.sorted, "one bin directory per planned bin")
    binDirs.foreach { d =>
      val data = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(data.length === 1,
        s"${d.getName}: a compacted bin must be ONE file, found ${data.length}")
    }

    // contents: each produced file re-aggregates to the plan's row
    // directory-inferred partition column comes back as INT — normalize
    val got = spark.read.parquet(out)
      .groupBy(col("bin").cast("long").as("bin"))
      .agg(
        countDistinct(expr("l_orderkey DIV 400")).as("n_files"),
        expr("count(*) * 64 + sum(CAST(l_quantity AS BIGINT)) * 8").as("bin_bytes"),
        min(expr("l_orderkey DIV 400")).as("first_file"),
        max(expr("l_orderkey DIV 400")).as("last_file"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got === monthPlan,
      "rewritten bins must reproduce the plan's n_files/bin_bytes/first_file/last_file")

    // and no planned byte went missing: total rewritten rows == month's rows
    val monthRows = graft.Tables.load(spark, dir, "lineitem")
      .where(expr(s"date_trunc('month', l_shipdate) = DATE'$month'")).count()
    assert(spark.read.parquet(out).count() === monthRows)
  }

  test("an empty month fails loudly, not with an NPE from a null max(bin)") {
    val out = graft.SparkSpec.tempDir("graft-compact-empty").toString
    val e = intercept[IllegalArgumentException] {
      graft.operators.AnalyticsOps.executeCompactionMonth(
        spark, graft.SparkSpec.sf0001, "1899-01-01", out)
    }
    assert(e.getMessage.contains("no lineitem rows in month 1899-01-01"),
      s"expected the explicit empty-month message, got: ${e.getMessage}")
  }
}
