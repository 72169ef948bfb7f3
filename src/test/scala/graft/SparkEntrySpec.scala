package graft

/** The driver contract itself: `entry` must return rows (the driver's
  * smoke check), every query must have either an oracle or a documented
  * reason not to, and the two maps must stay key-consistent. */
class SparkEntrySpec extends SparkSuite {

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key names a declared query, and every query has an oracle") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert((os -- qs).isEmpty, s"oracles without queries: ${(os -- qs).toSeq.sorted}")
    // the whole declared surface is DuckDB-checkable today; if a future
    // non-SQL-expressible op breaks this, document it here and relax
    assert((qs -- os).isEmpty, s"queries without oracles: ${(qs -- os).toSeq.sorted}")
  }

  test("select keeps the known names and warns once about the misspelled one") {
    val err = new java.io.ByteArrayOutputStream
    val picked = Console.withErr(err)(SparkEntry.select(Some("q1_pricing,q1_pricnig")))
    assert(picked == Seq("q1_pricing"))
    val warnings = err.toString("UTF-8").linesIterator.toList
    assert(warnings == List("[graft] WARNING: unknown query names: q1_pricnig"))
    assert(SparkEntry.select(None) == SparkEntry.queries.keySet.toSeq.sorted)
  }
}
