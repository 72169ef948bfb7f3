package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.kernel.Fnv64a

class GraftFunctionsSpec extends SparkSuite {
  import GraftFunctions._

  test("fnv64a expression matches the kernel on binary and string input") {
    import spark.implicits._
    val df = Seq("hello", "world", "", "a").toDF("s")
      .withColumn("b", encode(col("s"), "UTF-8"))
      .select(col("s"), fnv64a(col("s")).as("hs"), fnv64a(col("b")).as("hb"))
    df.collect().foreach { case Row(s: String, hs: Long, hb: Long) =>
      assert(hs === Fnv64a.hash(s))
      assert(hb === Fnv64a.hash(s))
    }
  }

  test("fnv64a is SQL-callable and null-safe") {
    val rows = spark.sql("SELECT fnv64a(CAST(NULL AS STRING)) n, fnv64a('hello') h").collect()
    assert(rows(0).isNullAt(0))
    assert(rows(0).getLong(1) === Fnv64a.hash("hello"))
  }

  test("fnv64a stays inside whole-stage codegen") {
    // a Seq-backed DF folds to LocalTableScan, so use range() for a real scan
    val df = spark.range(100).select(fnv64a(col("id").cast("string")).as("h"))
    // "*(1) Project [fnv64a(...)]" — the star marks a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.next().trim.startsWith("*"), plan)
    assert(df.selectExpr("count(distinct h)").collect().head.getLong(0) === 100L)
  }

  test("fnv64aHex matches Go %x rendering") {
    import spark.implicits._
    val hexes = Seq("hello", "a").toDF("s").select(fnv64aHex(col("s"))).as[String].collect()
    assert(hexes(0) === "a430d84680aabd0b")
    assert(hexes(1) === java.lang.Long.toHexString(Fnv64a.hash("a")))
  }

  test("kpl_aggregate + kpl_deaggregate_rows round-trip in SQL") {
    import spark.implicits._
    Seq(("r1", "k"), ("r2", "k"), ("r3", "j")).toDF("s", "k")
      .createOrReplaceTempView("recs")
    val out = spark.sql(
      """WITH packed AS (
        |  SELECT kpl_aggregate(encode(s,'UTF-8'), k) AS entries FROM recs),
        |entryx AS (SELECT explode(entries) AS e FROM packed)
        |SELECT decode(data, 'UTF-8') AS s, partition_key
        |FROM entryx, LATERAL (SELECT kpl_deaggregate_rows(e.data))
        |ORDER BY s""".stripMargin).collect()
    assert(out.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("r1", "k"), ("r2", "k"), ("r3", "j")))
  }

  test("kpl_aggregate UDAF packs per group; entries deaggregate to group rows") {
    import spark.implicits._
    val df = (0 until 200).map(i => (s"group${i % 2}", s"body-$i" * 10)).toDF("g", "s")
    df.createOrReplaceTempView("gr")
    val out = spark.sql(
      """SELECT g, kpl_aggregate(encode(s, 'UTF-8'), g) AS entries FROM gr GROUP BY g""")
      .selectExpr("g", "explode(entries) AS e")
      .selectExpr("g", "kpl_deaggregate_rows(e.data)")
      .selectExpr("g", "decode(data, 'UTF-8') AS s", "partition_key AS pk")
      .collect()
    assert(out.length === 200)
    assert(out.forall(r => r.getString(2) === r.getString(0)))
  }

  test("kpl_deaggregate_rows generator explodes aggregates; null and raw payloads behave") {
    import spark.implicits._
    Seq(("a", "k"), ("b", "k"), ("c", "j")).toDF("s", "k").createOrReplaceTempView("genrecs")
    val out = spark.sql(
      """WITH packed AS (
        |  SELECT kpl_aggregate(encode(s,'UTF-8'), k) AS entries FROM genrecs),
        |e AS (SELECT explode(entries) AS entry FROM packed)
        |SELECT decode(data, 'UTF-8') AS s, partition_key
        |FROM e, LATERAL (SELECT kpl_deaggregate_rows(entry.data))
        |ORDER BY s""".stripMargin).collect()
    assert(out.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("a", "k"), ("b", "k"), ("c", "j")))
    // null input -> zero rows; raw (non-KPL) payload -> one row, null key
    assert(spark.sql("SELECT kpl_deaggregate_rows(CAST(NULL AS BINARY))").count() === 0L)
    val raw = spark.sql("SELECT kpl_deaggregate_rows(encode('plain', 'UTF-8'))").collect()
    assert(raw.length === 1 && raw(0).isNullAt(1))
  }

  test("cosine_sim composes from dot_product and is SQL-callable") {
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS same, " +
      "round(cosine_sim(array(1.0D, 0.0D), array(0.0D, 1.0D)), 6) AS orth").collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getDouble(1) === 0.0)
  }

  test("partitionKey falls back to body hash for invalid keys") {
    import spark.implicits._
    val df = Seq(("hello", "good"), ("hello", ""), ("hello", "x" * 256))
      .toDF("s", "k")
      .select(partitionKey(encode(col("s"), "UTF-8"), col("k")).as("pk"))
    assert(df.as[String].collect().toSeq ===
      Seq("good", "a430d84680aabd0b", "a430d84680aabd0b"))
  }

  test("int8_quant_stats matches hand-computed quantization; null for zero vectors") {
    // [1.0, -0.5, 0.25, 0] → scale 1.0 → q = [127, -63, 32, 0]
    //   (floor(-63.5+0.5) = -63, floor(31.75+0.5) = 32)
    val r = spark.sql(
      "SELECT int8_quant_stats(array(1.0D, -0.5D, 0.25D, 0.0D)) AS st, " +
      "int8_quant_stats(array(0.0D, 0.0D)) AS zero").collect()(0)
    val st = r.getStruct(0)
    assert(st.getLong(0) === 127L - 63L + 32L)
    assert(st.getLong(1) === 127L + 63L + 32L)
    assert(st.getLong(2) === 1L)
    assert(r.isNullAt(1))
    assert(graft.kernel.Int8Quant.stats(Array(0.0, 0.0)) === null)
  }

  test("int8_quant_stats nulls non-finite vectors instead of quantizing garbage") {
    // floor(NaN).toLong == 0 would silently pass NaN through as q=0 while
    // the DuckDB oracle's CAST(floor(NaN) AS BIGINT) errors — the row must
    // go null in BOTH engines (same contract as the zero vector)
    val r = spark.sql(
      "SELECT int8_quant_stats(array(1.0D, CAST('NaN' AS DOUBLE))) AS nan, " +
      "int8_quant_stats(array(1.0D, CAST('Infinity' AS DOUBLE))) AS inf").collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
    assert(graft.kernel.Int8Quant.stats(Array(1.0, Double.NaN)) === null)
    assert(graft.kernel.Int8Quant.stats(Array(Double.NegativeInfinity)) === null)
  }

  test("bloom_probe: sharded filter join has no false negatives and caches per shard") {
    // the non-literal-filter probe behind h_dedup_bloom_sharded: build 4
    // per-shard filters distributed, join them back by shard, probe with
    // member AND disjoint non-member keys — every member must hit (Bloom
    // filters cannot false-negative), and the disjoint range must stay
    // under the design fpp with wide margin
    import org.apache.spark.sql.functions._
    val keys = spark.range(1000L).select(col("id").as("k"),
      pmod(col("id"), lit(4)).cast("int").as("shard"))
    val filters = keys.groupBy(col("shard"))
      .agg(org.apache.spark.sql.graft.BloomCols
        .bloomFilterAgg(col("k"), 250L, 4096L).as("bf"))
    def flagged(lo: Long, hi: Long): Long =
      spark.range(lo, hi).select(col("id").as("k"),
          pmod(col("id"), lit(4)).cast("int").as("shard"))
        .repartition(4, col("shard"))
        .join(broadcast(filters), "shard")
        .select(org.apache.spark.sql.graft.BloomCols
          .probeSharded(col("shard"), col("bf"), col("k")).as("f"))
        .where(col("f")).count()
    assert(flagged(0L, 1000L) === 1000L, "a Bloom filter must never false-negative")
    val fp = flagged(1000000L, 1001000L)
    assert(fp <= 50L, s"false-positive rate collapsed: $fp/1000 disjoint keys flagged")
  }

  test("bloom_probe: a second filter VERSION under the same shard key is not served stale") {
    // the general-primitive guard: when a joined filter table carries more
    // than one filter version per shard (e.g. a per-micro-batch filter
    // stream), the per-task cache must re-validate on the payload — a
    // shard-int-only cache would serve version 1's sketch for version 2's
    // rows. Build two disjoint filters, probe both under ONE shard key in
    // one task, and require each row to answer from ITS OWN filter bytes.
    import org.apache.spark.sql.functions._
    val v1 = spark.range(0L, 500L)
      .agg(org.apache.spark.sql.graft.BloomCols
        .bloomFilterAgg(col("id"), 250L, 4096L).as("bf"))
      .head.getAs[Array[Byte]](0)
    val v2 = spark.range(1000000L, 1000500L)
      .agg(org.apache.spark.sql.graft.BloomCols
        .bloomFilterAgg(col("id"), 250L, 4096L).as("bf"))
      .head.getAs[Array[Byte]](0)
    // one partition => one task => one expression cache instance; rows
    // interleave versions so a stale hit is guaranteed to be observable
    val rows = Seq(
      (0, v1, 7L, true), (0, v2, 7L, false),
      (0, v1, 1000007L, false), (0, v2, 1000007L, true),
      (0, v1, 13L, true), (0, v2, 1000013L, true))
    val df = spark.createDataFrame(rows).toDF("shard", "bf", "k", "want")
      .coalesce(1)
      .select(col("want"), org.apache.spark.sql.graft.BloomCols
        .probeSharded(col("shard"), col("bf"), col("k")).as("got"))
    val bad = df.where(col("want") =!= col("got")).count()
    assert(bad === 0L,
      "bloom_probe served a stale cached filter for a same-shard second version")
  }

  test("int8_quant_stats stays inside whole-stage codegen over a real scan") {
    val df = spark.range(100)
      .selectExpr("int8_quant_stats(array(CAST(id AS DOUBLE), 1.0D)) AS st")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.next().trim.startsWith("*"), plan)
    // id=0 → scale=1 → q=[0,127]; every other row saturates on the id slot
    assert(df.selectExpr("sum(st.n_saturated)").collect().head.getLong(0) === 101L)
  }
}
