package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** Per-round benchmark: times every SparkEntry query at the driver-provided
  * scale factor and prints ONE JSON line. A full warm-up pass absorbs
  * JVM/codegen/first-scan costs so per-query numbers reflect steady state;
  * queries run in name order for run-to-run comparability.
  *
  * Each query is materialized through a `noop`-format write, not `count()`:
  * under a count Catalyst prunes every unreferenced projection and sort, so
  * scalar-heavy queries would time scan+filter instead of the declared work.
  * The noop sink consumes every row of every column with zero sink cost —
  * the closest local analogue to "produce the full result".
  *
  * A query that throws is reported in a `failed` list (and its timing is
  * excluded from the total) instead of being silently swallowed.
  *
  * Spike self-adjudication: any query whose timed-pass wall exceeds
  * [[Bench.SpikeThresholdSec]] is re-run once at the end of the sequence
  * (same JVM, caches warm) and both numbers are recorded under `"spikes"`
  * as {"spike": first, "floor": rerun}. Host co-tenant load produces
  * phantom 2-10x outliers in single-run artifacts (two rounds of manual
  * quiesced adjudication, e.g. q1_pricing 11.6s vs 0.73s floor); a floor
  * near the recorded baseline proves load, a floor near the spike proves a
  * plan regression — the artifact now carries the evidence itself. The
  * 1-minute /proc/loadavg is snapshotted before and after the timed pass
  * for the same reason.
  */
object Bench {
  /** Above this single-run wall time a query is re-run for a floor. */
  val SpikeThresholdSec = 5.5

  private def loadavg1m(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(' ')(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_MASTER=local-cluster[n,c,mem] runs the same bench on
    // multi-JVM executors with reliable checkpoints: it times the 100 TB
    // deployment shape, not just its correctness
    val spark = GraftSession.fromEnv()
    spark.sparkContext.setLogLevel("WARN")

    // noop-write the full result; SparkEntry.run then releases the
    // checkpoints the query registered
    def materialize(name: String): Unit =
      SparkEntry.run(spark, name, sfDir)(_.write.format("noop").mode("overwrite").save())

    // optional comma-separated filter for focused perf iteration
    // (SPARK_GRAFT_QUERIES=h_neardup_minhash,...); the driver never sets it
    val selected = SparkEntry.select(sys.env.get("SPARK_GRAFT_QUERIES"))

    // warm-up: one full pass absorbs JVM/codegen/footer costs and one-time
    // side effects (bucketed-table writes, roundtrip dirs) so the timed pass
    // measures steady state
    // a warm-up failure is logged (not fatal): a query that fails only once
    // would otherwise silently shift its one-time cost into the timed pass
    selected.foreach { name =>
      try materialize(name) catch {
        case e: Throwable =>
          System.err.println(s"[bench] warm-up $name threw: ${e.getMessage}")
      }
    }

    val loadBefore = loadavg1m()
    var failed = List.empty[String]
    val results = selected.flatMap { name =>
      val t0 = System.nanoTime()
      try {
        materialize(name)
        Some(name -> (System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          failed ::= name
          None
      }
    }
    val loadAfter = loadavg1m()

    // spike adjudication: one same-JVM rerun per outlier, after the full
    // sequence (so the rerun competes with nothing else in this process).
    // A rerun that throws is recorded with floor=null (and the name appended
    // to `failed`) — a query that succeeded timed but fails on rerun is
    // flaky evidence the artifact must carry, not silently drop.
    val spikes = results.filter(_._2 > SpikeThresholdSec).map { case (name, spike) =>
      val t0 = System.nanoTime()
      try {
        materialize(name)
        val floor = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[bench] spike $name: $spike%.2fs -> floor $floor%.2fs")
        name -> (spike, Some(floor))
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] spike rerun $name THREW: ${e.getMessage}")
          failed ::= name
          name -> (spike, None)
      }
    }
    val total = results.map(_._2).sum
    def ms(v: Double): Double = math.rint(v * 1000) / 1000
    val json = Json.createObjectNode()
      .put("metric", "total").put("value", total).put("unit", "sec")
    val qs = json.putObject("queries")
    results.foreach { case (k, v) => qs.put(k, v) }
    json.set[ObjectNode]("spikes", spikesNode(spikes, identity))
    // shared-table build cost (round 21, additions-only): sharedTable
    // entries survive each query's release, so the first consumer builds
    // them in the warm-up pass and the timed pass reads materialized
    // blocks — without this field the per-query numbers silently exclude
    // index-build work (round-20 verdict item 2).
    val sb = Json.createObjectNode()
    graft.operators.Checkpoints.sharedBuildSeconds.toSeq.sortBy(_._1)
      .foreach { case (k, v) => sb.put(k, ms(v)) }
    json.set[ObjectNode]("shared_builds", sb)
    json.putObject("loadavg").put("before", loadBefore).put("after", loadAfter)
    val fs = json.putArray("failed")
    failed.sorted.foreach(f => fs.add(f))
    json.put("sf", sfDir)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")
    emit(json, out)
    // The driver's artifact keeps only the LAST 2000 chars of stdout and
    // tries to parse a JSON line out of that window (every prior round's
    // BENCH_r*.json shows "parsed": null: the full line above is ~9 KB, so
    // the window starts mid-line and no complete JSON line survives next to
    // sbt's trailing "[success]" banner). Emit a second, compact line —
    // same schema, `queries` trimmed to the slowest entries and values
    // rounded to ms — sized to fit the window whole. Full per-query data
    // stays in the long line and in the $out file.
    // round 21: `spikes` and `shared_builds` now ride the compact line too
    // (additions-only) — the driver artifact keeps only this line, and
    // without the spike floors it cannot self-adjudicate a load outlier
    // (round-20 verdict: h_span_corruption/h_bpe_train spiked with the
    // floors stranded in the long line).
    val compact = Json.createObjectNode()
      .put("metric", "total").put("value", ms(total)).put("unit", "sec")
      .put("n_queries", results.size)
    val slowest = compact.putObject("queries")
    results.sortBy(-_._2).take(15).foreach { case (k, v) => slowest.put(k, ms(v)) }
    compact.put("queries_note", s"slowest 15 of ${results.size}; full set in $out")
    compact.set[ObjectNode]("spikes", spikesNode(spikes, ms))
    compact.set[ObjectNode]("shared_builds", sb)
    compact.set[ObjectNode]("failed", fs)
    compact.set[ObjectNode]("loadavg", json.get("loadavg"))
    compact.put("sf", sfDir)
    graft.operators.Checkpoints.releaseShared() // shared tables only release explicitly
    spark.stop() // stop first: any stop-time WARN lines must not land after the compact line
    println(Json.writeValueAsString(compact))
    if (failed.nonEmpty) sys.exit(1)
  }

  /** `{"<query>":{"spike":s,"floor":f|null}}`, each value through `round`. */
  private def spikesNode(spikes: Seq[(String, (Double, Option[Double]))],
                         round: Double => Double): ObjectNode = {
    val node = Json.createObjectNode()
    spikes.foreach { case (k, (spike, floor)) =>
      val s = node.putObject(k).put("spike", round(spike))
      floor.fold(s.putNull("floor"))(f => s.put("floor", round(f)))
    }
    node
  }

  private[graft] val Json = new ObjectMapper()

  /** Print `line` as one JSON line and write it to the file `out` too: on
    * sbt's stdout the line sits among log lines (BENCH_r13.json came back
    * `"parsed": null`), so the file is the artifact to parse. Used by Bench
    * and StreamBench. */
  private[graft] def emit(line: JsonNode, out: String): Unit = {
    val json = Json.writeValueAsString(line)
    println(json)
    try Files.write(Paths.get(out), json.getBytes(StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] could not write $out: ${e.getMessage}") }
  }
}
