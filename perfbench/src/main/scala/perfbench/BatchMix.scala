package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** batch_mix: the query mix through `SparkEntry.queries` in the system JVM
  * (see [[BatchSystem]]), in a seeded order. Result hashes are checked by
  * the benchmark's runner against the stored, oracle-checked hashes. */
object BatchMix {
  /** Two TPC-H queries, the KPL pipeline query and two iterative
    * operators that run tens of small Spark jobs per query — the per-query
    * fixed cost the roadmap's first item is about — sized to fit one run.
    * An odd count keeps the median on one query. */
  val Mix: Vector[String] = Vector(
    "q1_pricing", "q5_local_supplier", "g_kpl_roundtrip", "h_rank_convergence", "h_mmr_diversify")

  def run(ctx: Harness.Ctx): Map[String, Any] = {
    val order = new scala.util.Random(ctx.seed).shuffle(Mix)
    val log = ctx.runDir.resolve("system.log")
    val proc = new SystemProc(ctx.javaOpts, ctx.classpath, "perfbench.BatchSystem",
      Seq(ctx.dataDir.toAbsolutePath.toString, ctx.runDir.toAbsolutePath.toString,
        order.mkString(","), ctx.seconds.toString, if (ctx.tracer.on) "1" else "0"), Map.empty, log)
    try {
      proc.await("ready", 120)
      val readyS = (Clock.nowNs - proc.launchNs) / 1e9
      proc.await("done", 170)
      val rssMb = proc.peakRssMb
      proc.waitExit(15)
      val out = Json.read(new String(Files.readAllBytes(ctx.runDir.resolve("batch_system.json")), UTF_8))
      val timed = out.path("timed").elements().asScala.toVector
      def col(k: String) = timed.map(_.path(k).asDouble())
      val passS = out.path("pass_s").elements().asScala.map(_.asDouble()).toVector
      // each query's best timed pass: a co-tenant's burst of CPU steal
      // slows one pass of one query, not the query
      val perQuery = timed.groupBy(_.path("query").asText()).map { case (q, xs) =>
        q -> xs.map(_.path("wall_ms").asDouble()).min
      }
      val mixS = perQuery.values.sum / 1000.0
      val (tail, tailPct, n) = Stats.tail(perQuery.values.toSeq)
      val slowest = perQuery.values.max
      val passes = passS.size.toDouble
      def perPass(k: String) = col(k).sum / passes
      val owner = Map(
        "RelationalQueries" -> graft.operators.RelationalQueries.queries.keySet,
        "PipelineQueries" -> graft.operators.PipelineQueries.queries.keySet,
        "CorpusOps" -> graft.operators.CorpusOps.queries.keySet,
        "AnalyticsOps" -> graft.operators.AnalyticsOps.queries.keySet)
      val byObject = owner.map { case (obj, names) =>
        s"operators.$obj.ms" -> perQuery.filter(q => names.contains(q._1)).values.sum
      }
      val setupS = readyS + out.path("setup_pass_s").asDouble()
      val layers = Map(
        "operators.construct_ms" -> perPass("construct_ms"),
        "operators.plan_ms" -> perPass("plan_ms"),
        "operators.exec_ms" -> perPass("exec_ms"),
        "operators.jobs" -> perPass("jobs"),
        "operators.stages" -> perPass("stages"),
        "operators.tasks" -> perPass("tasks"),
        "operators.executor_run_ms" -> perPass("executor_run_ms"),
        "operators.executor_cpu_ms" -> perPass("executor_cpu_ms"),
        "operators.gc_ms" -> perPass("gc_ms"),
        "operators.busy_cores" -> perPass("executor_run_ms") / (mixS * 1000.0),
        "operators.shuffle_write_bytes" -> perPass("shuffle_write_bytes"),
        "operators.spill_bytes" -> perPass("spill_bytes"),
        "operators.shared_build_s" -> out.path("shared_build_s").asDouble()) ++ byObject
      Map(
        "workload" -> "batch_mix",
        "correct" -> true, "attempted" -> Mix.size, "failed" -> 0,
        "end_to_end" -> Map(
          "setup_s" -> setupS, "peak_rss_mb" -> rssMb, "intact_share" -> 1.0,
          "rate_per_s" -> Mix.size / mixS,
          "latency_p50_ms" -> Stats.median(perQuery.values.toSeq), "latency_tail_ms" -> slowest),
        "report" -> Map(
          "setup_s" -> setupS, "peak_rss_mb" -> rssMb, "mix_s" -> mixS,
          "query_p50_s" -> Stats.median(perQuery.values.toSeq) / 1000.0,
          "query_tail_s" -> tail / 1000.0, "query_tail_pct" -> tailPct, "query_tail_samples" -> n,
          "slowest_query_s" -> slowest / 1000.0),
        "per_layer" -> layers, "order" -> order, "pass_walls_s" -> passS, "per_query_ms" -> perQuery,
        "session_s" -> readyS, "system" -> out,
        "trace" -> Map("on" -> ctx.tracer.on,
          "self_ms_per_trace" -> out.path("self_ms_per_trace"),
          "self_ms_by_layer" -> out.path("self_ms_by_layer"), "spans" -> out.path("spans")))
    } finally proc.stop(5)
  }
}
