package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.kernel.KinesisEntry
import graft.streaming.{HttpKinesisTransport, KinesisTransport, RetryingTransport, SigV4, StreamPipeline}

/** Times every `PutRecords` attempt the pipeline makes. Executors share
  * the system JVM (local mode), so the samples land in one queue. */
final class TimedTransport(inner: KinesisTransport) extends KinesisTransport {
  override def putRecords(stream: String, entries: Seq[KinesisEntry]): Seq[Boolean] = {
    val t0 = Clock.nowNs
    val res = inner.putRecords(stream, entries)
    TimedTransport.calls.add(Array(t0, Clock.nowNs, entries.size.toLong, res.count(!_).toLong))
    res
  }
}

object TimedTransport {
  val calls = new ConcurrentLinkedQueue[Array[Long]]()
  def drain(): Vector[Array[Long]] = {
    val b = Vector.newBuilder[Array[Long]]
    var c = calls.poll()
    while (c != null) { b += c; c = calls.poll() }
    b.result()
  }
}

/** The stream_backlog system process: graft's library path
  * (`readStream.format("nsq")` + `StreamPipeline.build`) with graft.Main's
  * session settings, driven by one-line commands on stdin:
  *
  *  - `start <name> <hosts> <statsEndpoints> <endpoint> <maxPerTrigger> <checkpoint>`
  *  - `stop <name>` — prints the query's progress events and put timings
  *  - `exit`
  *
  * Replies are stdout lines starting with `@@`.
  */
object BacklogSystem {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .appName("graft")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", 32)
      .getOrCreate()
    val progress = new ConcurrentLinkedQueue[String]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress.json)
    })
    val creds = SigV4.Credentials(sys.env("AWS_ACCESS_KEY_ID"), sys.env("AWS_SECRET_ACCESS_KEY"), None)
    var queries = Map.empty[String, org.apache.spark.sql.streaming.StreamingQuery]
    println("@@ready"); System.out.flush()
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line != "exit") {
      line.split(' ').toList match {
        case "start" :: name :: hosts :: stats :: endpoint :: maxPerTrigger :: ckpt :: Nil =>
          val source = spark.readStream.format("nsq")
            .option("topic", "events").option("channel", "graft")
            .option("hosts", hosts).option("statsEndpoints", stats)
            .option("maxPerTrigger", maxPerTrigger)
            .load()
          val transport = new RetryingTransport(new TimedTransport(
            new HttpKinesisTransport(endpoint, credentials = Some(creds))))
          val t0 = Clock.nowNs
          val q = StreamPipeline.build(source, transport,
            StreamPipeline.Options(streamName = name, checkpoint = ckpt)).start()
          queries += name -> q
          println(s"@@started $name $t0"); System.out.flush()
        case "stop" :: name :: Nil =>
          queries(name).stop()
          queries -= name
          val ps = progress.asScala.toVector.map(Json.read)
          progress.clear()
          println("@@stopped " + Json.write(Map("progress" -> ps, "puts" -> TimedTransport.drain())))
          System.out.flush()
        case other => System.err.println(s"unknown command: $other")
      }
      line = in.readLine()
    }
    queries.values.foreach(_.stop())
    spark.stop()
    println("@@bye"); System.out.flush()
  }
}

/** The batch_mix system process: times each query of the mix the way
  * graft.Bench does (DataFrame construction, then a noop write) and splits
  * it into Catalyst phases, Spark jobs/stages/tasks and task metrics.
  *
  * Args: `<dataDir> <outDir> <queries,comma,separated> <seconds> <trace 0|1>`.
  * The queries run in the order given. The first two passes are set-up:
  * the cold one also writes each result as parquet under `<outDir>/results`
  * for the hash check, the second is an untimed warm pass. Timed passes
  * follow until `seconds` have passed (at least [[MinTimedPasses]]). */
object BatchSystem {

  /** Timed passes run at least this often, however short `seconds` is:
    * each query counts its best timed pass. */
  val MinTimedPasses = 4

  private final class Counters {
    val jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleWrite, spill = new AtomicLong(0)
    val jobSpans = new ConcurrentLinkedQueue[Array[Long]]() // jobId, startMs, endMs
    val planMs = new ConcurrentLinkedQueue[java.lang.Double]()
    def reset(): Unit = {
      Seq(jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleWrite, spill).foreach(_.set(0))
      jobSpans.clear(); planMs.clear()
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(dataDir, outDir, names, seconds, trace) = args
    val t0 = Clock.nowNs
    val spark = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .getOrCreate()
    val sessionS = (Clock.nowNs - t0) / 1e9
    val c = new Counters
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { c.jobs.incrementAndGet(); jobStart.put(e.jobId, e.time) }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        c.jobSpans.add(Array(e.jobId.toLong, jobStart.getOrDefault(e.jobId, e.time), e.time))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = c.stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        c.tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          c.runMs.addAndGet(m.executorRunTime); c.cpuNs.addAndGet(m.executorCpuTime)
          c.gcMs.addAndGet(m.jvmGCTime)
          c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      private def phases(qe: QueryExecution): Double =
        qe.tracker.phases.values.map(_.durationMs.toDouble).sum
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = c.planMs.add(phases(qe))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = c.planMs.add(phases(qe))
    })
    val all = graft.SparkEntry.queries
    val mix = names.split(',').toVector
    val tracer = new Tracer(trace == "1")

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    def runOne(name: String, pass: Int, sink: DataFrame => Unit): Map[String, Any] = {
      org.apache.spark.perfbench.Internals.drainListeners(spark.sparkContext)
      c.reset()
      val q0 = Clock.nowNs
      val df = all(name)(spark, dataDir)
      val q1 = Clock.nowNs
      try sink(df) finally graft.operators.Checkpoints.releaseAll()
      val q2 = Clock.nowNs
      org.apache.spark.perfbench.Internals.drainListeners(spark.sparkContext)
      val planMs = c.planMs.asScala.map(_.doubleValue).sum
      val wallMs = (q2 - q0) / 1e6
      if (tracer.on) {
        val tr = s"query#$name#$pass"
        val root = tracer.span(tr, 0, "operators", "query", q0, q2)
        tracer.span(tr, root, "operators", "construct", q0, q1)
        val exec = tracer.span(tr, root, "spark", "execute", q1, q2)
        c.jobSpans.asScala.foreach { j =>
          tracer.span(tr, exec, "spark", s"job${j(0)}", j(1) * 1000000L, j(2) * 1000000L)
        }
      }
      Map("query" -> name, "pass" -> pass, "wall_ms" -> wallMs,
        "construct_ms" -> (q1 - q0) / 1e6, "plan_ms" -> planMs,
        "exec_ms" -> math.max(0.0, (q2 - q1) / 1e6 - planMs),
        "jobs" -> c.jobs.get, "stages" -> c.stages.get, "tasks" -> c.tasks.get,
        "executor_run_ms" -> c.runMs.get, "executor_cpu_ms" -> c.cpuNs.get / 1e6,
        "gc_ms" -> c.gcMs.get, "busy_cores" -> c.runMs.get / math.max(wallMs, 1e-9),
        "shuffle_write_bytes" -> c.shuffleWrite.get, "spill_bytes" -> c.spill.get)
    }

    Files.write(Path.of(outDir, "oracle_sql.json"), Json.write(
      mix.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap).getBytes("UTF-8"))
    println(s"@@ready $sessionS"); System.out.flush()
    val setup0 = Clock.nowNs
    val cold = mix.map { n =>
      runOne(n, 0, _.write.mode("overwrite").parquet(s"$outDir/results/$n"))
    }
    // an untimed warm pass: the first noop pass after the cold one still
    // runs about a third slower while the planner and scheduler paths compile
    mix.foreach(n => runOne(n, -1, noop))
    val setupPassS = (Clock.nowNs - setup0) / 1e9
    val timed = Vector.newBuilder[Map[String, Any]]
    val passWalls = Vector.newBuilder[Double]
    val deadline = Clock.nowNs + seconds.toLong * 1000000000L
    var pass = 1
    val loadBefore = Stats.loadavg1m()
    while (pass <= MinTimedPasses || Clock.nowNs < deadline) {
      val p0 = Clock.nowNs
      mix.foreach(n => timed += runOne(n, pass, noop))
      passWalls += (Clock.nowNs - p0) / 1e9
      pass += 1
    }
    val out = Map(
      "session_s" -> sessionS, "setup_pass_s" -> setupPassS,
      "shared_build_s" -> graft.operators.Checkpoints.sharedBuildSeconds.values.sum,
      "shared_builds" -> graft.operators.Checkpoints.sharedBuildSeconds,
      "cold" -> cold, "timed" -> timed.result(), "pass_s" -> passWalls.result(),
      "loadavg_before_timed" -> loadBefore, "loadavg_after_timed" -> Stats.loadavg1m(),
      "self_ms_per_trace" -> tracer.selfMsPerTrace,
      "self_ms_by_layer" -> tracer.selfMsPerTrace.getOrElse("query", Map.empty),
      "spans" -> tracer.toJson(5000))
    Files.write(Path.of(outDir, "batch_system.json"), Json.write(out).getBytes("UTF-8"))
    graft.operators.Checkpoints.releaseShared()
    spark.stop()
    println("@@done"); System.out.flush()
  }
}
