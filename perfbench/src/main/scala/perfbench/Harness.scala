package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

import graft.kernel.{Fnv64a, KplPacker}
import graft.streaming.{BatchWriter, SigV4}

/** The load generator, the fake nsqd brokers and the signed PutRecords
  * endpoint, in one process; the system under test runs in a child JVM.
  *
  * Usage: `Harness <workload> <seed> <seconds> <trace 0|1> <runDir> <dataDir>
  * <log4j2 config> <system classpath>`. Prints one `@@result <json>` line
  * with the run's metrics, checks and evidence.
  */
object Harness {

  final case class Ctx(workload: String, seed: Long, seconds: Int, tracer: Tracer,
                       runDir: Path, dataDir: Path, log4j: Path, classpath: String) {
    val cores: Int = Runtime.getRuntime.availableProcessors()
    val sinkThreads: Int = math.max(1, math.min(4, cores))
    val creds: SigV4.Credentials = SigV4.Credentials("AKIDPERFBENCH", "perfbench-secret-key", None)
    val env: Map[String, String] = Map(
      "AWS_ACCESS_KEY_ID" -> creds.accessKeyId, "AWS_SECRET_ACCESS_KEY" -> creds.secretAccessKey)
    def javaOpts: Seq[String] = SystemProc.addOpens ++ Seq(
      "-Xms2g", "-Xmx2g", "-Dspark.master=local[4]", "-Dspark.ui.enabled=false",
      "-Dspark.sql.session.timeZone=UTC",
      s"-Dlog4j2.configurationFile=${log4j.toAbsolutePath}",
      s"-Djava.io.tmpdir=${runDir.resolve("tmp").toAbsolutePath}",
      s"-Dspark.local.dir=${runDir.resolve("tmp").toAbsolutePath}")
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, runDir, dataDir, log4j, cp) = args
    val ctx = Ctx(workload, seed.toLong, seconds.toInt, new Tracer(trace == "1"),
      Path.of(runDir), Path.of(dataDir), Path.of(log4j), cp)
    Files.createDirectories(ctx.runDir.resolve("tmp"))
    val load0 = Stats.loadavg1m()
    val cpu0 = Stats.cpuTicks()
    val res = workload match {
      case "stream_paced" => Paced.run(ctx)
      case "stream_backlog" => Backlog.run(ctx)
      case "batch_mix" => BatchMix.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val host = Map(
      "loadavg_1m_before" -> load0, "loadavg_1m_after" -> Stats.loadavg1m(),
      "steal_share" -> Stats.stealShare(cpu0, Stats.cpuTicks()),
      "harness_peak_threads" -> java.lang.management.ManagementFactory.getThreadMXBean.getPeakThreadCount,
      "cores" -> ctx.cores)
    println("@@result " + Json.write(res ++ Map("host" -> host)))
    System.out.flush()
    sys.exit(0)
  }

  // ------------------------------------------------------------ shared parts

  /** The reference fixture (1000 × 1 kB records under one key pack into 42
    * aggregates) and the time `BatchWriter.add` + `flush` take per record
    * on this workload's bodies, median of five passes. */
  def kernelRung(ctx: Ctx, bodies: IndexedSeq[Array[Byte]]): Map[String, Any] = {
    val rec = new Array[Byte](1000); new scala.util.Random(42).nextBytes(rec)
    val fixture = new KplPacker
    (0 until 1000).foreach(_ => fixture.put(rec, "a"))
    val keys = bodies.map(Fnv64a.hex)
    val passes = (0 until 5).map { pass =>
      val t0 = Clock.nowNs
      val w = new BatchWriter()
      var i = 0
      while (i < bodies.length) { w.add(i, bodies(i), keys(i)); i += 1 }
      val reqs = w.flush()
      val t1 = Clock.nowNs
      ctx.tracer.span(s"kernel#$pass", 0, "kernel.pack", "BatchWriter.add+flush", t0, t1)
      ((t1 - t0).toDouble / bodies.length, reqs.map(_.entries.size).sum)
    }
    Map("fixture_aggregates" -> fixture.recs, "ns_per_record" -> Stats.median(passes.map(_._1)),
      "records" -> bodies.length, "entries" -> passes.head._2)
  }

  /** Fake brokers + signed endpoint with no engine, both legs at once:
    * four NSQ consumers FIN each message on receipt, while four senders
    * post the same bodies as pre-signed, KPL-packed PutRecords requests.
    * Returns the slower leg's records per second (second of two rounds;
    * the first warms the JIT). */
  def calibrate(ctx: Ctx, bodies: IndexedSeq[Array[Byte]]): Double =
    (0 until 2).map(_ => calibrateOnce(ctx, bodies)).last

  private def calibrateOnce(ctx: Ctx, bodies: IndexedSeq[Array[Byte]]): Double = {
    val n = bodies.length
    val bl = new BrokerLedger(n)
    val sl = new SinkLedger(n)
    val broker = new FakeNsqd(bl)
    val sink = new FakeKinesis(ctx.creds, sl, ctx.sinkThreads)
    bodies.indices.foreach(i => sl.expect(i, bodies(i)))
    val requests = bodies.indices.grouped(BatchWriter.MaxBatchRecords).map { idx =>
      val w = new BatchWriter()
      idx.foreach(i => w.add(i, bodies(i), Fnv64a.hex(bodies(i))))
      w.flush().map(r => signedPut(ctx, sink.endpoint, r.entries))
    }.flatten.toVector
    val finned = new java.util.concurrent.atomic.AtomicInteger(0)
    // a message must be FINned on the connection that delivered it
    val clients = new Array[graft.sources.nsq.NsqClient](4)
    clients.indices.foreach { i =>
      clients(i) = new graft.sources.nsq.NsqClient("127.0.0.1", broker.tcpPort, "events", "calib",
        maxInFlight = 2500, onMessage = m => { clients(i).fin(m.id); finned.incrementAndGet() })
    }
    val http = java.net.http.HttpClient.newHttpClient()
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val t0 = Clock.nowNs
    val senders = (0 until ctx.sinkThreads).map { _ =>
      val t = new Thread(() => {
        var k = next.getAndIncrement()
        while (k < requests.size) {
          http.send(requests(k), java.net.http.HttpResponse.BodyHandlers.discarding())
          k = next.getAndIncrement()
        }
      })
      t.setDaemon(true); t.start(); t
    }
    bodies.foreach(b => broker.publish(bl.allocate(), b))
    senders.foreach(_.join())
    val sinkS = (Clock.nowNs - t0) / 1e9
    Paced.waitFor(() => bl.fins.get() >= n, 30)
    val nsqS = (Clock.nowNs - t0) / 1e9
    clients.foreach(_.close()); broker.close(); sink.close()
    require(sl.unique.get() == n && sink.signatureRejects.get() == 0, "calibration lost records")
    math.min(n / sinkS, bl.fins.get() / nsqS)
  }

  /** A PutRecords request signed the way graft's HttpKinesisTransport signs. */
  private def signedPut(ctx: Ctx, endpoint: String, entries: Seq[graft.kernel.KinesisEntry]) = {
    val root = Json.mapper.createObjectNode()
    root.put("StreamName", "calib")
    val arr = root.putArray("Records")
    entries.foreach { e =>
      arr.addObject().put("Data", java.util.Base64.getEncoder.encodeToString(e.data))
        .put("PartitionKey", e.partitionKey)
    }
    val body = Json.mapper.writeValueAsBytes(root)
    val uri = java.net.URI.create(endpoint)
    val amzDate = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'Z'")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now())
    val target = "Kinesis_20131202.PutRecords"
    val ct = "application/x-amz-json-1.1"
    val auth = SigV4.authorization("POST", "/", "", Seq("content-type" -> ct,
      "host" -> s"${uri.getHost}:${uri.getPort}", "x-amz-date" -> amzDate, "x-amz-target" -> target),
      body, "us-east-1", "kinesis", ctx.creds, amzDate)
    java.net.http.HttpRequest.newBuilder(uri).header("Content-Type", ct).header("X-Amz-Target", target)
      .header("X-Amz-Date", amzDate).header("Authorization", auth)
      .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(body)).build()
  }

  private def num(n: JsonNode, path: String*): Double =
    path.foldLeft(n)((a, k) => a.path(k)).asDouble(0.0)

  /** Per-batch `StreamingQueryProgress` → spark and streaming.dedup layer
    * metrics, plus batch spans (durationMs segments as children). */
  def progressMetrics(ctx: Ctx, ps: Seq[JsonNode]): Map[String, Double] = {
    val nonEmpty = ps.filter(p => num(p, "numInputRows") > 0)
    def seg(k: String) = nonEmpty.map(p => num(p, "durationMs", k))
    def state(k: String) = nonEmpty.map(p => num(p.path("stateOperators").path(0), k))
    ps.foreach { p =>
      val start = java.time.Instant.parse(p.path("timestamp").asText()).toEpochMilli * 1000000L
      val batch = s"batch#${p.path("batchId").asLong()}"
      val root = ctx.tracer.span(batch, 0, "spark", "trigger", start,
        start + (num(p, "durationMs", "triggerExecution") * 1e6).toLong)
      var at = start
      Seq("latestOffset" -> "sources.nsq", "walCommit" -> "spark", "queryPlanning" -> "spark",
        "addBatch" -> "streaming.sink", "commitOffsets" -> "spark").foreach { case (k, layer) =>
        val d = (num(p, "durationMs", k) * 1e6).toLong
        ctx.tracer.span(batch, root, layer, k, at, at + d)
        at += d
      }
    }
    val last = ps.lastOption.map(_.path("stateOperators").path(0))
    Map(
      "spark.trigger_ms.p50" -> Stats.median(seg("triggerExecution")),
      "spark.trigger_ms.p99" -> Stats.pct(seg("triggerExecution"), 99),
      "spark.add_batch_ms.p50" -> Stats.median(seg("addBatch")),
      "spark.query_planning_ms.p50" -> Stats.median(seg("queryPlanning")),
      "spark.latest_offset_ms.p50" -> Stats.median(seg("latestOffset")),
      "spark.wal_commit_ms.p50" -> Stats.median(seg("walCommit")),
      "spark.commit_offsets_ms.p50" -> Stats.median(seg("commitOffsets")),
      "spark.rows_per_batch.p50" -> Stats.median(nonEmpty.map(p => num(p, "numInputRows"))),
      "spark.batches" -> ps.size.toDouble,
      "spark.empty_batch_share" -> (if (ps.isEmpty) 0.0 else (ps.size - nonEmpty.size).toDouble / ps.size),
      "sources.nsq.msgs_per_epoch.p50" -> Stats.median(nonEmpty.map(p => num(p, "numInputRows"))),
      "streaming.dedup.state_update_ms" -> Stats.median(state("allUpdatesTimeMs")),
      "streaming.dedup.state_commit_ms" -> Stats.median(state("commitTimeMs")),
      "streaming.dedup.state_rows.end" -> last.map(num(_, "numRowsTotal")).getOrElse(0.0),
      "streaming.dedup.state_mem_bytes.end" -> last.map(num(_, "memoryUsedBytes")).getOrElse(0.0),
      "streaming.dedup.state_store_instances" ->
        last.map(s => math.max(num(s, "numStateStoreInstances"), num(s, "numShufflePartitions"))).getOrElse(0.0))
  }

  /** Broker-side lags over publish numbers [from, until). */
  def brokerMetrics(bl: BrokerLedger, from: Int, until: Int): Map[String, Double] = {
    val pull = (from until until).iterator.filter(bl.firstDeliverNs.get(_) > 0)
      .map(i => (bl.firstDeliverNs.get(i) - bl.publishNs.get(i)) / 1e6).toVector
    val fin = (from until until).iterator.filter(i => bl.finNs.get(i) > 0 && bl.firstDeliverNs.get(i) > 0)
      .map(i => (bl.finNs.get(i) - bl.firstDeliverNs.get(i)) / 1e6).toVector
    Map("sources.nsq.pull_lag_ms.p50" -> Stats.median(pull),
      "sources.nsq.pull_lag_ms.p99" -> Stats.pct(pull, 99),
      "sources.nsq.fin_lag_ms.p50" -> Stats.median(fin),
      "sources.nsq.requeues" -> bl.requeues.get.toDouble,
      "sources.nsq.redeliveries" -> bl.redeliveries.get.toDouble)
  }

  def sinkMetrics(sink: FakeKinesis, puts: Seq[Array[Long]]): Map[String, Double] = {
    val e = math.max(1L, sink.entries.get).toDouble
    val r = math.max(1L, sink.requests.get).toDouble
    val putMs = puts.map(p => (p(1) - p(0)) / 1e6)
    Map(
      "kernel.pack.records_per_entry" -> sink.userRecords.get / e,
      "kernel.pack.bytes_per_entry" -> sink.entryBytes.get / e,
      "kernel.pack.entries_per_request" -> sink.entries.get / r,
      "kernel.pack.records_per_request" -> sink.userRecords.get / r,
      "kernel.pack.put_units_per_krec" -> 1000.0 * sink.putUnits.get / math.max(1L, sink.userRecords.get),
      "streaming.sink.requests" -> sink.requests.get.toDouble,
      "streaming.sink.put_ms.p50" -> (if (putMs.isEmpty) 0.0 else Stats.median(putMs)),
      "streaming.sink.put_ms.p99" -> (if (putMs.isEmpty) 0.0 else Stats.pct(putMs, 99)),
      "streaming.sink.wire_bytes_per_user_byte" -> sink.wireBytes.get.toDouble / math.max(1L, sink.userBytes.get),
      "streaming.sink.retries" -> puts.count(_(3) > 0).toDouble,
      "streaming.sink.signature_rejects" -> sink.signatureRejects.get.toDouble)
  }

  /** Everything a stream workload checks at the sink. */
  def sinkChecks(sl: SinkLedger, sink: FakeKinesis, uniques: Int, planted: Long): Map[String, Any] = {
    val lost = uniques - sl.unique.get()
    val bad = lost + sl.corrupt.get() + sink.badAggregates.get
    Map("unique_records" -> uniques, "delivered_unique" -> sl.unique.get(), "lost" -> lost,
      "corrupt" -> sl.corrupt.get(), "bad_aggregates" -> sink.badAggregates.get,
      "duplicate_deliveries" -> sl.duplicates.get(), "planted_duplicates" -> planted,
      "signature_rejects" -> sink.signatureRejects.get,
      "error_share" -> bad.toDouble / math.max(1, uniques),
      "dup_share" -> sl.duplicates.get().toDouble / math.max(1, uniques))
  }
}
