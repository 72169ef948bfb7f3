package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

import graft.streaming.{FileTransport, HttpKinesisTransport, KinesisTransport, NoForkLocalFs, RetryingTransport, StreamPipeline}

/** CLI entry point mirroring the reference's flag surface (main.go:27-52):
  *
  * {{{
  * spark-submit --class graft.Main graft.jar \
  *   --topic events --channel graft \
  *   --nsqd-tcp-address host1:4150,host2:4150 \
  *   --stream my-stream \
  *   --kinesis-endpoint http://localhost:4567/ \
  *   --test                       # create the stream first (kinesalite dev)
  * }}}
  *
  * Wires `readStream.format("nsq")` → [[StreamPipeline]] (dedup → pack →
  * chunk) → HTTP Kinesis transport with retry/backoff. Without
  * `--kinesis-endpoint`, entries land in a local file sink (a dry-run
  * stand-in). Requests are SigV4-signed when the standard AWS env vars
  * (`AWS_ACCESS_KEY_ID`/`AWS_SECRET_ACCESS_KEY`, optional
  * `AWS_SESSION_TOKEN`) are present — the same static-credential leg of
  * the SDK default chain the reference relies on (main.go:77-97);
  * unsigned otherwise (kinesalite dev mode).
  *
  * The dedup state store, and the per-partition pack + `PutRecords` that
  * run on its partitions, get one partition per core: at a query's first
  * start `spark.sql.shuffle.partitions` is set to the cluster's
  * `defaultParallelism` (`spark.default.parallelism` if set, else the
  * cores registered when the session comes up). Spark then records the
  * count in the checkpoint's offset metadata and restores it on every
  * restart, so an existing checkpoint keeps the count it was written
  * with. An explicit `--conf spark.sql.shuffle.partitions=N` overrides
  * the derived count.
  *
  * Intake is bounded by the broker's in-flight window, as in the
  * reference (MaxInFlight, main.go:62), not by a per-trigger row cap: each
  * trigger admits what the source's shard consumers already hold (a read
  * waits, up to the source's `pollMs`, only on an empty shard), and each
  * shard's connection holds at most RDY = 2,500 un-FINned messages (nsqd's
  * default `--max-rdy-count`, lowered to whatever the broker negotiates).
  * The executors therefore buffer at most `numShards × RDY × body size` of
  * message bodies: 4 × 2,500 × 1 kB = 10 MB. Micro-batches run back to
  * back: the next starts as soon as the last has committed and the brokers
  * report outstanding work, so a message waits about one batch duration
  * for its batch, not a fixed tick. A message is FINned about one batch
  * after its delivery (the shard's next read, once its batch has
  * committed), which keeps about two epochs in flight: the window sustains
  * about `numShards × RDY / (2 × batch duration)` msgs/s; a batch holds no
  * gather wait (a trigger took about 120 ms at 500 msgs/s on 4 cores). A
  * window must be delivered and committed within the `msg_timeout` the
  * source requests (10 s), or the broker redelivers it.
  *
  * A `file:` checkpoint is written through [[NoForkLocalFs]]: the files
  * Hadoop's `LocalFs` writes, without its ~100 `chmod`/`readlink` forks
  * per batch, which took about two fifths of each batch on 4 cores. An
  * explicit `spark.hadoop.fs.AbstractFileSystem.file.impl` wins. State-store
  * commits run in executor tasks, so the class must be on the executors'
  * classpath too (the graft jar, as `spark-submit` ships it).
  */
object Main {

  private val usage =
    """graft: NSQ → dedup → KPL-pack → Kinesis, on Structured Streaming
      |  --topic <t>                NSQ topic (required)
      |  --channel <c>              NSQ channel        [graft]
      |  --nsqd-tcp-address <h:p,>  nsqd endpoints     [localhost:4150]
      |  --nsqd-http-address <h:p,> nsqd stats endpoints, aligned with
      |                             --nsqd-tcp-address [tcp port + 1]
      |  --lookupd-http-address <h:p,>  discover nsqds from nsqlookupd instead
      |  --stream <s>               Kinesis stream     (required)
      |  --kinesis-endpoint <url>   Kinesis-API HTTP endpoint (kinesalite ok)
      |  --region <r>               SigV4 signing region [us-east-1]
      |  --sink-dir <dir>           file-sink fallback [/tmp/graft-sink]
      |  --checkpoint <dir>         checkpoint dir     [/tmp/graft-cli-ckpt]
      |  --test                     CreateStream before starting (main.go:88-96)
      |""".stripMargin

  def main(args: Array[String]): Unit = {
    val opts = parse(args.toList, Map.empty)
    val topic = opts.get("topic")
    val stream = opts.get("stream")
    if (topic.isEmpty || stream.isEmpty) {
      // reference: "You must specify a Kinesis stream name and NSQ topic"
      System.err.println(usage)
      sys.exit(-1)
    }

    val spark = SparkSession.builder()
      .appName("graft")
      .config("spark.sql.session.timeZone", "UTC")
      .config(checkpointFs(new SparkConf()))
      .getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions",
      statePartitions(spark.sparkContext.getConf, spark.sparkContext.defaultParallelism))

    val transport: KinesisTransport = opts.get("kinesis-endpoint") match {
      case Some(endpoint) =>
        val creds = for {
          id <- sys.env.get("AWS_ACCESS_KEY_ID")
          secret <- sys.env.get("AWS_SECRET_ACCESS_KEY")
        } yield graft.streaming.SigV4.Credentials(id, secret, sys.env.get("AWS_SESSION_TOKEN"))
        val http = new HttpKinesisTransport(endpoint,
          region = opts.getOrElse("region", "us-east-1"), credentials = creds)
        if (opts.contains("test")) http.createStream(stream.get)
        new RetryingTransport(http)
      case None =>
        new FileTransport(opts.getOrElse("sink-dir", "/tmp/graft-sink"))
    }

    val sourceBase = spark.readStream
      .format("nsq")
      .option("topic", topic.get)
      .option("channel", opts.getOrElse("channel", "graft"))
    val source = (opts.get("lookupd-http-address") match {
      case Some(lk) => sourceBase.option("lookupd", lk)
      case None =>
        val base = sourceBase.option("hosts", opts.getOrElse("nsqd-tcp-address", "localhost:4150"))
        opts.get("nsqd-http-address").fold(base)(base.option("statsEndpoints", _))
    }).load()

    val query = StreamPipeline.build(
      source, transport,
      StreamPipeline.Options(
        streamName = stream.get,
        checkpoint = opts.getOrElse("checkpoint", "/tmp/graft-cli-ckpt"))).start()

    sys.addShutdownHook(query.stop()) // graceful drain, main.go:128-140
    query.awaitTermination()
  }

  /** Shuffle partitions for the dedup state: an explicit
    * `spark.sql.shuffle.partitions` wins, otherwise one per core. */
  private[graft] def statePartitions(conf: SparkConf, defaultParallelism: Int): Int =
    conf.getOption("spark.sql.shuffle.partitions").fold(defaultParallelism)(_.toInt)

  /** The `file:` filesystem for the checkpoint: [[NoForkLocalFs]], unless
    * the SparkConf already binds `fs.AbstractFileSystem.file.impl`. */
  private[graft] def checkpointFs(conf: SparkConf): Map[String, String] =
    NoForkLocalFs.SessionConf.filter { case (key, _) => !conf.contains(key) }

  @annotation.tailrec
  private[graft] def parse(args: List[String], acc: Map[String, String]): Map[String, String] =
    args match {
      case Nil => acc
      case "--test" :: rest => parse(rest, acc + ("test" -> "true"))
      case flag :: value :: rest if flag.startsWith("--") && !value.startsWith("--") =>
        parse(rest, acc + (flag.stripPrefix("--") -> value))
      case flag :: rest if flag.startsWith("--") =>
        parse(rest, acc + (flag.stripPrefix("--") -> "true"))
      case other :: _ =>
        System.err.println(s"unknown argument: $other\n$usage")
        sys.exit(-1)
    }
}
