package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSuite
import graft.functions.KplFunctions
import graft.kernel.{KinesisEntry, KplProtobuf}

/** End-to-end over the wire: pipeline → HTTP PutRecords (kinesalite-style
  * JSON protocol) → stub endpoint → deaggregated records equal the input —
  * the seam the reference exercises against kinesalite
  * (docker-compose.yml:1-14, kinesis_writer.go:93-96). */
class HttpKinesisTransportSpec extends SparkSuite {

  private def deagg(stored: Vector[(String, Array[Byte])]): Vector[String] =
    stored.flatMap { case (_, data) => KplFunctions.deaggregate(data).map(_.data) }
      .map(new String(_, "UTF-8"))

  test("createStream is idempotent; putRecords round-trips framed entries") {
    val stub = new KinesisStubServer()
    try {
      val t = new HttpKinesisTransport(stub.endpoint)
      t.createStream("s1")
      t.createStream("s1") // ResourceInUseException swallowed
      val agg = KplProtobuf.frame(KplProtobuf.Aggregated(
        Vector("k0"), Vector(KplProtobuf.UserRecord(0, "hello".getBytes("UTF-8")))))
      val oks = t.putRecords("s1", Vector(
        KinesisEntry(agg, "k0"),
        KinesisEntry("raw-oversize".getBytes("UTF-8"), "k1")))
      assert(oks === Vector(true, true))
      assert(deagg(stub.records("s1")) === Vector("hello", "raw-oversize"))
      // unknown stream → whole request fails, per-entry flags all false
      assert(t.putRecords("nope", Vector(KinesisEntry("x".getBytes, "k"))) === Vector(false))
    } finally stub.stop()
  }

  test("signed transport sends a SigV4 Authorization header that re-verifies") {
    val stub = new KinesisStubServer()
    try {
      val creds = SigV4.Credentials("AKIDEXAMPLE", "sekrit", Some("STS-TOKEN"))
      val fixedNow = java.time.Instant.parse("2024-06-01T12:00:00Z")
      val t = new HttpKinesisTransport(stub.endpoint, region = "eu-west-1",
        credentials = Some(creds), clock = () => fixedNow)
      t.createStream("signed")
      assert(t.putRecords("signed",
        Vector(KinesisEntry("x".getBytes("UTF-8"), "k"))) === Vector(true))

      val h = stub.lastHeaders
      assert(h("x-amz-date") === "20240601T120000Z")
      assert(h("x-amz-security-token") === "STS-TOKEN")
      // recompute the signature from what was actually received — proves the
      // signed canonical form matches the bytes on the wire
      val expected = SigV4.authorization(
        "POST", "/", "",
        Seq(
          "content-type" -> h("content-type"),
          "host" -> h("host"),
          "x-amz-date" -> h("x-amz-date"),
          "x-amz-target" -> h("x-amz-target"),
          "x-amz-security-token" -> h("x-amz-security-token")),
        stub.lastBody.getBytes("UTF-8"),
        "eu-west-1", "kinesis", creds, h("x-amz-date"))
      assert(h("authorization") === expected)
    } finally stub.stop()
  }

  test("throttled records are retried with backoff until delivered exactly the failed subset") {
    // attempt 0: every even-indexed record throttles; attempt 1+: all pass —
    // the reference's per-slot requeue path (kinesis_writer.go:114-127)
    val stub = new KinesisStubServer(failRecord = (attempt, i) => attempt == 0 && i % 2 == 0)
    try {
      val t = new RetryingTransport(new HttpKinesisTransport(stub.endpoint), sleeper = _ => ())
      new HttpKinesisTransport(stub.endpoint).createStream("s2")
      val entries = (0 until 6).map(i => KinesisEntry(s"rec-$i".getBytes("UTF-8"), s"k$i")).toVector
      val oks = t.putRecords("s2", entries)
      assert(oks.forall(identity))
      // every record delivered exactly once: odd ones on attempt 0, even on attempt 1
      assert(deagg(stub.records("s2")).sorted === (0 until 6).map(i => s"rec-$i").sorted)
    } finally stub.stop()
  }

  test("memory-stream pipeline delivers over HTTP and survives partial failures") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val stub = new KinesisStubServer(failRecord = (attempt, i) => attempt == 0 && i == 0)
    try {
      new HttpKinesisTransport(stub.endpoint).createStream("pipe")
      val input = MemoryStream[Msg]
      val ckpt = graft.SparkSpec.tempDir("graft-http-ckpt").toString
      val msgs = (0 until 40).map(i =>
        Msg(f"$i%016d", new Timestamp(1000000000L + i), 1, s"payload-$i".getBytes("UTF-8")))
      input.addData(msgs)
      val q = StreamPipeline.build(
        input.toDF(),
        new RetryingTransport(new HttpKinesisTransport(stub.endpoint), sleeper = _ => ()),
        StreamPipeline.Options(streamName = "pipe", checkpoint = ckpt)).start()
      try q.processAllAvailable() finally q.stop()
      assert(deagg(stub.records("pipe")).sorted === msgs.map(m => new String(m.body, "UTF-8")).sorted)
    } finally stub.stop()
  }
}
