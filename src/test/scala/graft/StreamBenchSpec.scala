package graft

/** Short soaks of both [[StreamBench]] twins, each on its own session:
  * the simjoin twin switches its session to RocksDB, and each run's
  * progress listener must see only its own query. */
class StreamBenchSpec extends SparkSuite {

  test("dedup soak delivers exactly the nine in ten distinct bodies") {
    val line = StreamBench.run(spark.newSession(), StreamBench.dedup,
      soakSec = 4, sampleSec = 1, backlog = 20000)
    val input = line.get("input_msgs").asLong
    assert(line.get("drained").asBoolean, line)
    assert(input > 0)
    // every 10th message repeats its predecessor's body 1 ms later, well
    // inside the 4-minute dedup window: nothing lost, nothing sent twice
    assert(line.get("delivered_user_records").asLong == input * 9 / 10, line)
    val samples = line.get("samples")
    assert(samples.size > 0)
    assert(samples.get(samples.size - 1).get("state_rows").asLong > 0, samples)
    assert(line.get("attribution").has("addBatch"), line)
    assert(line.get("state").asText == "hdfs")
  }

  test("simjoin soak counts every fed document and emits the planted pairs") {
    val line = StreamBench.run(spark.newSession(), StreamBench.simjoin(retentionMs = 0L),
      soakSec = 4, sampleSec = 1, backlog = 4000)
    assert(line.get("drained").asBoolean, line)
    val input = line.get("input_msgs").asLong
    assert(input > 0)
    assert(line.get("docs").asLong == input, line)
    assert(line.get("pairs").asLong > 0, line)
  }
}
