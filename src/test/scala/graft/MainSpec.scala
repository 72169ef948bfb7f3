package graft

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

class MainSpec extends AnyFunSuite {

  test("CLI flags parse like the reference's (main.go:27-34)") {
    val opts = Main.parse(List(
      "--topic", "events",
      "--channel", "ch",
      "--nsqd-tcp-address", "a:4150,b:4150",
      "--stream", "s",
      "--kinesis-endpoint", "http://localhost:4567/",
      "--test"), Map.empty)
    assert(opts("topic") === "events")
    assert(opts("channel") === "ch")
    assert(opts("nsqd-tcp-address") === "a:4150,b:4150")
    assert(opts("stream") === "s")
    assert(opts("kinesis-endpoint") === "http://localhost:4567/")
    assert(opts.contains("test"))
  }

  test("bare trailing flag parses as boolean") {
    val opts = Main.parse(List("--topic", "t", "--test", "--stream", "s"), Map.empty)
    assert(opts.contains("test") && opts("stream") === "s")
  }

  test("state partitions default to the cluster's cores; an explicit conf wins") {
    val bare = new SparkConf(loadDefaults = false)
    assert(Main.statePartitions(bare, 4) === 4)
    assert(Main.statePartitions(bare, 32) === 32)
    val pinned = new SparkConf(loadDefaults = false).set("spark.sql.shuffle.partitions", "12")
    assert(Main.statePartitions(pinned, 4) === 12)
  }

  test("local checkpoints go through NoForkLocalFs; an explicit conf wins") {
    val key = "spark.hadoop.fs.AbstractFileSystem.file.impl"
    assert(Main.checkpointFs(new SparkConf(loadDefaults = false)) ===
      Map(key -> classOf[graft.streaming.NoForkLocalFs].getName))
    assert(Main.checkpointFs(new SparkConf(loadDefaults = false).set(key, "x.Fs")) === Map.empty)
  }
}
