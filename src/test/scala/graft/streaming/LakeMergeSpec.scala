package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSuite

/** The streaming → lake bridge: micro-batches MERGE into a versioned
  * parquet corpus exactly once — upserts land, deletes tombstone,
  * within-batch conflicts resolve to the last op, replayed batches are
  * no-ops, and readers only ever see a committed snapshot. */
class LakeMergeSpec extends SparkSuite {

  private def corpus(dir: String): Map[Long, String] =
    LakeMerge.readCorpus(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  test("stream MERGE: upsert/delete/conflict semantics, idempotent replay, atomic pointer") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = graft.SparkSpec.tempDir("lake-merge").toString

    val input = MemoryStream[(Long, String, String)]
    val q = input.toDF().toDF("doc_id", "text", "op")
      .writeStream
      .foreachBatch(LakeMerge.mergeBatch(dir) _)
      .option("checkpointLocation",
        graft.SparkSpec.tempDir("lake-merge-ckpt").toString)
      .start()
    try {
      input.addData((1L, "one", "upsert"), (2L, "two", "upsert"),
        (3L, "three", "upsert"), (4L, "four", "upsert"))
      q.processAllAvailable()
      assert(corpus(dir) === Map(1L -> "one", 2L -> "two", 3L -> "three", 4L -> "four"))
      val (id0, _) = LakeMerge.latest(dir).get

      // batch 2: update, delete, insert, and a within-batch conflict
      // (doc 5 deleted then re-upserted -> last op wins)
      input.addData((2L, "two-v2", "upsert"), (3L, null: String, "delete"),
        (5L, "five", "upsert"), (5L, null: String, "delete"), (5L, "five-v2", "upsert"))
      q.processAllAvailable()
      val expected = Map(1L -> "one", 2L -> "two-v2", 4L -> "four", 5L -> "five-v2")
      assert(corpus(dir) === expected)
      val (id1, path1) = LakeMerge.latest(dir).get
      assert(id1 > id0, "pointer did not advance")

      // at-least-once re-delivery: replaying an ALREADY-APPLIED batch id
      // (even with different content) must be a no-op
      LakeMerge.mergeBatch(dir)(
        Seq((99L, "ghost", "upsert")).toDF("doc_id", "text", "op"), id1)
      assert(corpus(dir) === expected, "replayed batch mutated the corpus")
      assert(LakeMerge.latest(dir).get._2 === path1, "replay moved the pointer")

      // the superseded snapshot is still intact on disk (time-travel-style
      // read), proving the new snapshot never wrote over the old one
      val v0 = spark.read.parquet(s"$dir/v$id0").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(v0 === Map(1L -> "one", 2L -> "two", 3L -> "three", 4L -> "four"))
    } finally q.stop()
  }

  test("restart from checkpoint: batch ids resume, so idempotence never swallows a real batch") {
    // the exactly-once claim depends on TWO things across a crash: the
    // engine re-running the last uncommitted batch under its ORIGINAL id
    // (which mergeBatch's applied-id check no-ops), and batch numbering
    // RESUMING after restart — if a restarted query restarted ids at 0,
    // the applied-id check would silently swallow genuinely new batches.
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = graft.SparkSpec.tempDir("lake-merge-restart").toString
    val ckpt = graft.SparkSpec.tempDir("lake-merge-restart-ckpt").toString
    val input = MemoryStream[(Long, String, String)]
    def start() = input.toDF().toDF("doc_id", "text", "op")
      .writeStream
      .foreachBatch(LakeMerge.mergeBatch(dir) _)
      .option("checkpointLocation", ckpt)
      .start()

    val q1 = start()
    val idBefore =
      try {
        input.addData((1L, "one", "upsert"), (2L, "two", "upsert"))
        q1.processAllAvailable()
        assert(corpus(dir) === Map(1L -> "one", 2L -> "two"))
        LakeMerge.latest(dir).get._1
      } finally q1.stop()

    val q2 = start()
    try {
      input.addData((2L, "two-v2", "upsert"), (3L, "three", "upsert"))
      q2.processAllAvailable()
      assert(corpus(dir) === Map(1L -> "one", 2L -> "two-v2", 3L -> "three"),
        "the post-restart batch must apply — a swallowed batch means ids reset")
      assert(LakeMerge.latest(dir).get._1 > idBefore,
        "snapshot id must advance past the pre-restart snapshot")
    } finally q2.stop()
  }

  test("model check: random batch sequences equal a sequential Map fold") {
    import spark.implicits._
    // deterministic pseudo-random workload (fixed seed — reproducible)
    val rnd = new scala.util.Random(0xC0FFEE)
    val dir = graft.SparkSpec.tempDir("lake-merge-model").toString
    var model = Map.empty[Long, String]
    for (batchId <- 0L until 6L) {
      val ops = (0 until 1 + rnd.nextInt(7)).map { i =>
        val id = rnd.nextInt(9).toLong
        if (rnd.nextBoolean()) (id, s"b$batchId-r$i", "upsert", i.toLong)
        else (id, null.asInstanceOf[String], "delete", i.toLong)
      }
      // reference semantics: per doc, the op with the greatest op_seq wins
      ops.groupBy(_._1).foreach { case (id, rows) =>
        val last = rows.maxBy(_._4)
        model = if (last._3 == "delete") model - id else model + (id -> last._2)
      }
      LakeMerge.mergeBatch(dir)(
        rnd.shuffle(ops).toDF("doc_id", "text", "op", "op_seq"), batchId)
      assert(corpus(dir) === model, s"batch $batchId: corpus drifted from the model")
    }
    assert(model.nonEmpty, "degenerate workload — seed produced an empty corpus")
  }

  test("explicit op_seq wins across partitions — the multi-partition ordering contract") {
    import spark.implicits._
    val dir = graft.SparkSpec.tempDir("lake-merge-seq").toString
    // two partitions, with the doc's LATER op (delete, op_seq=2) placed in
    // partition 0 and the earlier upsert (op_seq=1) in partition 1 — the
    // partition-major fallback would resurrect the doc; op_seq must not
    val batch = Seq(
      (7L, null.asInstanceOf[String], "delete", 2L),
      (7L, "resurrected?", "upsert", 1L),
      (8L, "eight", "upsert", 1L))
      .toDF("doc_id", "text", "op", "op_seq")
      .repartition(2, org.apache.spark.sql.functions.col("op_seq"))
    LakeMerge.mergeBatch(dir)(batch, 0L)
    assert(corpus(dir) === Map(8L -> "eight"),
      "a later delete lost to an earlier upsert — op_seq ordering broken")
  }
}
