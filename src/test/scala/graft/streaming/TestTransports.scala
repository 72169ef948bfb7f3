package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import graft.kernel.KinesisEntry

/** Collects entries into a JVM-wide queue (executors share the JVM in
  * local mode). */
class InMemoryTransport extends KinesisTransport {
  override def putRecords(stream: String, entries: Seq[KinesisEntry]): Seq[Boolean] = {
    entries.foreach(e => InMemoryTransport.buffer.add(stream -> e))
    Vector.fill(entries.size)(true)
  }
}

object InMemoryTransport {
  val buffer = new ConcurrentLinkedQueue[(String, KinesisEntry)]()
  def clear(): Unit = buffer.clear()
  def drain(): Vector[(String, KinesisEntry)] = {
    val b = Vector.newBuilder[(String, KinesisEntry)]
    var e = buffer.poll()
    while (e != null) { b += e; e = buffer.poll() }
    b.result()
  }
}

/** Simulates partial-failure responses for retry tests: fails entry i of
  * request r when `failPlan(r, i)` says so. */
class FlakyTransport(inner: KinesisTransport, failPlan: (Long, Int) => Boolean)
    extends KinesisTransport {
  private var requestNo = -1L
  override def putRecords(stream: String, entries: Seq[KinesisEntry]): Seq[Boolean] = {
    requestNo += 1
    val oks = entries.zipWithIndex.map { case (_, i) => !failPlan(requestNo, i) }
    val accepted = entries.zip(oks).collect { case (e, true) => e }
    if (accepted.nonEmpty) inner.putRecords(stream, accepted)
    oks
  }
}
