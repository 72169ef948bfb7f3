package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Wall clock in epoch nanoseconds with nanoTime resolution: one base per
  * JVM, so due times, broker events and sink receipts in the harness are
  * on one monotonic scale. */
object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def nowNs: Long = baseEpochNs + (System.nanoTime() - baseNano)
  def sleepUntilNs(t: Long): Unit = {
    var left = t - nowNs
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(left)
      left = t - nowNs
    }
  }
}

object Stats {
  /** Nearest-rank percentile, `p` in [0, 100]. NaN on no samples. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else { val s = xs.sorted; val m = s.size / 2; if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2 }

  /** The highest percentile that leaves at least ten samples beyond it:
    * (value, percentile, samples). With fewer than eleven samples no such
    * percentile exists and the maximum is returned with percentile 100. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    if (s.isEmpty) (Double.NaN, 100.0, 0)
    else if (s.size < 11) (s.last, 100.0, s.size)
    else {
      val i = s.size - 11
      (s(i), 100.0 * (i + 1) / s.size, s.size)
    }
  }

  /** p99 when at least ten samples lie beyond it, else [[tail]]. */
  def p99(xs: Seq[Double]): (Double, Double, Int) =
    if (xs.size >= 1100) (pct(xs, 99), 99.0, xs.size) else tail(xs)

  def loadavg1m(): Double =
    try new String(Files.readAllBytes(Path.of("/proc/loadavg")), UTF_8).split(' ')(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Aggregate CPU ticks from /proc/stat: (total, steal). */
  def cpuTicks(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Path.of("/proc/stat")), UTF_8).linesIterator.next()
        .split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Throwable => (0L, 0L) }

  /** Share of CPU time the hypervisor gave to others between two samples. */
  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._1 > a._1) (b._2 - a._2).toDouble / (b._1 - a._1) else 0.0

  /** VmHWM (peak resident set) of a process, in MB. */
  def peakRssMb(pid: Long): Double =
    try {
      val line = Files.readAllLines(Path.of(s"/proc/$pid/status")).toArray.map(_.toString)
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => Double.NaN }
}

object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
  def read(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)
}

/** In-memory span store for traced runs. A span is (id, parent, layer,
  * name, start, end) in epoch ns; spans of one record, batch or query share
  * `trace`. Nothing is recorded when tracing is off. */
final class Tracer(val on: Boolean) {
  import Tracer.Span
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  def span(trace: String, parent: Long, layer: String, name: String,
           startNs: Long, endNs: Long): Long =
    if (!on) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(trace, id, parent, layer, name, startNs, endNs))
      id
    }

  def all: Vector[Span] = { val b = Vector.newBuilder[Span]; spans.forEach(b += _); b.result() }

  /** Mean self time per trace, by trace kind (the id's prefix before `#`:
    * msg, batch, put, kernel, query) and layer, in ms. A span's self time
    * is its duration minus the part of it that its children cover. */
  def selfMsPerTrace: Map[String, Map[String, Double]] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    def self(s: Span): Double = {
      val covered = kids.getOrElse(s.id, Vector.empty)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
          val from = math.max(a, reach)
          (acc + math.max(0L, b - from), math.max(reach, b))
        }._1
      (s.endNs - s.startNs - covered).toDouble / 1e6
    }
    ss.groupBy(_.trace.takeWhile(_ != '#')).map { case (kind, xs) =>
      val traces = xs.map(_.trace).distinct.size.toDouble
      kind -> xs.groupBy(_.layer).map { case (layer, ys) => layer -> ys.map(self).sum / traces }
    }
  }

  def toJson(limit: Int): Seq[Map[String, Any]] = all.take(limit).map { s =>
    Map("trace" -> s.trace, "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  }
}

object Tracer {
  final case class Span(trace: String, id: Long, parent: Long, layer: String,
                        name: String, startNs: Long, endNs: Long)
}
