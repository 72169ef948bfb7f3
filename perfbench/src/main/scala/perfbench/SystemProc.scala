package perfbench

import java.nio.file.Path
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

/** The system under test in its own JVM: launch, line protocol on
  * stdin/stdout (`@@`-prefixed replies), VmHWM sampling, and a stop that
  * waits for the process to end. */
final class SystemProc(javaOpts: Seq[String], classpath: String, mainClass: String,
                       args: Seq[String], env: Map[String, String], log: Path) {
  private val javaBin = Path.of(System.getProperty("java.home"), "bin", "java").toString
  private val pb = new ProcessBuilder((Seq(javaBin) ++ javaOpts ++ Seq("-cp", classpath, mainClass) ++ args).asJava)
  pb.redirectError(log.toFile)
  env.foreach { case (k, v) => pb.environment().put(k, v) }
  val launchNs: Long = Clock.nowNs
  private val p = pb.start()
  // the system JVM must not outlive the harness, however the harness ends
  sys.addShutdownHook(if (p.isAlive) p.destroyForcibly())
  val pid: Long = p.pid()
  private val replies = new LinkedBlockingQueue[String]()
  @volatile private var peakMb = 0.0

  private val reader = new Thread(() => {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(p.getInputStream))
    var line = in.readLine()
    while (line != null) {
      if (line.startsWith("@@")) replies.add(line.substring(2))
      line = in.readLine()
    }
  }, "system-stdout")
  reader.setDaemon(true)
  reader.start()

  private val sampler = new Thread(() => {
    while (p.isAlive) {
      val mb = Stats.peakRssMb(pid)
      if (!mb.isNaN) peakMb = math.max(peakMb, mb)
      Thread.sleep(100)
    }
  }, "system-rss")
  sampler.setDaemon(true)
  sampler.start()

  def peakRssMb: Double = { val mb = Stats.peakRssMb(pid); if (!mb.isNaN) peakMb = math.max(peakMb, mb); peakMb }
  def alive: Boolean = p.isAlive

  /** Next reply starting with `prefix`; fails if the process dies first or
    * the deadline passes. */
  def await(prefix: String, timeoutS: Double): String = {
    val deadline = Clock.nowNs + (timeoutS * 1e9).toLong
    while (Clock.nowNs < deadline) {
      val r = replies.poll(100, TimeUnit.MILLISECONDS)
      if (r != null && r.startsWith(prefix)) return r.substring(prefix.length).trim
      if (r == null && !p.isAlive && replies.isEmpty)
        throw new IllegalStateException(s"system process exited (${p.exitValue()}) before '$prefix'; see $log")
    }
    throw new IllegalStateException(s"timed out after ${timeoutS}s waiting for '$prefix'; see $log")
  }

  def send(cmd: String): Unit = {
    val out = p.getOutputStream
    out.write((cmd + "\n").getBytes("UTF-8")); out.flush()
  }

  /** SIGTERM, then SIGKILL after `graceS`; returns once the process ended. */
  def stop(graceS: Double): Unit = {
    if (p.isAlive) {
      p.destroy()
      if (!p.waitFor((graceS * 1000).toLong, TimeUnit.MILLISECONDS)) {
        p.destroyForcibly()
        p.waitFor()
      }
    }
    reader.join(2000)
  }

  def waitExit(timeoutS: Double): Boolean = p.waitFor((timeoutS * 1000).toLong, TimeUnit.MILLISECONDS)
}

object SystemProc {
  /** Module opens Spark needs on JDK 17 outside spark-submit. */
  val addOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar").flatMap(m => Seq("--add-opens", s"$m=ALL-UNNAMED"))
}
