package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSuite

/** Walks [[TwinContracts]]: every row goes through all three [[Arm]]s.
  * An arm that took over an older test runs under that test's suite and
  * title ([[TwinContracts.homes]], through [[TwinSuite]]); this suite
  * runs every other arm. */
class TwinContractSpec extends SparkSuite {

  private val homed = TwinContracts.homes.flatMap(h => h.arms.map(a => (h.twin, a)))

  test("every twin that calls transformWithState has a contract row") {
    val root = Paths.get("src/main/scala/graft/streaming")
    assert(Files.isDirectory(root), "run from the repository root")
    val stream = Files.list(root)
    val twins =
      try stream.iterator.asScala.map(p => new String(Files.readAllBytes(p), "UTF-8"))
        .filter(_.contains(".transformWithState("))
        .flatMap(src => "(?m)^object (\\w+)".r.findAllMatchIn(src).map(_.group(1)))
        .toSet
      finally stream.close()
    assert(twins.size >= 18)
    val rows = TwinContracts.all.map(_.name).toSet
    (twins -- rows).foreach(t => fail(s"$t calls transformWithState but has no TwinContracts row"))
  }

  test("no arm of a row runs in two suites") {
    homed.diff(homed.distinct).foreach { case (t, a) => fail(s"${t.name}: '${a.title}' has two homes") }
  }

  for (t <- TwinContracts.all; arm <- Arm.all if !homed.contains((t, arm)))
    test(s"${t.name}: ${arm.title}")(arm.check(t))
}
