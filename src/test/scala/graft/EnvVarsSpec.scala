package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every `SPARK_GRAFT_*` variable the program and its test benches read
  * is documented. */
class EnvVarsSpec extends AnyFunSuite {

  test("every SPARK_GRAFT_* literal in src/main and src/test is named in README.md") {
    val literal = "\"(SPARK_GRAFT_[A-Z_]+)\"".r
    def names(dir: String): Set[String] = {
      val root = Paths.get(dir)
      assert(Files.isDirectory(root), "run from the repository root")
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "EnvVarsSpec.scala")
        .flatMap(p => literal.findAllMatchIn(Files.readString(p)).map(_.group(1)))
        .toSet
      finally walk.close()
    }
    val main = names("src/main/scala")
    assert(main.contains("SPARK_GRAFT_CONF"))
    val all = main ++ names("src/test/scala")
    val readme = Files.readString(Paths.get("README.md"))
    val missing = all.filterNot(n => s"\\b$n\\b".r.findFirstIn(readme).isDefined)
    assert(missing.isEmpty, s"not in README.md: ${missing.toSeq.sorted.mkString(", ")}")
  }
}
