package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._
import scala.util.Using

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

/** The processes this JVM starts while a block runs, from an in-process
  * JFR recording of `jdk.ProcessStart`. */
object ProcessStarts {
  final case class Start(command: String, threadId: Long) {
    def program: String = command.takeWhile(_ != ' ').split('/').last
  }

  def during[T](body: => T): (T, Seq[Start]) = {
    val file = Files.createTempFile("process-starts", ".jfr")
    try Using.resource(new Recording()) { rec =>
      rec.enable("jdk.ProcessStart")
      rec.start()
      val out = try body finally rec.stop()
      rec.dump(file)
      val starts = RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => Start(e.getString("command"), e.getThread.getJavaThreadId))
      (out, starts)
    } finally Files.deleteIfExists(file)
  }

  /** The `chmod` and `readlink` commands run on files under `dir`. Other
    * suites' streaming queries may still be winding down on their own
    * threads, so only forks that name `dir` belong to the code under test. */
  def forksOn(dir: String, starts: Seq[Start]): Seq[String] =
    starts.filter(s => Set("chmod", "readlink")(s.program) && s.command.contains(dir)).map(_.command)
}

class NoForkLocalFsSpec extends AnyFunSuite {

  private def conf(fs: Class[_]): Configuration = {
    val c = new Configuration()
    c.set("fs.AbstractFileSystem.file.impl", fs.getName)
    c
  }

  /** Every file under `dir`: relative name → (size, POSIX mode, contents). */
  private def listing(dir: JPath): Map[String, (Long, String, Seq[Byte])] =
    Using.resource(Files.walk(dir))(_.iterator.asScala.toSeq).filter(Files.isRegularFile(_)).map { f =>
      dir.relativize(f).toString -> ((Files.size(f),
        java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(f)),
        Files.readAllBytes(f).toSeq))
    }.toMap

  /** 20 atomic writes, an overwrite, a listing and a delete, as Spark's
    * offset and commit logs make them. */
  private def checkpointIo(dir: JPath, fs: Class[_]): Seq[String] = {
    val base = new Path(dir.toUri)
    val fm = new FileContextBasedCheckpointFileManager(base, conf(fs))
    def write(name: String, body: String, overwrite: Boolean): Unit = {
      val out = fm.createAtomic(new Path(base, name), overwrite)
      out.write(body.getBytes(UTF_8))
      out.close()
    }
    fm.mkdirs(new Path(base, "offsets"))
    (0 until 20).foreach(i => write(s"offsets/$i", s"v1\n{\"batch\":$i}\n" * (i + 1), overwrite = false))
    write("offsets/3", "rewritten", overwrite = true)
    val listed = fm.list(new Path(base, "offsets")).map(_.getPath.getName).sorted.toSeq
    fm.delete(new Path(base, "offsets/7"))
    listed
  }

  test("checkpoint writes start no process and leave LocalFs's files, modes and .crc sidecars") {
    val root = graft.SparkSpec.tempDir("nofork-fs")
    val stock = root.resolve("stock")
    val nofork = root.resolve("nofork")
    val stockListed = checkpointIo(stock, classOf[LocalFs])
    val (listed, starts) = ProcessStarts.during(checkpointIo(nofork, classOf[NoForkLocalFs]))
    val mine = starts.filter(_.threadId == Thread.currentThread.getId)
    assert(mine.isEmpty, s"processes started: ${mine.map(_.command)}")
    assert(listed === stockListed)
    val files = listing(nofork)
    assert(files === listing(stock))
    assert(files.keySet.filterNot(_.endsWith(".crc")).map(n => n.replace("offsets/", "offsets/.") + ".crc") ===
      files.keySet.filter(_.endsWith(".crc")), "one .crc sidecar per file")
    assert(files.size === 2 * 19)
    assert(new String(files("offsets/3")._3.toArray, UTF_8) === "rewritten")
    assert(files.values.map(_._2).toSet === Set("rw-r--r--"))
  }

  test("overwrite=false onto an existing file still throws") {
    val base = new Path(graft.SparkSpec.tempDir("nofork-exists").toUri)
    val fm = new FileContextBasedCheckpointFileManager(base, conf(classOf[NoForkLocalFs]))
    def write(overwrite: Boolean): Unit = {
      val out = fm.createAtomic(new Path(base, "0"), overwrite)
      out.write(Array[Byte](1, 2, 3))
      out.close()
    }
    write(overwrite = false)
    intercept[FileAlreadyExistsException](write(overwrite = false))
    write(overwrite = true)
  }

  test("mode bits reach the file exactly; a sticky bit still goes through chmod") {
    val dir = graft.SparkSpec.tempDir("nofork-modes")
    val fc = FileContext.getFileContext(dir.toUri, conf(classOf[NoForkLocalFs]))
    def mode(name: String): Int =
      Files.getAttribute(dir.resolve(name), "unix:mode").asInstanceOf[Int] & 0xfff
    for (bits <- Seq(0x000, 0x1c0, 0x1a4, 0x1ff, 0x124)) {
      val p = new Path(dir.toUri.toString, f"f$bits%o")
      fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE)).close()
      fc.setPermission(p, new FsPermission(bits.toShort))
      assert(mode(p.getName) === bits, f"mode $bits%o")
    }
    val sticky = new Path(dir.toUri.toString, "sticky")
    fc.mkdir(sticky, FsPermission.getDirDefault, false)
    val (_, starts) = ProcessStarts.during(fc.setPermission(sticky, new FsPermission(0x3ed.toShort)))
    assert(mode("sticky") === 0x3ed)
    assert(starts.filter(_.threadId == Thread.currentThread.getId).map(_.program) === Seq("chmod"))
  }
}
