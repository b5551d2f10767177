package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Library code takes its settings from arguments and `Pipeline.Config`,
  * never from the process environment: an env knob read inside an
  * operator silently forks behavior between runs of one binary. The one
  * exemption is `GRAFT_TABLE_FORMAT`, the storage-format switch of
  * `TableIO`. Mains (Bench, Demo, ...) may read the environment. */
class LibraryEnvSpec extends AnyFunSuite {

  private val root = Paths.get(sys.props("user.dir"))
  private val main = root.resolve("src/main/scala/graft")
  private val scanned: Seq[Path] =
    Seq("operators", "sources", "streaming", "functions").map(main.resolve) :+
      main.resolve("Pipeline.scala")
  private val EnvRead = """(sys\.env|System\.getenv)""".r
  private val Allowed = "GRAFT_TABLE_FORMAT"

  private def scalaFiles(p: Path): Seq[Path] =
    if (Files.isDirectory(p))
      Files.walk(p).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    else Seq(p)

  test("no environment reads in library code other than GRAFT_TABLE_FORMAT") {
    scanned.foreach(p => assert(Files.exists(p), s"scanned path $p is missing"))
    val files = scanned.flatMap(scalaFiles)
    assert(files.size > 10, s"scan found only ${files.size} files")
    val offenders = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if EnvRead.findFirstIn(line).isDefined && !line.contains(s"\"$Allowed\"")
    } yield s"${root.relativize(f)}:${i + 1}: ${line.trim}"
    if (offenders.nonEmpty)
      fail("env reads in library code (pass settings as arguments instead):\n" +
        offenders.mkString("\n"))
  }
}
