package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Engine code takes its behaviour from its arguments and `GraftConf`, not
  * from the process environment: an env read inside an engine subpackage
  * is an A/B seam that forks what production runs from what the tests
  * check. Only the top-level `main`s of package `graft` read the
  * environment, plus the one deployment path below.
  */
class EnvSeamSpec extends AnyFunSuite {

  private val allowed = Set("GRAFT_STREAM_CKPT_DIR")
  private val envRead = """sys\.env|System\.getenv""".r

  test("engine subpackages read no environment variable except deployment paths") {
    val root = Paths.get("src", "main", "scala", "graft")
    assert(Files.isDirectory(root), s"source tree not found from ${Paths.get("").toAbsolutePath}")
    val sources: Seq[Path] = Files.list(root).iterator().asScala.toSeq
      .filter(Files.isDirectory(_))
      .flatMap(d => Files.walk(d).iterator().asScala.filter(_.toString.endsWith(".scala")))
    assert(sources.nonEmpty)
    val seams = for {
      f <- sources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if envRead.findFirstIn(line).isDefined && !allowed.exists(line.contains)
    } yield s"${root.relativize(f)}:${i + 1}: ${line.trim}"
    if (seams.nonEmpty) fail(seams.mkString("env reads in engine code:\n", "\n", ""))
  }
}
