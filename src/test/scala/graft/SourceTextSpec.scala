package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Source files stay plain text: a raw NUL byte makes ripgrep and
  * other code-search tools treat the whole file as binary and stop
  * reporting matches past it. Write `\u0000` escapes instead. */
class SourceTextSpec extends AnyFunSuite {

  test("no Scala source under src/ contains a NUL byte") {
    val src = Paths.get("src")
    assert(Files.isDirectory(src.resolve("main/scala")),
      s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val walk = Files.walk(src)
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.nonEmpty)
    val withNul: List[Path] = files.filter(f => Files.readAllBytes(f).contains(0: Byte))
    assert(withNul.isEmpty, s"raw NUL bytes in: ${withNul.mkString(", ")}")
  }
}
