package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The source tree is text, checked without a session: no file under
  * `src/` holds a NUL byte. `grep` and `rg` treat a file with one as
  * binary and skip its matches, so a literal NUL hides the whole file
  * from a search; write the escape `\u0000` instead, which compiles to
  * the same string.
  */
class SourceTextSpec extends AnyFunSuite {

  test("no file under src/ holds a NUL byte") {
    val root = Paths.get("src")
    assert(Files.isDirectory(root), s"no $root under ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root)
    val withNul =
      try files.iterator.asScala.filter(Files.isRegularFile(_))
        .filter((p: Path) => Files.readAllBytes(p).contains(0.toByte)).map(_.toString).toList
      finally files.close()
    assert(withNul.isEmpty, s"NUL bytes in ${withNul.sorted.mkString(", ")}")
  }
}
