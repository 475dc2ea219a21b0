package graft

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** The settable knobs the program reads, checked without a session: the
  * `spark.graft.*` conf keys and the environment variables named in
  * `src/main/scala` must equal the committed lists below. Adding or
  * removing a knob is an edit of this file.
  */
class KnobInventorySpec extends AnyFunSuite {

  private val confKeys = Set("spark.graft.checkContracts", "spark.graft.reliableCheckpoint")
  private val envVars = Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR")

  // read as ISO-8859-1: every byte maps to one char, so no source file
  // can fail to decode, and the patterns below are ASCII
  private lazy val sources: Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no $root under ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => new String(Files.readAllBytes(p), ISO_8859_1))
    finally files.close()
  }

  private def named(re: Regex): Set[String] =
    sources.flatMap(src => re.findAllMatchIn(src).map(_.group(1))).toSet

  test("the spark.graft.* conf keys read in src/main are the committed list") {
    assert(named(""""(spark\.graft\.[A-Za-z0-9_.]+)"""".r) == confKeys)
  }

  test("the environment variables read in src/main are the committed list") {
    assert(named("""(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)\(\s*"(\w+)"""".r) == envVars)
  }
}
