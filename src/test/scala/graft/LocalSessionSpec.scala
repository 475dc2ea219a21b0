package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_CPUS` parsing (session-free). */
class LocalSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS: unset means 4, a positive integer is taken as is") {
    assert(LocalSession.parseCpus(None) == 4)
    assert(LocalSession.parseCpus(Some("32")) == 32)
    assert(LocalSession.parseCpus(Some(" 8 ")) == 8)
  }

  test("SPARK_GRAFT_CPUS: a non-integer or non-positive value fails naming the variable") {
    Seq("", "four", "4.5", "0", "-2", "4]").foreach { raw =>
      val e = intercept[IllegalArgumentException](LocalSession.parseCpus(Some(raw)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), raw)
      assert(e.getMessage.contains(s"'$raw'"), raw)
    }
  }
}
