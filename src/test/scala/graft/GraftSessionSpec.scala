package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one core-count rule of every main ([[GraftSession.cpus]]). */
class GraftSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS: unset means the host's processors, a positive integer is taken as is") {
    assert(GraftSession.parseCpus(None) === Runtime.getRuntime.availableProcessors)
    assert(GraftSession.parseCpus(Some("6")) === 6)
  }

  test("SPARK_GRAFT_CPUS: zero and a non-integer are rejected with the variable's name") {
    for (bad <- Seq("0", "abc")) {
      val e = intercept[IllegalArgumentException](GraftSession.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
