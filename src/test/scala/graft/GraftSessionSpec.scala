package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_CPUS` parsing, on its own: no session is started. */
class GraftSessionSpec extends AnyFunSuite {
  test("SPARK_GRAFT_CPUS: unset means 4, a positive int is taken, anything else names the variable") {
    assert(GraftSession.cpus(None) == 4)
    assert(GraftSession.cpus(Some("8")) == 8)
    assert(GraftSession.cpus(Some(" 2 ")) == 2)
    Seq("", "four", "0", "-3", "2.5", "99999999999").foreach { bad =>
      val e = intercept[IllegalArgumentException](GraftSession.cpus(Some(bad)))
      assert(!e.isInstanceOf[NumberFormatException], e.toString)
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") &&
        e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
