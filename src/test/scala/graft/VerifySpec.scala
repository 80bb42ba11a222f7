package graft

import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite {
  test("Verify.main rejects a wrong argument count with a usage message") {
    val e = intercept[IllegalArgumentException](Verify.main(Array("only-one")))
    assert(e.getMessage.contains("usage: Verify"))
  }
}
