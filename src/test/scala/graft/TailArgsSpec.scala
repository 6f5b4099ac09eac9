package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `tail` verb rejects a bad numeric suffix with its clean "unknown
  * argument" error, before any session starts or option reaches the
  * source. */
class TailArgsSpec extends AnyFunSuite {

  private def rejects(arg: String): Unit = {
    val e = intercept[RuntimeException](
      graft.cli.Main.main(Array("tail", "/nonexistent-lake", arg)))
    assert(e.getMessage.startsWith(s"tail: unknown argument '$arg'"), e.getMessage)
  }

  test("bootstrapBuckets: a non-number or zero is an unknown argument") {
    rejects("bootstrapBuckets:abc")
    rejects("bootstrapBuckets:0")
  }

  test("credit: a non-number or zero is an unknown argument") {
    rejects("credit:x")
    rejects("credit:0")
  }

  test("for: a unit suffix or zero is an unknown argument") {
    rejects("for:1s")
    rejects("for:0")
  }

  test("row count: a value past Int range is an unknown argument") {
    rejects("99999999999")
  }
}
