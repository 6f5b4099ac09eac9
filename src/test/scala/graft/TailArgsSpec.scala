package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `tail`, `sync` and `optimize` verbs reject a misspelled option or
  * a bad numeric suffix with their clean "unknown argument" error, before
  * any session starts or option reaches the engine. */
class TailArgsSpec extends AnyFunSuite {

  private def rejects(verb: String, arg: String): Unit = {
    val lakes =
      if (verb == "sync") Seq("/nonexistent-src", "/nonexistent-dst")
      else Seq("/nonexistent-lake")
    val e = intercept[RuntimeException](
      graft.cli.Main.main((verb +: lakes :+ arg).toArray))
    assert(e.getMessage.startsWith(s"$verb: unknown argument '$arg'"), e.getMessage)
  }

  test("bootstrapBuckets: a non-number or zero is an unknown argument") {
    rejects("tail", "bootstrapBuckets:abc")
    rejects("tail", "bootstrapBuckets:0")
  }

  test("credit: a non-number or zero is an unknown argument") {
    rejects("tail", "credit:x")
    rejects("tail", "credit:0")
  }

  test("for: a unit suffix or zero is an unknown argument") {
    rejects("tail", "for:1s")
    rejects("tail", "for:0")
  }

  test("row count: a value past Int range is an unknown argument") {
    rejects("tail", "99999999999")
  }

  test("sync: a misspelled option is an unknown argument, never an " +
    "ungated sync") {
    rejects("sync", "clientid:x")
  }

  test("sync: follow needs a positive millisecond count") {
    rejects("sync", "follow:1s")
    rejects("sync", "follow:0")
  }

  test("optimize: a non-numeric or non-positive budget is an unknown " +
    "argument") {
    rejects("optimize", "x")
    rejects("optimize", "0")
    rejects("optimize", "-4")
  }
}
