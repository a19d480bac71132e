package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cli flag parsing: it runs before any SparkSession starts. */
class CliSpec extends AnyFunSuite {

  test("Cli flags: known pairs parse; an unknown flag or a dangling argument fails") {
    assert(Cli.parseFlags(Seq("--fixture", "500", "--sketch", "64", "--min-moved", "0")) ===
      Map("--fixture" -> "500", "--sketch" -> "64", "--min-moved" -> "0"))
    assert(Cli.parseFlags(Seq.empty) === Map.empty)
    // removed flags are unknown now, not silently ignored
    for (bad <- Seq("--csr", "--localfirst", "fixture")) {
      val e = intercept[IllegalArgumentException](Cli.parseFlags(Seq("--fixture", "500", bad, "1")))
      assert(e.getMessage.startsWith(s"unknown flag '$bad'"), e.getMessage)
    }
    val e = intercept[IllegalArgumentException](Cli.parseFlags(Seq("--fixture", "500", "--out")))
    assert(e.getMessage === "dangling argument '--out' (no value)")
  }
}
