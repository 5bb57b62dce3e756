package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench's contract-line template (pure; no SparkSession). */
class BenchSpec extends AnyFunSuite {

  test("contract line: failed queries leave queries and value, are listed and counted; locale-proof numbers") {
    val saved = java.util.Locale.getDefault
    // de_DE renders "%.3f" as "1,500" — the line must not follow it.
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    val l = try Bench.line(
      Seq("q_a" -> Some(1.5), "q_broken" -> None, "q_b" -> Some(0.25)),
      "/data/sf0.01", headline = false)
    finally java.util.Locale.setDefault(saved)
    assert(l == """{"metric":"total","value":1.750,"unit":"sec",""" +
      """"n_queries":2,"queries":{"q_a":1.500,"q_b":0.250},""" +
      """"n_failed":1,"failed":["q_broken"],"sf":"/data/sf0.01"}""")
    // No failures → no failure fields at all.
    assert(!Bench.line(Seq("q_a" -> Some(1.0)), "/d", headline = false)
      .contains("failed"))
  }
}
