package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Pins Verify's failures manifest: a query that throws is named in
  * `failures.json` with its message, the others are still dumped. */
class VerifySpec extends AnyFunSuite with SparkTestBase {

  test("dump writes failures.json: {query: message} for each query that threw, {} when none") {
    val out = Files.createTempDirectory("graft_verify_spec").toString
    val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(3).toDF("id")
    Verify.dump(spark, sf, out, Seq(
      "q_ok" -> ok,
      "q_broken" -> ((_, _) => throw new IllegalStateException("boom \"quoted\""))))
    assert(Files.readString(Paths.get(s"$out/failures.json")) ==
      """{"q_broken": "boom \"quoted\""}""")
    assert(spark.read.parquet(s"$out/q_ok").count() == 3)

    Verify.dump(spark, sf, out, Seq("q_ok" -> ok))
    assert(Files.readString(Paths.get(s"$out/failures.json")) == "{}")
  }
}
