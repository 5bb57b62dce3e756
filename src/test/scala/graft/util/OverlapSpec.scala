package graft.util

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class OverlapSpec extends AnyFunSuite with SparkTestBase {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("writeBoth: a failing `a` still lets `b` finish its write, then " +
      "surfaces `a`'s error") {
    val out = tmpDir("writeboth_b") + "/t"
    val e = intercept[IllegalStateException] {
      Overlap.writeBoth(throw new IllegalStateException("a failed"),
        spark.range(1000).write.parquet(out))
    }
    assert(e.getMessage == "a failed")
    assert(spark.read.parquet(out).count() == 1000L)
    // Both fail: `a`'s error is the one rethrown.
    val both = intercept[IllegalStateException] {
      Overlap.writeBoth(throw new IllegalStateException("a"),
        throw new IllegalStateException("b"))
    }
    assert(both.getMessage == "a")
  }

  test("writeBoth: a failing `b` still lets `a` finish its write, then " +
      "surfaces `b`'s error") {
    val out = tmpDir("writeboth_a") + "/t"
    val e = intercept[IllegalStateException] {
      Overlap.writeBoth(spark.range(1000).write.parquet(out),
        throw new IllegalStateException("b failed"))
    }
    assert(e.getMessage == "b failed")
    assert(spark.read.parquet(out).count() == 1000L)
  }

  test("writeBoth: `b` sees the caller's current Spark local properties") {
    val sc = spark.sparkContext
    val key = "graft.test.writeBoth"
    // Two calls with different values: a thread reused across calls
    // would carry the first call's (or no) value into the second.
    try Seq("first", "second").foreach { v =>
      sc.setLocalProperty(key, v)
      var seen: String = null
      Overlap.writeBoth((), { seen = sc.getLocalProperty(key) })
      assert(seen == v)
    } finally sc.setLocalProperty(key, null)
  }
}
