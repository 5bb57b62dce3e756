package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class StreamingRollupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def rollup(df: DataFrame): DataFrame = df.groupBy($"k")
    .agg(count(lit(1)).as("cnt"), sum($"v").as("sv"))

  private val schema = rollup(Seq(("x", 1L)).toDF("k", "v")).schema

  private def state(dir: String): Map[String, (Long, Long)] =
    StreamingRollup.read(spark, dir, Seq("k"), schema)
      .as[(String, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap

  test("streamed rollup equals the batch aggregate of all input") {
    implicit val sql = spark.sqlContext
    val dir = tmpDir("rollup")
    val ckpt = tmpDir("rollup_ckpt")
    val input = MemoryStream[(String, Long)]
    val q = StreamingRollup.start(input.toDS().toDF("k", "v"),
      rollup, dir, ckpt)
    try {
      input.addData(("a", 1L), ("a", 2L), ("b", 10L))
      q.processAllAvailable()
      assert(state(dir) == Map("a" -> ((2L, 3L)), "b" -> ((1L, 10L))))
      input.addData(("a", 5L), ("c", 7L))
      q.processAllAvailable()
      assert(state(dir) ==
        Map("a" -> ((3L, 8L)), "b" -> ((1L, 10L)), "c" -> ((1L, 7L))))
      assert(q.exception.isEmpty)
    } finally q.stop()
  }

  test("an at-least-once replayed batch does not double-count") {
    val dir = tmpDir("rollup_replay")
    val b = rollup(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"))
    StreamingRollup.writeDelta(b, dir, 0L)
    StreamingRollup.writeDelta(b, dir, 0L) // replay of batch 0
    assert(state(dir) == Map("a" -> ((1L, 1L)), "b" -> ((1L, 2L))))
  }

  test("compaction folds deltas without changing the rollup") {
    val dir = tmpDir("rollup_compact")
    StreamingRollup.writeDelta(
      rollup(Seq(("a", 1L), ("b", 2L)).toDF("k", "v")), dir, 0L)
    StreamingRollup.writeDelta(
      rollup(Seq(("a", 4L)).toDF("k", "v")), dir, 1L)
    val before = state(dir)
    StreamingRollup.compact(spark, dir, Seq("k"), schema)
    assert(state(dir) == before)
    // History really collapsed: exactly one delta partition remains.
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(parts.map(_.getName).toSeq == Seq("batch=-1"))
    // And maintenance continues cleanly after a compact.
    StreamingRollup.writeDelta(
      rollup(Seq(("b", 1L)).toDF("k", "v")), dir, 2L)
    assert(state(dir) == Map("a" -> ((2L, 5L)), "b" -> ((2L, 3L))))
  }

  test("a compact whose stage write fails leaves the rollup unchanged " +
      "and no stage directory") {
    val dir = tmpDir("rollup_failed_compact")
    StreamingRollup.writeDelta(
      rollup(Seq(("a", 1L), ("b", 2L)).toDF("k", "v")), dir, 0L)
    StreamingRollup.writeDelta(
      rollup(Seq(("a", 4L)).toDF("k", "v")), dir, 1L)
    val before = state(dir)
    // A delta file that is not parquet, sorted after the file schema
    // inference reads: the fold's scan fails inside the stage write.
    val corrupt = Paths.get(dir, "batch=1", "part-99999-corrupt.parquet")
    Files.write(corrupt, "not parquet".getBytes("UTF-8"))
    def files = {
      val all = Files.walk(Paths.get(dir))
      try all.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.readAllBytes(f).toVector).toMap
      finally all.close()
    }
    val filesBefore = files
    intercept[Exception](StreamingRollup.compact(spark, dir, Seq("k"), schema))
    assert(files == filesBefore)
    assert(!Files.exists(Paths.get(s"$dir.__stage__")),
      "a failed compact must not leave its stage behind")
    Files.delete(corrupt)
    assert(state(dir) == before)
  }

  test("reading an absent rollup yields an empty frame, not a failure") {
    assert(state(tmpDir("rollup_empty")).isEmpty)
  }
}
