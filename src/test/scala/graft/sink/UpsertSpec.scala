package graft.sink

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** A commit protocol whose job commit fails: every task has staged its
  * files, and nothing is moved into the table. */
final class FailingJobCommitProtocol(jobId: String, path: String,
    dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def commitJob(job: JobContext, commits: Seq[TaskCommitMessage]): Unit =
    throw new java.io.IOException("job commit failed after staging")
}

class UpsertSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Int, String)] =
    df.select("k", "v").as[(Int, String)].collect().toSet

  test("upsert inserts new PKs and overwrites existing ones, no deletes") {
    val target = Seq((1, "old1"), (2, "old2"), (3, "old3")).toDF("k", "v")
    val source = Seq((2, "new2"), (4, "new4")).toDF("k", "v")
    val got = rows(Upsert.upsert(target, source, Seq("k")))
    assert(got == Set((1, "old1"), (2, "new2"), (3, "old3"), (4, "new4")))
  }

  test("upsert is idempotent: re-applying the same source is a no-op") {
    val target = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val source = Seq((2, "b2"), (3, "c")).toDF("k", "v")
    val once = Upsert.upsert(target, source, Seq("k"))
    val twice = Upsert.upsert(once, source, Seq("k"))
    assert(rows(once) == rows(twice))
  }

  test("upsert with winner ordering resolves intra-source duplicates deterministically") {
    val target = Seq((1, "old")).toDF("k", "v")
    // Two source rows for k=1; winner = highest version.
    val source = Seq((1, "v1", 1), (1, "v2", 2)).toDF("k", "v", "version")
    val got = Upsert.upsert(target, source, Seq("k"),
      winner = Some(Seq($"version".desc)))
    assert(got.select("k", "v").as[(Int, String)].collect().toSet == Set((1, "v2")))
  }

  test("upsertPartitioned rewrites only touched partitions") {
    val dir = java.nio.file.Files.createTempDirectory("upsert_part").toString
    val path = s"$dir/t"
    val day1 = Seq((1, "a", "2024-01-01"), (2, "b", "2024-01-02"))
      .toDF("k", "v", "day")
    Upsert.upsertPartitioned(spark, path, day1, Seq("k"), "day")
    // Second load touches only day 2 (update) and day 3 (insert).
    val delta = Seq((2, "b2", "2024-01-02"), (3, "c", "2024-01-03"))
      .toDF("k", "v", "day")
    Upsert.upsertPartitioned(spark, path, delta, Seq("k"), "day")
    val got = spark.read.parquet(path)
      .select("k", "v", "day").as[(Int, String, String)].collect().toSet
    assert(got == Set(
      (1, "a", "2024-01-01"), (2, "b2", "2024-01-02"), (3, "c", "2024-01-03")))
    // Untouched partition day=2024-01-01 must still exist (was not dropped
    // by the dynamic overwrite of days 02/03).
    assert(spark.read.parquet(path).filter($"day" === "2024-01-01").count() == 1)
  }

  test("upsertPartitioned preserves existing null-partition rows on merge") {
    // Null partition values land in a real parquet partition directory;
    // when the source touches it, the semi join selecting affected
    // target rows must be null-safe or the dynamic overwrite silently
    // drops every pre-existing null-partition row.
    val dir = java.nio.file.Files.createTempDirectory("upsert_nullp").toString
    val path = s"$dir/t"
    val base = Seq((1, "a", Option("2024-01-01")), (2, "b", None))
      .toDF("k", "v", "day")
    Upsert.upsertPartitioned(spark, path, base, Seq("k"), "day")
    val delta = Seq((3, "c", Option.empty[String])).toDF("k", "v", "day")
    Upsert.upsertPartitioned(spark, path, delta, Seq("k"), "day")
    val got = spark.read.parquet(path)
      .select("k", "v").as[(Int, String)].collect().toSet
    assert(got == Set((1, "a"), (2, "b"), (3, "c")))
  }

  test("partitioned warehouse reads prune to the filtered partitions") {
    val dir = java.nio.file.Files.createTempDirectory("upsert_prune").toString
    val path = s"$dir/t"
    val src = (1 to 100).map(k => (k, s"v$k", f"2024-01-${k % 10 + 1}%02d"))
      .toDF("k", "v", "day")
    Upsert.upsertPartitioned(spark, path, src, Seq("k"), "day")
    // A day-filtered scan must prune at the PARTITION level (the 100 TB
    // contract of the layout): the filter appears as a PartitionFilters
    // entry on the scan, and the scan reads 1/10th of the files — never
    // a full-table read followed by a row filter.
    val q = spark.read.parquet(path).filter($"day" === "2024-01-03")
    val scan = q.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("no FileSourceScanExec in plan"))
    assert(scan.partitionFilters.nonEmpty,
      s"day filter not applied at partition level: $scan")
    assert(scan.relation.location.inputFiles.length > // table has 10 days
      scan.selectedPartitions.totalNumberOfFiles) // scan reads 1 day's
    assert(q.count() == 10)
  }

  test("upsertPartitioned double-apply is idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("upsert_idem").toString
    val path = s"$dir/t"
    val src = Seq((1, "a", "d1"), (2, "b", "d2")).toDF("k", "v", "day")
    Upsert.upsertPartitioned(spark, path, src, Seq("k"), "day")
    val first = spark.read.parquet(path).select("k", "v", "day")
      .as[(Int, String, String)].collect().toSet
    Upsert.upsertPartitioned(spark, path, src, Seq("k"), "day")
    val second = spark.read.parquet(path).select("k", "v", "day")
      .as[(Int, String, String)].collect().toSet
    assert(first == second)
  }

  test("upsertPartitioned interrupted between staging and the partition " +
      "overwrite leaves the table byte-identical, and a replay converges") {
    val dir = Files.createTempDirectory("upsert_interrupted").toString
    val day1 = Seq((1, "a", "d1"), (2, "b", "d2"), (3, "c", "d3"))
      .toDF("k", "v", "day")
    // Touches d2 and d3 (updates) and d4 (a new partition); d1 stays.
    val delta = Seq((2, "b2", "d2"), (3, "c2", "d3"), (4, "e", "d4"))
      .toDF("k", "v", "day")
    def upsert(path: String, src: org.apache.spark.sql.DataFrame): Unit =
      Upsert.upsertPartitioned(spark, path, src, Seq("k"), "day")
    def table(path: String) = spark.read.parquet(path)
      .select("k", "v", "day").as[(Int, String, String)].collect().toSet
    // Every file and directory under `root` (hidden ones included, so a
    // leftover staging directory shows), with each file's bytes.
    def tree(root: String): Map[String, Vector[Byte]] = {
      val all = Files.walk(Paths.get(root))
      try all.iterator().asScala.map { (f: Path) =>
        Paths.get(root).relativize(f).toString ->
          (if (Files.isRegularFile(f)) Files.readAllBytes(f).toVector else Vector.empty)
      }.toMap
      finally all.close()
    }
    val want = s"$dir/want"
    upsert(want, day1)
    upsert(want, delta)

    val path = s"$dir/t"
    upsert(path, day1)
    val before = tree(path)
    val e = intercept[Exception](withSQLConf("spark.sql.sources.commitProtocolClass" ->
        classOf[FailingJobCommitProtocol].getName)(upsert(path, delta)))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("job commit failed")), e)
    assert(tree(path) == before, "an interrupted rewrite must leave the old table")
    upsert(path, delta)
    assert(table(path) == table(want))
    assert(table(path) == Set((1, "a", "d1"), (2, "b2", "d2"), (3, "c2", "d3"),
      (4, "e", "d4")))
  }
}
