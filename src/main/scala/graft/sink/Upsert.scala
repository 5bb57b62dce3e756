package graft.sink

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MERGE/upsert semantics of the reference's staged loads (SURVEY §2.4,
  * L1-L9): `INSERT ... SELECT ... ON DUPLICATE KEY UPDATE <all non-PK cols>`
  * (reference dags/etl.py:181-199, 218-241, 260-276) — i.e. for each source
  * row, insert if the PK is absent, else overwrite every listed column.
  * No deletes. Re-running with the same source is a no-op (idempotent),
  * which is what makes the reference's daily re-runs safe.
  */
object Upsert {

  /** Pure-DataFrame upsert: rows of `target` whose PK is absent from
    * `source`, plus all of `source`.
    *
    * MySQL's ON DUPLICATE KEY applies source rows one at a time, so
    * duplicate PKs *within* the source resolve to the last-processed row.
    * Distributed sources have no processing order, so the caller picks:
    * `winner` orders rows per PK (first row wins); None keeps an arbitrary
    * row (valid when duplicates are exact copies — the common page-overlap
    * case).
    *
    * Scale: the anti join shuffles on the PK — unavoidable for a full
    * merge; when `source` is small relative to `target` (the daily-delta
    * shape) AQE broadcasts the source side of the anti join, so the target
    * is never shuffled. On a partitioned table whose daily delta lands in
    * few partitions, [[upsertPartitioned]] rewrites only those; a delta
    * hash-scattered across every partition prunes nothing there.
    */
  def upsert(target: DataFrame, source: DataFrame, pk: Seq[String],
      winner: Option[Seq[Column]] = None): DataFrame = {
    val src = winner match {
      case Some(order) => graft.ops.RefOps.dedupByKeyFirst(pk, order)(source)
      case None => source.dropDuplicates(pk)
    }
    // Source may carry extra columns (e.g. the winner-ordering version);
    // the merged table keeps exactly the target's schema.
    val aligned = src.select(target.columns.map(col).toIndexedSeq: _*)
    target.join(aligned, pk, "left_anti").unionByName(aligned)
  }

  /** Partition-scoped parquet upsert: rewrites ONLY the partitions the
    * source touches, via dynamic partition overwrite — the 100 TB design
    * (SURVEY §7 "hard/risky"): a daily delta touching 1/1000th of the
    * partitions rewrites 1/1000th of the table, not all of it.
    *
    * `partitionCol` must be derivable from every source row (e.g. a date
    * or hash-bucket column). Rows of untouched partitions are never read:
    * the semi filter on partition values prunes the target scan.
    */
  def upsertPartitioned(spark: SparkSession, targetPath: String,
      source: DataFrame, pk: Seq[String], partitionCol: String,
      winner: Option[Seq[Column]] = None): Unit = {
    val exists = new org.apache.hadoop.fs.Path(targetPath)
      .getFileSystem(spark.sessionState.newHadoopConf()).exists(
        new org.apache.hadoop.fs.Path(targetPath))
    val merged = if (!exists) {
      upsert(source.limit(0), source, pk, winner)
    } else {
      val target = spark.read.parquet(targetPath)
      // Partition pruning: only read target partitions present in source.
      // NULL-SAFE (<=>) on the partition value: parquet stores null
      // partitions as a real directory, and dynamic overwrite rewrites
      // it whenever the source touches it — an equi-join here would skip
      // existing null-partition target rows and the rewrite would then
      // silently drop them.
      val touched = source.select(col(partitionCol).as("__touched_p")).distinct()
      val affected = target.join(broadcast(touched),
        col(partitionCol) <=> col("__touched_p"), "left_semi")
      upsert(affected, source, pk, winner)
    }
    // Cluster the output by partition value before the write: without
    // this, every write task holds rows of every touched partition and
    // the commit produces tasks × partitions files (measured: 32 tasks ×
    // 64 buckets ≈ 2 048 files per merge, 6× the merge's total wall
    // time in commit overhead). One shuffle keyed on the partition value
    // yields one file per touched partition — the small-files discipline
    // a 100 TB warehouse needs anyway. A pathologically hot partition
    // becomes one task; bound file size with maxRecordsPerFile if a
    // single partition outgrows a task.
    merged.repartition(col(partitionCol)).write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(targetPath)
  }
}
