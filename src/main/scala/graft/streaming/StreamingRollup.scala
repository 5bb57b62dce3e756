package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.IncrementalAgg
import graft.sink.StagedPublish

/** Streaming maintenance of an aggregate rollup table — the
  * [[graft.ops.IncrementalAgg]] merge law run continuously via
  * foreachBatch, with REPLAY-SAFE storage: a grouped sum is not
  * idempotent (re-merging a replayed batch double-counts), so each
  * micro-batch writes its partial aggregate as a DELTA PARTITION keyed
  * by the batch id (`<dir>/batch=<id>`). At-least-once replay after a
  * failure overwrites the same partition with identical content, and
  * the read path folds all deltas down to one row per key.
  *
  * Reads cost O(deltas); [[compact]] folds history into a single base
  * delta with an atomic whole-directory swap (the warehouse MERGE's). Compaction races no one: the folded result
  * is equal under the merge law to what it replaced.
  */
object StreamingRollup {

  /** Write one micro-batch's partial aggregate as the delta partition
    * for `batchId`. Idempotent: a replay overwrites the same path. */
  def writeDelta(batchAgg: DataFrame, dir: String, batchId: Long): Unit =
    batchAgg.write.mode("overwrite").parquet(s"$dir/batch=$batchId")

  /** The current rollup: all delta partitions folded to one row per
    * key. Empty (with `schema`) when nothing has been written yet. */
  def read(spark: SparkSession, dir: String, keys: Seq[String],
      schema: StructType): DataFrame = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    // "Absent" includes an existing-but-empty directory (a checkpoint
    // dir created before the first delta commits): schema inference on
    // zero files is an analysis error, not an empty frame.
    if (!fs.exists(path) || fs.listStatus(path).isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      IncrementalAgg.fold(spark.read.parquet(dir).drop("batch"), keys)
  }

  /** Fold every delta into a single base partition (`batch=-1`),
    * published with the warehouse MERGE's atomic directory swap and
    * crash recovery ([[StagedPublish]]). Run between batches (or from a
    * second maintenance process). */
  def compact(spark: SparkSession, dir: String, keys: Seq[String],
      schema: StructType): Unit = {
    val finalPath = new Path(dir)
    val stage = new Path(s"$dir.__stage__")
    val old = new Path(s"$dir.__old__")
    val fs = finalPath.getFileSystem(spark.sessionState.newHadoopConf())
    StagedPublish.recover(fs, finalPath, old)
    if (fs.exists(finalPath)) // else nothing to compact
      StagedPublish.publish(fs, finalPath, stage, old)(
        read(spark, dir, keys, schema).write.mode("overwrite")
          .parquet(s"$stage/batch=-1"))
  }

  /** Start continuous rollup maintenance: per micro-batch, aggregate
    * with `batchAgg` (raw rows → one partial-aggregate row per key;
    * must emit `keys` + sum-mergeable measures) and persist the delta.
    * Checkpointed; restart resumes at the next uncommitted batch, and
    * replays converge by delta overwrite. */
  def start(stream: DataFrame, batchAgg: DataFrame => DataFrame,
      dir: String, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: DataFrame, id: Long) =>
        writeDelta(batchAgg(batch), dir, id))
      .start()
}
