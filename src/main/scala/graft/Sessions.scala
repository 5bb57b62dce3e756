package graft

import org.apache.spark.sql.SparkSession

/** One place for session config shared by Verify, Bench, and tests, so the
  * engine behaves identically under every entry point. */
object Sessions {

  /** Configs the engine requires regardless of entry point. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    // events.parquet carries TIMESTAMP(NANOS); read as long, converted to
    // µs TimestampType in Tables.read (Spark 4 has no nanos timestamp).
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Streaming state store: RocksDB (off-heap/on-disk) is the DEFAULT
    // for the whole engine (r11, SCALING.md probe 17). Every stateful
    // operator here keeps state proportional to DISTINCT KEYS (open
    // sessions, per-user rolling windows/totals), which Spark's default
    // HDFS-backed provider holds in executor MEMORY — measured: the
    // session-window gate OOM'd the 8 g contract heap at 10M events
    // under HDFSBacked, while RocksDB completed the same run in 42.9 s
    // AND was faster at every sub-OOM point probed (16.9 vs 20.2 s at
    // 3M events) — there is no small-scale premium to trade away, so
    // the production configuration is the only configuration.
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming" +
        ".state.RocksDBStateStoreProvider")
    // RocksDB changelog checkpointing (r14, guide §1.2 config tier):
    // per-batch commits upload the batch's CHANGELOG instead of
    // snapshotting every state partition's sst files — the documented
    // production recommendation since Spark 3.5 for commit-latency-
    // bound stateful streams, which is exactly what the micro-batch
    // gates are (32 state partitions × few-row batches: snapshot cost
    // dominated the commit). Measured at sf0.1 (same session, A/B):
    // stream_session 5.05 → 4.01 s, stream_decay 2.00 → 1.76 s,
    // stream_anomaly 2.72 → 2.63 s. State contents are unchanged —
    // this is a checkpoint FORMAT choice, invisible in results.
    .config("spark.sql.streaming.stateStore.rocksdb" +
      ".changelogCheckpointing.enabled", "true")

  def local(cpus: String): SparkSession = {
    val s = configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(s)
    s
  }
}
