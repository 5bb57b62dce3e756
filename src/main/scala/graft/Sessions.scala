package graft

import org.apache.spark.sql.SparkSession

/** One place for session config shared by Verify, Bench, Explain,
  * perfbench and the tests, so the engine behaves identically under every
  * entry point: [[configure]] is the one builder step, and it installs
  * [[GraftExtensions]]. */
object Sessions {

  /** Configs the engine requires regardless of entry point. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .withExtensions(new GraftExtensions)
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
    // Generated-class cache: Spark's JVM-wide CodeGenerator LRU holds
    // 100 compiled classes by default, but a run of the benchmark's
    // ingest_search (near-dup ingest + decay trigger + IVF + LSH search)
    // uses ~195 distinct classes and one of etl_daily ~131, so each warm
    // pass evicted and re-ran Janino on 211-240 / 85-97 of them; at 1000
    // it compiles none (CodegenMetrics compile count). Measured on a
    // 4-core host: ingest_search warm_s 5.48 → 3.31 s (10 pairs), while
    // Metaspace after a GC at the end of a 6-pass run stayed at 173-174 MB
    // (classes average 1.9 KB of bytecode). A static conf: CodeGenerator
    // reads it once per JVM, so it is set here, not at runtime.
    .config("spark.sql.codegen.cache.maxEntries", "1000")

  def local(cpus: String): SparkSession = {
    val s = configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
