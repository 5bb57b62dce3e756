package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.dedup.Dedup
import graft.pipeline.SendoPipeline
import graft.util.Overlap.writeBoth

/** Streaming corpus ingestion: readStream → per-micro-batch incremental
  * dedup → staged MERGE into the parquet warehouse, via foreachBatch —
  * the end-to-end streaming form of the daily pipeline (SURVEY §2.7
  * "streaming ingest" + §2.4 loads in one path).
  *
  * Unlike [[Dedup.exactDedupStream]] (state inside the streaming state
  * store, bounded by a watermark), this variant keeps dedup state in the
  * WAREHOUSE itself: a persisted one-column fingerprint-index table,
  * merged forward with each batch. State survives query restarts and
  * checkpoint loss, is queryable as a plain table, and is unbounded —
  * the right trade for corpus ingestion, where "the same document a year
  * later" is still a duplicate.
  *
  * Per micro-batch (all idempotent, so foreachBatch's at-least-once
  * replay after a failure converges to the same tables):
  *   1. dedupe the batch internally and against the index (O(batch) —
  *      the corpus is never rescanned),
  *   2. MERGE survivors into the docs table by PK,
  *   3. MERGE the survivors' fingerprints into the index table.
  *
  * The append forms write survivors and index at the same time
  * ([[graft.util.Overlap.writeBoth]]): the two writes target disjoint
  * paths, both are idempotent partition overwrites, and the
  * docs-written/index-crashed partial failure reconverges on replay
  * (the index probe excludes the batch's own partition, [[readIndex]]),
  * so ordering between them was never load-bearing.
  */
object StreamingIngest {

  private val fpSchema = StructType(Seq(StructField("fp", StringType)))

  private def indexTable(table: String): String = s"${table}_fpindex"

  /** One micro-batch (or one daily batch — the logic is identical and
    * batch ≡ stream by construction). Public for direct batch use and
    * replay testing. */
  def ingestBatch(batch: DataFrame, warehouseDir: String, table: String,
      textCol: String, pk: String): Unit =
    withSurvivors(batch, warehouseDir, table, textCol, pk) { (spark, kept) =>
      SendoPipeline.mergeTable(spark, warehouseDir, table,
        batch.schema, kept, pk)
      SendoPipeline.mergeTable(spark, warehouseDir, indexTable(table),
        fpSchema, Dedup.fingerprintIndex(kept, textCol), "fp")
    }

  /** The dedup prologue shared by all three ingest forms — the part the
    * forms MUST agree on for StreamingIngestSpec's row-for-row equality
    * to hold. Resolves intra-batch PK duplicates BEFORE fingerprint
    * dedup: the downstream store keeps one row per PK, and indexing
    * fingerprints of rows the store then discards would poison the
    * index — a later document with the discarded row's text would be
    * dropped as "already in corpus" despite the warehouse never storing
    * it. After the dedup, kept rows and stored rows coincide exactly.
    * `kept` is persisted across `write` (each form reads it at least
    * twice) and skipped when empty; `write` only picks the storage
    * strategy. */
  /** `alwaysWrite = true` skips the per-batch `isEmpty` probe (r14): on
    * a non-empty batch that probe is a whole extra JOB — it runs every
    * map stage of the dedup plan just to fetch one row — and the append
    * forms don't need it, because writing an empty survivor set is a
    * harmless empty partition (overwrite-idempotent like any other).
    * The MERGE forms keep the probe: an empty batch would otherwise pay
    * a full staged table rewrite to change nothing. */
  private def withSurvivors(batch: DataFrame, warehouseDir: String,
      table: String, textCol: String, pk: String,
      excludeBatch: Option[Long] = None, alwaysWrite: Boolean = false)(
      write: (org.apache.spark.sql.SparkSession, DataFrame) => Unit): Unit = {
    val spark = batch.sparkSession
    val idx = readIndex(spark, warehouseDir, indexTable(table), fpSchema,
      excludeBatch)
      .select(org.apache.spark.sql.functions.col("fp"))
    val kept = Dedup.incrementalDedup(batch.dropDuplicates(pk), idx,
      textCol, pk)
    kept.persist()
    try {
      if (alwaysWrite || !kept.isEmpty) write(spark, kept)
    } finally kept.unpersist()
  }

  /** Read a dedup-state index table, excluding `excludeBatch`'s own
    * `ingest_batch` partition when given (partition-pruned — O(0) extra
    * read). The append forms MUST probe the pre-batch state: a replayed
    * batch probing an index that already holds its own partition sees
    * every row as a duplicate EXCEPT state-less rows (null text for the
    * fingerprint index, shingle-less docs for the band index), so the
    * survivor set degenerates to just those rows and the replay-safe
    * "identical self-overwrite" would LOSE the partition's other docs.
    * Excluding the batch's own partition makes the replay compute the
    * exact original survivor set — true at-least-once idempotence, and
    * a docs-written/index-crashed partial failure also reconverges.
    * Read by its declared `schema` ([[SendoPipeline.readTable]]), so no
    * footer-reading job runs per micro-batch; the `ingest_batch`
    * partition column still comes from the directory names. */
  private[streaming] def readIndex(spark: org.apache.spark.sql.SparkSession,
      warehouseDir: String, name: String,
      schema: StructType, excludeBatch: Option[Long]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val df = SendoPipeline.readTable(spark, warehouseDir, name, schema)
    excludeBatch match {
      case Some(b) if df.columns.contains("ingest_batch") =>
        df.filter(col("ingest_batch") =!= lit(b))
      case _ => df
    }
  }

  /** [[ingestBatch]] with PARTITION-SCOPED merges — the warehouse-scale
    * path: both the docs table and the fingerprint index are hash-
    * bucketed ([[graft.sink.Upsert.upsertPartitioned]]'s dynamic
    * partition overwrite), so a batch rewrites only the buckets its rows
    * land in, not the whole table. At 100 TB with `buckets` sized so a
    * bucket is a few GB, a daily batch touching b of B buckets costs
    * b/B of a full rewrite — the full-table [[ingestBatch]] is the
    * correctness twin whose staged-rename path suits small tables.
    * Same dedup, same survivors, same final table contents (modulo the
    * extra bucket column, which readers project away); idempotent under
    * replay for the same reason ingestBatch is. */
  def ingestBatchPartitioned(batch: DataFrame, warehouseDir: String,
      table: String, textCol: String, pk: String, buckets: Int = 64): Unit =
    withSurvivors(batch, warehouseDir, table, textCol, pk) { (spark, kept) =>
      import org.apache.spark.sql.functions._
      graft.sink.Upsert.upsertPartitioned(spark, s"$warehouseDir/$table",
        kept.withColumn("__bucket", pmod(xxhash64(col(pk)), lit(buckets))),
        Seq(pk), "__bucket")
      graft.sink.Upsert.upsertPartitioned(spark,
        s"$warehouseDir/${indexTable(table)}",
        Dedup.fingerprintIndex(kept, textCol)
          .withColumn("__bucket", pmod(xxhash64(col("fp")), lit(buckets))),
        Seq("fp"), "__bucket")
    }

  /** The APPEND form — the 100 TB production path for deduped ingest.
    *
    * Key observation: after the fingerprint dedup, every surviving row
    * is NEW — its fingerprint is in neither the index nor the batch's
    * earlier rows — so when upstream PKs are assign-once (the normal
    * document/event case; precondition documented below) the MERGE
    * degenerates to pure insert. Insert-only needs no table rewrite AT
    * ALL: each batch lands as its own partition
    * (`<table>/ingest_batch=<id>`), written with overwrite on that one
    * partition — a replayed batch overwrites itself with identical
    * content (the [[StreamingRollup.writeDelta]] idempotence scheme;
    * the index probe excludes the batch's OWN partition so the replay
    * recomputes the original survivor set — see [[readIndex]]).
    * Cost per batch is O(batch) writes, zero reads of existing table
    * data beyond the index probe; neither [[ingestBatch]]'s full
    * rewrite nor [[ingestBatchPartitioned]]'s bucket rewrites can beat
    * that, and measured at sf0.1 the bucket form is strictly overhead:
    * hash-bucketing by PK scatters every batch across EVERY bucket, so
    * nothing prunes and the per-partition commits are pure cost (the
    * bucket form earns its keep only when batches concentrate in few
    * partitions — date-partitioned updates, not hash-scattered ingest).
    *
    * PRECONDITION: a PK must not re-arrive across batches EXCEPT with
    * identical non-null text (such re-arrivals are dropped by the
    * fingerprint dedup). This is strictly stronger than "no different
    * text": a NULL-text row has a null fingerprint, indexes nothing,
    * and so would be appended AGAIN if its PK re-arrived with null text
    * — the MERGE forms collapse that on PK, the append form cannot
    * without an O(table) PK probe (the read this form exists to avoid).
    * A source that re-delivers null-text rows, or re-keys documents,
    * needs the MERGE forms above. */
  def ingestBatchAppend(batch: DataFrame, warehouseDir: String,
      table: String, textCol: String, pk: String, batchId: Long): Unit =
    withSurvivors(batch, warehouseDir, table, textCol, pk,
      excludeBatch = Some(batchId), alwaysWrite = true) { (_, kept) =>
      writeBoth(
        kept.write.mode("overwrite")
          .parquet(s"$warehouseDir/$table/ingest_batch=$batchId"),
        Dedup.fingerprintIndex(kept, textCol).write.mode("overwrite")
          .parquet(s"$warehouseDir/${indexTable(table)}/ingest_batch=$batchId"))
    }

  private def bandIndexTable(table: String): String = s"${table}_bandidx"

  private[streaming] val bandIdxSchema = StructType(Seq(
    StructField("band", org.apache.spark.sql.types.IntegerType),
    StructField("bh", org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType))))

  /** NEAR-dup streaming ingest (r8): [[ingestBatchAppend]]'s O(batch)
    * append discipline with the dedup upgraded from exact fingerprints
    * to MinHash+LSH ([[Dedup.incrementalMinhashDedup]]) — the form a
    * production corpus pipeline actually runs, where "the same article
    * with a new tracking footer a month later" must still be a
    * duplicate. Warehouse state is the persisted (band, bh) bucket-key
    * index ([[Dedup.minhashBandIndex]]); each batch probes it (O(batch)
    * — the corpus is never rescanned), drops index hits and
    * smaller-id intra-batch bucket partners (one-hop min-id-wins, the
    * library rule), appends survivors as the batch's own partition and
    * the survivors' bucket keys as the index's matching partition —
    * replay-safe self-overwrite on both tables, zero rewrite of prior
    * batches.
    *
    * Bucket-only state: the index stores bucket KEYS, not document ids
    * or shingle sets — ~32 longs per doc regardless of document size,
    * so a year of daily batches keeps the probe a broadcast-or-shuffle
    * of key material only. Docs with no shingles (null/short text)
    * produce no buckets, are never dropped, and add nothing to the
    * index — [[Dedup.incrementalMinhashDedup]]'s convention.
    *
    * PRECONDITION (as [[ingestBatchAppend]]): PKs are assign-once
    * across batches; a PK re-arriving with near-identical text drops
    * as a near-dup, one with genuinely new text appends as a new row —
    * re-keyed update sources need the MERGE forms. */
  def ingestBatchNearDup(batch: DataFrame, warehouseDir: String,
      table: String, textCol: String, pk: String, batchId: Long,
      shingleN: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      family: Dedup.MinHashFamily = Dedup.xxFamily): Unit = {
    val spark = batch.sparkSession
    val idx = readIndex(spark, warehouseDir, bandIndexTable(table),
      bandIdxSchema, excludeBatch = Some(batchId))
    // WithIndex variant: survivors' bucket keys come from the SAME
    // pinned bucket table the dedup computed — one shingle+signature
    // pass per batch, not two.
    val (kept, keptBuckets) = Dedup.incrementalMinhashDedupWithIndex(
      batch.dropDuplicates(pk), idx, textCol, pk, shingleN, bands,
      rowsPerBand, family)
    // No isEmpty probe and no persist (r14): the probe was one whole
    // extra job per batch (all map stages for one fetched row), an
    // empty survivor write is a harmless empty partition, and with the
    // probe gone `kept` has exactly ONE consumer — its write — so the
    // persist was pure bookkeeping (the expensive shared subtree,
    // `banded`, is already pinned inside the dedup).
    writeBoth(
      kept.write.mode("overwrite")
        .parquet(s"$warehouseDir/$table/ingest_batch=$batchId"),
      keptBuckets.write.mode("overwrite")
        .parquet(
          s"$warehouseDir/${bandIndexTable(table)}/ingest_batch=$batchId"))
  }

  private def lshIndexTable(table: String): String = s"${table}_lshidx"

  private val lshIdxSchema = StructType(Seq(
    StructField("t", org.apache.spark.sql.types.IntegerType),
    StructField("bucket", org.apache.spark.sql.types.LongType)))

  /** [[ingestBatchNearDup]] for EMBEDDINGS: the append discipline with
    * [[Dedup.incrementalEmbeddingDedup]] (sign-random-projection LSH,
    * ingest-tuned T=8/B=12 — precise buckets, no verify stage) against
    * a persisted (t, bucket) signature-key index
    * ([[Dedup.embeddingLshIndex]]). The planes are data-independent, so
    * the index never rebuilds as the corpus grows; per batch the probe
    * is O(batch·tables) keys. Vectors with a null/absent embedding are
    * outside this form's contract (the library buckets every non-null
    * vector). Same PRECONDITION and replay story as the text form —
    * the index probe excludes the batch's own partition
    * ([[readIndex]]). */
  def ingestBatchEmbDup(batch: DataFrame, warehouseDir: String,
      table: String, vecCol: String, pk: String, batchId: Long,
      dims: Int, tables: Int = 8, bits: Int = 12): Unit = {
    val spark = batch.sparkSession
    val idx = readIndex(spark, warehouseDir, lshIndexTable(table),
      lshIdxSchema, excludeBatch = Some(batchId))
    // WithIndex variant: one signing pass per batch, not two.
    val (kept, keptKeys) = Dedup.incrementalEmbeddingDedupWithIndex(
      batch.dropDuplicates(pk), idx, pk, vecCol, dims, tables, bits)
    // Same r14 trim as ingestBatchNearDup: no isEmpty probe job, no
    // single-consumer persist (the signed buckets are pinned inside
    // the dedup).
    writeBoth(
      kept.write.mode("overwrite")
        .parquet(s"$warehouseDir/$table/ingest_batch=$batchId"),
      keptKeys.write.mode("overwrite")
        .parquet(
          s"$warehouseDir/${lshIndexTable(table)}/ingest_batch=$batchId"))
  }

  /** Start the streaming ingestion query over a streaming `docs` frame.
    * Checkpointed; restarts resume from the last committed batch, and a
    * replayed batch re-merges to the identical warehouse state. */
  def start(docs: DataFrame, warehouseDir: String, table: String,
      textCol: String, pk: String, checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: DataFrame, _: Long) =>
        ingestBatch(batch, warehouseDir, table, textCol, pk))
      .start()
}
