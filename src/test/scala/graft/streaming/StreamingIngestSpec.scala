package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class StreamingIngestSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("streaming ingest dedupes across batches and merges into the warehouse") {
    implicit val sql = spark.sqlContext
    val wh = tmpDir("ingest_wh")
    val ckpt = tmpDir("ingest_ckpt")
    val input = MemoryStream[(Long, String)]
    val q = StreamingIngest.start(input.toDS().toDF("doc_id", "text"),
      wh, "docs", "text", "doc_id", ckpt)
    try {
      input.addData((1L, "the quick brown fox"),
        (2L, "The  Quick   Brown Fox"), // in-batch dup of 1 (normalized)
        (3L, "something else entirely"))
      q.processAllAvailable()
      val afterB1 = spark.read.parquet(s"$wh/docs")
        .select("doc_id").as[Long].collect().toSet
      assert(afterB1 == Set(1L, 3L))

      input.addData((4L, "the quick brown fox"), // cross-batch dup of 1
        (5L, "fresh document text"),
        (6L, "fresh  DOCUMENT text")) // in-batch dup of 5
      q.processAllAvailable()
      val afterB2 = spark.read.parquet(s"$wh/docs")
        .select("doc_id").as[Long].collect().toSet
      assert(afterB2 == Set(1L, 3L, 5L))

      // The persisted fingerprint index tracks exactly the survivors.
      val fps = spark.read.parquet(s"$wh/docs_fpindex").count()
      assert(fps == 3L)
      assert(q.exception.isEmpty)
    } finally q.stop()
  }

  test("intra-batch PK duplicates cannot poison the fingerprint index") {
    // Two rows share a PK but differ in text: the merge stores ONE row,
    // so only the stored row's fingerprint may enter the index — else a
    // later arrival of the discarded text is dropped as "already in
    // corpus" despite never being stored.
    val wh = tmpDir("ingest_pkdup")
    val b1 = Seq((1L, "text alpha"), (1L, "text beta")).toDF("doc_id", "text")
    StreamingIngest.ingestBatch(b1, wh, "docs", "text", "doc_id")
    val stored = spark.read.parquet(s"$wh/docs")
      .select("text").as[String].collect().toSet
    assert(stored.size == 1)
    assert(spark.read.parquet(s"$wh/docs_fpindex").count() == 1L)
    // The text the merge discarded must still be ingestible later.
    val discarded = (Set("text alpha", "text beta") -- stored).head
    StreamingIngest.ingestBatch(Seq((2L, discarded)).toDF("doc_id", "text"),
      wh, "docs", "text", "doc_id")
    val after = spark.read.parquet(s"$wh/docs")
      .select("text").as[String].collect().toSet
    assert(after == Set("text alpha", "text beta"))
  }

  test("replaying a batch converges to the same warehouse (at-least-once safe)") {
    val wh = tmpDir("ingest_replay")
    val batch = Seq((1L, "doc one"), (2L, "doc two")).toDF("doc_id", "text")
    StreamingIngest.ingestBatch(batch, wh, "docs", "text", "doc_id")
    val once = spark.read.parquet(s"$wh/docs").orderBy("doc_id").collect().toSeq
    // foreachBatch may re-deliver a batch after a failure: the merge must
    // be idempotent, and fully-duplicate batches must not rewrite rows.
    StreamingIngest.ingestBatch(batch, wh, "docs", "text", "doc_id")
    val twice = spark.read.parquet(s"$wh/docs").orderBy("doc_id").collect().toSeq
    assert(once == twice)
    assert(spark.read.parquet(s"$wh/docs_fpindex").count() == 2L)
  }

  test("partitioned and append ingest forms equal full-rewrite ingest row-for-row") {
    val whFull = tmpDir("ingest_full")
    val whPart = tmpDir("ingest_part")
    val whApp = tmpDir("ingest_app")
    val batches = Seq(
      Seq((1L, "doc one"), (2L, "doc two"), (3L, "DOC  one")),
      Seq((4L, "doc one"), (5L, "doc three")),
      Seq((6L, "doc three"), (7L, "doc four")))
    batches.zipWithIndex.foreach { case (rows, i) =>
      val b = rows.toDF("doc_id", "text")
      StreamingIngest.ingestBatch(b, whFull, "docs", "text", "doc_id")
      StreamingIngest.ingestBatchPartitioned(b, whPart, "docs", "text",
        "doc_id", buckets = 8)
      StreamingIngest.ingestBatchAppend(b, whApp, "docs", "text",
        "doc_id", batchId = i.toLong)
    }
    def docsOf(wh: String) = spark.read.parquet(s"$wh/docs")
      .select("doc_id", "text").orderBy("doc_id").collect().toSeq
    def idxOf(wh: String) = spark.read.parquet(s"$wh/docs_fpindex")
      .select("fp").as[String].collect().toSet
    val full = docsOf(whFull)
    assert(docsOf(whPart) == full)
    assert(docsOf(whApp) == full)
    assert(idxOf(whPart) == idxOf(whFull))
    assert(idxOf(whApp) == idxOf(whFull))
    // Replay idempotence holds for both new forms: the partitioned form
    // by MERGE idempotence, the append form by overwriting the replayed
    // batch's OWN partition with identical content.
    StreamingIngest.ingestBatchPartitioned(
      batches.last.toDF("doc_id", "text"), whPart, "docs", "text",
      "doc_id", buckets = 8)
    StreamingIngest.ingestBatchAppend(
      batches.last.toDF("doc_id", "text"), whApp, "docs", "text",
      "doc_id", batchId = 2L)
    assert(docsOf(whPart) == full)
    assert(docsOf(whApp) == full)
  }

  test("a batch of only duplicates leaves both tables untouched") {
    val wh = tmpDir("ingest_noop")
    StreamingIngest.ingestBatch(
      Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"),
      wh, "docs", "text", "doc_id")
    val before = spark.read.parquet(s"$wh/docs").collect().toSet
    StreamingIngest.ingestBatch(
      Seq((3L, "ALPHA"), (4L, "beta ")).toDF("doc_id", "text"),
      wh, "docs", "text", "doc_id")
    assert(spark.read.parquet(s"$wh/docs").collect().toSet == before)
  }

  private val longA = "alpha beta gamma delta epsilon zeta eta theta iota"
  private val longB = "one two three four five six seven eight nine ten"

  test("near-dup ingest drops LSH matches across and within batches; " +
      "shingle-less docs always survive") {
    val wh = tmpDir("ndp_wh")
    def docsOf = spark.read.parquet(s"$wh/docs")
      .select("doc_id").as[Long].collect().toSet
    // Batch 0: 2 is an exact near-dup of 1 (all band buckets equal —
    // min-id wins); 3 is null text (no shingles — must survive).
    StreamingIngest.ingestBatchNearDup(
      Seq((1L, longA), (2L, longA), (3L, null)).toDF("doc_id", "text"),
      wh, "docs", "text", "doc_id", batchId = 0L)
    assert(docsOf == Set(1L, 3L))
    // Batch 1: 4 hits batch 0's persisted buckets (cross-batch drop),
    // 5 is new, 6 has < 3 tokens (no shingles — survives).
    StreamingIngest.ingestBatchNearDup(
      Seq((4L, longA), (5L, longB), (6L, "hi")).toDF("doc_id", "text"),
      wh, "docs", "text", "doc_id", batchId = 1L)
    assert(docsOf == Set(1L, 3L, 5L, 6L))
    // The index holds bucket KEYS of survivors only: 2 tables' worth.
    assert(spark.read.parquet(s"$wh/docs_bandidx")
      .select("band", "bh").distinct().count() == 16L) // 8 bands x 2 docs
  }

  test("append-form replays recompute the ORIGINAL survivor set even with " +
      "state-less rows in the batch (own-partition index exclusion)") {
    // Without the own-partition exclusion, a replayed batch sees its own
    // fingerprints/buckets in the index, so only the state-less rows
    // (null text / shingle-less) survive and the self-overwrite LOSES
    // the partition's other docs.
    val whF = tmpDir("replay_fp")
    val fpBatch = Seq((1L, "doc one"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    StreamingIngest.ingestBatchAppend(fpBatch, whF, "docs", "text",
      "doc_id", batchId = 0L)
    val onceF = spark.read.parquet(s"$whF/docs")
      .select("doc_id").as[Long].collect().toSet
    StreamingIngest.ingestBatchAppend(fpBatch, whF, "docs", "text",
      "doc_id", batchId = 0L)
    assert(spark.read.parquet(s"$whF/docs")
      .select("doc_id").as[Long].collect().toSet == onceF)
    assert(onceF == Set(1L, 2L))

    val whN = tmpDir("replay_ndp")
    val ndBatch = Seq((1L, longA), (2L, "hi")).toDF("doc_id", "text")
    StreamingIngest.ingestBatchNearDup(ndBatch, whN, "docs", "text",
      "doc_id", batchId = 0L)
    val onceN = spark.read.parquet(s"$whN/docs")
      .select("doc_id").as[Long].collect().toSet
    StreamingIngest.ingestBatchNearDup(ndBatch, whN, "docs", "text",
      "doc_id", batchId = 0L)
    assert(spark.read.parquet(s"$whN/docs")
      .select("doc_id").as[Long].collect().toSet == onceN)
    assert(onceN == Set(1L, 2L))
  }

  test("embedding near-dup ingest drops signature matches across and " +
      "within batches, and replays idempotently") {
    val wh = tmpDir("emb_wh")
    val a = Seq(1.0f, 2.0f, -3.0f, 0.5f)
    val negA = a.map(x => -x) // opposite half-space in every plane
    def ids = spark.read.parquet(s"$wh/emb")
      .select("vec_id").as[Long].collect().toSet
    // Batch 0: 2 is identical to 1 — same signature in every table.
    StreamingIngest.ingestBatchEmbDup(
      Seq((1L, a), (2L, a)).toDF("vec_id", "embedding"),
      wh, "emb", "embedding", "vec_id", batchId = 0L, dims = 4)
    assert(ids == Set(1L))
    // Batch 1: 3 hits batch 0's persisted signatures; 4 is the
    // antipode (complement signature in every table) — survives.
    val b1 = Seq((3L, a), (4L, negA)).toDF("vec_id", "embedding")
    StreamingIngest.ingestBatchEmbDup(b1, wh, "emb", "embedding",
      "vec_id", batchId = 1L, dims = 4)
    assert(ids == Set(1L, 4L))
    // Replay of batch 1 recomputes the original survivor set.
    StreamingIngest.ingestBatchEmbDup(b1, wh, "emb", "embedding",
      "vec_id", batchId = 1L, dims = 4)
    assert(ids == Set(1L, 4L))
  }

  test("writeBoth: a failing `a` still lets `b` finish its write, then " +
      "surfaces `a`'s error") {
    val out = tmpDir("writeboth_b") + "/t"
    val e = intercept[IllegalStateException] {
      StreamingIngest.writeBoth(throw new IllegalStateException("a failed"),
        spark.range(1000).write.parquet(out))
    }
    assert(e.getMessage == "a failed")
    assert(spark.read.parquet(out).count() == 1000L)
    // Both fail: `a`'s error is the one rethrown.
    val both = intercept[IllegalStateException] {
      StreamingIngest.writeBoth(throw new IllegalStateException("a"),
        throw new IllegalStateException("b"))
    }
    assert(both.getMessage == "a")
  }

  test("writeBoth: a failing `b` still lets `a` finish its write, then " +
      "surfaces `b`'s error") {
    val out = tmpDir("writeboth_a") + "/t"
    val e = intercept[IllegalStateException] {
      StreamingIngest.writeBoth(spark.range(1000).write.parquet(out),
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
      StreamingIngest.writeBoth((), { seen = sc.getLocalProperty(key) })
      assert(seen == v)
    } finally sc.setLocalProperty(key, null)
  }
}
