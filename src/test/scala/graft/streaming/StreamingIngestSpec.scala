package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class StreamingIngestSpec extends AnyFunSuite with SparkTestBase
    with AdaptiveSparkPlanHelper {
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

  test("append ingest form equals full-rewrite ingest row-for-row") {
    val whFull = tmpDir("ingest_full")
    val whApp = tmpDir("ingest_app")
    val batches = Seq(
      Seq((1L, "doc one"), (2L, "doc two"), (3L, "DOC  one")),
      Seq((4L, "doc one"), (5L, "doc three")),
      Seq((6L, "doc three"), (7L, "doc four")))
    batches.zipWithIndex.foreach { case (rows, i) =>
      val b = rows.toDF("doc_id", "text")
      StreamingIngest.ingestBatch(b, whFull, "docs", "text", "doc_id")
      StreamingIngest.ingestBatchAppend(b, whApp, "docs", "text",
        "doc_id", batchId = i.toLong)
    }
    def docsOf(wh: String) = spark.read.parquet(s"$wh/docs")
      .select("doc_id", "text").orderBy("doc_id").collect().toSeq
    def idxOf(wh: String) = spark.read.parquet(s"$wh/docs_fpindex")
      .select("fp").as[String].collect().toSet
    val full = docsOf(whFull)
    assert(docsOf(whApp) == full)
    assert(idxOf(whApp) == idxOf(whFull))
    // Replay idempotence: the append form overwrites the replayed
    // batch's OWN partition with identical content.
    StreamingIngest.ingestBatchAppend(
      batches.last.toDF("doc_id", "text"), whApp, "docs", "text",
      "doc_id", batchId = 2L)
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

  test("readIndex over a two-partition band index keeps ingest_batch and " +
      "drops the excluded batch") {
    val wh = tmpDir("readidx")
    StreamingIngest.ingestBatchNearDup(Seq((1L, longA)).toDF("doc_id", "text"),
      wh, "docs", "text", "doc_id", batchId = 0L)
    StreamingIngest.ingestBatchNearDup(Seq((2L, longB)).toDF("doc_id", "text"),
      wh, "docs", "text", "doc_id", batchId = 1L)
    def read(exclude: Option[Long]) = StreamingIngest.readIndex(spark, wh,
      "docs_bandidx", StreamingIngest.bandIdxSchema, exclude)
    val idx = read(Some(1L))
    assert(idx.columns.toSeq == Seq("band", "bh", "ingest_batch"))
    assert(idx.select($"ingest_batch".cast("long")).as[Long].collect().toSet == Set(0L))
    assert(idx.count() == 8L) // 8 bands x 1 doc
    assert(read(None).count() == 16L)
  }

  test("each ingest form runs the same number of Spark jobs per batch: " +
      "no isEmpty probe on the append forms, one signing pass per batch") {
    val exact = Seq(
      Seq((1L, "doc one"), (2L, "doc two"), (3L, "DOC  one")),
      Seq((4L, "doc one"), (5L, "doc three"))).map(_.toDF("doc_id", "text"))
    val near = Seq(
      Seq((1L, longA), (2L, longA), (3L, null)),
      Seq((4L, longA), (5L, longB), (6L, "hi"))).map(_.toDF("doc_id", "text"))
    val a = Seq(1.0f, 2.0f, -3.0f, 0.5f)
    val emb = Seq(Seq((1L, a), (2L, a)), Seq((3L, a), (4L, a.map(x => -x))))
      .map(_.toDF("vec_id", "embedding"))
    // Jobs per call, batch after batch into one fresh warehouse.
    def counts(batches: Seq[DataFrame])(
        ingest: (DataFrame, String, Long) => Unit): Seq[Int] = {
      val wh = tmpDir("ingest_jobs")
      batches.zipWithIndex.map { case (b, i) =>
        jobsStartedBy(ingest(b, wh, i.toLong))._2
      }
    }
    val got = Map(
      "append" -> counts(exact)((b, wh, i) =>
        StreamingIngest.ingestBatchAppend(b, wh, "docs", "text", "doc_id", i)),
      "near-dup" -> counts(near)((b, wh, i) =>
        StreamingIngest.ingestBatchNearDup(b, wh, "docs", "text", "doc_id", i)),
      "embedding" -> counts(emb)((b, wh, i) =>
        StreamingIngest.ingestBatchEmbDup(b, wh, "emb", "embedding", "vec_id",
          i, dims = 4)),
      // Measured without AQE: with it, the MERGE form's second call runs
      // 11 or 12 jobs, depending on when AQE re-plans a join of one of
      // its MERGEs; the append forms' counts hold run after run.
      "MERGE" -> withSQLConf("spark.sql.adaptive.enabled" -> "false") {
        counts(exact)((b, wh, _) =>
          StreamingIngest.ingestBatch(b, wh, "docs", "text", "doc_id"))
      })
    // The embedding form signs with the native LSH kernel, whose planes
    // are built on the driver: no plane-fold jobs (16, 16 before it).
    // The near-dup forms pin their dropped ids, so the index is probed
    // by one job, not by both writes (12, 14 before that).
    assert(got == Map("append" -> Seq(7, 7), "near-dup" -> Seq(11, 12),
      "embedding" -> Seq(11, 12), "MERGE" -> Seq(5, 6)))
  }

  test("near-dup ingest: a failed band-index write still lands the " +
      "survivors, and replaying the batch converges to an uninterrupted run") {
    val b0 = Seq((1L, longA), (2L, longA), (3L, null)).toDF("doc_id", "text")
    val b1 = Seq((4L, longA), (5L, longB)).toDF("doc_id", "text")
    def ingest(b: DataFrame, wh: String, id: Long): Unit =
      StreamingIngest.ingestBatchNearDup(b, wh, "docs", "text", "doc_id", batchId = id)
    def docsOf(wh: String) = spark.read.parquet(s"$wh/docs")
      .select("doc_id", "text", "ingest_batch").collect().toSet
    def idxOf(wh: String) = spark.read.parquet(s"$wh/docs_bandidx")
      .select("band", "bh", "ingest_batch").collect().toSet
    val want = tmpDir("ndp_want")
    ingest(b0, want, 0L)
    val wantB0 = docsOf(want)
    ingest(b1, want, 1L)

    // A one-file parquet table with the band index's columns and no rows,
    // where the index's directory must go: the index probe reads it as an
    // empty index, the band-index write cannot create its partition under
    // a file.
    val empty = tmpDir("ndp_empty") + "/t"
    Seq.empty[(Int, Seq[Long])].toDF("band", "bh").coalesce(1).write.parquet(empty)
    val part = Files.list(Paths.get(empty)).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    val wh = tmpDir("ndp_obstructed")
    val obstruction = Paths.get(wh, "docs_bandidx")
    Files.copy(part, obstruction)
    intercept[Exception](ingest(b0, wh, 0L))
    assert(docsOf(wh) == wantB0, "the survivors write must still land")
    Files.delete(obstruction)
    ingest(b0, wh, 0L)
    ingest(b1, wh, 1L)
    assert(docsOf(wh) == docsOf(want))
    assert(idxOf(wh) == idxOf(want))
  }

  /** Scans of files under a directory named `table` in the plans of the
    * queries that finish while `body` runs (writes, collects and eager
    * pins alike). Listener events arrive in order on one queue, so once
    * a sentinel query is seen, every earlier query was too. */
  private def scansOf(table: String)(body: => Unit): Int = {
    val sentinel = java.util.UUID.randomUUID().toString
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plans.add(qe)
    }
    def isSentinel(qe: QueryExecution) = qe.analyzed.toString.contains(sentinel)
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).select(lit(sentinel)).collect()
      val deadline = System.nanoTime() + 30000000000L
      while (!plans.asScala.exists(isSentinel) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(plans.asScala.exists(isSentinel), "sentinel query never reached the listener")
      plans.asScala.toSeq.filterNot(isSentinel).map(qe => collect(qe.executedPlan) {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains(s"/$table")) => s
      }.size).sum
    } finally spark.listenerManager.unregister(listener)
  }

  test("a near-dup ingest call scans the persisted band index once") {
    val wh = tmpDir("ndp_scans")
    StreamingIngest.ingestBatchNearDup(
      Seq((1L, longA), (2L, longA), (3L, null)).toDF("doc_id", "text"),
      wh, "docs", "text", "doc_id", batchId = 0L)
    // Batch 1 probes batch 0's index; its survivors and their band keys
    // are written by two queries that both need the dropped ids.
    val scans = scansOf("docs_bandidx")(StreamingIngest.ingestBatchNearDup(
      Seq((4L, longA), (5L, longB), (6L, "hi")).toDF("doc_id", "text"),
      wh, "docs", "text", "doc_id", batchId = 1L))
    assert(scans == 1)
  }
}
