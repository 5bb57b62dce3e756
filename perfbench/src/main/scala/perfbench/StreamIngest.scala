package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.ops.Decay
import graft.ops.Decay.DecayEvent
import graft.streaming.StreamingIngest

/** The ingest leg of `ingest_search`: each step is one micro-batch of
  * documents through `StreamingIngest.ingestBatchNearDup` (appending
  * to the persisted band index) plus one trigger of a stateful
  * `Decay.decayedSumStream` query on the engine's RocksDB state store.
  * Each pass ingests into a fresh warehouse; the decay query lives for
  * the whole run, so its state holds every key after the cold pass. */
final class StreamIngest(ctx: Ctx) extends Leg {
  import StreamIngest._
  private val spark = ctx.spark
  import spark.implicits._
  private val stream = Gen.stream(ctx.seed, Spec)
  private val dir = s"${ctx.work}/stream"
  private def wh(i: Int) = s"$dir/pass-$i"
  private var batches: IndexedSeq[DataFrame] = _
  private var events: MemoryStream[DecayEvent] = _
  private var query: StreamingQuery = _
  private val decayLayer = scala.collection.mutable.Map.empty[Int, Map[String, Double]]
  private val indexRows = scala.collection.mutable.Map.empty[Int, Double]

  def inputRows: Long = (Spec.batches * (Spec.docsPerBatch + Spec.eventsPerBatch)).toLong

  def dims: Map[String, Any] = Map("micro_batches_per_pass" -> Spec.batches,
    "docs_per_batch" -> Spec.docsPerBatch, "near_share" -> Spec.nearShare,
    "events_per_batch" -> Spec.eventsPerBatch, "event_keys" -> Spec.keys,
    "half_life_hours" -> Spec.halfLifeHours,
    "state_store" -> spark.conf.get("spark.sql.streaming.stateStore.providerClass"))


  def prepare(): Unit = {
    batches = stream.docBatches.map(b =>
      b.map(d => (d.id, d.text, d.source)).toDF("doc_id", "text", "source"))
    implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    events = MemoryStream[DecayEvent]
    query = Decay.decayedSumStream(events.toDS(), Spec.halfLifeHours)
      .writeStream.outputMode("update").format("memory")
      .queryName(s"decay_${ProcessHandle.current().pid()}")
      .option("checkpointLocation", s"$dir/checkpoint").start()
  }

  def rounds: Int = Spec.batches

  private var addBatch = 0L
  private var commit = 0L

  def beginPass(i: Int): Unit = { addBatch = 0L; commit = 0L }

  /** Micro-batch `b` of pass `i`: its latency in seconds. */
  def step(i: Int, b: Int): Double = {
    val t = System.nanoTime()
    ctx.span("streaming.ingestBatchNearDup")(StreamingIngest.ingestBatchNearDup(
      batches(b), wh(i), "docs", "text", "doc_id", b.toLong))
    events.addData(stream.eventBatches(b))
    ctx.span("streaming.decay.trigger")(query.processAllAvailable())
    val p = query.lastProgress
    addBatch += p.durationMs.getOrDefault("addBatch", 0L)
    commit += p.stateOperators.map(_.commitTimeMs).sum
    (System.nanoTime() - t) / 1e9
  }

  def endPass(i: Int): Unit =
    decayLayer(i) = Map("streaming.decay.addBatch_s" -> addBatch / 1e3,
      "streaming.decay.commit_s" -> commit / 1e3,
      "streaming.decay.state_rows" ->
        query.lastProgress.stateOperators.map(_.numRowsTotal).sum.toDouble)

  /** The one-shot dedup of every batch at once, by the same library
    * rule; computed on first use. */
  private lazy val oneShot: Set[Long] = {
    val all = stream.docBatches.flatten.map(d => (d.id, d.text, d.source))
      .toDF("doc_id", "text", "source")
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], BandIndex)
    Dedup.incrementalMinhashDedup(all, empty, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
  }

  def check(i: Int): Seq[String] = {
    val got = spark.read.parquet(s"${wh(i)}/docs").select("doc_id").collect()
      .map(_.getLong(0))
    indexRows(i) = spark.read.parquet(s"${wh(i)}/docs_bandidx").count().toDouble
    val counts = stream.eventBatches.flatten.groupBy(_.key)
      .map { case (k, es) => k -> es.size.toLong * (i + 1) }
    val state = spark.table(query.name).groupBy("key").agg(max("n_events"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.util.FsUtil.deleteTree(wh(i))
    Seq(
      if (got.length != got.distinct.length) Some("survivors hold duplicate ids") else None,
      if (got.toSet != oneShot) Some(s"survivors (${got.toSet.size}) differ from the one-shot dedup (${oneShot.size})") else None,
      if (state != counts) Some(s"decay state counts differ on ${(state.toSet diff counts.toSet).size} keys") else None
    ).flatten
  }

  /** The dedup step of the last batch on its own, against the index the
    * earlier batches of pass `i` left, so the dedup layer's time shows
    * apart from the ingest's writes. */
  override def probes(i: Int): Unit = {
    val last = stream.docBatches.size - 1
    val idx = spark.read.parquet(s"${wh(i)}/docs_bandidx")
      .filter(col("ingest_batch") =!= last).select("band", "bh")
    ctx.span("dedup.incrementalMinhashDedupWithIndex") {
      val (kept, keys) = Dedup.incrementalMinhashDedupWithIndex(
        batches(last).dropDuplicates("doc_id"), idx, "text", "doc_id")
      kept.write.format("noop").mode("overwrite").save()
      keys.write.format("noop").mode("overwrite").save()
    }
  }

  override def derived(i: Int, c: SparkCounters): Map[String, Double] =
    decayLayer(i) ++ indexRows.get(i).map(n => "streaming.index_rows" -> n)

  override def close(): Unit = if (query != null) query.stop()
}

object StreamIngest {
  val Spec = Gen.StreamSpec(batches = 2, docsPerBatch = 250,
    eventsPerBatch = 2000, keys = 1000)

  private val BandIndex = StructType(Seq(StructField("band", IntegerType),
    StructField("bh", ArrayType(LongType))))
}
