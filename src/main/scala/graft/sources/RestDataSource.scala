package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 for the paginated REST endpoints (SURVEY §2.1 S4/S7,
  * §7 step 5): `spark.read.format("graft-rest")` with options
  *
  *  - `keys`            comma-separated scan keys (sub-categories, shop ids)
  *  - `urlTemplate`     URL with `{key}` / `{page}` placeholders
  *  - `terminator`      `product` (stop on data:null, etl.py:58) or
  *                      `rating` (stop on empty array, etl.py:140)
  *  - `transport`       name in [[TransportRegistry]] (tests) or `http`
  *  - `maxPages`        per-key page cap (default 100000)
  *  - `keysPerPartition` scan keys per input partition (default 1)
  *
  * Output schema: (key string, page int, body string). One InputPartition
  * per `keysPerPartition` keys — partition planning mirrors the
  * reference's per-key fetch loops but distributes them; the transport is
  * constructed per partition reader (connection reuse, S6 note). A batch
  * partition's keys run through the same fetch window as
  * [[RestScan.paginated]]; the streaming reader stays sequential.
  * Column pruning (SupportsPushDownRequiredColumns) reaches the reader:
  * un-projected columns are never materialized into rows — though the
  * fetch itself always happens, since pagination needs the body to find
  * the last page.
  */
class RestDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-rest"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RestDataSource.fullSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new RestTable(new CaseInsensitiveStringMap(properties))
}

object RestDataSource {
  val fullSchema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("page", IntegerType, nullable = false),
    StructField("body", StringType, nullable = false)))
}

/** Transport lookup for executors. `http` builds a real [[HttpTransport]];
  * other names resolve against an in-JVM registry populated by tests
  * (valid in local mode; a cluster deployment would construct transports
  * from options instead). */
object TransportRegistry {
  private val named = new java.util.concurrent.ConcurrentHashMap[String, Transport]()
  def put(name: String, t: Transport): Unit = named.put(name, t)
  def resolve(name: String): Transport =
    if (name == "http") new HttpTransport(Seq.empty)
    else Option(named.get(name)).getOrElse(
      throw new IllegalArgumentException(s"unknown transport '$name'"))
}

private[sources] class RestTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String =
    s"graft-rest(${options.getOrDefault("urlTemplate", "?")})"
  override def schema(): StructType = RestDataSource.fullSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new CaseInsensitiveStringMap(
      (options.asScala ++ opts.asScala).asJava)
    new RestScanBuilder(merged)
  }
}

private[sources] class RestScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit {
  private var required: StructType = RestDataSource.fullSchema
  private var limit: Int = Int.MaxValue
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  /** LIMIT pushdown (SURVEY §4.3's optional rule, via the DSv2-native
    * hook): a top-k over a scrape stops FETCHING after `limit` pages per
    * partition instead of paginating to the end — the fetch loop itself
    * is bounded, not just the rows returned. */
  override def pushLimit(l: Int): Boolean = { limit = l; true }
  override def isPartiallyPushed: Boolean = true // per-partition cap only
  override def build(): Scan = new RestBatchScan(options, required, limit)
}

private[sources] class RestBatchScan(options: CaseInsensitiveStringMap,
    required: StructType, limit: Int = Int.MaxValue) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new RestMicroBatchStream(options, required)

  override def planInputPartitions(): Array[InputPartition] = {
    val keys = options.get("keys").split(",").map(_.trim).filter(_.nonEmpty)
    val perPart = options.getOrDefault("keysPerPartition", "1").toInt
    keys.grouped(perPart).map(g => RestInputPartition(g.toSeq): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    RestReaderFactory(
      options.get("urlTemplate"),
      options.getOrDefault("terminator", "product"),
      options.getOrDefault("transport", "http"),
      options.getOrDefault("maxPages", "100000").toInt,
      required.fieldNames.toSeq,
      limit)
}

private[sources] case class RestInputPartition(keys: Seq[String])
  extends InputPartition

/** Streaming form of the paginated scan: an incremental one-way sweep
  * through page space. The offset is a global page index; each
  * micro-batch fetches the next `pagesPerBatch` pages for every key, so
  * a very long scrape spreads over many checkpointed micro-batches and a
  * restarted query resumes from the recorded page offset instead of page
  * 1. A page at/past a key's terminator contributes no rows. `maxPages`
  * bounds the offset; once reached the stream stops advancing (idles).
  *
  * Keys whose scan already terminated are still probed once per window:
  * the offset is deliberately stateless (see below), and DSv2 streaming
  * gives executors no channel to report "key done" back to the driver's
  * offset planning — so the cost is bounded at `pagesPerBatch` requests
  * per finished key per batch, and `maxPages` caps the total. Origins
  * that answer past-the-end pages with 4xx instead of an empty payload
  * are handled: a client error IS the terminator for that key's window
  * (transient 5xx/429/transport failures still fail the task and retry).
  *
  * Implements [[SupportsAdmissionControl]] so the engine hands the
  * current start offset to `latestOffset(start, limit)`: the next window
  * is derived STATELESSLY from it (`min(start + pagesPerBatch,
  * maxPages)`), which makes restarts safe by construction. The
  * stream-internal-state alternative (track the last planned page in a
  * var) re-emits pages after a restart: the engine calls the zero-arg
  * latestOffset() before it ever replays a checkpointed offset through
  * deserializeOffset, so the fresh instance would report a window BELOW
  * the committed offset and the recovery path re-plans already-delivered
  * pages. */
private[sources] class RestMicroBatchStream(options: CaseInsensitiveStringMap,
    required: StructType) extends MicroBatchStream with SupportsAdmissionControl {

  private val pagesPerBatch = options.getOrDefault("pagesPerBatch", "1").toInt
  private val maxPages = options.getOrDefault("maxPages", "100000").toInt

  override def initialOffset(): Offset = RestOffset(0)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[RestOffset].page
    RestOffset(math.min(from + pagesPerBatch, maxPages))
  }
  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called instead of this method")
  override def commit(end: Offset): Unit = ()
  override def deserializeOffset(json: String): Offset =
    RestOffset(json.trim.toInt)
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[RestOffset].page
    val to = end.asInstanceOf[RestOffset].page
    val keys = options.get("keys").split(",").map(_.trim).filter(_.nonEmpty)
    val perPart = options.getOrDefault("keysPerPartition", "1").toInt
    keys.grouped(perPart)
      .map(g => RestStreamPartition(g.toSeq, from + 1, to): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    RestStreamReaderFactory(
      options.get("urlTemplate"),
      options.getOrDefault("terminator", "product"),
      options.getOrDefault("transport", "http"),
      required.fieldNames.toSeq)
}

private[sources] case class RestOffset(page: Int) extends Offset {
  override def json(): String = page.toString
}

private[sources] case class RestStreamPartition(keys: Seq[String],
    fromPage: Int, toPage: Int) extends InputPartition

private[sources] case class RestStreamReaderFactory(urlTemplate: String,
    terminator: String, transportName: String,
    columns: Seq[String]) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[RestStreamPartition]
    val transport = TransportRegistry.resolve(transportName)
    val isLast: String => Boolean = terminator match {
      case "rating" => RestScan.ratingLastPage
      case _ => RestScan.productLastPage
    }
    val rows: Iterator[(String, Int, String)] = p.keys.iterator.flatMap { key =>
      Iterator.range(p.fromPage, p.toPage + 1)
        .map { page =>
          val url = urlTemplate
            .replace("{key}", key).replace("{page}", page.toString)
          // 4xx past a key's last page is a terminator, not a failure:
          // the stream re-probes finished keys every window (stateless
          // offsets), and many origins 404 beyond the end. Transport
          // throws IllegalStateException exactly for client errors other
          // than 429; transient errors, throttling included (IOException
          // after retries), still propagate and fail the task.
          try Some((key, page, transport.get(url)))
          catch { case _: IllegalStateException => None }
        }
        .takeWhile(_.exists { case (_, _, body) => !isLast(body) })
        .map(_.get)
    }
    new PartitionReader[InternalRow] {
      private var current: (String, Int, String) = _
      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true } else false
      override def get(): InternalRow = InternalRow.fromSeq(columns.map {
        case "key" => UTF8String.fromString(current._1)
        case "page" => Int.box(current._2)
        case "body" => UTF8String.fromString(current._3)
      })
      override def close(): Unit = ()
    }
  }
}

private[sources] case class RestReaderFactory(urlTemplate: String,
    terminator: String, transportName: String, maxPages: Int,
    columns: Seq[String], limit: Int = Int.MaxValue)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val keys = partition.asInstanceOf[RestInputPartition].keys
    // One transport per partition reader: connection reuse per partition,
    // never per row (SURVEY §2.1 S6 scale note).
    val transport = TransportRegistry.resolve(transportName)
    val isLast: String => Boolean = terminator match {
      case "rating" => RestScan.ratingLastPage
      case _ => RestScan.productLastPage
    }
    // Same fetch loop, window and loud-truncation rule as
    // RestScan.paginated. The pushed LIMIT caps each key's loop and stops
    // pulling; the window then cancels whatever is still in flight.
    val rows = FetchWindow.pages(keys.iterator,
      (key, page) => urlTemplate.replace("{key}", key).replace("{page}", page.toString),
      transport, isLast, maxPages, limit).take(limit)
    new PartitionReader[InternalRow] {
      private var current: (String, Int, String) = _
      override def next(): Boolean = {
        if (rows.hasNext) { current = rows.next(); true } else false
      }
      override def get(): InternalRow = {
        val values = columns.map {
          case "key" => UTF8String.fromString(current._1)
          case "page" => Int.box(current._2)
          case "body" => UTF8String.fromString(current._3)
        }
        InternalRow.fromSeq(values)
      }
      override def close(): Unit = ()
    }
  }
}
