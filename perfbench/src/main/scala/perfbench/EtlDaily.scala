package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.model.Schemas
import graft.ops.RefOps
import graft.pipeline.SendoPipeline
import graft.sources.Transport

/** Served pages and fetch counters, held in the driver JVM; in local
  * mode the executor threads share it, so a transport only carries the
  * name of its site across task serialization. */
object SiteRegistry {
  val sites = new ConcurrentHashMap[String, Map[String, String]]()

  private val lock = new Object
  private var inflight = 0
  private var busyFrom = 0L
  private var requests = 0L
  private var waitNanos = 0L
  private var busyNanos = 0L

  def begin(): Long = lock.synchronized {
    val now = System.nanoTime()
    if (inflight == 0) busyFrom = now
    inflight += 1
    now
  }

  def end(started: Long): Unit = lock.synchronized {
    val now = System.nanoTime()
    inflight -= 1
    requests += 1
    waitNanos += now - started
    if (inflight == 0) busyNanos += now - busyFrom
  }

  def snapshot(): (Long, Long, Long) = lock.synchronized((requests, waitNanos, busyNanos))
}

/** The benchmark's origin: every request waits a fixed latency, then
  * answers from the generated site; an unknown URL fails like a 404. */
final class SiteTransport(site: String, latencyNanos: Long) extends Transport {
  override def get(url: String): String = {
    val t = SiteRegistry.begin()
    try {
      LockSupport.parkNanos(latencyNanos)
      SiteRegistry.sites.get(site).getOrElse(url,
        throw new IllegalStateException(s"HTTP 404 (client error) for $url"))
    } finally SiteRegistry.end(t)
  }
}

/** The reference's daily job. The cold pass is a day-1
  * `SendoPipeline.run` into an empty warehouse, then a day-2 run over the
  * changed site (the delta); every warm pass is that delta again, into a
  * copy of the day-1 warehouse: the steady-state daily job. */
final class EtlDaily(ctx: Ctx) extends Workload {
  import EtlDaily._
  private val spark = ctx.spark
  private val spec = Gen.SiteSpec()
  private val site = Gen.site(ctx.seed, spec)
  private val run = s"etl-${ctx.seed}-${ProcessHandle.current().pid()}"
  private def transport(day: String) = new SiteTransport(s"$run/$day", LatencyNanos)
  private def wh(i: Int) = s"${ctx.work}/etl/pass-$i"
  private val deltaRows = (site.changed.values ++ site.added.values).sum
  private val day2Window = scala.collection.mutable.Map.empty[Int, (Long, Long)]

  private val day1Copy = s"${ctx.work}/etl/day1"

  def inputRows: Long =
    (site.day2.products.size + site.day2.shops.size + site.day2.ratings.size).toLong

  def bypassed: Seq[String] = Seq("dedup", "streaming", "functions", "plans")

  def dims: Map[String, Any] = Map(
    "sub_categories" -> site.day1.subCats.size,
    "products_day1" -> site.day1.products.size, "shops_day1" -> site.day1.shops.size,
    "ratings_day1" -> site.day1.ratings.size, "page_size" -> spec.pageSize,
    "rating_page_limit" -> 10000, "request_latency_ms" -> LatencyNanos / 1e6,
    "changed_share" -> spec.changedShare, "new_share" -> spec.newShare,
    "delisted_share" -> spec.delistedShare, "changed" -> site.changed,
    "added" -> site.added, "delisted" -> site.delisted, "page_dups" -> site.pageDups)

  def prepare(): Unit = {
    SiteRegistry.sites.put(s"$run/day1", Gen.pages(site.day1, spec, site.pageDups, ctx.seed))
    SiteRegistry.sites.put(s"$run/day2", Gen.pages(site.day2, spec, site.pageDups, ctx.seed + 1))
    SiteRegistry.sites.put(s"$run/merged", Gen.pages(site.merged, spec, 0, ctx.seed + 2))
  }

  override def beforePass(i: Int): Unit = if (i > 0) copyTree(day1Copy, wh(i))

  private val fetches = scala.collection.mutable.Map.empty[Int, Map[String, Double]]

  def pass(i: Int): Seq[Double] = {
    val (r0, w0, b0) = SiteRegistry.snapshot()
    def day(name: String): Unit =
      if (ctx.tracer.enabled) ctx.span(s"pipeline.sendo.$name")(stages(transport(name), wh(i)))
      else SendoPipeline.run(spark, transport(name), wh(i))
    if (i == 0) {
      day("day1")
      // A few small files; the copy is noise next to the cold pass.
      copyTree(wh(0), day1Copy)
    }
    val s = Clock.micros()
    day("day2")
    val e = Clock.micros()
    day2Window(i) = (s, e)
    val (r1, w1, b1) = SiteRegistry.snapshot()
    fetches(i) = Map(
      "sources.requests" -> (r1 - r0).toDouble,
      "sources.fetch_wait_s" -> (w1 - w0) / 1e9,
      "sources.fetch_inflight_mean" ->
        (if (b1 > b0) (w1 - w0).toDouble / (b1 - b0) else 0.0))
    Seq((e - s) / 1e6)
  }

  /** `SendoPipeline.run`'s body, one public call per span. Each extract
    * stage is materialized inside its own span so its fetches are
    * charged to it; the untraced pass runs `SendoPipeline.run` itself,
    * and the check compares both warehouses with the same model. */
  private def stages(t: Transport, dir: String): Unit = {
    def pinned(df: => DataFrame): DataFrame = { val d = df.persist(); d.count(); d }
    val subCats = ctx.span("pipeline.sendo.subCategories")(
      SendoPipeline.subCategories(spark, t))
    val prods = ctx.span("pipeline.sendo.products")(
      pinned(SendoPipeline.products(spark, subCats, t)))
    val shops = ctx.span("pipeline.sendo.shopInfos")(
      pinned(SendoPipeline.shopInfos(spark, prods, t)))
    val rats = ctx.span("pipeline.sendo.ratings")(
      pinned(SendoPipeline.ratings(spark, shops, t)))
    ctx.span("sink.mergeTable.rating")(SendoPipeline.mergeTable(spark, dir,
      "rating", Schemas.rating, rats, "rating_id"))
    ctx.span("sink.mergeTable.shop_info")(SendoPipeline.mergeTable(spark, dir,
      "shop_info", Schemas.shopInfo, shops, "shop_id"))
    val rif = ctx.span("ops.RefOps.riFilter") {
      val db = SendoPipeline.readTable(spark, dir, "shop_info", Schemas.shopInfo)
        .select("shop_id")
      RefOps.riFilter(RefOps.distinctKeys("shop_id")(db, shops), "shop_id")(prods)
    }
    ctx.span("sink.mergeTable.product_detail")(SendoPipeline.mergeTable(spark,
      dir, "product_detail", Schemas.productDetail, rif, "product_id"))
    prods.unpersist(); shops.unpersist(); rats.unpersist()
  }

  override def derived(i: Int, c: SparkCounters): Map[String, Double] =
    fetches(i) ++ day2Window.get(i).map { case (s, e) =>
      "sink.write_amp" -> c.window(s, e)("sink.records_written") / deltaRows
    }

  private def tables(dir: String): Map[String, Seq[Seq[String]]] =
    Tables.map { case (t, cols) =>
      t -> spark.read.parquet(s"$dir/$t").select(cols.map(col): _*).collect()
        .map(norm).toSeq
    }

  private def asSets(t: Map[String, Seq[Seq[String]]]) = t.map { case (k, v) => k -> v.toSet }

  private var first: Map[String, Set[Seq[String]]] = Map.empty

  def check(i: Int): Seq[String] = {
    val got = tables(wh(i))
    val want = expected(site.merged)
    val failures = Tables.keys.toSeq.flatMap { t =>
      val g = got(t).toSet; val w = want(t)
      val keys = got(t).map(_.head)
      Seq(
        if (g != w) Some(s"$t: ${(g -- w).size} unexpected and ${(w -- g).size} missing rows") else None,
        if (keys.distinct.size != keys.size) Some(s"$t: duplicate primary keys") else None
      ).flatten
    } ++ {
      val shopIds = got("shop_info").map(_.head).toSet
      Seq("product_detail" -> 7, "rating" -> 1).flatMap { case (t, fk) =>
        val dangling = got(t).count(r => !shopIds(r(fk)))
        if (dangling > 0) Some(s"$t: $dangling rows with unresolved shop_id") else None
      }
    } ++ {
      if (i == 0) { first = asSets(got); Nil }
      else if (asSets(got) != first) Seq(s"pass $i warehouse differs from pass 0") else Nil
    }
    if (i > 0) graft.util.FsUtil.deleteTree(wh(i))
    failures
  }

  /** The upsert law: day 1 then day 2 equals one load of the merged input. */
  override def checkOnce(): Seq[String] = {
    val dir = s"${ctx.work}/etl/one-load"
    // Untimed, so the origin answers without the request latency.
    SendoPipeline.run(spark, new SiteTransport(s"$run/merged", 0L), dir)
    if (asSets(tables(dir)) != first) Seq("day-1 + day-2 differs from one load of the merged input")
    else Nil
  }

  override def close(): Unit =
    Seq("day1", "day2", "merged").foreach(d => SiteRegistry.sites.remove(s"$run/$d"))
}

object EtlDaily {
  def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from); val dst = java.nio.file.Paths.get(to)
    val all = java.nio.file.Files.walk(src)
    try all.forEach(p => java.nio.file.Files.copy(p, dst.resolve(src.relativize(p))))
    finally all.close()
  }

  /** Fixed latency of every request to the generated origin: a short
    * round trip to a remote REST API, so waiting on fetches is a real
    * share of the job and fetch parallelism shows. */
  val LatencyNanos: Long = 20000000L

  val Tables: Map[String, Seq[String]] = Map(
    "shop_info" -> Seq("shop_id", "shop_name", "good_review_percent", "score",
      "customer_id", "phone_number", "rating_avg", "rating_count",
      "response_time", "product_total", "sale_on_sendo",
      "time_prepare_product", "warehourse_region_name"),
    "product_detail" -> Seq("product_id", "name", "category_path", "price",
      "price_max", "final_price", "final_price_max", "shop_id", "category",
      "sub_category"),
    "rating" -> Seq("rating_id", "shop_id", "address", "star", "comment",
      "status", "update_time", "customer_id", "user_name", "product_name",
      "product_path", "price"))

  def norm(r: Row): Seq[String] = r.toSeq.map {
    case null => "null"
    case d: java.math.BigDecimal => d.setScale(2).toPlainString
    case v => v.toString
  }

  private def dec(s: String) = new java.math.BigDecimal(s).setScale(2).toPlainString
  private def dec(n: Long) = java.math.BigDecimal.valueOf(n).setScale(2).toPlainString

  /** The warehouse a correct load of `d` holds, rendered like [[norm]]. */
  def expected(d: Gen.SiteDay): Map[String, Set[Seq[String]]] = {
    val shopIds = d.shops.map(_.id).toSet
    Map(
      "shop_info" -> d.shops.map(s => Seq(s.id, s.name, dec(s.goodReviewPercent),
        dec(s.score), s.customerId, s.phone, dec(s.ratingAvg), s.ratingCount.toString,
        s.responseTime, s.productTotal.toString, s.saleOnSendo, s.timePrepare,
        s.region)).toSet,
      "product_detail" -> d.products.filter(p => shopIds(p.shopId)).map(p =>
        Seq(p.id, p.name, p.path, dec(p.price), dec(p.priceMax), dec(p.finalPrice),
          dec(p.finalPriceMax), p.shopId, p.category, p.subCategory)).toSet,
      "rating" -> d.ratings.map { r =>
        val Array(dd, mm, yyyy) = r.updateTime.split('/')
        Seq(r.id, r.shopId, r.address, r.star.toString, r.comment, r.status,
          s"$yyyy-$mm-$dd", r.customerId, r.userName, r.productName,
          r.productPath, dec(r.price))
      }.toSet)
  }
}
