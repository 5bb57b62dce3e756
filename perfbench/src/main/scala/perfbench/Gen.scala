package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generators for the workloads. Each generator is a
  * pure function of (seed, size): the same arguments give the same
  * values, byte for byte, and every planted count (duplicates, clusters,
  * delta rows) is exact, not a sampled expectation. Inputs are built in
  * memory; the workloads hand them to the engine. */
object Gen {

  /** SHA-256 over the given strings, in order: the fingerprint the
    * generator tests compare between two generations. */
  def digest(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p =>
      md.update(p.getBytes(StandardCharsets.UTF_8)); md.update(0.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Draw exactly `k` distinct indices from [0, n), in ascending order. */
  def choose(rnd: SplittableRandom, n: Int, k: Int): IndexedSeq[Int] = {
    require(k <= n, s"cannot choose $k of $n")
    val a = Array.range(0, n)
    for (i <- 0 until k) {
      val j = i + rnd.nextInt(n - i)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.take(k).sorted.toIndexedSeq
  }

  private def jstr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  // ---------------------------------------------------------------- Sendo

  final case class Product(id: String, name: String, path: String,
      price: Long, priceMax: Long, finalPrice: Long, finalPriceMax: Long,
      shopId: String, category: String, subCategory: String)

  final case class Shop(id: String, name: String, goodReviewPercent: String,
      score: String, customerId: String, phone: String, ratingAvg: String,
      ratingCount: Int, responseTime: String, productTotal: Int,
      saleOnSendo: String, timePrepare: String, region: String)

  /** `updateTime` is the payload's dd/MM/yyyy string. */
  final case class Rating(id: String, shopId: String, address: String,
      star: Int, comment: String, status: String, updateTime: String,
      customerId: String, userName: String, productName: String,
      productPath: String, price: Long)

  /** One day's scrape of the site: every record the REST pages carry. */
  final case class SiteDay(subCats: IndexedSeq[(String, String)],
      products: IndexedSeq[Product], shops: IndexedSeq[Shop],
      ratings: IndexedSeq[Rating])

  /** Size and delta shape of the generated Sendo site (FIXTURES.md §2). */
  final case class SiteSpec(categories: Int = 4, subCatsPerCategory: Int = 3,
      minProducts: Int = 30, maxProducts: Int = 70, pageSize: Int = 40,
      shops: Int = 120, minRatings: Int = 4, maxRatings: Int = 20,
      pageDupShare: Double = 0.01,
      changedShare: Double = 0.10, newShare: Double = 0.05,
      delistedShare: Double = 0.03)

  /** Day 1, day 2 and the merged input (day 2 over day 1 by key, plus
    * day-1 records absent on day 2 — the warehouse never deletes). The
    * `changed`/`added`/`delisted` counts are exact per table. */
  final case class Site(day1: SiteDay, day2: SiteDay, merged: SiteDay,
      changed: Map[String, Int], added: Map[String, Int],
      delisted: Map[String, Int], pageDups: Int)

  private val regions = IndexedSeq("Hà Nội", "Hồ Chí Minh", "Đà Nẵng",
    "Cần Thơ", "Hải Phòng")
  private val statuses = IndexedSeq("approved", "pending", "hidden")

  private def vnDate(rnd: SplittableRandom): String = {
    // Day and month both <= 12 on a share of rows, so a month-first
    // parse would give a different date (FIXTURES.md §2d).
    val d = 1 + rnd.nextInt(28); val m = 1 + rnd.nextInt(12)
    f"$d%02d/$m%02d/${2023 + rnd.nextInt(3)}"
  }

  // One-decimal numbers built from integers: no locale, no float print.
  private def pct(rnd: SplittableRandom): String = {
    val n = rnd.nextInt(400); s"${60 + n / 10}.${n % 10}"
  }

  private def score(rnd: SplittableRandom): String = {
    val n = rnd.nextInt(41); s"${1 + n / 10}.${n % 10}"
  }

  def site(seed: Long, spec: SiteSpec = SiteSpec()): Site = {
    val rnd = new SplittableRandom(seed)
    val subCats = for {
      c <- 0 until spec.categories
      s <- 0 until spec.subCatsPerCategory
    } yield (s"cat-$c", s"cat-$c-sub-$s")
    def mkShop(i: Int): Shop = Shop(s"${500 + i}", s"Shop $i", pct(rnd),
      score(rnd), s"${9000 + i}", f"09${rnd.nextInt(100000000)}%08d",
      score(rnd), rnd.nextInt(5000), "trong vài giờ", rnd.nextInt(300),
      s"${1 + rnd.nextInt(9)} năm", s"${1 + rnd.nextInt(3)} ngày",
      regions(rnd.nextInt(regions.size)))
    val shops = (0 until spec.shops).map(mkShop)
    // Volumes are the same for every seed (so seeds vary content, not
    // size): product and rating counts step through their ranges by
    // index, and the first products visit every shop once.
    val shopOrder = choose(rnd, shops.size, shops.size).map(i => (rnd.nextLong(), i))
      .sorted.map(x => shops(x._2).id)
    var nextProduct = 10000
    def mkProduct(sc: (String, String)): Product = {
      val id = nextProduct; nextProduct += 1
      val k = id - 10000
      val price = 1000L * (10 + rnd.nextInt(990))
      val fin = price - 1000L * rnd.nextInt(10)
      Product(s"$id", s"Sản phẩm $id", s"san-pham-$id.html", price,
        price + 1000L * rnd.nextInt(50), fin, fin + 1000L * rnd.nextInt(20),
        if (k < shopOrder.size) shopOrder(k) else shops(rnd.nextInt(shops.size)).id,
        sc._1, sc._2)
    }
    def stepped(lo: Int, hi: Int, i: Int): Int = lo + (i * 7) % (hi - lo + 1)
    val products1 = subCats.zipWithIndex.flatMap { case (sc, i) =>
      IndexedSeq.fill(stepped(spec.minProducts, spec.maxProducts, i))(mkProduct(sc))
    }
    var nextRating = 1
    def mkRating(shop: String, p: Product): Rating = {
      val id = nextRating; nextRating += 1
      Rating(s"r-$id", shop, regions(rnd.nextInt(regions.size)),
        1 + rnd.nextInt(5), s"Bình luận $id", statuses(rnd.nextInt(3)),
        vnDate(rnd), s"${9000 + rnd.nextInt(5000)}", s"user$id", p.name,
        p.path, p.finalPrice)
    }
    val byShop = products1.groupBy(_.shopId)
    val activeShops1 = shops.filter(s => byShop.contains(s.id))
    val ratings1 = activeShops1.zipWithIndex.flatMap { case (s, i) =>
      val ps = byShop(s.id)
      IndexedSeq.fill(stepped(spec.minRatings, spec.maxRatings, i))(
        mkRating(s.id, ps(rnd.nextInt(ps.size))))
    }
    val day1 = SiteDay(subCats, products1, activeShops1, ratings1)

    // Day 2: exact shares of day-1 rows change or are delisted, and new
    // keys arrive. Changed and delisted rows are disjoint.
    def split[T](xs: IndexedSeq[T]): (Set[Int], Set[Int]) = {
      val nCh = math.round(xs.size * spec.changedShare).toInt
      val nDel = math.round(xs.size * spec.delistedShare).toInt
      val picked = choose(rnd, xs.size, nCh + nDel)
      val order = picked.map(i => (rnd.nextLong(), i)).sorted.map(_._2)
      (order.take(nCh).toSet, order.drop(nCh).toSet)
    }
    val (pCh, pDel) = split(products1)
    val nNewP = math.round(products1.size * spec.newShare).toInt
    val products2 = products1.indices.flatMap { i =>
      val p = products1(i)
      if (pDel(i)) None
      else if (pCh(i)) Some(p.copy(finalPrice = p.finalPrice - 1000L,
        name = p.name + " (mới)"))
      else Some(p)
    } ++ IndexedSeq.fill(nNewP)(mkProduct(subCats(rnd.nextInt(subCats.size))))
    val byShop2 = products2.groupBy(_.shopId)
    val activeShops2 = shops.filter(s => byShop2.contains(s.id))
    val shopIdx1 = activeShops1.map(_.id).zipWithIndex.toMap
    val nShopCh = math.round(activeShops1.size * spec.changedShare).toInt
    val shopCh = choose(rnd, activeShops1.size, nShopCh).toSet
    val shops2 = activeShops2.map { s =>
      shopIdx1.get(s.id) match {
        case Some(i) if shopCh(i) => s.copy(ratingCount = s.ratingCount + 1,
          score = score(rnd))
        case _ => s
      }
    }
    val (rCh, rDel) = split(ratings1)
    val nNewR = math.round(ratings1.size * spec.newShare).toInt
    val keptR = ratings1.indices.flatMap { i =>
      val r = ratings1(i)
      if (rDel(i) || !byShop2.contains(r.shopId)) None
      else if (rCh(i)) Some(r.copy(status = "approved",
        comment = r.comment + " (sửa)"))
      else Some(r)
    }
    val newR = IndexedSeq.fill(nNewR) {
      val s = activeShops2(rnd.nextInt(activeShops2.size))
      val ps = byShop2(s.id)
      mkRating(s.id, ps(rnd.nextInt(ps.size)))
    }
    val day2 = SiteDay(subCats, products2, shops2, keptR ++ newR)

    def mergeBy[T](a: IndexedSeq[T], b: IndexedSeq[T])(k: T => String) = {
      val bk = b.map(k).toSet
      a.filterNot(x => bk(k(x))) ++ b
    }
    val merged = SiteDay(subCats, mergeBy(products1, products2)(_.id),
      mergeBy(activeShops1, shops2)(_.id),
      mergeBy(ratings1, day2.ratings)(_.id))
    val lostShops = activeShops1.count(s => !byShop2.contains(s.id))
    Site(day1, day2, merged,
      changed = Map("product_detail" -> pCh.size, "shop_info" ->
        shopCh.count(i => byShop2.contains(activeShops1(i).id)),
        "rating" -> keptR.count(r => r.comment.endsWith("(sửa)"))),
      added = Map("product_detail" -> nNewP, "shop_info" ->
        activeShops2.count(s => !shopIdx1.contains(s.id)), "rating" -> nNewR),
      delisted = Map("product_detail" -> pDel.size, "shop_info" -> lostShops,
        "rating" -> (ratings1.size - keptR.size)),
      pageDups = math.round(products1.size * spec.pageDupShare).toInt)
  }

  // JSON bodies, FIXTURES.md §2 shapes.
  def sitemapJson(d: SiteDay): String = d.subCats.groupBy(_._1).toSeq
    .sortBy(_._1).map { case (c, subs) =>
      s"""{"url_key":${jstr(c)},"child":[""" +
        subs.map(s => s"""{"url_key":${jstr(s._2)}}""").mkString(",") + "]}"
    }.mkString("""{"result":{"data":[""", ",", "]}}")

  def productJson(p: Product): String =
    s"""{"product_id":${jstr(p.id)},"name":${jstr(p.name)},""" +
      s""""category_path":${jstr(p.path)},"price":${p.price},""" +
      s""""price_max":${p.priceMax},"final_price":${p.finalPrice},""" +
      s""""final_price_max":${p.finalPriceMax},"shop_id":${jstr(p.shopId)},""" +
      s""""is_promotion":false}"""

  def shopJson(s: Shop): String =
    s"""{"data":{"shop_info":{"shop_id":${jstr(s.id)},""" +
      s""""shop_name":${jstr(s.name)},"good_review_percent":${s.goodReviewPercent},""" +
      s""""score":${s.score},"customer_id":${jstr(s.customerId)},""" +
      s""""phone_number":${jstr(s.phone)},"rating_avg":${s.ratingAvg},""" +
      s""""rating_count":${s.ratingCount},"response_time":${jstr(s.responseTime)},""" +
      s""""product_total":${s.productTotal},"sale_on_sendo":${jstr(s.saleOnSendo)},""" +
      s""""time_prepare_product":${jstr(s.timePrepare)},""" +
      s""""warehourse_region_name":${jstr(s.region)}}}}"""

  def ratingJson(r: Rating): String =
    s"""{"rating_id":${jstr(r.id)},"address":${jstr(r.address)},""" +
      s""""star":${r.star},"comment":${jstr(r.comment)},"status":${jstr(r.status)},""" +
      s""""update_time":${jstr(r.updateTime)},"customer_id":${jstr(r.customerId)},""" +
      s""""user_name":${jstr(r.userName)},"product_name":${jstr(r.productName)},""" +
      s""""product_path":${jstr(r.productPath)},"price":${r.price}}"""

  val ProductTerminator = """{"data":null}"""
  val RatingTerminator = """{"data":{"ratings":[]}}"""

  /** URL → body for one day of the site, at the engine's own URLs.
    * Product pages end with a `data: null` page, rating pages with an
    * empty array; `pageDups` records repeat on the next page, as
    * overlapping result pages do. Every product's detail page answers
    * with its shop. */
  def pages(d: SiteDay, spec: SiteSpec, pageDups: Int, seed: Long): Map[String, String] = {
    import graft.pipeline.SendoPipeline._
    val rnd = new SplittableRandom(seed ^ 0x5e9d0L)
    val chunksBySub = d.products.groupBy(_.subCategory)
      .map { case (sub, ps) => sub -> ps.grouped(spec.pageSize).toIndexedSeq }
    // Only records on a page that has a next page can repeat there.
    val eligible = chunksBySub.values.flatMap(_.dropRight(1).flatten)
      .map(_.id).toIndexedSeq.sorted
    val dupIds = choose(rnd, eligible.size, math.min(pageDups, eligible.size))
      .map(eligible).toSet
    val b = Map.newBuilder[String, String]
    b += SitemapUrl -> sitemapJson(d)
    d.subCats.foreach { case (_, sub) =>
      val chunks = chunksBySub.getOrElse(sub, IndexedSeq.empty)
      chunks.zipWithIndex.foreach { case (chunk, i) =>
        val carried = if (i > 0) chunks(i - 1).filter(p => dupIds(p.id)) else Nil
        b += productUrl(sub, i + 1) ->
          (carried ++ chunk).map(productJson).mkString("""{"data":[""", ",", "]}")
      }
      b += productUrl(sub, chunks.size + 1) -> ProductTerminator
    }
    val shopById = d.shops.map(s => s.id -> s).toMap
    d.products.foreach { p =>
      b += detailUrl(p.path.stripSuffix(".html")) -> shopJson(shopById(p.shopId))
    }
    val rBy = d.ratings.groupBy(_.shopId)
    d.shops.foreach { s =>
      val rs = rBy.getOrElse(s.id, IndexedSeq.empty)
      if (rs.nonEmpty) b += ratingUrl(s.id, 1) ->
        rs.map(ratingJson).mkString("""{"data":{"ratings":[""", ",", "]}}")
      b += ratingUrl(s.id, if (rs.isEmpty) 1 else 2) -> RatingTerminator
    }
    b.result()
  }

  // ------------------------------------------------------------- documents

  /** Kinds of planted document: an original or its near copy. */
  object Kind {
    val Original = "original"; val Near = "near"
  }

  /** `of` is the original a near copy was made from (its own id for an
    * original). */
  final case class Doc(id: Long, text: String, source: String,
      kind: String, of: Long)

  private val syllables = IndexedSeq("th", "er", "on", "an", "re", "he", "in",
    "ed", "nd", "ha", "at", "en", "es", "of", "or", "nt", "ea", "ti", "to", "it")

  /** Vocabulary: distinct English-like words made of common syllables. */
  private def vocab(size: Int, rnd: SplittableRandom): IndexedSeq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < size) {
      val n = 2 + rnd.nextInt(3)
      seen += (0 until n).map(_ => syllables(rnd.nextInt(syllables.size))).mkString
    }
    seen.toIndexedSeq
  }

  // ---------------------------------------------------------- stream ingest

  /** Micro-batches of documents for the near-dup ingest. Ids grow with
    * the batch and every near copy points at an original of an earlier
    * or the same batch, so a copy always has the larger id. */
  final case class StreamSpec(batches: Int, docsPerBatch: Int,
      nearShare: Double = 0.15, eventsPerBatch: Int, keys: Int,
      halfLifeHours: Double = 24.0)

  final case class Stream(docBatches: IndexedSeq[IndexedSeq[Doc]],
      eventBatches: IndexedSeq[IndexedSeq[graft.ops.Decay.DecayEvent]])

  def stream(seed: Long, spec: StreamSpec): Stream = {
    val rnd = new SplittableRandom(seed)
    val vocab = this.vocab(20000, rnd)
    val nearPer = math.round(spec.docsPerBatch * spec.nearShare).toInt
    // Originals not yet copied: each original gets at most one near copy,
    // so no copy can chain to another copy and the incremental and
    // one-shot dedups must agree.
    val unused = scala.collection.mutable.ArrayBuffer.empty[Doc]
    var nextId = 1L
    val docBatches = (0 until spec.batches).map { b =>
      val fresh = (0 until spec.docsPerBatch - nearPer).map { _ =>
        val n = 40 + rnd.nextInt(60)
        val d = Doc(nextId, IndexedSeq.fill(n)(vocab(rnd.nextInt(vocab.size)))
          .mkString(" "), s"src${rnd.nextInt(20)}", Kind.Original, nextId)
        nextId += 1; d
      }
      unused ++= fresh
      val near = (0 until nearPer).map { _ =>
        val j = rnd.nextInt(unused.size)
        val o = unused(j)
        unused(j) = unused.last; unused.dropRightInPlace(1)
        val toks = o.text.split(' ')
        toks(toks.length / 2) = vocab(rnd.nextInt(vocab.size)) + "z"
        val d = Doc(nextId, toks.mkString(" "), o.source, Kind.Near, o.id)
        nextId += 1; d
      }
      fresh ++ near
    }
    val t0 = 1704067200000000L // 2024-01-01T00:00:00Z in micros
    var eid = 0L
    val eventBatches = (0 until spec.batches).map { b =>
      IndexedSeq.fill(spec.eventsPerBatch) {
        eid += 1
        graft.ops.Decay.DecayEvent(rnd.nextInt(spec.keys).toLong,
          t0 + b * 3600000000L + rnd.nextInt(3600) * 1000000L,
          rnd.nextInt(1000) / 10.0, eid)
      }
    }
    Stream(docBatches, eventBatches)
  }

  // ---------------------------------------------------------- embeddings

  final case class VecSpec(vectors: Int, dims: Int = 64, clusters: Int = 32,
      noise: Double = 1.0, queries: Int = 32)

  final case class Vectors(ids: IndexedSeq[Long], vecs: IndexedSeq[Array[Float]],
      labels: IndexedSeq[Int], queryIds: IndexedSeq[Long],
      queries: IndexedSeq[Array[Float]])

  /** Planted clusters: unit-norm centres, members = centre + Gaussian
    * noise; labels round-robin so every cluster has the same size up to
    * one. Query vectors are fresh draws around the same centres. */
  def vectors(seed: Long, spec: VecSpec): Vectors = {
    val rnd = new SplittableRandom(seed)
    def gauss(): Double = {
      // Box-Muller on the seeded stream (java.util.Random is not used so
      // the sequence is defined by SplittableRandom alone).
      val u = 1.0 - rnd.nextDouble(); val v = rnd.nextDouble()
      math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * v)
    }
    val centres = IndexedSeq.fill(spec.clusters) {
      val c = Array.fill(spec.dims)(gauss())
      val n = math.sqrt(c.map(x => x * x).sum); c.map(_ / n)
    }
    def around(c: Array[Double]): Array[Float] =
      c.map(x => (x + gauss() * spec.noise / math.sqrt(spec.dims)).toFloat)
    val labels = (0 until spec.vectors).map(_ % spec.clusters)
    val vecs = labels.map(l => around(centres(l)))
    val qs = IndexedSeq.fill(spec.queries)(around(centres(rnd.nextInt(spec.clusters))))
    Vectors((0 until spec.vectors).map(_.toLong), vecs, labels,
      (0 until spec.queries).map(i => 1000000000L + i), qs)
  }
}
