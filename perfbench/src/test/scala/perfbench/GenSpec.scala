package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.SendoPipeline
import graft.sources.RestScan

class GenSpec extends AnyFunSuite {

  private val spec = Gen.SiteSpec()

  private def siteDigest(seed: Long): String = {
    val s = Gen.site(seed, spec)
    Gen.digest(Seq(Gen.pages(s.day1, spec, s.pageDups, seed),
      Gen.pages(s.day2, spec, s.pageDups, seed + 1),
      Gen.pages(s.merged, spec, 0, seed + 2))
      .iterator.flatMap(_.toSeq.sorted.iterator.flatMap { case (u, b) => Iterator(u, b) }))
  }

  private def docsDigest(ds: Iterable[Gen.Doc]): String =
    Gen.digest(ds.iterator.map(d => s"${d.id}|${d.text}|${d.source}|${d.kind}|${d.of}"))

  private def vecDigest(v: Gen.Vectors): String =
    Gen.digest((v.ids.indices.iterator.map(i => s"${v.ids(i)}|${v.labels(i)}|${v.vecs(i).mkString(",")}") ++
      v.queryIds.indices.iterator.map(i => s"${v.queryIds(i)}|${v.queries(i).mkString(",")}")))

  test("the same seed and size give byte-identical inputs") {
    assert(siteDigest(7) == siteDigest(7))
    assert(siteDigest(7) != siteDigest(8))
    val ss = Gen.StreamSpec(batches = 3, docsPerBatch = 100, eventsPerBatch = 50, keys = 20)
    def streamDigest(seed: Long) = {
      val s = Gen.stream(seed, ss)
      docsDigest(s.docBatches.flatten) + Gen.digest(s.eventBatches.flatten.iterator.map(_.toString))
    }
    assert(streamDigest(7) == streamDigest(7))
    assert(streamDigest(7) != streamDigest(8))
    val vs = Gen.VecSpec(vectors = 300, queries = 8)
    assert(vecDigest(Gen.vectors(7, vs)) == vecDigest(Gen.vectors(7, vs)))
    assert(vecDigest(Gen.vectors(7, vs)) != vecDigest(Gen.vectors(8, vs)))
  }

  test("site volumes do not depend on the seed") {
    val sizes = Seq(3L, 4L, 5L).map { seed =>
      val s = Gen.site(seed, spec)
      (s.day1.products.size, s.day1.shops.size, s.day1.ratings.size,
        s.day2.products.size, s.changed("product_detail"), s.added("rating"))
    }
    assert(sizes.distinct.size == 1, sizes)
  }

  test("site delta counts come out as declared") {
    val s = Gen.site(11, spec)
    val n1 = s.day1.products.size
    def share(x: Double, n: Int) = math.round(n * x).toInt
    assert(s.changed("product_detail") == share(spec.changedShare, n1))
    assert(s.added("product_detail") == share(spec.newShare, n1))
    assert(s.delisted("product_detail") == share(spec.delistedShare, n1))
    val ids1 = s.day1.products.map(_.id).toSet
    val ids2 = s.day2.products.map(_.id).toSet
    assert((ids2 -- ids1).size == s.added("product_detail"))
    assert((ids1 -- ids2).size == s.delisted("product_detail"))
    val changed = s.day2.products.count(p => ids1(p.id) && !s.day1.products.contains(p))
    assert(changed == s.changed("product_detail"))
    val r1 = s.day1.ratings.map(_.id).toSet
    assert(s.day2.ratings.count(r => !r1(r.id)) == s.added("rating"))
    assert(s.added("rating") == share(spec.newShare, s.day1.ratings.size))
    // The merged input keeps every key of both days, day 2 winning.
    assert(s.merged.products.map(_.id).toSet == ids1 ++ ids2)
    assert(s.day2.products.forall(p => s.merged.products.contains(p)))
    // Planted duplicate records across product pages.
    val pages = Gen.pages(s.day1, spec, s.pageDups, 11)
    val recs = pages.collect { case (u, b) if u.contains("searchlist-api") =>
      "\"product_id\":\"(\\d+)\"".r.findAllMatchIn(b).map(_.group(1)).toSeq }.flatten.toSeq
    assert(recs.size - recs.distinct.size == s.pageDups)
    assert(recs.distinct.size == n1)
  }

  test("Sendo pages use both terminator conventions") {
    val s = Gen.site(5, spec)
    val pages = Gen.pages(s.day1, spec, s.pageDups, 5)
    s.day1.subCats.foreach { case (_, sub) =>
      val n = Iterator.from(1).takeWhile(p => pages.contains(SendoPipeline.productUrl(sub, p))).size
      assert(n >= 2, s"$sub has no data page before its terminator")
      (1 until n).foreach(p => assert(!RestScan.productLastPage(pages(SendoPipeline.productUrl(sub, p)))))
      assert(pages(SendoPipeline.productUrl(sub, n)) == Gen.ProductTerminator)
      assert(RestScan.productLastPage(pages(SendoPipeline.productUrl(sub, n))))
    }
    s.day1.shops.foreach { shop =>
      val first = pages(SendoPipeline.ratingUrl(shop.id, 1))
      assert(!RestScan.ratingLastPage(first))
      assert(first.contains("\"ratings\":["))
      assert(pages(SendoPipeline.ratingUrl(shop.id, 2)) == Gen.RatingTerminator)
      assert(RestScan.ratingLastPage(Gen.RatingTerminator))
      assert(SendoPipeline.ratingUrl(shop.id, 1).contains("limit=10000"))
    }
    // The conventions differ: an empty rating array does not end a
    // product scan, only `data: null` does.
    assert(!RestScan.productLastPage(Gen.RatingTerminator))
  }

  test("stream near copies point back at distinct earlier originals") {
    val ss = Gen.StreamSpec(batches = 4, docsPerBatch = 200, eventsPerBatch = 300, keys = 50)
    val s = Gen.stream(9, ss)
    val perBatch = math.round(ss.docsPerBatch * ss.nearShare).toInt
    s.docBatches.foreach(b => assert(b.count(_.kind == Gen.Kind.Near) == perBatch))
    val near = s.docBatches.flatten.filter(_.kind == Gen.Kind.Near)
    assert(near.forall(d => d.of < d.id))
    assert(near.map(_.of).distinct.size == near.size)
    val ids = s.docBatches.map(_.map(_.id))
    ids.sliding(2).foreach { case Seq(a, b) => assert(a.max < b.min) }
    assert(s.eventBatches.forall(_.size == ss.eventsPerBatch))
    assert(s.eventBatches.flatten.map(_.key).toSet.size <= ss.keys)
  }

  test("vector clusters come out as declared") {
    val vs = Gen.VecSpec(vectors = 640, clusters = 32, queries = 16)
    val v = Gen.vectors(2, vs)
    assert(v.vecs.size == vs.vectors && v.vecs.forall(_.length == vs.dims))
    val sizes = v.labels.groupBy(identity).values.map(_.size)
    assert(sizes.size == vs.clusters && sizes.forall(_ == vs.vectors / vs.clusters))
    assert(v.queries.size == vs.queries && v.queryIds.toSet.intersect(v.ids.toSet).isEmpty)
  }
}

class TraceSpec extends AnyFunSuite {

  test("self time is duration minus the time child spans cover") {
    val t = new Tracer
    val spans = Seq(Span(0, -1, "a", 0, 0, 100), Span(1, 0, "b", 0, 10, 40),
      Span(2, 0, "c", 0, 30, 60), Span(3, 1, "d", 0, 15, 20), Span(4, -1, "e", 0, 100, 110))
    val self = t.selfTimes(spans)
    assert(self == Map(0 -> 50L, 1 -> 25L, 2 -> 30L, 3 -> 5L, 4 -> 10L))
  }

  test("spans nest under the open span and are off unless enabled") {
    val t = new Tracer
    t.span("off")(())
    assert(t.spans.isEmpty)
    t.enabled = true
    t.span("outer")(t.span("inner")(()))
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("inner").parent == byName("outer").id && byName("outer").parent == -1)
  }

  test("the tail is the highest percentile with ten samples beyond it") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 11).map(_.toDouble)).contains((1.0, 100.0 / 11)))
    assert(Stats.tail((1 to 100).map(_.toDouble)).contains((90.0, 90.0)))
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }
}
