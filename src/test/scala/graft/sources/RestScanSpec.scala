package graft.sources

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

object RestScanSpec {
  val inFlight = new AtomicInteger(0)
  val peak = new AtomicInteger(0)
  val requests = new AtomicInteger(0)

  def reset(): Unit = { inFlight.set(0); peak.set(0); requests.set(0) }

  def fetchThreads(): Set[String] =
    Thread.getAllStackTraces.keySet.asScala.map(_.getName)
      .filter(_.startsWith(FetchWindow.ThreadPrefix)).toSet

  /** Fetch threads still alive after up to 10 s; they exit once their
    * pool is shut down, so this should be empty. */
  def lingeringFetchThreads(): Set[String] = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (fetchThreads().nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    fetchThreads()
  }

  /** Key `k<i>` serves `i % 3 + 1` data pages, then the terminator. */
  def dataPages(key: String): Int = key.drop(1).toInt % 3 + 1
  def body(key: String, page: Int): String =
    if (page <= dataPages(key)) s"""{"data": [$page]}""" else """{"data": null}"""
}

/** Serves `u/<key>/<page>` after a short sleep, counting requests and the
  * peak number of concurrent `get` calls. `failKey` throws; `endlessKey`
  * never terminates. */
class SleepyTransport(failKey: String = "", endlessKey: String = "") extends Transport {
  import RestScanSpec._
  override def get(url: String): String = {
    peak.accumulateAndGet(inFlight.incrementAndGet(), math.max)
    requests.incrementAndGet()
    try {
      Thread.sleep(5)
      val Array(_, key, page) = url.split('/')
      if (key == failKey) throw new IllegalStateException(s"origin broke on $key")
      if (key == endlessKey) s"""{"data": [$page]}"""
      else RestScanSpec.body(key, page.toInt)
    } finally inFlight.decrementAndGet()
  }
}

class RestScanSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._
  import RestScanSpec._

  private val keys32 = (0 until 32).map(i => s"k$i")
  private def onePartition = keys32.toDS().coalesce(1)

  private def assertNoFetchThreads(): Unit = {
    val alive = lingeringFetchThreads()
    assert(alive.isEmpty, s"fetch threads still alive: $alive")
  }

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  test("paginated keeps a window of keys in flight, with the sequential rows, order and requests") {
    assert(onePartition.rdd.getNumPartitions == 1)
    reset()
    val got = RestScan.paginated(onePartition, (k, p) => s"u/$k/$p",
      new SleepyTransport, RestScan.productLastPage).collect().toSeq
    // The one-request-at-a-time loop over the same keys.
    val sequential = for {
      k <- keys32
      p <- 1 to dataPages(k)
    } yield (k, p, body(k, p))
    assert(got == sequential)
    assert(requests.get == keys32.map(dataPages(_) + 1).sum)
    assert(peak.get > 1, "only one request was ever in flight")
    assert(peak.get <= FetchWindow.Width)
    assertNoFetchThreads()
  }

  test("perKey keeps a window of keys in flight, rows in key order") {
    reset()
    val got = RestScan.perKey(onePartition, k => s"u/$k/1", new SleepyTransport)
      .collect().toSeq
    assert(got == keys32.map(k => (k, body(k, 1))))
    assert(requests.get == keys32.size)
    assert(peak.get > 1, "only one request was ever in flight")
  }

  test("one throwing key fails the windowed job with its cause, and the pool stops") {
    reset()
    val ex = intercept[org.apache.spark.SparkException] {
      RestScan.paginated(onePartition, (k, p) => s"u/$k/$p",
        new SleepyTransport(failKey = "k17"), RestScan.productLastPage).collect()
    }
    assert(causes(ex).exists(c => Option(c.getMessage).exists(_.contains("origin broke on k17"))),
      s"cause lost: $ex")
    assertNoFetchThreads()
  }

  test("maxPages overrun inside a window fails loudly, and the pool stops") {
    reset()
    val ex = intercept[org.apache.spark.SparkException] {
      RestScan.paginated(onePartition, (k, p) => s"u/$k/$p",
        new SleepyTransport(endlessKey = "k9"), RestScan.productLastPage,
        maxPages = 5).collect()
    }
    assert(causes(ex).exists(c => Option(c.getMessage).exists(m =>
      m.contains("maxPages=5") && m.contains("'k9'"))), s"cause lost: $ex")
    assertNoFetchThreads()
  }

  test("paginated fetches per key until the terminator, excluding it") {
    val t = new FakeTransport(Map(
      "u/a/1" -> """{"data": [1]}""", "u/a/2" -> """{"data": [2]}""",
      "u/a/3" -> """{"data": null}""",
      "u/b/1" -> """{"data": null}"""))
    val got = RestScan.paginated(Seq("a", "b").toDS(),
        (k, p) => s"u/$k/$p", t, RestScan.productLastPage)
      .collect().toSet
    assert(got == Set(("a", 1, """{"data": [1]}"""), ("a", 2, """{"data": [2]}""")))
  }

  test("hitting maxPages without a terminator fails loudly (no silent truncation)") {
    val t = new FakeTransport(Map(
      "u/a/1" -> """{"data": [1]}""", "u/a/2" -> """{"data": [2]}""",
      "u/a/3" -> """{"data": [3]}"""))
    val ex = intercept[org.apache.spark.SparkException] {
      RestScan.paginated(Seq("a").toDS(), (k, p) => s"u/$k/$p", t,
        RestScan.productLastPage, maxPages = 3).collect()
    }
    assert(ex.getMessage.contains("maxPages") ||
      Option(ex.getCause).exists(_.getMessage.contains("maxPages")))
  }

  test("a malformed JSON page fails the scan with the parse error as its cause") {
    // Key a's second page is cut off mid-array; key b is healthy. The
    // whole scan must fail — returning a's first page and all of b
    // would be a silently short read.
    val t = new FakeTransport(Map(
      "u/a/1" -> """{"data": [1]}""", "u/a/2" -> """{"data": [2""",
      "u/b/1" -> """{"data": [1]}""", "u/b/2" -> """{"data": null}"""))
    val ex = intercept[org.apache.spark.SparkException] {
      RestScan.paginated(Seq("a", "b").toDS().coalesce(1),
        (k, p) => s"u/$k/$p", t, RestScan.productLastPage).collect()
    }
    assert(causes(ex).exists(
      _.isInstanceOf[com.fasterxml.jackson.core.JsonProcessingException]),
      s"parse error lost: $ex")
  }

  test("rating terminator fires on empty array, not on a populated one") {
    assert(RestScan.ratingLastPage("""{"data": {"ratings": []}}"""))
    assert(!RestScan.ratingLastPage("""{"data": {"ratings": [{"x": 1}]}}"""))
  }

  test("product terminator fires on JSON null data only") {
    assert(RestScan.productLastPage("""{"data": null}"""))
    assert(!RestScan.productLastPage("""{"data": []}"""))
    assert(!RestScan.productLastPage("""{"data": [{"x": 1}]}"""))
  }

  test("perKey fetches exactly once per key") {
    val t = new FakeTransport(Map("d/x" -> "bx", "d/y" -> "by"))
    val got = RestScan.perKey(Seq("x", "y").toDS(), k => s"d/$k", t)
      .collect().toSet
    assert(got == Set(("x", "bx"), ("y", "by")))
  }

  test("unknown URL fails loudly (fixture drift guard)") {
    val t = new FakeTransport(Map.empty)
    intercept[org.apache.spark.SparkException] {
      RestScan.perKey(Seq("x").toDS(), k => s"d/$k", t).collect()
    }
  }
}
