package graft.sources

import java.io.IOException
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.SparkException
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** [[HttpTransport]] against a loopback origin: throttling is retried,
  * a throttle that outlasts the retries fails reads loudly, and the rate
  * limit spaces concurrent callers. */
class HttpTransportSpec extends AnyFunSuite with SparkTestBase with BeforeAndAfterAll {

  private val hits = new ConcurrentHashMap[String, AtomicInteger]()
  private def hitCount(path: String): Int =
    Option(hits.get(path)).map(_.get).getOrElse(0)

  private var server: HttpServer = _
  private def base = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** `/once429/<delay>`: 429 with `Retry-After: <delay>` on the first hit,
    * then 200. `/always429/…`: 429 every time. `/missing`: 404. Anything
    * else: a terminated product page. */
  private def handle(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    val n = hits.computeIfAbsent(path, _ => new AtomicInteger(0)).incrementAndGet()
    def reply(code: Int, body: String, retryAfter: Option[String] = None): Unit = {
      retryAfter.foreach(ex.getResponseHeaders.add("Retry-After", _))
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(code, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    if (path.startsWith("/once429/") && n == 1)
      reply(429, "slow down", Some(path.stripPrefix("/once429/")))
    else if (path.startsWith("/once429/")) reply(200, "ok")
    else if (path.startsWith("/always429/")) reply(429, "slow down", Some("0"))
    else if (path == "/missing") reply(404, "no")
    else reply(200, """{"data": null}""")
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", ex => handle(ex))
    server.setExecutor(Executors.newFixedThreadPool(4))
    server.start()
  }

  override def afterAll(): Unit = {
    try server.stop(0) finally super.afterAll()
  }

  private def transport(rateLimitMs: Long = 0) =
    new HttpTransport(Seq.empty, retryDelayMs = 5, rateLimitMs = rateLimitMs)

  test("429 then 200 returns the body") {
    assert(transport().get(s"$base/once429/0") == "ok")
    assert(hitCount("/once429/0") == 2)
  }

  test("a 429's Retry-After replaces the backoff step") {
    val t0 = System.nanoTime()
    assert(transport().get(s"$base/once429/1") == "ok")
    assert((System.nanoTime() - t0) / 1000000L >= 1000L,
      "retried before the origin's Retry-After of 1 s")
  }

  test("Retry-After parses seconds and HTTP dates, clamped to the cap") {
    assert(HttpTransport.retryAfterMs("3").contains(3000L))
    assert(HttpTransport.retryAfterMs("-3").contains(0L))
    assert(HttpTransport.retryAfterMs("86400").contains(HttpTransport.MaxRetryAfterMs))
    assert(HttpTransport.retryAfterMs(Long.MaxValue.toString).contains(HttpTransport.MaxRetryAfterMs))
    assert(HttpTransport.retryAfterMs("Wed, 21 Oct 2015 07:28:00 GMT").contains(0L))
    assert(HttpTransport.retryAfterMs(null).isEmpty)
    assert(HttpTransport.retryAfterMs("soon").isEmpty)
  }

  test("429 on every attempt fails with an IOException after the retries") {
    val ex = intercept[IOException](transport().get(s"$base/always429/x"))
    assert(ex.getMessage.contains("429"))
    assert(hitCount("/always429/x") == 3) // maxRetries = 2
  }

  test("other 4xx still fail fast as client errors") {
    intercept[IllegalStateException](transport().get(s"$base/missing"))
    assert(hitCount("/missing") == 1)
  }

  test("a throttled origin fails the batch read instead of returning fewer rows") {
    TransportRegistry.put("h429", transport())
    val ex = intercept[SparkException] {
      spark.read.format("graft-rest")
        .option("keys", "a,b")
        .option("urlTemplate", s"$base/always429/batch/{key}/{page}")
        .option("transport", "h429")
        .load().collect()
    }
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage).exists(_.contains("HTTP 429"))), s"cause lost: $ex")
  }

  test("a throttled origin fails the streaming read instead of ending the key") {
    TransportRegistry.put("h429s", transport())
    val q = spark.readStream.format("graft-rest")
      .option("keys", "a")
      .option("urlTemplate", s"$base/always429/stream/{key}/{page}")
      .option("transport", "h429s")
      .option("maxPages", "3")
      .load()
      .writeStream.outputMode("append")
      .format("memory").queryName("rest_throttled_out").start()
    try {
      val ex = intercept[StreamingQueryException](q.processAllAvailable())
      assert(ex.getMessage.contains("HTTP 429"), ex.getMessage)
    } finally q.stop()
  }

  test("concurrent callers get send slots at least rateLimitMs apart") {
    val gapMs = 3L
    val slots = new SendSlots(gapMs)
    val pool = Executors.newFixedThreadPool(8)
    val sent = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    try {
      val done = (1 to 40).map(_ => pool.submit(new Runnable {
        override def run(): Unit = {
          val at = slots.acquire()
          assert(System.nanoTime() >= at, "sent before its slot")
          sent.add(at)
        }
      }))
      done.foreach(_.get())
    } finally pool.shutdown()
    val times = sent.toArray.map(_.asInstanceOf[Long]).sorted
    assert(times.length == 40)
    val gaps = times.sliding(2).map { case Array(a, b) => b - a }.toSeq
    assert(gaps.forall(_ >= gapMs * 1000000L), s"slots closer than $gapMs ms: ${gaps.min} ns")
  }

  test("HttpTransport's rate limit spaces concurrent gets") {
    val t = transport(rateLimitMs = 40)
    val pool = Executors.newFixedThreadPool(6)
    val t0 = System.nanoTime()
    try {
      (1 to 6).map(i => pool.submit(() => t.get(s"$base/page/$i"))).foreach(_.get())
    } finally pool.shutdown()
    // Six sends in slots 40 ms apart cannot finish before the sixth slot.
    assert((System.nanoTime() - t0) / 1000000L >= 5 * 40L)
  }
}
