package graft.sources

import java.io.IOException
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.time.ZonedDateTime
import java.time.format.DateTimeFormatter
import java.util.concurrent.atomic.AtomicLong

import scala.util.Try

/** Executor-side HTTP abstraction for the paginated REST sources
  * (SURVEY §2.1). Instances ship to executors inside mapPartitions
  * closures, so implementations must be Serializable and cheap to hold.
  */
trait Transport extends Serializable {
  /** Fetch one URL's body. Implementations retry transient failures.
    * `get` is called concurrently: a scan task keeps several keys in
    * flight on one instance (see [[RestScan]]), so implementations must
    * be thread-safe. */
  def get(url: String): String
}

/** Send slots at least `gapMs` apart, reserved atomically: each caller
  * takes the next free slot in one atomic update, so concurrent callers
  * never share a slot. Slot times are `System.nanoTime` of the JVM
  * holding the instance; a deserialized copy starts a fresh schedule. */
private[sources] final class SendSlots(gapMs: Long) extends Serializable {
  @transient private lazy val next = new AtomicLong(Long.MinValue)

  /** Reserve the next free slot and wait until it; returns its time. */
  def acquire(): Long = {
    val now = System.nanoTime()
    val gap = gapMs * 1000000L
    val at = math.max(next.getAndUpdate(p => math.max(p, now) + gap), now)
    var wait = at - System.nanoTime()
    while (wait > 0) {
      Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      wait = at - System.nanoTime()
    }
    at
  }
}

/** Real HTTP transport. One User-Agent is chosen per transport INSTANCE
  * (i.e. per session), replicating the reference's import-time
  * `random.choice(USER_AGENTS)` (reference dags/etl.py:11-22, D6) — not
  * per request. Bounded retry with linear backoff mirrors the Airflow
  * task retry policy (etl.py:288-289, D4) at fetch granularity.
  *
  * 5xx, I/O errors and HTTP 429 (throttled) are transient and retried;
  * a 429's `Retry-After` (seconds or an HTTP date, capped at
  * [[HttpTransport.MaxRetryAfterMs]]) replaces the backoff step. Other
  * 4xx fail fast with `IllegalStateException`. A 429 that outlasts the
  * retries fails with an `IOException`, never as a client error.
  *
  * Thread-safe. `rateLimitMs` spaces the requests of one instance — one
  * scan task after deserialization — at least that far apart, however
  * many of its keys are in flight, so a 1000-executor fan-out cannot
  * hammer the origin.
  */
class HttpTransport(
    userAgents: Seq[String],
    seed: Int = 42,
    maxRetries: Int = 2,
    retryDelayMs: Long = 5000,
    rateLimitMs: Long = 0,
    connectTimeoutMs: Int = 10000,
    readTimeoutMs: Int = 30000) extends Transport {

  private val userAgent: String =
    if (userAgents.isEmpty) "graft/0.1"
    else userAgents(math.abs(seed) % userAgents.size)

  private val sendSlots = new SendSlots(rateLimitMs)

  override def get(url: String): String = {
    var attempt = 0
    while (true) {
      try {
        if (rateLimitMs > 0) sendSlots.acquire()
        val conn = new URI(url).toURL.openConnection()
          .asInstanceOf[HttpURLConnection]
        conn.setRequestProperty("User-Agent", userAgent)
        conn.setConnectTimeout(connectTimeoutMs)
        conn.setReadTimeout(readTimeoutMs)
        try {
          val code = conn.getResponseCode
          if (code == 429) throw new HttpTransport.Throttled(url,
            HttpTransport.retryAfterMs(conn.getHeaderField("Retry-After")))
          if (code >= 500) throw new IOException(s"HTTP $code for $url")
          // Other 4xx are not transient: retrying a 404/403 just burns
          // maxRetries×backoff per permanently-failing URL (and
          // getInputStream would throw IOException for it, which the
          // retry loop below would treat as transient). Fail fast with a
          // non-IOException.
          if (code >= 400)
            throw new IllegalStateException(s"HTTP $code (client error) for $url")
          return new String(conn.getInputStream.readAllBytes(),
            StandardCharsets.UTF_8)
        } finally conn.disconnect()
      } catch {
        case e: IOException =>
          attempt += 1
          if (attempt > maxRetries) throw e
          Thread.sleep(e match {
            case HttpTransport.Throttled(_, Some(ms)) => ms
            case _ => retryDelayMs * attempt
          })
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

object HttpTransport {
  /** Longest `Retry-After` honoured; a longer one waits this long. */
  val MaxRetryAfterMs = 60000L

  /** HTTP 429: transient, retried like an I/O error. */
  private[sources] final case class Throttled(url: String, retryAfterMs: Option[Long])
      extends IOException(s"HTTP 429 (throttled) for $url")

  /** A `Retry-After` value (delay seconds or HTTP date) as a wait in
    * ms, clamped to [0, MaxRetryAfterMs]; None if absent or unparsable. */
  private[sources] def retryAfterMs(header: String): Option[Long] =
    Option(header).map(_.trim).flatMap { v =>
      v.toLongOption.map(secs => math.min(secs, MaxRetryAfterMs / 1000L) * 1000L).orElse(Try(
        ZonedDateTime.parse(v, DateTimeFormatter.RFC_1123_DATE_TIME)
          .toInstant.toEpochMilli - System.currentTimeMillis()).toOption)
    }.map(ms => math.min(math.max(ms, 0L), MaxRetryAfterMs))
}

/** Test transport: an in-memory URL→body map (FIXTURES.md §2 payloads).
  * Throws on unknown URLs so tests catch URL-construction drift. */
class FakeTransport(pages: Map[String, String]) extends Transport {
  override def get(url: String): String =
    pages.getOrElse(url,
      throw new NoSuchElementException(s"no fixture for $url"))
}
