package graft.sources

import java.util.concurrent.{ArrayBlockingQueue, ExecutorService, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext

/** The one fetch loop of the REST scans ([[RestScan]] and the
  * `graft-rest` batch reader): within a task, up to [[Width]] scan keys
  * are fetched at once on a small daemon pool owned by that task, and
  * their rows come out exactly as a one-request-at-a-time loop would
  * emit them.
  *
  *  - Pages of one key stay sequential: page n+1 is requested only after
  *    page n was seen and is not the terminator, so the request count
  *    equals the sequential loop's and nothing is fetched past a
  *    terminator.
  *  - Rows come out in input-key order, each key's pages in page order.
  *  - At most [[Width]] keys are in flight; each buffers at most
  *    [[PagesBuffered]] pages, and its fetcher blocks while that buffer
  *    is full (a rating page with `limit=10000` can be large, so whole
  *    keys are never buffered).
  *  - Errors surface in key order: the first failing key (fetch error,
  *    terminator-parse error, `maxPages` overrun) fails the task with its
  *    own exception when the output reaches it, never as a short read.
  *  - When the task completes, fails or is killed, or the consumer stops
  *    pulling (a pushed LIMIT), outstanding fetches are cancelled and the
  *    pool shuts down through a `TaskContext` completion listener.
  */
private[sources] object FetchWindow {

  /** Scan keys in flight per task. Origin load is bounded by executors ×
    * cores × Width concurrent requests (and per task by the transport's
    * own rate limit). */
  val Width = 16

  /** Pages buffered per in-flight key before its fetcher blocks. */
  val PagesBuffered = 2

  /** Name prefix of the fetch threads. */
  val ThreadPrefix = "graft-rest-fetch"

  /** Paginated rows (key, page, body) of every key: pages 1.. until
    * `isLastPage`; the terminator is fetched but not emitted. A key
    * emits at most `limit` rows (a pushed LIMIT ends its loop without
    * the terminator check); exhausting `maxPages` without a terminator
    * fails the task. */
  def pages(keys: Iterator[String], urlFor: (String, Int) => String,
      transport: Transport, isLastPage: String => Boolean, maxPages: Int,
      limit: Int = Int.MaxValue): Iterator[(String, Int, String)] =
    open[String, (String, Int, String)](keys, { (key, emit) =>
      var page = 1
      var terminated = false
      while (!terminated && page <= limit) {
        if (page > maxPages) throw new IllegalStateException(
          s"paginated scan for key '$key' exceeded maxPages=$maxPages " +
            "without a terminator page — raise maxPages or fix the origin")
        val body = transport.get(urlFor(key, page))
        terminated = isLastPage(body)
        if (!terminated) { emit((key, page, body)); page += 1 }
      }
    })

  /** One fetch per key: (key, body) rows. */
  def single(keys: Iterator[String], urlFor: String => String,
      transport: Transport): Iterator[(String, String)] =
    open[String, (String, String)](keys,
      (key, emit) => emit((key, transport.get(urlFor(key)))))

  private def open[K, R](keys: Iterator[K],
      fetch: (K, R => Unit) => Unit): Iterator[R] = {
    val window = new Window(keys, fetch)
    Option(TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit](_ => window.close()))
    window
  }

  private case class Failed(cause: Throwable)
  private case object End

  private val poolIds = new AtomicInteger(0)

  private final class Window[K, R](keys: Iterator[K],
      fetch: (K, R => Unit) => Unit) extends Iterator[R] {
    /** One in-flight key: its fetched rows, then End or Failed. */
    private final class Slot { val buf = new ArrayBlockingQueue[Any](PagesBuffered) }

    private val inFlight = new java.util.ArrayDeque[Slot]()
    private var pool: ExecutorService = _
    @volatile private var closed = false
    private var ahead: Option[R] = None

    private def start(key: K): Unit = {
      if (pool == null) {
        val id = poolIds.incrementAndGet()
        val n = new AtomicInteger(0)
        pool = Executors.newFixedThreadPool(Width, new ThreadFactory {
          override def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"$ThreadPrefix-$id-${n.incrementAndGet()}")
            t.setDaemon(true)
            t
          }
        })
      }
      val slot = new Slot
      inFlight.addLast(slot)
      pool.execute(() => {
        val last =
          try {
            fetch(key, row => { if (closed) throw new InterruptedException; slot.buf.put(row) })
            End
          } catch { case t: Throwable => Failed(t) }
        if (!closed) try slot.buf.put(last) catch { case _: InterruptedException => }
      })
    }

    override def hasNext: Boolean = {
      while (ahead.isEmpty && !closed) {
        while (inFlight.size < Width && keys.hasNext) start(keys.next())
        if (inFlight.isEmpty) close()
        else inFlight.peekFirst().buf.take() match {
          case End => inFlight.removeFirst()
          case Failed(cause) => close(); throw cause
          case row => ahead = Some(row.asInstanceOf[R])
        }
      }
      ahead.nonEmpty
    }

    override def next(): R = {
      if (!hasNext) throw new NoSuchElementException("end of fetch window")
      val row = ahead.get
      ahead = None
      row
    }

    /** Cancel outstanding fetches and stop the pool; idempotent. */
    def close(): Unit = if (!closed) {
      closed = true
      if (pool != null) pool.shutdownNow()
    }
  }
}
