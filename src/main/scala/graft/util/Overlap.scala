package graft.util

/** The engine's one way to run two independent Spark jobs at once (guide
  * §2.6 "overlap independent jobs"): the second job's tasks back-fill the
  * executor slots the first job's tail leaves idle. Callers: the daily
  * load's two branches ([[graft.pipeline.SendoPipeline.run]]) and the
  * ingest gates' survivors + index writes
  * ([[graft.streaming.StreamingIngest]]). */
object Overlap {

  /** Run `a` and `b` at the same time and return once both are done.
    *
    * `a` runs on the calling thread, `b` on a thread this call creates:
    * a fresh thread inherits the caller's Spark local properties (job
    * group, scheduler pool, SQL execution id) as they are NOW, which a
    * pooled thread reused across calls does not, and no shared pool
    * thread sits blocked for a whole Spark job. Both are joined before
    * either failure is rethrown (`a`'s first), so a failure on one side
    * never leaves the other still running against a torn table. The two
    * sides must be independent: disjoint output paths, and no ordering
    * between them that a replay could not restore. */
  def writeBoth(a: => Unit, b: => Unit): Unit = {
    var failedB: Throwable = null
    val t = new Thread(() => try b catch { case e: Throwable => failedB = e },
      "graft-overlap")
    t.setDaemon(true)
    t.start()
    try a finally t.join()
    if (failedB != null) throw failedB
  }
}
