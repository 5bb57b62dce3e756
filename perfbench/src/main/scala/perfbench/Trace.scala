package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall-clock time in epoch microseconds with nanoTime resolution, so
  * spans line up with Spark's epoch-millisecond task timestamps. */
object Clock {
  private val base = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def micros(): Long = base + System.nanoTime() / 1000L
}

/** One traced call: `parent` is -1 for a top-level span of its pass. */
final case class Span(id: Int, parent: Int, name: String, pass: Int,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory spans around the public calls a workload makes. Spans are
  * opened and closed on the driver thread that runs the workload; when
  * tracing is off, `span` only runs its body. */
final class Tracer {
  @volatile var enabled = false
  var pass = 0
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name, Clock.micros()) :: stack
      try body
      finally {
        val (_, _, start) = stack.head
        stack = stack.tail
        done += Span(id, parent, name, pass, start, Clock.micros())
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Duration minus the part of its interval its child spans cover. */
  def selfTimes(of: Seq[Span]): Map[Int, Long] = {
    val kids = of.groupBy(_.parent)
    of.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
      s.id -> (s.dur - covered)
    }.toMap
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }
}

/** Spark's own counters, recorded by a listener the benchmark registers:
  * per task, per job and per stage, plus the planning phases of every
  * query execution. Each record carries its own timestamp, so records
  * are attributed to spans after the run by time, not by arrival. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  final case class Task(stage: Int, finishUs: Long, durMs: Long, runMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, outBytes: Long,
      outRecords: Long)

  @volatile var enabled = true
  val tasks = new ConcurrentLinkedQueue[Task]()
  val jobs = new ConcurrentLinkedQueue[java.lang.Long]()
  val stages = new ConcurrentLinkedQueue[java.lang.Long]()
  /** (end of planning in epoch µs, analysis+optimization+planning µs). */
  val plans = new ConcurrentLinkedQueue[(Long, Long)]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    val i = e.taskInfo; val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, i.finishTime * 1000L,
      i.finishTime - i.launchTime, m.executorRunTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (enabled) jobs.add(e.time * 1000L)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (enabled) e.stageInfo.completionTime.foreach(t => stages.add(t * 1000L))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (enabled) {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) plans.add((ph.values.map(_.endTimeMs).max * 1000L,
        ph.values.map(_.durationMs).sum * 1000L))
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def clear(): Unit = { tasks.clear(); jobs.clear(); stages.clear(); plans.clear() }

  /** Spark counters for the records whose timestamp falls in [from, to]. */
  def window(from: Long, to: Long): Map[String, Double] = {
    def in(t: Long) = t >= from && t <= to
    val ts = tasks.asScala.filter(t => in(t.finishUs)).toSeq
    val skew = ts.groupBy(_.stage).values.filter(_.size >= 2).map { st =>
      val d = st.map(_.durMs.toDouble).sorted
      val med = Stats.median(d)
      if (med > 0) d.last / med else 1.0
    }
    Map(
      "spark.plan_s" -> plans.asScala.filter(p => in(p._1)).map(_._2).sum / 1e6,
      "spark.jobs" -> jobs.asScala.count(t => in(t)).toDouble,
      "spark.stages" -> stages.asScala.count(t => in(t)).toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_s" -> ts.map(_.runMs).sum / 1e3,
      "spark.task_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
      "spark.shuffle_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "sink.bytes_written" -> ts.map(_.outBytes).sum.toDouble,
      "sink.records_written" -> ts.map(_.outRecords).sum.toDouble,
      "sink.files_written" -> ts.count(_.outBytes > 0).toDouble)
  }
}
