package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload may use: the session, the tracer, its private
  * work directory and its seed. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val work: String, val seed: Long) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** One workload. The runner times `pass` from outside; everything else
  * (generation, checks, probes) is untimed. */
trait Workload {
  /** Input records one warm pass processes. */
  def inputRows: Long
  /** Traffic dimensions, recorded with every result. */
  def dims: Map[String, Any]
  /** Prefixes of the per-layer metrics of the layers this workload does
    * not drive; only these may read 0 for want of a value. */
  def bypassed: Seq[String]
  def prepare(): Unit
  /** Untimed: sets up the state pass `i` starts from. */
  def beforePass(i: Int): Unit = ()
  /** One pass; returns the latency in seconds of each step it served. */
  def pass(i: Int): Seq[Double]
  /** Output checks of pass `i`; each message is one failed check. */
  def check(i: Int): Seq[String]
  /** Checks made once per run after the cold pass. */
  def checkOnce(): Seq[String] = Nil
  /** Traced runs only, after pass `i` and outside its timing: standalone
    * calls to the layers a composed pass hides. */
  def probes(i: Int): Unit = ()
  /** Traced runs only: the layer values the workload keeps itself for
    * pass `i`, read after the listener bus has drained. */
  def derived(i: Int, c: SparkCounters): Map[String, Double] = Map.empty
  /** Values reported once per run (e.g. recall), any mode. */
  def report: Map[String, Double] = Map.empty
  def close(): Unit = ()
}

object Main {

  private final case class Pass(i: Int, traced: Boolean, start: Long,
      end: Long, steps: Seq[Double], gcMs: Long, failures: Seq[String]) {
    def wall: Double = (end - start) / 1e6
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cpus = opts("cpus").toInt
    val work = opts("work")
    val out = opts("out")
    val traceFile = opts("trace-file")
    val setupOnly = opts.getOrElse("setup-only", "0") == "1"

    val tracer = new Tracer
    tracer.enabled = trace
    tracer.pass = -1
    val sessionStart = Clock.micros()
    val spark = tracer.span("Sessions.local") { graft.Sessions.local(cpus.toString) }
    val ready = Clock.micros()
    if (setupOnly) {
      spark.stop()
      Files.write(Paths.get(out), Json.write(Map("ready_epoch_us" -> ready))
        .getBytes(StandardCharsets.UTF_8))
      return
    }
    val counters = new SparkCounters
    if (trace) {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters)
    }
    val ctx = new Ctx(spark, tracer, work, seed)
    val w: Workload = name match {
      case "etl_daily" => new EtlDaily(ctx)
      case "ingest_search" => new IngestSearch(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    tracer.enabled = false
    val phases = mutable.LinkedHashMap[String, Double]()
    def phase[T](name: String)(body: => T): T = {
      val t = Clock.micros()
      try body finally phases(name) = phases.getOrElse(name, 0.0) + (Clock.micros() - t) / 1e6
    }
    phase("prepare_s")(w.prepare())

    val passes = mutable.ArrayBuffer.empty[Pass]
    var onceFailures = Seq.empty[String]
    def runPass(i: Int, traced: Boolean): Pass = {
      w.beforePass(i)
      tracer.enabled = traced; counters.enabled = traced; tracer.pass = i
      val gc0 = gcMillis()
      val s = Clock.micros()
      val (o, err) = try (w.pass(i), None)
        catch { case e: Exception => (Nil, Some(s"pass $i threw: $e")) }
      val e = Clock.micros()
      val gc = gcMillis() - gc0
      if (traced && err.isEmpty) phase("probes_s")(w.probes(i))
      tracer.enabled = false; counters.enabled = false
      val fails = err.map(Seq(_)).getOrElse(phase("checks_s")(
        try w.check(i) catch { case ex: Exception => Seq(s"check $i threw: $ex") }))
      fails.foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
      val p = Pass(i, traced, s, e, o, gc, fails)
      passes += p
      p
    }

    val cold = runPass(0, trace)
    if (cold.failures.isEmpty) {
      onceFailures = phase("check_once_s")(try w.checkOnce() catch {
        case e: Exception => Seq(s"run check threw: $e")
      })
      onceFailures.foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
    }
    // Warm passes until `seconds` of pass time is measured, at least
    // two; a traced run alternates traced and untraced passes so the two
    // can be compared, and needs at least one of each.
    var measured = 0.0
    var i = 1
    def enough: Boolean = {
      val warm = passes.drop(1)
      measured >= seconds && warm.size >= 2 &&
        (!trace || (warm.exists(_.traced) && warm.exists(!_.traced)))
    }
    while (!enough && passes.forall(_.failures.isEmpty)) {
      measured += runPass(i, trace && i % 2 == 1).wall
      i += 1
    }
    val rss = peakRssMb()
    val warm = passes.drop(1).toSeq
    val failed = passes.count(_.failures.nonEmpty) +
      (if (onceFailures.nonEmpty && cold.failures.isEmpty) 1 else 0)

    val res = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "trace" -> trace,
      "local" -> s"local[$cpus]", "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version, "ready_epoch_us" -> ready, "cold_s" -> cold.wall,
      "warm_passes" -> warm.map(_.wall), "passes_traced" -> passes.map(_.traced),
      "input_rows" -> w.inputRows, "peak_rss_mb" -> rss,
      "attempted" -> passes.size, "failed" -> failed,
      "failures" -> (passes.flatMap(_.failures) ++ onceFailures),
      "dims" -> w.dims, "bypassed" -> w.bypassed, "report" -> w.report)
    val untracedWarm = warm.filterNot(_.traced)
    if (untracedWarm.nonEmpty) {
      val ws = Stats.median(untracedWarm.map(_.wall))
      res("warm_s") = ws
      res("rows_per_s") = w.inputRows / ws
      val steps = untracedWarm.flatMap(_.steps)
      if (steps.nonEmpty) {
        res("step_p50_s") = Stats.median(steps)
        res("step_samples") = steps.size
        Stats.tail(steps).foreach { case (v, p) =>
          res("step_tail_s") = v; res("step_tail_pct") = p }
      }
    }
    if (trace) {
      org.apache.spark.PerfbenchAccess.drain(spark.sparkContext)
      res("layers") = layerMetrics(w, passes.toSeq, tracer, counters, cpus,
        (ready - sessionStart) / 1e6)
      writeTrace(traceFile, s"$name-$seed", tracer, counters)
    }
    phase("stop_s") { w.close(); spark.stop() }
    res("phases") = phases
    Files.write(Paths.get(out), Json.write(res).getBytes(StandardCharsets.UTF_8))
  }

  /** Per-layer metrics of a traced run: for each traced pass, span self
    * times by span name plus Spark's counters over the pass; each metric
    * is the median over the traced warm passes, or the cold pass's value
    * for work that only the cold pass does (e.g. building an index). */
  private def layerMetrics(w: Workload, passes: Seq[Pass], tracer: Tracer,
      counters: SparkCounters, cpus: Int, sessionS: Double): Map[String, Double] = {
    val spans = tracer.spans
    val self = tracer.selfTimes(spans)
    val perPass = passes.filter(_.traced).map { p =>
      val mine = spans.filter(_.pass == p.i)
      val bySpan = mine.groupBy(_.name).map { case (n, ss) =>
        s"${n}_s" -> ss.map(s => self(s.id)).sum / 1e6 }
      val spark = counters.window(p.start, p.end)
      val top = mine.filter(s => s.parent == -1 && s.start >= p.start && s.end <= p.end)
      p.i -> (bySpan ++ spark ++ w.derived(p.i, counters) ++ Map(
        "spark.core_util" -> spark("spark.task_s") / (cpus * p.wall),
        "spark.gc_s" -> p.gcMs / 1e3,
        "trace.top_coverage" -> top.map(_.dur).sum / 1e6 / p.wall))
    }.toMap
    val warmKeys = perPass.filter(_._1 > 0).values.flatMap(_.keys).toSet
    val keys = perPass.values.flatMap(_.keys).toSet
    val metrics = keys.map { k =>
      val src = if (warmKeys(k)) perPass.filter(_._1 > 0) else perPass.filter(_._1 == 0)
      k -> Stats.median(src.values.flatMap(_.get(k)).toSeq)
    }.toMap
    val (tracedWarm, plainWarm) = passes.filter(_.i > 0).partition(_.traced)
    val overhead =
      if (tracedWarm.isEmpty || plainWarm.isEmpty) Map.empty[String, Double]
      else Map("trace.overhead_s" -> (Stats.median(tracedWarm.map(_.wall)) -
        Stats.median(plainWarm.map(_.wall))))
    metrics ++ overhead + ("Sessions.local_s" -> sessionS)
  }

  /** Spans as JSON lines, each with Spark's counters over its interval
    * (inclusive of its children) and its self time. */
  private def writeTrace(path: String, run: String, tracer: Tracer,
      counters: SparkCounters): Unit = {
    val spans = tracer.spans.sortBy(_.start)
    val self = tracer.selfTimes(spans)
    val lines = spans.map { s =>
      val m = mutable.LinkedHashMap[String, Any]("run" -> run, "pass" -> s.pass,
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_us" -> s.start, "end_us" -> s.end, "self_us" -> self(s.id))
      counters.window(s.start, s.end).foreach { case (k, v) => m(k) = v }
      Json.write(m)
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON writer for the result and trace records. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) =>
      write(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => write(other.toString)
  }
}
