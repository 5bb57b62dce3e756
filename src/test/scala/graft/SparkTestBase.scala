package graft

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (guide: one per suite via
  * lazy val; sharing across suites avoids repeated JVM-wide session setup
  * in the forked test JVM). */
object SparkTestBase {
  lazy val spark: SparkSession = Sessions.configure(
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh_test").toString))
    .getOrCreate()
}

trait SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkTestBase.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
  /** sf0.001 fixture dir — the smoke-scale data. */
  val sf: String = "/root/testdata/sf0.001"

  /** Run `f` with the given SQL confs set, restoring prior values after
    * (the session is shared across suites, so leaks would be global). */
  def withSQLConf[T](pairs: (String, String)*)(f: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    // The set loop lives INSIDE the try: if a later pair's set throws
    // (e.g. a static conf), the earlier pairs must still be restored —
    // otherwise they leak into the shared session for every later suite.
    try {
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      f
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Jobs started on this thread while `body` runs, `body`'s result
    * included. Listener events arrive in order on one queue, so once a
    * sentinel job's start is seen, every earlier job's start was too. */
  def jobsStartedBy[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val (group, sentinel) = (UUID.randomUUID().toString, UUID.randomUUID().toString)
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(sentinel), "sentinel job never reached the listener")
      (out, seen.asScala.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }

  /** Classes Spark compiled while `body` runs, `body`'s result included:
    * the count delta of the JVM-wide codegen compile-time histogram, one
    * sample per Janino compile (a generated-class cache hit adds none).
    * Compiles on other threads count too, so measure on a quiet session. */
  def compiledDuring[T](body: => T): (T, Long) = {
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    val out = body
    (out, compiles.getCount - before)
  }
}
