package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

object RestDataSourceSpec {
  val fetches = new java.util.concurrent.atomic.AtomicInteger(0)
}

class RestDataSourceSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def withFake(name: String, pages: Map[String, String])(f: => Unit): Unit = {
    TransportRegistry.put(name, new FakeTransport(pages))
    f
  }

  private def read(transport: String, keys: String = "a,b") =
    spark.read.format("graft-rest")
      .option("keys", keys)
      .option("urlTemplate", "u/{key}/{page}")
      .option("terminator", "product")
      .option("transport", transport)
      .load()

  test("reads paginated rows per key through the DSv2 surface") {
    withFake("t1", Map(
      "u/a/1" -> """{"data": [1]}""", "u/a/2" -> """{"data": [2]}""",
      "u/a/3" -> """{"data": null}""",
      "u/b/1" -> """{"data": [9]}""", "u/b/2" -> """{"data": null}""")) {
      val got = read("t1").as[(String, Int, String)].collect().toSet
      assert(got == Set(
        ("a", 1, """{"data": [1]}"""), ("a", 2, """{"data": [2]}"""),
        ("b", 1, """{"data": [9]}""")))
    }
  }

  test("plans one input partition per key by default") {
    withFake("t2", Map(
      "u/a/1" -> """{"data": null}""", "u/b/1" -> """{"data": null}""")) {
      val df = read("t2")
      assert(df.rdd.getNumPartitions == 2)
    }
  }

  test("column pruning reaches the reader (key/page projection works)") {
    withFake("t3", Map(
      "u/a/1" -> """{"data": [1]}""", "u/a/2" -> """{"data": null}""",
      "u/b/1" -> """{"data": null}""")) {
      val got = read("t3").select("key", "page").as[(String, Int)].collect().toSet
      assert(got == Set(("a", 1)))
      val plan = read("t3").select("key", "page")
        .queryExecution.executedPlan.toString
      assert(plan.contains("key") && !plan.contains("body#"))
    }
  }

  test("pushed LIMIT stops the fetch loop itself, not just the output") {
    RestDataSourceSpec.fetches.set(0)
    TransportRegistry.put("tcount", new Transport {
      override def get(url: String): String = {
        RestDataSourceSpec.fetches.incrementAndGet()
        """{"data": [1]}""" // endless pages — only the limit can stop us
      }
    })
    val got = spark.read.format("graft-rest")
      .option("keys", "a")
      .option("urlTemplate", "u/{key}/{page}")
      .option("transport", "tcount")
      .load()
      .limit(3)
      .collect()
    assert(got.length == 3)
    // Without pushdown this source would paginate to maxPages (100000
    // fetches); the pushed limit must bound fetching to ~limit pages.
    assert(RestDataSourceSpec.fetches.get() <= 4,
      s"fetched ${RestDataSourceSpec.fetches.get()} pages for LIMIT 3")
  }

  test("a multi-key partition runs through the fetch window in key order") {
    import RestScanSpec._
    reset()
    TransportRegistry.put("tsleepy", new SleepyTransport)
    val keys = (0 until 32).map(i => s"k$i")
    val df = spark.read.format("graft-rest")
      .option("keys", keys.mkString(","))
      .option("keysPerPartition", "32")
      .option("urlTemplate", "u/{key}/{page}")
      .option("transport", "tsleepy")
      .load()
    assert(df.rdd.getNumPartitions == 1)
    val got = df.as[(String, Int, String)].collect().toSeq
    assert(got == (for (k <- keys; p <- 1 to dataPages(k)) yield (k, p, body(k, p))))
    assert(requests.get == keys.map(dataPages(_) + 1).sum)
    assert(peak.get > 1, "only one request was ever in flight")
  }

  test("a pushed LIMIT over a multi-key partition cancels the window's fetches") {
    TransportRegistry.put("tsleepy2", new SleepyTransport)
    val got = spark.read.format("graft-rest")
      .option("keys", (0 until 32).map(i => s"k$i").mkString(","))
      .option("keysPerPartition", "32")
      .option("urlTemplate", "u/{key}/{page}")
      .option("transport", "tsleepy2")
      .load().limit(3).collect()
    assert(got.length == 3)
    // Fetchers of keys past the limit block on full buffers until the
    // task's completion listener shuts their pool down.
    val alive = RestScanSpec.lingeringFetchThreads()
    assert(alive.isEmpty, s"fetch threads still alive: $alive")
  }

  test("streams the paginated scan incrementally across micro-batches") {
    TransportRegistry.put("tstream", new FakeTransport(Map(
      "u/a/1" -> """{"data": [1]}""",
      "u/a/2" -> """{"data": [2]}""",
      "u/a/3" -> """{"data": null}""",
      "u/b/1" -> """{"data": [9]}""",
      "u/b/2" -> """{"data": null}""",
      "u/b/3" -> """{"data": null}""")))
    val stream = spark.readStream.format("graft-rest")
      .option("keys", "a,b")
      .option("urlTemplate", "u/{key}/{page}")
      .option("transport", "tstream")
      .option("pagesPerBatch", "1") // one page per key per micro-batch
      .option("maxPages", "3")      // saturates the offset so the query idles
      .load()
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("rest_stream_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("rest_stream_out")
        .select("key", "page").as[(String, Int)].collect().toSet
      assert(got == Set(("a", 1), ("a", 2), ("b", 1)))
      assert(q.exception.isEmpty)
      // 3 micro-batches ran (one per page window up to maxPages).
      assert(q.recentProgress.count(_.numInputRows >= 0) >= 3)
    } finally q.stop()
  }

  test("restart resumes from the checkpointed page offset without re-emitting") {
    // Unit level: a FRESH stream instance (as after a restart) derives
    // the next window from the engine-provided start offset, so it can
    // never regress below the committed page.
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("keys", "a", "urlTemplate", "u/{key}/{page}",
        "pagesPerBatch", "1", "maxPages", "10"))
    val fresh = new RestMicroBatchStream(opts, RestDataSource.fullSchema)
    val next = fresh.latestOffset(RestOffset(4),
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    assert(next.asInstanceOf[RestOffset].page == 5)

    // End to end: run to saturation, stop, restart on the same
    // checkpoint with a new transport that would happily serve dupes.
    TransportRegistry.put("trestart", new FakeTransport(Map(
      "u/a/1" -> """{"data": [1]}""",
      "u/a/2" -> """{"data": [2]}""",
      "u/a/3" -> """{"data": null}""")))
    val ckpt = java.nio.file.Files.createTempDirectory("rest_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("rest_out").toString
    def start() = spark.readStream.format("graft-rest")
      .option("keys", "a").option("urlTemplate", "u/{key}/{page}")
      .option("transport", "trestart")
      .option("pagesPerBatch", "1").option("maxPages", "3")
      .load()
      .writeStream.outputMode("append").format("parquet")
      .option("checkpointLocation", ckpt).option("path", out).start()
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    val q2 = start() // fresh RestMicroBatchStream, restored offsets
    try { q2.processAllAvailable(); assert(q2.exception.isEmpty) } finally q2.stop()
    val pages = spark.read.parquet(out).select("key", "page")
      .as[(String, Int)].collect().toSeq
    assert(pages.sorted == Seq(("a", 1), ("a", 2)), s"duplicated rows: $pages")
  }

  test("rating terminator option uses the empty-array convention") {
    TransportRegistry.put("t4", new FakeTransport(Map(
      "u/s/1" -> """{"data": {"ratings": [{"x": 1}]}}""",
      "u/s/2" -> """{"data": {"ratings": []}}""")))
    val got = spark.read.format("graft-rest")
      .option("keys", "s")
      .option("urlTemplate", "u/{key}/{page}")
      .option("terminator", "rating")
      .option("transport", "t4")
      .load().as[(String, Int, String)].collect().toSeq
    assert(got == Seq(("s", 1, """{"data": {"ratings": [{"x": 1}]}}""")))
  }
}
