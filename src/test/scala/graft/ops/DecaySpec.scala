package graft.ops

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

class DecaySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("an event one half-life old contributes half its value") {
    val events = Seq(
      (1L, ts("2024-01-02 00:00:00"), 10.0),  // horizon event
      (1L, ts("2024-01-01 00:00:00"), 8.0),   // 24h old: contributes 4
      (2L, ts("2024-01-01 12:00:00"), 4.0)    // 12h old: 4/sqrt(2)
    ).toDF("user_id", "ts", "value")
    val got = Decay.decayedSum(events, "user_id", "ts", "value", 24.0)
      .select($"user_id", $"n_events", $"decayed_sum")
      .as[(Long, Long, Double)].collect()
      .map { case (k, n, s) => k -> ((n, s)) }.toMap
    assert(got(1L)._1 == 2 && math.abs(got(1L)._2 - 14.0) < 1e-9)
    assert(got(2L)._1 == 1 &&
      math.abs(got(2L)._2 - 4.0 / math.sqrt(2.0)) < 1e-4)
  }

  test("null values decay to nothing but still count as events") {
    val events = Seq(
      (1L, ts("2024-01-02 00:00:00"), Some(5.0)),
      (1L, ts("2024-01-01 00:00:00"), None)
    ).toDF("user_id", "ts", "value")
    val got = Decay.decayedSum(events, "user_id", "ts", "value", 24.0)
      .select($"n_events", $"decayed_sum").as[(Long, Double)].collect()
    assert(got.toSeq == Seq((2L, 5.0)))
  }

  test("streaming fold equals the batch form at a shared horizon, late data included") {
    import graft.ops.Decay.{DecayEvent, DecayScore}
    implicit val sql = spark.sqlContext
    val hl = 24.0
    val micros = (s: String) => ts(s).getTime * 1000L
    val b1 = Seq(
      DecayEvent(1L, micros("2024-01-01 00:00:00"), 8.0),
      DecayEvent(1L, micros("2024-01-01 12:00:00"), 4.0),
      DecayEvent(2L, micros("2024-01-01 06:00:00"), 2.0))
    // Batch 2 delivers a LATE event for key 1 (behind its state horizon)
    // plus the horizon event — the fold must absorb both exactly.
    val b2 = Seq(
      DecayEvent(1L, micros("2024-01-02 00:00:00"), 10.0),
      DecayEvent(1L, micros("2024-01-01 03:00:00"), 6.0))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[DecayEvent]
    val q = Decay.decayedSumStream(input.toDS(), hl)
      .writeStream.outputMode("update")
      .format("memory").queryName("decay_out").start()
    val streamed = try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      spark.table("decay_out").as[DecayScore].collect()
        .groupBy(_.key).map { case (k, rows) => k -> rows.maxBy(_.n_events) }
    } finally q.stop()
    // Reference: the batch operator over ALL events, anchored at the
    // corpus horizon. Decay each key's streamed sum from its own last
    // event to that horizon before comparing.
    val horizon = (b1 ++ b2).map(_.tsMicros).max
    val all = (b1 ++ b2).map(e =>
      (e.key, new java.sql.Timestamp(e.tsMicros / 1000L), e.value))
      .toDF("user_id", "ts", "value")
    val expected = Decay.decayedSum(all, "user_id", "ts", "value", hl)
      .select($"user_id", $"n_events", $"decayed_sum")
      .as[(Long, Long, Double)].collect()
      .map { case (k, n, s) => k -> ((n, s)) }.toMap
    assert(streamed.keySet == expected.keySet)
    streamed.foreach { case (k, got) =>
      val atHorizon = got.decayed_sum *
        math.pow(2.0, -(horizon - got.at_micros) / (hl * 3600000000.0))
      assert(got.n_events == expected(k)._1, s"key $k event count")
      assert(math.abs(atHorizon - expected(k)._2) < 5e-4,
        s"key $k: streamed-at-horizon $atHorizon vs batch ${expected(k)._2}")
    }
    // Batch ≡ stream: the same typed fold over a batch Dataset.
    val batchFold = Decay.decayedSumStream((b1 ++ b2).toDS(), hl)
      .collect().map(r => r.key -> r).toMap
    batchFold.foreach { case (k, got) =>
      val atHorizon = got.decayed_sum *
        math.pow(2.0, -(horizon - got.at_micros) / (hl * 3600000000.0))
      assert(math.abs(atHorizon - expected(k)._2) < 5e-4)
    }
  }

  test("decay is anchored at the corpus horizon, not wall clock") {
    // Shifting every timestamp by the same delta must not change scores.
    val base = Seq(
      (1L, ts("2024-01-02 00:00:00"), 10.0),
      (1L, ts("2024-01-01 06:30:00"), 8.0)
    ).toDF("user_id", "ts", "value")
    val shifted = base.withColumn("ts",
      org.apache.spark.sql.functions.expr("ts + INTERVAL 400 DAYS"))
    val a = Decay.decayedSum(base, "user_id", "ts", "value", 24.0)
      .select($"decayed_sum").as[Double].collect()(0)
    val b = Decay.decayedSum(shifted, "user_id", "ts", "value", 24.0)
      .select($"decayed_sum").as[Double].collect()(0)
    assert(a == b)
  }

  test("a decay stream stopped after one batch and restarted from its " +
      "RocksDB changelog checkpoint equals an uninterrupted run") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Dataset
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.Decay.{DecayEvent, DecayScore}
    implicit val sql = spark.sqlContext
    // The engine defaults this path must hold on.
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .endsWith(".RocksDBStateStoreProvider"))
    assert(spark.conf.get("spark.sql.streaming.stateStore.rocksdb" +
      ".changelogCheckpointing.enabled") == "true")
    val hl = 12.0
    val micros = (s: String) => ts(s).getTime * 1000L
    val b1 = Seq(
      DecayEvent(1L, micros("2024-01-01 00:00:00"), 10.0, 1L),
      DecayEvent(1L, micros("2024-01-01 06:00:00"), 3.0, 2L),
      DecayEvent(2L, micros("2024-01-01 02:00:00"), 7.5, 3L),
      DecayEvent(3L, micros("2024-01-01 04:00:00"), 1.0, 4L))
    val b2 = Seq(
      DecayEvent(1L, micros("2024-01-01 18:00:00"), 4.0, 5L),
      DecayEvent(1L, micros("2024-01-01 03:00:00"), 2.0, 6L), // late
      DecayEvent(2L, micros("2024-01-02 02:00:00"), 1.25, 7L),
      DecayEvent(4L, micros("2024-01-01 09:00:00"), 6.0, 8L))
    // Each key's last emitted score. With `restart`, the first query is
    // stopped after batch 1 and a new query on the same checkpoint and
    // source takes batch 2: its state comes back from the checkpoint.
    def scores(restart: Boolean): (Map[Long, DecayScore], String) = {
      val ckpt = java.nio.file.Files.createTempDirectory("decay_ckpt").toString
      val out = new ConcurrentLinkedQueue[DecayScore]()
      val input = MemoryStream[DecayEvent]
      def start() = Decay.decayedSumStream(input.toDS(), hl).writeStream
        .outputMode("update").option("checkpointLocation", ckpt)
        .foreachBatch((df: Dataset[DecayScore], _: Long) =>
          df.collect().foreach(out.add))
        .start()
      var q = start()
      try {
        input.addData(b1: _*); q.processAllAvailable()
        if (restart) { q.stop(); q = start() }
        input.addData(b2: _*); q.processAllAvailable()
        assert(q.exception.isEmpty)
      } finally q.stop()
      (out.asScala.toSeq.groupBy(_.key).map { case (k, rs) => k -> rs.maxBy(_.n_events) },
        ckpt)
    }
    val (want, _) = scores(restart = false)
    val (got, ckpt) = scores(restart = true)
    assert(want.keySet == Set(1L, 2L, 3L, 4L))
    assert(want(1L).n_events == 4L)
    assert(got == want)
    // The state was committed as RocksDB changelogs, not snapshots only.
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt, "state"))
    val changelogs = try files.iterator().asScala
      .count(_.getFileName.toString.endsWith(".changelog")) finally files.close()
    assert(changelogs > 0, "no RocksDB changelog file in the checkpoint")
  }
}
