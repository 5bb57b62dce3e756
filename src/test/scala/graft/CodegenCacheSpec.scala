package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Knn
import graft.ops.Decay
import graft.ops.Decay.DecayEvent
import graft.pipeline.{SendoFixtures, SendoPipeline}
import graft.streaming.StreamingIngest

/** The engine's session keeps a step's generated classes compiled for
  * the next step: an ingest + search + decay + daily-load round uses more
  * distinct classes than Spark's default 100-entry class cache holds
  * (its first round compiles 122 in a JVM that ran nothing else). */
class CodegenCacheSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("an identical repeat of an ingest, search, decay and day-2 load " +
      "round compiles no class") {
    implicit val sql = spark.sqlContext
    val words = (0 until 60).map(i => s"w$i")
    def doc(seed: Int): String =
      (0 until 12).map(j => words((seed * 7 + j * 3) % words.size)).mkString(" ")
    // Ids 2 and 12 repeat id 1's text: an intra-batch and a cross-batch
    // near-dup.
    val batches = Seq(
      (1 to 10).map(i => (i.toLong, doc(if (i == 2) 1 else i))),
      (11 to 20).map(i => (i.toLong, doc(if (i == 12) 1 else i))))
      .map(_.toDF("doc_id", "text"))
    val rnd = new scala.util.Random(7)
    val vecs = (1 to 200).map(i => (i.toLong, Seq.fill(16)(rnd.nextFloat() - 0.5f)))
    val corpus = vecs.toDF("vec_id", "embedding")
    val queries = vecs.take(8).toDF("vec_id", "embedding")
    val cents = Knn.kmeans(corpus, "vec_id", "embedding", 4, 3).localCheckpoint()
    val events = MemoryStream[DecayEvent]
    val decay = Decay.decayedSumStream(events.toDS(), 24.0)
      .writeStream.outputMode("update").format("noop").start()
    val evs = (1 to 50).map(i => DecayEvent(i % 10L, 1000000L * i, i.toDouble, i.toLong))

    // The compiles of one round; day 1 of its fresh warehouse is set-up.
    def round(): Long = {
      val wh = Files.createTempDirectory("codegen_round").toString
      SendoPipeline.run(spark, SendoFixtures.transport(), s"$wh/sendo")
      compiledDuring {
        batches.zipWithIndex.foreach { case (b, i) =>
          StreamingIngest.ingestBatchNearDup(b, wh, "docs", "text", "doc_id", i.toLong)
        }
        Knn.ivfWith(corpus, queries, "vec_id", "embedding", 10, cents, 2).collect()
        Knn.lshCosine(corpus, queries, "vec_id", "embedding", 10, 16).collect()
        events.addData(evs)
        decay.processAllAvailable()
        SendoPipeline.run(spark, SendoFixtures.day2Transport(), s"$wh/sendo")
      }._2
    }
    // AQE off: with it, a MERGE's join is now and then re-planned at a
    // different point, which compiles that plan's variant once (two
    // classes seen in one of 13 repeats); the cache is what is measured.
    try withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      // A first trigger, so every measured one updates existing state.
      events.addData(evs)
      decay.processAllAvailable()
      val first = round()
      val again = round()
      assert(again == 0L, s"the repeat compiled $again classes (the first round $first)")
    } finally decay.stop()
  }
}
