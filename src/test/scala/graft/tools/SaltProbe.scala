package graft.tools

import org.apache.spark.sql.DataFrame

import graft.dedup.Dedup
import graft.model.Tables

/** Warmed wall time of the two narrow+salted pair operators,
  * [[Dedup.minhashPairs]] (`mh`) and [[Dedup.embeddingLshPairs]] (`emb`),
  * on an sf-shaped dir at a chosen triangle-block size — the probe behind
  * SCALING.md probe 21's `blockRows` sweep (run it once per corpus and
  * block size: 256 / 1024 / 4096).
  *
  * Usage: Test/runMain graft.tools.SaltProbe <sfDir> <which> [blockRows]
  *   which ∈ mh | emb | all
  *   blockRows: triangle-block size passed to both operators; default
  *   1024 (the operators' default).
  * Warmed protocol matches graft.Bench: run twice, report the second.
  * Use one fork (fresh JVM) per corpus.
  */
object SaltProbe {
  def main(args: Array[String]): Unit = {
    val Array(dir, which) = args.take(2)
    val blockRows = if (args.length > 2) args(2).toInt else 1024
    val spark = graft.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS",
        String.valueOf(Runtime.getRuntime.availableProcessors())))
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val forms: Map[String, () => DataFrame] = Map(
      "mh" -> (() =>
        Dedup.minhashPairs(Tables.documents(spark, dir), "text",
          "doc_id", blockRows = blockRows)),
      "emb" -> (() =>
        Dedup.embeddingLshPairs(Tables.embeddings(spark, dir),
          "vec_id", "embedding", threshold = 0.4, dims = 64,
          blockRows = blockRows)))
    val names =
      if (which == "all") Seq("mh", "emb") else which.split(",").toSeq
    names.foreach { name =>
      val fn = forms.getOrElse(name, sys.error(s"unknown form: $name"))
      noop(fn())
      val t0 = System.nanoTime()
      noop(fn())
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"probe":"salt","form":"$name","dir":"$dir","blockRows":$blockRows,"sec":$sec%.3f}""")
    }
    spark.stop()
  }
}
