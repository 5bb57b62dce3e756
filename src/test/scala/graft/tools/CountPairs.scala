package graft.tools

object CountPairs {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local("32")
    for (dir <- args) {
      val emb = graft.model.Tables.embeddings(spark, dir)
      val n = graft.dedup.Dedup.embeddingLshPairs(
        emb, "vec_id", "embedding", threshold = 0.4, dims = 64).count()
      println(s"""{"dir":"$dir","emb_pairs":$n,"n_vec":${emb.count()}}""")
    }
    spark.stop()
  }
}
