package graft

/** Plan inspector: `runMain graft.Explain <sfDir> [query ...]` prints the
  * formatted physical plan of each named query (all queries if none
  * named). The review loop for scale work: check PushedFilters reach the
  * parquet scan, small sides broadcast, and WholeStageCodegen spans stay
  * wide. Redirect stdout (`> file`) to keep a full dump. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    names.foreach { n =>
      println(s"\n########## $n ##########")
      println(SparkEntry.queries(n)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
