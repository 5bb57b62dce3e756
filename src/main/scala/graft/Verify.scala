package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the driver's DuckDB compare and
  * failures.json for the queries that threw. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      String.valueOf(Runtime.getRuntime.availableProcessors()))
    val spark = Sessions.local(cpus)
    // SPARK_GRAFT_ONLY=a,b,c restricts the dump for local iteration on a
    // single query; the driver sets no env, so contract runs dump all.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    dump(spark, sfDir, outDir, SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json(SparkEntry.oracleSql.toSeq))
    spark.stop()
  }

  /** Writes each query's rows under `<outDir>/<name>` and
    * `<outDir>/failures.json`: `{name: message}` for every query that
    * threw (each also logged to stderr), `{}` when none did. */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Unit = {
    new java.io.File(outDir).mkdirs()
    val failures = queries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> String.valueOf(e.getMessage))
      }
    }
    Files.writeString(Paths.get(s"$outDir/failures.json"), json(failures))
  }

  /** A JSON object of string pairs. The escape covers backslash, quote,
    * and ALL control chars (<0x20) — a tab or CR in builder-authored SQL
    * would otherwise make the driver's json.load fail and silently zero
    * the round's correctness. */
  private def json(pairs: Seq[(String, String)]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    pairs.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
