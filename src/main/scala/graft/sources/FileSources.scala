package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** CSV / JSON-lines file source+sink surface (SURVEY §2.1 widening: the
  * reference ingests JSON records over HTTP, reference dags/etl.py:53,135;
  * a warehouse engine must also round-trip the same rows through flat
  * files). Schema-explicit on READ — schema inference is a full extra
  * pass over the data, which is exactly what dies first at 100 TB, so
  * these readers take the schema as an argument and never infer.
  *
  * Timestamps are pinned to an explicit micro-second pattern in UTC on
  * both directions (the session timezone is UTC): the default pattern
  * drops sub-second precision on write, which would silently corrupt a
  * round trip. Doubles survive exactly — both writers emit the shortest
  * string that parses back to the identical IEEE value.
  */
object FileSources {

  val TimestampPattern = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"

  /** Null sentinel for CSV: with the default (empty string) a read-back
    * cannot distinguish NULL from '' — the classic CSV ambiguity — so
    * both directions pin the MySQL-style `\N` marker.
    *
    * LIMITATION: a payload string equal to the raw two characters `\N`
    * still reads back as NULL — the writer only quotes values containing
    * delimiter/quote/newline, and the parser compares the null marker
    * AFTER unquoting anyway, so no quoting scheme protects it. CSV
    * sentinels are inherently in-band; the marker merely moves the
    * collision from the common '' to an unlikely token. Payloads that
    * may legitimately contain `\N` belong in parquet/ORC/JSON, not CSV. */
  val CsvNullMarker = "\\N"

  /** Write `df` as headered CSV under `path` (overwrite), then read it
    * back with the SAME explicit schema and formats. Quoting/escaping is
    * round-trip-safe for embedded delimiters and newlines (multiLine on
    * the read side covers quoted line breaks); nulls and empty strings
    * survive distinctly via [[CsvNullMarker]]. */
  def csvRoundTrip(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite")
      .option("header", "true")
      .option("nullValue", CsvNullMarker)
      .option("emptyValue", "\"\"")
      .option("timestampFormat", TimestampPattern)
      .csv(path)
    readCsv(df.sparkSession, path, df.schema)
  }

  def readCsv(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("multiLine", "true")
      .option("nullValue", CsvNullMarker)
      .option("emptyValue", "")
      .option("timestampFormat", TimestampPattern)
      .schema(schema)
      .csv(path)

  /** Write `df` as JSON lines under `path` (overwrite), then read it back
    * with the SAME explicit schema. */
  def jsonRoundTrip(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite")
      .option("timestampFormat", TimestampPattern)
      .json(path)
    readJson(df.sparkSession, path, df.schema)
  }

  def readJson(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .option("timestampFormat", TimestampPattern)
      .schema(schema)
      .json(path)

  /** Write `df` as ORC under `path` (overwrite), then read it back. ORC
    * is the second columnar at-rest format (parquet being the primary):
    * schema and values travel natively (no text-format pitfalls), so the
    * round trip exercises only the format plumbing — still read with the
    * explicit schema so column order and types are pinned, never taken
    * from whatever the files claim. */
  def orcRoundTrip(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").orc(path)
    readOrc(df.sparkSession, path, df.schema)
  }

  def readOrc(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** A new scratch dir per call, deleted at JVM exit. A round-trip
    * DataFrame lists its dir's files when it is built, so a shared dir
    * would be rewritten under an earlier DataFrame by the next build of
    * the same query (or by another JVM). */
  def scratchDir(format: String, table: String): String =
    org.apache.spark.sql.GraftSqlShim.tempDir(s"graft_${format}_$table")
}
