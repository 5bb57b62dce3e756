package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class FileSourcesSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmp(name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_filesources_spec_$name"

  // Adversarial content: embedded delimiter, quote, newline, empty
  // string, null, negative/subnormal-ish doubles, micro-precision ts.
  private def tricky = Seq(
    (1L, "plain", Some(1.5), Some(Timestamp.valueOf("2024-03-01 10:11:12.123456"))),
    (2L, "comma, inside", Some(-0.1), Some(Timestamp.valueOf("1999-12-31 23:59:59.999999"))),
    (3L, "quote \" and 'single'", Some(1.0e-300), None),
    (4L, "line\nbreak", None, Some(Timestamp.valueOf("2024-01-01 00:00:00"))),
    (5L, "", Some(123456789.123456789), Some(Timestamp.valueOf("2024-06-15 06:07:08.000001"))),
    (6L, null.asInstanceOf[String], Some(2.0), None),
  ).toDF("id", "s", "d", "ts")

  private def canon(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  // File reads are always nullable in Spark regardless of the declared
  // schema — compare names and types, not nullability.
  private def shape(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
    df.schema.fields.map(f => f.name -> f.dataType.typeName).toSeq

  test("parquet schema evolution: old and new files read under the merged schema") {
    // The 100 TB reality: a long-lived table's early files lack columns
    // added later. mergeSchema must union the footers — old rows read
    // with nulls in the added column, new rows intact, no rewrite of old
    // files.
    import org.apache.spark.sql.functions.col
    val dir = tmp("evolve")
    val old = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val neu = Seq((3L, "c", 1.5), (4L, "d", 2.5)).toDF("id", "s", "score")
    old.write.mode("overwrite").parquet(s"$dir/part=old")
    neu.write.mode("overwrite").parquet(s"$dir/part=new")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
      .select("id", "s", "score")
    assert(shape(merged) ==
      Seq("id" -> "long", "s" -> "string", "score" -> "double"))
    val rows = merged.collect().map(r =>
      (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(rows == Set(
      (1L, "a", None), (2L, "b", None),
      (3L, "c", Some(1.5)), (4L, "d", Some(2.5))))
    // Filters on the evolved column prune old-file rows (null never
    // matches) without error — the query surface works across vintages.
    assert(merged.filter(col("score") > 2.0).count() == 1)
  }

  test("csv round trip preserves every value exactly") {
    val back = FileSources.csvRoundTrip(tricky, tmp("csv"))
    assert(shape(back) == shape(tricky))
    assert(canon(back) == canon(tricky))
  }

  test("json round trip preserves every value exactly") {
    val back = FileSources.jsonRoundTrip(tricky, tmp("json"))
    assert(shape(back) == shape(tricky))
    assert(canon(back) == canon(tricky))
  }

  test("orc round trip preserves every value exactly") {
    val back = FileSources.orcRoundTrip(tricky, tmp("orc"))
    assert(shape(back) == shape(tricky))
    assert(canon(back) == canon(tricky))
  }

  test("csv read is schema-explicit: no inference pass, types as declared") {
    val back = FileSources.csvRoundTrip(tricky, tmp("csv2"))
    assert(back.schema("d").dataType.typeName == "double")
    assert(back.schema("ts").dataType.typeName == "timestamp")
    assert(back.schema("id").dataType.typeName == "long")
  }

  test("a round-trip query still reads after the same query is built again") {
    // Each build writes its own scratch dir: a second build must not
    // replace the files the first one listed.
    Seq("src_csv_roundtrip", "src_json_roundtrip", "src_orc_roundtrip").foreach { q =>
      val first = graft.SparkEntry.queries(q)(spark, sf)
      val second = graft.SparkEntry.queries(q)(spark, sf)
      val rows = second.collect().toSeq
      assert(rows.nonEmpty, q)
      assert(first.collect().toSeq == rows, q)
    }
  }
}
