package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.model.Tables
import graft.queries.Parity
import graft.sources.FileSources

/** File-format source/sink queries (SURVEY §2.1 widening): each query
  * round-trips a fixture table through CSV or JSON lines and aggregates
  * the READ-BACK rows, while the oracle aggregates the original parquet
  * directly — so a hash match proves byte-level round-trip fidelity of
  * every value (doubles, timestamps, strings) through the text format,
  * not just that the reader runs. Aggregation follows the decimal-sum
  * parity rules used everywhere else. */
object SourceQueries extends graft.QueryModule {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Orders through headered CSV: exercises quoting, explicit-schema
    // read (no inference pass), double round-trip, micro-pinned
    // timestamp format, and string columns.
    "src_csv_roundtrip" -> { (s, dir) =>
      import s.implicits._
      val path = FileSources.scratchDir("csv", "orders")
      val back = FileSources.csvRoundTrip(Tables.orders(s, dir), path)
      back.groupBy($"o_orderstatus").agg(
          count(lit(1)).as("n_orders"),
          Parity.dsum($"o_totalprice").as("sum_total"),
          min($"o_orderdate").as("first_date"),
          max($"o_orderdate").as("last_date"),
          min($"o_orderpriority").as("min_priority"))
        .orderBy($"o_orderstatus")
    },

    // Customer through JSON lines: exercises the schema-explicit JSON
    // reader and numeric/string fidelity through a second text format.
    "src_json_roundtrip" -> { (s, dir) =>
      import s.implicits._
      val path = FileSources.scratchDir("json", "customer")
      val back = FileSources.jsonRoundTrip(Tables.customer(s, dir), path)
      back.groupBy($"c_mktsegment").agg(
          count(lit(1)).as("n_customers"),
          Parity.dsum($"c_acctbal").as("sum_acctbal"),
          min($"c_name").as("first_name"),
          max($"c_nationkey").as("max_nation"))
        .orderBy($"c_mktsegment")
    },

    // Lineitem through ORC: the second COLUMNAR at-rest format; the
    // aggregate (with pushed shipdate filter on the ORC scan) must match
    // the oracle reading the original parquet value-for-value.
    "src_orc_roundtrip" -> { (s, dir) =>
      import s.implicits._
      val path = FileSources.scratchDir("orc", "lineitem")
      // Spread before the ORC write (r15, guide §2.5/§6): a one-task
      // source serializes both the write (one writer) and the
      // read-back (one unsplit file feeding the aggregate). The spread
      // parallelizes both sides; the filter+aggregate result is
      // layout-independent. No-op at scale where the scan splits.
      val back = FileSources.orcRoundTrip(
        graft.util.Spread.spreadInput(Tables.lineitem(s, dir),
          $"l_orderkey"), path)
      back.filter($"l_shipdate" >= lit("1996-01-01"))
        .groupBy($"l_returnflag").agg(
          count(lit(1)).as("n_lines"),
          Parity.dsum($"l_quantity").as("sum_qty"),
          Parity.dsum($"l_extendedprice").as("sum_price"),
          max($"l_shipdate").as("last_ship"))
        .orderBy($"l_returnflag")
    })

  // Oracles read the ORIGINAL parquet tables: any loss in the text
  // round trip shows up as a value mismatch.
  val oracles: Map[String, String] = Map(

    "src_csv_roundtrip" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_total,
        |  MIN(o_orderdate) AS first_date, MAX(o_orderdate) AS last_date,
        |  MIN(o_orderpriority) AS min_priority
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "src_json_roundtrip" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers,
        |  CAST(round(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_acctbal,
        |  MIN(c_name) AS first_name, MAX(c_nationkey) AS max_nation
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "src_orc_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n_lines,
        |  CAST(round(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price,
        |  MAX(l_shipdate) AS last_ship
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
}
