package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import scala.util.chaining._

import graft.functions.VectorFunctions
import graft.model.Tables

/** Relational-core query set over the driver fixtures (SURVEY §7 step 6).
  *
  * The reference delegates all declarative query processing to MySQL
  * (SURVEY §3.2); this engine owns it via Catalyst. Each entry here is a
  * lazy DataFrame plan; the paired DuckDB oracle SQL lives in [[oracles]].
  *
  * Float-parity rule: any SUM/AVG over double columns is computed in exact
  * DECIMAL arithmetic (order-independent, engine-independent) and cast to
  * double on output, so the driver's hash compare cannot be broken by
  * partial-aggregation ordering differences between Spark and DuckDB.
  */
object CoreQueries extends graft.QueryModule {

  private def dsum(c: Column): Column = Parity.dsum(c)


  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Join + aggregate (TPC-H Q3 shape): revenue by market segment.
    // customer is the small side — broadcast it so lineitem never
    // shuffles for this join at scale. The probe side spreads off the
    // unsplittable fixture scan (r14, guide §2.5 — 0.62× measured;
    // l_orderkey is already in the projection, so ReadSchema is
    // unchanged and the exchange carries only these three columns).
    "q3_join_agg" -> { (s, dir) =>
      import s.implicits._
      val cust = Tables.customer(s, dir).select($"c_custkey", $"c_mktsegment")
      val ord = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey")
      val li = graft.util.Spread.spreadInput(Tables.lineitem(s, dir)
        .select($"l_orderkey", $"l_extendedprice", $"l_discount"),
        $"l_orderkey")
      li.join(ord, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(cust), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(
          sum(Parity.rev($"l_extendedprice", $"l_discount"))
            .pipe(Parity.roundedDouble).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy($"c_mktsegment")
    },

    // Multi-way join (TPC-H Q5 shape): revenue by nation, customers and
    // suppliers co-national. All dims broadcast; only lineitem⋈orders
    // shuffles on the order key.
    "q5_multiway_join" -> { (s, dir) =>
      import s.implicits._
      // Probe-side spread off the unsplittable fixture scan (r14, guide
      // §2.5 — 0.73× measured; key already projected).
      val li = graft.util.Spread.spreadInput(Tables.lineitem(s, dir)
        .select($"l_orderkey", $"l_suppkey", $"l_extendedprice", $"l_discount"),
        $"l_orderkey")
      val ord = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey")
      val cust = Tables.customer(s, dir).select($"c_custkey", $"c_nationkey")
      val supp = Tables.supplier(s, dir).select($"s_suppkey", $"s_nationkey")
      val nat = Tables.nation(s, dir).select($"n_nationkey", $"n_name", $"n_regionkey")
      val reg = Tables.region(s, dir).select($"r_regionkey", $"r_name")
      li.join(ord, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(cust), $"o_custkey" === $"c_custkey")
        .join(broadcast(supp),
          $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
        .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(sum(Parity.rev($"l_extendedprice", $"l_discount"))
          .pipe(Parity.roundedDouble).as("revenue"))
        .orderBy($"r_name", $"n_name")
    },

    // Window top-k: 3 highest-value orders per customer.
    "q_window_topk" -> { (s, dir) =>
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"o_custkey")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
      Tables.orders(s, dir)
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 3)
        .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rk")
        .orderBy($"o_custkey", $"rk")
    },

    // Same grouped top-k through the engine's native TopKPerKey operator
    // (partial bounded-heap -> shuffle -> final; no per-group full sort).
    "q_topk_perkey_native" -> { (s, dir) =>
      import s.implicits._
      graft.plans.TopK.perKey(Tables.orders(s, dir),
        keys = Seq($"o_custkey"),
        orderBy = Seq($"o_totalprice".desc, $"o_orderkey"),
        k = 3)
        .select($"o_custkey", $"o_orderkey", $"o_totalprice")
        .orderBy($"o_custkey", $"o_totalprice".desc, $"o_orderkey")
    },

    // Window running aggregate: per-supplier running quantity by ship date.
    // The ORDER BY ends with l_quantity because (shipdate, orderkey,
    // linenumber) is NOT unique in the fixture (sf0.1 has a duplicate
    // triple with different quantities): a ROWS frame over tied sort keys
    // is engine-order-dependent, so the sort must be total.
    "q_window_running" -> { (s, dir) =>
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"l_suppkey")
        .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber", $"l_quantity")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      Tables.lineitem(s, dir)
        .select($"l_suppkey", $"l_orderkey", $"l_linenumber",
          sum($"l_quantity".cast(DecimalType(18, 4))).over(w)
            .pipe(Parity.roundedDouble).as("running_qty"))
        // running_qty as final tiebreak: the duplicate triple produces
        // two rows with the same first three columns but different
        // running values — the output sort must be total too.
        .orderBy($"l_suppkey", $"l_orderkey", $"l_linenumber", $"running_qty")
    },

    // RANGE-framed window: trailing 7-day quantity per supplier — the
    // time-based frame (peers by value distance), vs the ROWS frames
    // above. Ordered by epoch seconds so both engines frame identically.
    "q_window_range" -> { (s, dir) =>
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"l_suppkey")
        .orderBy(unix_timestamp($"l_shipdate"))
        .rangeBetween(-7L * 86400L, 0L)
      Tables.lineitem(s, dir)
        .select($"l_suppkey", $"l_orderkey", $"l_linenumber",
          sum($"l_quantity".cast(DecimalType(18, 4))).over(w)
            .pipe(Parity.roundedDouble).as("qty_7d"))
        .orderBy($"l_suppkey", $"l_orderkey", $"l_linenumber")
    },

    // Gap-aware rankings + frame endpoints: rank/dense_rank (ties share
    // a rank, unlike row_number) and the partition's first/cheapest
    // order via first_value over an explicitly ordered frame.
    //
    // NOT computed with window functions: the windows partition by
    // o_orderpriority (5 values), which caps parallelism at 5 tasks and
    // sorts 1/5 of the table per task — the classic low-cardinality
    // window bottleneck that only worsens at scale. Because rank's ORDER
    // BY is the 3-value o_orderstatus, rank/dense_rank collapse to group
    // counts over (priority, status); and first_value over an
    // unbounded-preceding frame is constant per partition (= the argmin
    // row's key). All three reduce to tiny aggregates broadcast back onto
    // the fact table: full partial-agg parallelism, no wide sorts.
    // Measured 2-3x faster at sf0.1 and shuffle-free on the fact side.
    // (The oracle keeps the literal window formulation — semantics are
    // identical; rank ties share a value so the output is deterministic.)
    "q_window_rank" -> { (s, dir) =>
      import s.implicits._
      val W = org.apache.spark.sql.expressions.Window
      val base = Tables.orders(s, dir)
        .select($"o_orderpriority", $"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val wg = W.partitionBy($"o_orderpriority").orderBy($"o_orderstatus")
      val grp = base.groupBy($"o_orderpriority", $"o_orderstatus")
        .agg(count(lit(1)).as("__n"))
        .select($"o_orderpriority", $"o_orderstatus",
          // rank = 1 + rows in strictly-lesser status groups
          (coalesce(sum($"__n").over(wg.rowsBetween(W.unboundedPreceding, -1)),
            lit(0L)) + 1L).cast("int").as("rnk"),
          // dense_rank = ordinal of the status group
          row_number().over(wg).as("drnk"))
      val cheapest = base.groupBy($"o_orderpriority")
        .agg(min(struct($"o_totalprice", $"o_orderkey")).as("__m"))
        .select($"o_orderpriority", $"__m.o_orderkey".as("cheapest_key"))
      base.join(broadcast(grp), Seq("o_orderpriority", "o_orderstatus"))
        .join(broadcast(cheapest), Seq("o_orderpriority"))
        .select($"o_orderpriority", $"o_orderkey", $"rnk", $"drnk", $"cheapest_key")
        .orderBy($"o_orderpriority", $"o_orderkey")
    },

    // Window lag/lead: previous and next order value per customer.
    "q_window_lag_lead" -> { (s, dir) =>
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      Tables.orders(s, dir)
        .select($"o_custkey", $"o_orderkey",
          lag($"o_totalprice", 1).over(w).as("prev_price"),
          lead($"o_totalprice", 1).over(w).as("next_price"))
        .orderBy($"o_custkey", $"o_orderkey")
    },

    // TPC-H Q6 shape through the spark.sql ENTRY POINT (SURVEY §3.3:
    // the interactive SQL surface over registered tables) — the one
    // query authored as SQL text, exercising parse→analyze→optimize on
    // a registered temp view instead of the DataFrame DSL. Revenue sum
    // is decimal-cast per row so the aggregate is order-independent.
    "q6_sql_surface" -> { (s, dir) =>
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
                 AS DOUBLE) AS revenue,
               COUNT(*) AS n_rows
        FROM lineitem_v
        WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24""")
    },

    // LATERAL correlated subquery with ORDER BY + LIMIT (per-customer
    // top-2 orders) through the SQL entry point — Catalyst decorrelates
    // the lateral into a join + per-key limit; the same text runs
    // verbatim in DuckDB.
    "q_lateral_topk" -> { (s, dir) =>
      Tables.customer(s, dir).createOrReplaceTempView("customer_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer_v,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders_v
                 WHERE o_custkey = c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        ORDER BY c_custkey, t.o_totalprice DESC, t.o_orderkey""")
    },

    // Recursive CTE month spine with a gap-preserving LEFT JOIN — the
    // WITH RECURSIVE surface (Spark 4); identical text runs in DuckDB.
    // The upper bound rides the recursion STATE (computed once in the
    // anchor's single aggregate scan): a scalar subquery in the step
    // would re-scan the fact table on every one of the ~80 iterations
    // (measured 16 s -> 1 s at sf0.1). Non-recursive formulation:
    // events_gapfill.
    "q_recursive_spine" -> { (s, dir) =>
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql("""
        WITH RECURSIVE months(m, mx) AS (
          SELECT CAST(date_trunc('month', min(o_orderdate)) AS DATE),
                 CAST(date_trunc('month', max(o_orderdate)) AS DATE)
          FROM orders_v
          UNION ALL
          SELECT CAST(m + INTERVAL '1' MONTH AS DATE), mx FROM months
          WHERE m < mx)
        SELECT m, count(o_orderkey) AS n
        FROM months LEFT JOIN orders_v
          ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
        GROUP BY m ORDER BY m""")
    },

    // Null-safe equality join (<=> / IS NOT DISTINCT FROM): derived
    // nullable keys on both sides so the null row genuinely matches.
    "q_null_safe_join" -> { (s, dir) =>
      import s.implicits._
      def bucket(c: org.apache.spark.sql.Column) =
        when(c % 7 === 3, lit(null)).otherwise(c % 7)
      val a = Tables.orders(s, dir)
        .groupBy(bucket($"o_orderkey").as("k"))
        .agg(count(lit(1)).as("n_orders"))
      val b = Tables.lineitem(s, dir)
        .groupBy(bucket($"l_orderkey").as("kk"))
        .agg(count(lit(1)).as("n_lines"))
      a.join(b, $"k" <=> $"kk").select($"k", $"n_orders", $"n_lines")
        .orderBy($"k")
    },

    // Bit/bool aggregate battery: exact integer bitwise folds and
    // boolean conjunction/disjunction per group.
    "q_bitbool_agg" -> { (s, dir) =>
      import s.implicits._
      Tables.lineitem(s, dir)
        .groupBy($"l_returnflag")
        .agg(
          bit_and($"l_orderkey").as("key_and"),
          bit_or($"l_orderkey").as("key_or"),
          bit_xor($"l_orderkey").as("key_xor"),
          bool_and($"l_quantity" > 1.0).as("all_multi"),
          bool_or($"l_discount" > 0.09).as("any_deep_discount"))
        .orderBy($"l_returnflag")
    },

    // Forward-fill (last_value IGNORE NULLS): carry each user's latest
    // purchase value across subsequent events — the standard
    // sparse-to-dense window idiom. Partitioned by a high-cardinality
    // key, uniquely ordered so the frame is engine-deterministic.
    "q_window_fill_forward" -> { (s, dir) =>
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      Tables.events(s, dir)
        .select($"event_id", $"user_id", $"ts",
          when($"event_type" === "purchase", $"value").as("pv"))
        .select($"event_id", $"user_id",
          last($"pv", ignoreNulls = true).over(w).as("last_purchase_value"))
        .orderBy($"event_id")
    },

    // Regex function battery: capture-group extraction, boolean match,
    // match counting, global replacement — all patterns Java∩RE2 so both
    // engines see identical match sets.
    "q_regex_battery" -> { (s, dir) =>
      import s.implicits._
      Tables.part(s, dir)
        .orderBy($"p_partkey")
        .select($"p_partkey",
          regexp_extract($"p_name", "^([a-z]+)", 1).as("first_word"),
          $"p_name".rlike("[aeiou]{2}").as("has_vowel_pair"),
          regexp_count($"p_name", lit("[aeiou]")).as("n_vowels"),
          regexp_count($"p_name", lit("[a-z]+")).as("n_words"),
          regexp_replace($"p_name", "[aeiou]", "*").as("masked"))
    },

    // Distribution window battery: percent_rank / cume_dist / ntile over
    // each customer's orders. Partitioned by a high-cardinality key
    // (bounded partition size — the scale-safe window shape), ordered
    // uniquely so every value is tie-free and engine-deterministic.
    "q_window_distribution" -> { (s, dir) =>
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      Tables.orders(s, dir)
        .select($"o_custkey", $"o_orderkey",
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          ntile(4).over(w).as("quartile"))
        .orderBy($"o_custkey", $"o_orderkey")
    },

    // FULL OUTER join: two disjoint per-customer order slices, customers
    // present in either side, absent counts as zero.
    "q_full_outer" -> { (s, dir) =>
      import s.implicits._
      val o = Tables.orders(s, dir)
      val a = o.filter($"o_orderkey" % 3 === 0)
        .groupBy($"o_custkey").agg(count(lit(1)).as("n_a"))
      val b = o.filter($"o_orderkey" % 3 === 1)
        .groupBy($"o_custkey").agg(count(lit(1)).as("n_b"))
      a.join(b, Seq("o_custkey"), "full_outer")
        .select($"o_custkey", coalesce($"n_a", lit(0L)).as("n_a"),
          coalesce($"n_b", lit(0L)).as("n_b"))
        .orderBy($"o_custkey")
    },

    // Set op INTERSECT: customers with both an 'F' and an 'O' order.
    "q_intersect" -> { (s, dir) =>
      import s.implicits._
      val o = Tables.orders(s, dir)
      o.filter($"o_orderstatus" === "F").select($"o_custkey")
        .intersect(o.filter($"o_orderstatus" === "O").select($"o_custkey"))
        .orderBy($"o_custkey")
    },

    // Set op EXCEPT: customers with no order at all.
    "q_except" -> { (s, dir) =>
      import s.implicits._
      Tables.customer(s, dir).select($"c_custkey")
        .except(Tables.orders(s, dir).select($"o_custkey".as("c_custkey")))
        .orderBy($"c_custkey")
    },

    // ROLLUP: subtotals and grand total over returnflag/linestatus.
    "q_rollup" -> { (s, dir) =>
      import s.implicits._
      Tables.lineitem(s, dir)
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("sum_qty"))
        .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
    },

    // Explicit GROUPING SETS: the general form rollup/cube specialize.
    "q_grouping_sets" -> { (s, dir) =>
      import s.implicits._
      Tables.orders(s, dir)
        .groupingSets(
          Seq(Seq($"o_orderstatus", $"o_orderpriority"),
            Seq($"o_orderstatus"), Seq.empty),
          $"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum($"o_totalprice".cast(DecimalType(18, 4)))
            .pipe(Parity.roundedDouble).as("revenue"))
        .orderBy($"o_orderstatus".asc_nulls_first,
          $"o_orderpriority".asc_nulls_first)
    },

    // CUBE over the same dimensions.
    "q_cube" -> { (s, dir) =>
      import s.implicits._
      Tables.lineitem(s, dir)
        .cube($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"))
        .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
    },

    // HAVING: suppliers moving more than 5000 total quantity.
    "q_having" -> { (s, dir) =>
      import s.implicits._
      Tables.lineitem(s, dir)
        .groupBy($"l_suppkey")
        .agg(dsum($"l_quantity").as("total_qty"))
        .filter($"total_qty" > 5000.0)
        .orderBy($"l_suppkey")
    },

    // DISTINCT aggregate: distinct parts and suppliers per return flag.
    "q_distinct_agg" -> { (s, dir) =>
      import s.implicits._
      Tables.lineitem(s, dir)
        .groupBy($"l_returnflag")
        .agg(countDistinct($"l_partkey").as("n_parts"),
          countDistinct($"l_suppkey").as("n_supps"),
          count(lit(1)).as("n_lines"))
        .orderBy($"l_returnflag")
    },

    // Correlated EXISTS as a semi join: customers having >= 1 order.
    "q_exists_semi" -> { (s, dir) =>
      import s.implicits._
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).select($"o_custkey".as("c_custkey")),
          Seq("c_custkey"), "left_semi")
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
    },

    // NOT EXISTS as an anti join: parts never shipped.
    "q_not_exists_anti" -> { (s, dir) =>
      import s.implicits._
      Tables.part(s, dir)
        .join(Tables.lineitem(s, dir).select($"l_partkey".as("p_partkey")),
          Seq("p_partkey"), "left_anti")
        .select($"p_partkey", $"p_name")
        .orderBy($"p_partkey")
    },

    // CASE WHEN bucketing + conditional aggregation.
    "q_case_when" -> { (s, dir) =>
      import s.implicits._
      Tables.orders(s, dir)
        .select($"o_orderkey",
          when($"o_totalprice" < 50000.0, "small")
            .when($"o_totalprice" < 150000.0, "medium")
            .otherwise("large").as("bucket"))
        .groupBy($"bucket").agg(count(lit(1)).as("n"))
        .orderBy($"bucket")
    },

    // Scalar function battery: string/date/math built-ins with identical
    // cross-engine semantics (no HALF_UP-vs-HALF_EVEN rounding, no libm
    // transcendentals).
    "q_scalar_battery" -> { (s, dir) =>
      import s.implicits._
      Tables.orders(s, dir)
        .select($"o_orderkey",
          upper($"o_orderpriority").as("prio_upper"),
          length($"o_orderstatus").as("status_len"),
          substring($"o_orderpriority", 1, 1).as("prio_code"),
          concat_ws("-", $"o_orderstatus", $"o_orderpriority").as("tag"),
          year($"o_orderdate").as("y"),
          month($"o_orderdate").as("m"),
          dayofmonth($"o_orderdate").as("d"),
          trunc($"o_orderdate", "month").as("month_start"),
          abs($"o_totalprice" * lit(-1.0)).as("abs_price"),
          floor($"o_totalprice").cast("long").as("floor_price"),
          ceil($"o_totalprice").cast("long").as("ceil_price"),
          sqrt($"o_totalprice").as("sqrt_price"),
          ($"o_orderkey" % 7).as("key_mod"))
        .orderBy($"o_orderkey")
    },

    // Calendar/date function battery (complements q_scalar_battery's
    // year/month/day): quarter, ISO week fields, month-end, date
    // arithmetic with month clamping, day diffs, epoch seconds,
    // formatting. Only functions with engine-identical definitions
    // (Spark weekday 0=Monday == DuckDB isodow-1; both weekofyear are
    // ISO weeks; both add-months clamp to month end).
    "q_datetime_battery" -> { (s, dir) =>
      import s.implicits._
      Tables.orders(s, dir)
        .select($"o_orderkey", to_date($"o_orderdate").as("od"))
        // Battery ABOVE the sort: the range partitioner's sampling pass
        // re-executes the sort's child, so the ten datetime kernels
        // would otherwise run twice over every row.
        .orderBy($"o_orderkey")
        .select($"o_orderkey",
          quarter($"od").as("qtr"),
          weekday($"od").as("dow"),
          dayofyear($"od").as("doy"),
          weekofyear($"od").as("iso_week"),
          last_day($"od").as("month_end"),
          date_add($"od", 30).as("plus_30d"),
          add_months($"od", 2).as("plus_2mo"),
          datediff($"od", to_date(lit("1995-01-01"))).as("days_since"),
          unix_timestamp($"od".cast("timestamp")).as("epoch_s"),
          date_format($"od", "yyyy-MM").as("ym"))
    },

    // String function battery (complements q_scalar_battery's
    // upper/length/substring/concat_ws): padding, translation, search,
    // slicing from both ends, repetition, character codes, printf
    // formatting, edit distance.
    "q_string_battery" -> { (s, dir) =>
      import s.implicits._
      Tables.part(s, dir)
        .select($"p_partkey", $"p_name", $"p_brand", $"p_type")
        .orderBy($"p_partkey")
        .select($"p_partkey",
          lpad($"p_brand", 12, "*").as("brand_padded"),
          rpad($"p_type", 10, ".").as("type_padded"),
          translate($"p_name", "aeiou", "AEIOU").as("name_tr"),
          reverse($"p_name").as("name_rev"),
          regexp_replace($"p_name", "#", "/").as("name_repl"),
          instr($"p_name", "#").as("hash_pos"),
          substring($"p_name", 1, 4).as("head4"),
          expr("right(p_name, 3)").as("tail3"),
          repeat($"p_brand", 2).as("brand_x2"),
          ascii($"p_type").as("type_ascii"),
          concat(lit("["), $"p_brand", lit("]")).as("brand_tag"),
          format_string("%08d", $"p_partkey").as("key_padded"),
          levenshtein($"p_brand", $"p_type").as("brand_type_dist"))
    },

    // Array function battery over the embedding column: length, 1-based
    // element access from both ends, extrema, ordered extraction,
    // slicing, and a sum via the proven-exact sequential dot against a
    // ones vector (aggregate() would also work; the dot form reuses the
    // bit-equality already established by the knn oracles).
    "q_array_battery" -> { (s, dir) =>
      import s.implicits._
      val v = VectorFunctions.toDouble($"embedding")
      Tables.embeddings(s, dir)
        .orderBy($"vec_id")
        .select($"vec_id",
          size($"embedding").as("dims"),
          element_at(v, 1).as("first_d"),
          element_at(v, -1).as("last_d"),
          array_max(v).as("max_d"),
          array_min(v).as("min_d"),
          element_at(array_sort(v), 3).as("third_smallest"),
          VectorFunctions.dot(v, transform(v, _ => lit(1.0)))
            .as("total"),
          VectorFunctions.dot(slice(v, 1, 8),
            transform(slice(v, 1, 8), _ => lit(1.0))).as("head8_total"))
    },

    // MapType end-to-end (SURVEY §1.3's sub_category_dict mapping):
    // build a (status → count) map per priority from grouped counts,
    // then read it back through the map surface — element_at by key,
    // size, sorted key list. Map construction is order-insensitive by
    // key, so the collect_list feeding map_from_entries needs no
    // ordering; every OUTPUT is a scalar the oracle reproduces from
    // plain conditional aggregation (results-equal, not impl-equal).
    "q_map_battery" -> { (s, dir) =>
      import s.implicits._
      Tables.orders(s, dir)
        .groupBy($"o_orderpriority", $"o_orderstatus")
        .agg(count(lit(1)).as("__n"))
        .groupBy($"o_orderpriority")
        .agg(map_from_entries(collect_list(struct($"o_orderstatus", $"__n")))
          .as("__m"))
        .select($"o_orderpriority",
          coalesce(element_at($"__m", "F"), lit(0L)).as("n_f"),
          coalesce(element_at($"__m", "O"), lit(0L)).as("n_o"),
          coalesce(element_at($"__m", "P"), lit(0L)).as("n_p"),
          size($"__m").as("n_statuses"),
          concat_ws(",", array_sort(map_keys($"__m"))).as("statuses"),
          aggregate(map_values($"__m"), lit(0L), _ + _).as("n_orders"))
        .orderBy($"o_orderpriority")
    },

    // StructType ordering surface: min/max over struct columns compare
    // lexicographically (field order = tiebreak order), which is the
    // shuffle-free argmin/argmax idiom used across the engine (IVF
    // assignment, keep-first dedup). Outputs are plain fields; the
    // oracle reproduces them with explicitly-tiebroken windows.
    "q_struct_battery" -> { (s, dir) =>
      import s.implicits._
      Tables.orders(s, dir)
        .groupBy($"o_custkey")
        .agg(
          max(struct($"o_totalprice", $"o_orderkey")).as("best"),
          min(struct($"o_orderdate", $"o_orderkey")).as("first"))
        .select($"o_custkey",
          $"best.o_totalprice".as("best_price"),
          $"best.o_orderkey".as("best_key"),
          $"first.o_orderdate".as("first_date"),
          $"first.o_orderkey".as("first_key"))
        .orderBy($"o_custkey")
    },

    // LEFT OUTER join with null handling: order count per customer
    // including customers with none.
    "q_left_join_nulls" -> { (s, dir) =>
      import s.implicits._
      val ord = Tables.orders(s, dir).select($"o_custkey", $"o_orderkey")
      Tables.customer(s, dir)
        .join(ord, $"c_custkey" === $"o_custkey", "left_outer")
        .groupBy($"c_custkey")
        .agg(count($"o_orderkey").as("n_orders"))
        .orderBy($"c_custkey")
    },

    // Global top-k with full tie-break: 10 priciest line items.
    "q_topk_global" -> { (s, dir) =>
      import s.implicits._
      Tables.lineitem(s, dir)
        .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
        .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
        .limit(10)
    },

    // Small cross join: every (region, order status) pair with counts.
    "q_cross_join" -> { (s, dir) =>
      import s.implicits._
      val statuses = Tables.orders(s, dir).select($"o_orderstatus").distinct()
      Tables.region(s, dir).select($"r_name")
        .crossJoin(statuses)
        .orderBy($"r_name", $"o_orderstatus")
    },

    // Nation-to-nation trade flows (TPC-H Q7 shape): supplier nation ×
    // customer nation revenue. Dims broadcast; one fact shuffle.
    "q7_nation_flows" -> { (s, dir) =>
      import s.implicits._
      // Probe-side spread (r14, guide §2.5 — the q5 shape).
      val li = graft.util.Spread.spreadInput(Tables.lineitem(s, dir)
        .select($"l_orderkey", $"l_suppkey", $"l_extendedprice", $"l_discount"),
        $"l_orderkey")
      val ord = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey")
      val cust = Tables.customer(s, dir).select($"c_custkey", $"c_nationkey")
      val supp = Tables.supplier(s, dir).select($"s_suppkey", $"s_nationkey")
      val n1 = Tables.nation(s, dir)
        .select($"n_nationkey".as("sk"), $"n_name".as("supp_nation"))
      val n2 = Tables.nation(s, dir)
        .select($"n_nationkey".as("ck"), $"n_name".as("cust_nation"))
      li.join(ord, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(cust), $"o_custkey" === $"c_custkey")
        .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(n1), $"s_nationkey" === $"sk")
        .join(broadcast(n2), $"c_nationkey" === $"ck")
        .filter($"supp_nation" =!= $"cust_nation")
        .groupBy($"supp_nation", $"cust_nation")
        .agg(sum(Parity.rev($"l_extendedprice", $"l_discount"))
          .pipe(Parity.roundedDouble).as("revenue"))
        .orderBy($"supp_nation", $"cust_nation")
    },

    // Scalar subquery: parts priced above the global average.
    "q_scalar_subquery" -> { (s, dir) =>
      import s.implicits._
      val part = Tables.part(s, dir)
      // Exact double of the scale-2-rounded sum, then IEEE double
      // division — both engine-independent (decimal division would
      // produce an engine-specific quotient scale, and its high-scale
      // double cast is the 1-ulp trap dsum documents).
      val avgPrice = part.agg(
        (dsum($"p_retailprice") /
          count(lit(1)).cast("double")).as("avg_price"))
      part.crossJoin(broadcast(avgPrice))
        .filter($"p_retailprice" > $"avg_price")
        .select($"p_partkey", $"p_retailprice")
        .orderBy($"p_partkey")
    },

    // IN-subquery (planned as a semi join): orders of BUILDING customers.
    "q_in_subquery" -> { (s, dir) =>
      import s.implicits._
      val building = Tables.customer(s, dir)
        .filter($"c_mktsegment" === "BUILDING")
        .select($"c_custkey".as("o_custkey"))
      Tables.orders(s, dir)
        .join(building, Seq("o_custkey"), "left_semi")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .orderBy($"o_orderkey")
    },

    // Correlated aggregate subquery (TPC-H Q2 shape): the cheapest
    // supplier(s) per part. Written as Catalyst's own decorrelation —
    // per-key min aggregate joined back on (key, value). Equality on
    // untouched doubles (no arithmetic), so cross-engine exact.
    "q2_min_cost" -> { (s, dir) =>
      import s.implicits._
      val li = Tables.lineitem(s, dir)
        .select($"l_partkey", $"l_suppkey", $"l_extendedprice")
      val mins = li.groupBy($"l_partkey")
        .agg(min($"l_extendedprice").as("__mn"))
      li.join(mins, Seq("l_partkey"))
        .filter($"l_extendedprice" === $"__mn")
        .select($"l_partkey", $"l_suppkey",
          $"l_extendedprice".as("min_price"))
        .distinct()
        .orderBy($"l_partkey", $"l_suppkey")
    },

    // Conditional-aggregate share (TPC-H Q14 shape): monthly PROMO
    // revenue share. Both sums are exact decimals rounded before the
    // double cast; the share is one IEEE double division of those —
    // engine-independent end to end. part is the broadcast side.
    "q14_promo_share" -> { (s, dir) =>
      import s.implicits._
      val part = Tables.part(s, dir).select($"p_partkey", $"p_type")
      // Probe-side spread (r14, guide §2.5 — the q5/q7 shape).
      val li = graft.util.Spread.spreadInput(Tables.lineitem(s, dir)
        .select($"l_partkey", $"l_shipdate", $"l_extendedprice", $"l_discount"),
        $"l_partkey")
      val rev = Parity.rev($"l_extendedprice", $"l_discount")
      li.join(broadcast(part), $"l_partkey" === $"p_partkey")
        .groupBy(trunc($"l_shipdate", "month").as("month"))
        .agg(
          sum(when($"p_type" === "PROMO", rev).otherwise(lit(0).cast(DecimalType(18, 4))))
            .pipe(Parity.roundedDouble).as("promo_rev"),
          sum(rev).pipe(Parity.roundedDouble).as("total_rev"))
        .withColumn("promo_share",
          lit(100.0) * $"promo_rev" / $"total_rev")
        .orderBy($"month")
    },

    // Aggregate-HAVING subquery join (TPC-H Q18 shape): large-volume
    // orders — orders whose lineitem quantity total passes a threshold,
    // joined back to the order header. The filter runs on the exact
    // decimal sum BEFORE the rounded double cast surfaces it.
    "q18_large_orders" -> { (s, dir) =>
      import s.implicits._
      // Spread on the GROUPING key (r14, guide §2.5/§2.4 — 0.83×
      // measured): the aggregate reuses the spread's hash partitioning,
      // so no second exchange appears — the repartition IS the agg
      // exchange, just placed below the scan's single-task bottleneck.
      val big = graft.util.Spread.spreadInput(Tables.lineitem(s, dir)
        .select($"l_orderkey", $"l_quantity"), $"l_orderkey")
        .groupBy($"l_orderkey")
        .agg(sum($"l_quantity".cast(DecimalType(18, 4))).as("__sq"))
        .filter($"__sq" > 250)
      Tables.orders(s, dir)
        .join(big, $"o_orderkey" === $"l_orderkey")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice",
          Parity.roundedDouble($"__sq").as("sum_qty"))
        .orderBy($"o_orderkey")
    },

    // Four-table join + multi-key aggregate (TPC-H Q9 shape): revenue by
    // supplier nation and order year. nation/supplier broadcast; the
    // lineitem-orders join is the only fact shuffle.
    "q9_profit_nation" -> { (s, dir) =>
      import s.implicits._
      // Probe-side spread (r14, guide §2.5 — 0.68× measured).
      val li = graft.util.Spread.spreadInput(Tables.lineitem(s, dir)
        .select($"l_orderkey", $"l_suppkey", $"l_extendedprice", $"l_discount"),
        $"l_orderkey")
      val ord = Tables.orders(s, dir).select($"o_orderkey", $"o_orderdate")
      val supp = Tables.supplier(s, dir).select($"s_suppkey", $"s_nationkey")
      val nat = Tables.nation(s, dir).select($"n_nationkey", $"n_name")
      li.join(ord, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
        .groupBy($"n_name", year($"o_orderdate").as("o_year"))
        .agg(
          sum(Parity.rev($"l_extendedprice", $"l_discount"))
            .pipe(Parity.roundedDouble).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy($"n_name", $"o_year")
    },

    // Filtered join + top-20 by aggregate (TPC-H Q10 shape): customers
    // ranked by revenue on returned items. The rank key is the rounded
    // decimal sum surfaced as a double, so the global sort is
    // engine-deterministic; custkey breaks ties.
    "q10_returned" -> { (s, dir) =>
      import s.implicits._
      val li = Tables.lineitem(s, dir)
        .filter($"l_returnflag" === "R")
        .select($"l_orderkey", $"l_extendedprice", $"l_discount")
      val ord = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey")
      val cust = Tables.customer(s, dir).select($"c_custkey", $"c_name")
      li.join(ord, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(cust), $"o_custkey" === $"c_custkey")
        .groupBy($"c_custkey", $"c_name")
        .agg(
          sum(Parity.rev($"l_extendedprice", $"l_discount"))
            .pipe(Parity.roundedDouble).as("revenue"))
        .orderBy($"revenue".desc, $"c_custkey")
        .limit(20)
    },

    // CDC history compaction -> SCD2 intervals: orders read as a
    // per-customer version stream (orderkey = GLOBALLY UNIQUE version —
    // compressHistory requires a tie-free per-key order; lineitem's
    // linenumber repeats within an order, which would make the window
    // nondeterministic). Only change points survive, each stamped with
    // its validity interval. One window exchange on the
    // high-cardinality key. Companion to the MERGE snapshot loads
    // (ref_l2_upsert).
    "cdc_scd2" -> { (s, dir) =>
      import s.implicits._
      val history = Tables.orders(s, dir)
        .select($"o_custkey".as("key"), $"o_orderkey".as("version"),
          $"o_totalprice".as("amount"))
      graft.ops.Cdc.compressHistory(history, Seq("key"), "version",
        Seq("amount"))
        .orderBy($"key", $"valid_from")
    },

    // Streaming SCD2 maintenance (r9): the same version history arriving
    // as four ts-ORDERED batches (global version ranges — the in-order
    // CDC contract), each folded into the running SCD2 table by
    // Cdc.mergeHistory — O(batch) per fold, the history is never
    // recompressed. localCheckpoint between folds materializes each
    // batch's table exactly as a foreachBatch sink would persist it.
    // The oracle is the WHOLE-history compress (cdc_scd2's text): the
    // delta-fold ≡ whole law under the gate, the dq_orders_incremental
    // convention; the law is also property-pinned in CdcSpec.
    "stream_scd2_batches" -> { (s, dir) =>
      import s.implicits._
      val history = Tables.orders(s, dir)
        .select($"o_custkey".as("key"), $"o_orderkey".as("version"),
          $"o_totalprice".as("amount"))
      val bounds = history.agg(min($"version"), max($"version")).head
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val width = (hi - lo) / 4 + 1
      val empty = graft.ops.Cdc.compressHistory(history.limit(0),
        Seq("key"), "version", Seq("amount"))
      // DISK_ONLY fold pins — same rationale as the late gate below
      // (the fold table is stored between folds; its pinned generations
      // must not compete with execution memory).
      (0L until 4L).foldLeft(empty) { (acc, b) =>
        graft.ops.Cdc.mergeHistory(acc,
          history.filter($"version" >= lo + b * width &&
            $"version" < lo + (b + 1) * width),
          Seq("key"), "version", Seq("amount"))
          .localCheckpoint(true,
            org.apache.spark.storage.StorageLevel.DISK_ONLY)
      }
        .orderBy($"key", $"valid_from")
    },

    // Streaming SCD2 with OUT-OF-ORDER arrival (r10): the same version
    // history arriving as four INTERLEAVED batches (version % 4 — from
    // batch 2 on, most rows sit below keys' current valid_from, so
    // nearly every touched key takes the late-repair path each fold).
    // Cdc.mergeHistoryWithLate splits per key: in-order keys ride the
    // O(batch) fold, late keys recompress from the raw log (maintained
    // alongside, as a warehouse's staged-batch append). The oracle is
    // the whole-history compress — arrival-order invariance under the
    // gate, completing stream_scd2_batches' in-order law.
    "stream_scd2_late_batches" -> { (s, dir) =>
      import s.implicits._
      val history = Tables.orders(s, dir)
        .select($"o_custkey".as("key"), $"o_orderkey".as("version"),
          $"o_totalprice".as("amount"))
      val empty = graft.ops.Cdc.compressHistory(history.limit(0),
        Seq("key"), "version", Seq("amount"))
      // The raw log is STORED data, not lineage: each fold reads the
      // previously-folded batches as a FILTER on the source table (what
      // a warehouse's appended staging log is), so nothing grows pinned
      // in executor memory. Checkpointing the growing raw union instead
      // OOM'd the 100× probe at the 8 g contract heap (SCALING.md
      // probe 16) — only the SCD2 table itself is checkpointed, exactly
      // like the in-order gate.
      // DISK_ONLY fold pins (probe 16): the SCD2 table is a STORED
      // warehouse table between folds — nearly every orders version is
      // a change point, so by fold 4 the pinned generations total ~2.5×
      // the source table, and MEMORY_AND_DISK's deserialized blocks
      // OOM'd the 100× probe at the contract heap while the repair
      // joins spiked execution memory. On disk the same run completes
      // (per-fold 12-21 s at 100×).
      val folded = (0L until 4L).foldLeft(empty) { (acc, b) =>
        val batch = history.filter(pmod($"version", lit(4L)) === b)
        val raw = history.filter(pmod($"version", lit(4L)) < b)
        graft.ops.Cdc.mergeHistoryWithLate(acc, raw, batch,
          Seq("key"), "version", Seq("amount"))
          .localCheckpoint(true,
            org.apache.spark.storage.StorageLevel.DISK_ONLY)
      }
      folded.orderBy($"key", $"valid_from")
    },

    // The late-repair fold against a KEY-BUCKETED raw store (r11): the
    // raw version log is written ONCE as a kbucket-partitioned parquet
    // store (kbucket = Cdc.rawBucket — the 100 TB layout SCALING.md
    // probe 19 prescribes), and each fold repairs through
    // Cdc.mergeHistoryWithLatePruned, whose raw read partition-prunes
    // to the late keys' buckets instead of scanning the log. Same
    // whole-history-compress oracle as the unpruned late gate: the
    // bucketing must be invisible in the result.
    //
    // ARRIVAL SHAPE (r12): one LAGGING SHARD, not the everything-late
    // interleave the unpruned gate keeps as its worst case. Batches are
    // version-quartile ordered (in-order per key by construction),
    // except kbucket-0 keys' first-quartile rows arrive in the LAST
    // batch. With everything late, the late keys' buckets SATURATE the
    // store and the operator (correctly) falls back to the plain scan —
    // so the interleave shape would register a gate that never prunes.
    // This shape makes the registered plan exercise the mechanism the
    // gate is named for: folds 1-2 take the in-order short-circuit, and
    // fold 3's repair names exactly ONE of 32 kbucket partitions (the
    // probe-19d shape). The oracle is the whole-history compress, which
    // is arrival-shape independent — the laws guarantee any split folds
    // to the same table.
    "stream_scd2_bucketed_batches" -> { (s, dir) =>
      import s.implicits._
      val history = Tables.orders(s, dir)
        .select($"o_custkey".as("key"), $"o_orderkey".as("version"),
          $"o_totalprice".as("amount"))
      val nBuckets = 32
      // Deterministic quartile-by-version arrival: versions are order
      // keys in [0, maxv] (o_orderkey STARTS AT ZERO in this data — a
      // (v-1)-based formula floors to quartile -1 for version 0 and
      // silently drops the row from every batch, caught by the oracle
      // as a missing first change point), so floor(v*4 / (maxv+1))
      // maps the full range onto waves 0..3 with no negative edge
      // (v*4 is exact in double far past any corpus here). maxv is one
      // cheap max() aggregate — the gate is already an eager fold chain.
      val maxv = history.agg(max($"version")).head.getLong(0)
      val quart = floor(($"version" * lit(4.0)) / lit(maxv.toDouble + 1.0))
        .cast("long")
      val lagging = graft.ops.Cdc.rawBucket(Seq("key"), nBuckets) === lit(0L)
      val arrive = when(quart === lit(0L) && lagging, lit(3L)).otherwise(quart)
      val tagged = history.withColumn("__arrive", arrive)
      val rawDir = java.nio.file.Files
        .createTempDirectory("graft_rawstore").toString
      // Everything from the corpus-sized write through the eagerly-
      // executing folds runs BEFORE materializedThen's own finally
      // exists, so a mid-fold failure (disk full, OOM at probe scale)
      // must not leak the store: delete-and-rethrow on that window.
      try {
        tagged
          .withColumn("kbucket",
            graft.ops.Cdc.rawBucket(Seq("key"), nBuckets))
          .repartition(col("kbucket")) // one writer per bucket
          .write.mode("overwrite").partitionBy("kbucket").parquet(rawDir)
        val stored = s.read.parquet(rawDir)
        val empty = graft.ops.Cdc.compressHistory(history.limit(0),
          Seq("key"), "version", Seq("amount"))
        val folded = (0L until 4L).foldLeft(empty) { (acc, b) =>
          val batch = tagged.filter($"__arrive" === b).drop("__arrive")
          val raw = stored.filter($"__arrive" < b).drop("__arrive")
          graft.ops.Cdc.mergeHistoryWithLatePruned(acc, raw, batch,
            Seq("key"), "version", Seq("amount"), nBuckets)
            .localCheckpoint(true,
              org.apache.spark.storage.StorageLevel.DISK_ONLY)
        }
        ExtensionQueries.materializedThen(s,
          folded.orderBy($"key", $"valid_from")) {
          ExtensionQueries.deleteTree(rawDir)
        }
      } catch { case t: Throwable =>
        try ExtensionQueries.deleteTree(rawDir) catch { case _: Throwable => }
        throw t
      }
    },

    // Data-quality contract checks over orders: the DDL's implicit
    // contracts (PK unique+non-null, FK to customer) plus value
    // contracts (status domain, price range, no future dates) evaluated
    // into one constant-size report — all four row checks share ONE
    // aggregate pass; the status-domain and price-range checks have
    // real violations in the data ('P' orders, >300k prices), so the
    // report exercises both outcomes.
    "dq_orders_checks" -> { (s, dir) =>
      import s.implicits._
      val orders = Tables.orders(s, dir)
      val E = graft.ops.Expectations
      E.rowChecks(orders, Seq(
          E.notNull("o_orderkey"),
          E.acceptedValues("o_orderstatus", Seq("O", "F")),
          E.inRange("o_totalprice", 0.0, 300000.0),
          E.predicate("no_future_orderdate",
            $"o_orderdate" <= lit("1998-12-31"))))
        .unionByName(E.unique(orders, Seq("o_orderkey")))
        .unionByName(E.foreignKey(orders, Seq("o_custkey"),
          Tables.customer(s, dir), Seq("c_custkey")))
        .orderBy($"check")
    },

    // Incremental DQ: the same four row checks computed PER BATCH
    // (orders split into 4 disjoint key slices — the daily-load shape)
    // and folded — row-check counts are additive, so the fold must
    // equal the whole-table report, and the oracle IS that whole-table
    // report. O(batch) work per load instead of a table rescan.
    "dq_orders_incremental" -> { (s, dir) =>
      import s.implicits._
      val orders = Tables.orders(s, dir)
      val E = graft.ops.Expectations
      def checks(df: org.apache.spark.sql.DataFrame) =
        E.rowChecks(df, Seq(
          E.notNull("o_orderkey"),
          E.acceptedValues("o_orderstatus", Seq("O", "F")),
          E.inRange("o_totalprice", 0.0, 300000.0),
          E.predicate("no_future_orderdate",
            $"o_orderdate" <= lit("1998-12-31"))))
      // Batch 0 also takes null-key rows: `null % 4 === b` is null in
      // every batch, so without the isNull leg the slices would not
      // partition the table and the fold ≠ whole on a null key. pmod,
      // not %: Spark's % keeps the dividend sign, so a negative key
      // would match no slice and silently drop from every batch.
      E.foldReports((0 until 4).map { b =>
        val slice = pmod($"o_orderkey", lit(4)) === b
        checks(orders.filter(
          if (b == 0) $"o_orderkey".isNull || slice else slice))
      })
        .orderBy($"check")
    },

    // Snapshot reconciliation: diff two loads of the orders table —
    // yesterday's cutoff vs today's, with today's batch resolving open
    // statuses on %7 keys and dropping %97 keys (GDPR-style deletes) —
    // into one (key, added|removed|changed) row per difference. Each
    // side collapses to (key, digest) in its scan, so the full-outer
    // join never moves the payload; the audit companion to cdc_scd2
    // and ref_l2_upsert.
    "snapshot_diff" -> { (s, dir) =>
      import s.implicits._
      val orders = Tables.orders(s, dir)
      val old = orders.filter($"o_orderdate" < lit("1997-07-01"))
      val neu = orders
        .filter($"o_orderdate" < lit("1998-01-01") &&
          $"o_orderkey" % 97 =!= 0)
        .withColumn("o_orderstatus",
          when($"o_orderkey" % 7 === 0, lit("F")).otherwise($"o_orderstatus"))
      graft.ops.Cdc.snapshotDiff(old, neu, Seq("o_orderkey"),
        Seq("o_orderstatus", "o_totalprice"))
        .orderBy($"o_orderkey")
    },

    // try_* error-handling battery: malformed casts, zero divides, and
    // unparseable dates degrade to NULL instead of failing the job —
    // the ingest-hardening surface (strict variants raise; see ref_p8).
    "q_try_battery" -> { (s, dir) =>
      import s.implicits._
      Tables.part(s, dir)
        .orderBy($"p_partkey")
        .select($"p_partkey",
          when($"p_partkey" % 3 === 0, $"p_name")
            .otherwise($"p_partkey".cast("string")).as("__s"),
          when($"p_partkey" % 2 === 0, lit("15/06/2023"))
            .otherwise(lit("not-a-date")).as("__d"),
          ($"p_partkey" % 5).as("__k"),
          $"p_retailprice")
        .select($"p_partkey",
          expr("try_cast(__s AS BIGINT)").as("maybe_num"),
          try_divide($"p_retailprice", $"__k").as("maybe_ratio"),
          try_to_date($"__d", "dd/MM/yyyy").as("maybe_date"))
    },

    // Scalar subquery + anti join + derived grouping key (TPC-H Q22
    // shape): above-average-balance customers with no 'F'-status order,
    // grouped by a name-derived code. The average is the exact rounded
    // decimal sum over an exact long count — one IEEE division.
    "q22_idle_rich" -> { (s, dir) =>
      import s.implicits._
      val cust = Tables.customer(s, dir)
      val avgBal = cust.agg(
        (dsum($"c_acctbal") / count(lit(1)).cast("double")).as("__avg"))
      val fCust = Tables.orders(s, dir)
        .filter($"o_orderstatus" === "F")
        .select($"o_custkey".as("c_custkey"))
      cust.crossJoin(broadcast(avgBal))
        .filter($"c_acctbal" > $"__avg")
        .join(fCust, Seq("c_custkey"), "left_anti")
        .groupBy(substring($"c_name", 17, 2).as("code"))
        .agg(count(lit(1)).as("n_cust"),
          dsum($"c_acctbal").as("total_bal"))
        .orderBy($"code")
    },

    // Exact interpolated percentiles (the SQL-standard percentile_cont).
    "q_percentiles" -> { (s, dir) =>
      import s.implicits._
      Tables.lineitem(s, dir)
        .groupBy($"l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.25)").as("p25"),
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.9)").as("p90"))
        .orderBy($"l_returnflag")
    },

    // Equi-width histogram via arithmetic bucketing (width_bucket is
    // absent in DuckDB 1.0; floor-divide is IEEE-identical anyway).
    "q_histogram" -> { (s, dir) =>
      import s.implicits._
      Tables.orders(s, dir)
        .select(floor($"o_totalprice" / 40000.0).cast("int").as("bucket"))
        .groupBy($"bucket").agg(count(lit(1)).as("n"))
        .orderBy($"bucket")
    },

    // Extremal-row aggregates: the order date of each customer's priciest
    // order (max_by), and the cheapest (min_by).
    "q_minmax_by" -> { (s, dir) =>
      import s.implicits._
      Tables.orders(s, dir)
        .groupBy($"o_custkey")
        .agg(
          max_by($"o_orderkey", struct($"o_totalprice", $"o_orderkey"))
            .as("best_order"),
          min_by($"o_orderkey", struct($"o_totalprice", $"o_orderkey"))
            .as("worst_order"))
        .orderBy($"o_custkey")
    },

    // Ordered string aggregation per group.
    "q_string_agg" -> { (s, dir) =>
      import s.implicits._
      Tables.nation(s, dir)
        .groupBy($"n_regionkey")
        .agg(concat_ws(",", sort_array(collect_list($"n_name"))).as("nations"))
        .orderBy($"n_regionkey")
    },

    // Calendar aggregation: monthly order volume and revenue.
    "q_monthly_orders" -> { (s, dir) =>
      import s.implicits._
      Tables.orders(s, dir)
        .groupBy(trunc($"o_orderdate", "month").as("month"))
        .agg(count(lit(1)).as("n_orders"),
          sum($"o_totalprice".cast(DecimalType(18, 4)))
            .pipe(Parity.roundedDouble).as("revenue"))
        .orderBy($"month")
    },
    // PIVOT: order counts and revenue restructured wide by order status.
    // Explicit pivot values keep the schema static (no extra distinct
    // pass over the data, and a plan Catalyst can fully pre-resolve).
    "q_pivot" -> { (s, dir) =>
      import s.implicits._
      Tables.orders(s, dir)
        .groupBy($"o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("F", "O", "P")) // empty cells: 0, like the SQL form
        .orderBy($"o_orderpriority")
    },

    // UNPIVOT (melt): the inverse restructuring of q_pivot — three metric
    // columns become (metric, value) rows. A pure per-row projection
    // (Spark Expand): zero shuffle beyond the output ordering.
    "q_unpivot" -> { (s, dir) =>
      import s.implicits._
      // Spread before the Expand (r14, guide §2.5 — 0.52× measured):
      // the 3× row explosion plus the output sort's sampling pass both
      // re-run the single-task scan child otherwise.
      graft.util.Spread.spreadInput(Tables.lineitem(s, dir)
        .select($"l_orderkey", $"l_linenumber",
          $"l_quantity", $"l_extendedprice", $"l_discount"), $"l_orderkey")
        .unpivot(Array($"l_orderkey", $"l_linenumber"),
          Array($"l_quantity", $"l_extendedprice", $"l_discount"),
          "metric", "value")
        .orderBy($"l_orderkey", $"l_linenumber", $"metric")
    },

    "q1_agg" -> { (s, dir) =>
      import s.implicits._
      Tables.lineitem(s, dir)
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          dsum($"l_quantity").as("sum_qty"),
          dsum($"l_extendedprice").as("sum_base_price"),
          sum(Parity.rev($"l_extendedprice", $"l_discount"))
            .pipe(Parity.roundedDouble).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },
  )

  val oracles: Map[String, String] = Map(
    "q_pivot" ->
      """SELECT o_orderpriority,
        |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
        |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
        |  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,

    "q3_join_agg" ->
      """SELECT c_mktsegment,
        |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q5_multiway_join" ->
      """SELECT r_name, n_name,
        |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "q_window_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders)
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,

    "q_topk_perkey_native" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders)
        |WHERE rk <= 3 ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin,

    "q_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(round(SUM(CAST(l_quantity AS DECIMAL(18,4))) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_qty
        |FROM lineitem
        |ORDER BY l_suppkey, l_orderkey, l_linenumber, running_qty""".stripMargin,

    "q_window_range" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(round(SUM(CAST(l_quantity AS DECIMAL(18,4))) OVER (
        |    PARTITION BY l_suppkey ORDER BY CAST(epoch(l_shipdate) AS BIGINT)
        |    RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS qty_7d
        |FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,

    "q_window_rank" ->
      """SELECT o_orderpriority, o_orderkey,
        |  rank() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_orderstatus) AS rnk,
        |  dense_rank() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_orderstatus) AS drnk,
        |  first_value(o_orderkey) OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cheapest_key
        |FROM orders ORDER BY o_orderpriority, o_orderkey""".stripMargin,

    "q_window_lag_lead" ->
      """SELECT o_custkey, o_orderkey,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q6_sql_surface" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q_lateral_topk" ->
      """SELECT c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
        |         WHERE o_custkey = c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |ORDER BY c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin,

    "q_recursive_spine" ->
      """WITH RECURSIVE months(m, mx) AS (
        |  SELECT CAST(date_trunc('month', min(o_orderdate)) AS DATE),
        |         CAST(date_trunc('month', max(o_orderdate)) AS DATE)
        |  FROM orders
        |  UNION ALL
        |  SELECT CAST(m + INTERVAL '1' MONTH AS DATE), mx FROM months
        |  WHERE m < mx)
        |SELECT m, count(o_orderkey) AS n
        |FROM months LEFT JOIN orders
        |  ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
        |GROUP BY m ORDER BY m""".stripMargin,

    "q_null_safe_join" ->
      """WITH a AS (
        |  SELECT CASE WHEN o_orderkey % 7 = 3 THEN NULL
        |    ELSE o_orderkey % 7 END AS k, count(*) AS n_orders
        |  FROM orders GROUP BY 1),
        |b AS (
        |  SELECT CASE WHEN l_orderkey % 7 = 3 THEN NULL
        |    ELSE l_orderkey % 7 END AS kk, count(*) AS n_lines
        |  FROM lineitem GROUP BY 1)
        |SELECT a.k, n_orders, n_lines
        |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.kk
        |ORDER BY a.k NULLS FIRST""".stripMargin,

    "q_bitbool_agg" ->
      """SELECT l_returnflag,
        |  bit_and(l_orderkey) AS key_and,
        |  bit_or(l_orderkey) AS key_or,
        |  bit_xor(l_orderkey) AS key_xor,
        |  bool_and(l_quantity > 1.0) AS all_multi,
        |  bool_or(l_discount > 0.09) AS any_deep_discount
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_window_fill_forward" ->
      """WITH t AS (SELECT event_id, user_id, ts,
        |  CASE WHEN event_type = 'purchase' THEN value END AS pv FROM events)
        |SELECT event_id, user_id,
        |  last_value(pv IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS last_purchase_value
        |FROM t ORDER BY event_id""".stripMargin,

    "q_regex_battery" ->
      """SELECT p_partkey,
        |  regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
        |  regexp_matches(p_name, '[aeiou]{2}') AS has_vowel_pair,
        |  CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS INTEGER) AS n_vowels,
        |  CAST(len(regexp_extract_all(p_name, '[a-z]+')) AS INTEGER) AS n_words,
        |  regexp_replace(p_name, '[aeiou]', '*', 'g') AS masked
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_window_distribution" ->
      """SELECT o_custkey, o_orderkey,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_full_outer" ->
      """WITH a AS (SELECT o_custkey, count(*) AS n_a FROM orders
        |  WHERE o_orderkey % 3 = 0 GROUP BY 1),
        |b AS (SELECT o_custkey, count(*) AS n_b FROM orders
        |  WHERE o_orderkey % 3 = 1 GROUP BY 1)
        |SELECT COALESCE(a.o_custkey, b.o_custkey) AS o_custkey,
        |  COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
        |FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
        |ORDER BY o_custkey""".stripMargin,

    "q_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,

    "q_except" ->
      """SELECT c_custkey FROM customer
        |EXCEPT
        |SELECT o_custkey AS c_custkey FROM orders
        |ORDER BY c_custkey""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(round(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q_having" ->
      """SELECT l_suppkey, CAST(round(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_qty
        |FROM lineitem GROUP BY l_suppkey
        |HAVING CAST(round(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) > 5000.0
        |ORDER BY l_suppkey""".stripMargin,

    "q_distinct_agg" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps,
        |  COUNT(*) AS n_lines
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_exists_semi" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_not_exists_anti" ->
      """SELECT p_partkey, p_name FROM part p
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
        |ORDER BY p_partkey""".stripMargin,

    "q_case_when" ->
      """SELECT bucket, COUNT(*) AS n FROM (
        |  SELECT CASE WHEN o_totalprice < 50000.0 THEN 'small'
        |              WHEN o_totalprice < 150000.0 THEN 'medium'
        |              ELSE 'large' END AS bucket
        |  FROM orders)
        |GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q_scalar_battery" ->
      """SELECT o_orderkey,
        |  upper(o_orderpriority) AS prio_upper,
        |  length(o_orderstatus) AS status_len,
        |  substring(o_orderpriority, 1, 1) AS prio_code,
        |  concat_ws('-', o_orderstatus, o_orderpriority) AS tag,
        |  CAST(year(o_orderdate) AS INTEGER) AS y,
        |  CAST(month(o_orderdate) AS INTEGER) AS m,
        |  CAST(day(o_orderdate) AS INTEGER) AS d,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  abs(o_totalprice * -1.0) AS abs_price,
        |  CAST(floor(o_totalprice) AS BIGINT) AS floor_price,
        |  CAST(ceil(o_totalprice) AS BIGINT) AS ceil_price,
        |  sqrt(o_totalprice) AS sqrt_price,
        |  o_orderkey % 7 AS key_mod
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_datetime_battery" ->
      """SELECT o_orderkey,
        |  CAST(quarter(od) AS INTEGER) AS qtr,
        |  CAST(isodow(od) - 1 AS INTEGER) AS dow,
        |  CAST(dayofyear(od) AS INTEGER) AS doy,
        |  CAST(weekofyear(od) AS INTEGER) AS iso_week,
        |  last_day(od) AS month_end,
        |  od + 30 AS plus_30d,
        |  CAST(od + INTERVAL 2 MONTH AS DATE) AS plus_2mo,
        |  CAST(od - DATE '1995-01-01' AS INTEGER) AS days_since,
        |  CAST(epoch(CAST(od AS TIMESTAMP)) AS BIGINT) AS epoch_s,
        |  strftime(od, '%Y-%m') AS ym
        |FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    "q_string_battery" ->
      """SELECT p_partkey,
        |  lpad(p_brand, 12, '*') AS brand_padded,
        |  rpad(p_type, 10, '.') AS type_padded,
        |  translate(p_name, 'aeiou', 'AEIOU') AS name_tr,
        |  reverse(p_name) AS name_rev,
        |  regexp_replace(p_name, '#', '/', 'g') AS name_repl,
        |  CAST(strpos(p_name, '#') AS INTEGER) AS hash_pos,
        |  substring(p_name, 1, 4) AS head4,
        |  right(p_name, 3) AS tail3,
        |  repeat(p_brand, 2) AS brand_x2,
        |  CAST(ascii(p_type) AS INTEGER) AS type_ascii,
        |  '[' || p_brand || ']' AS brand_tag,
        |  printf('%08d', p_partkey) AS key_padded,
        |  CAST(levenshtein(p_brand, p_type) AS INTEGER) AS brand_type_dist
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_array_battery" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT vec_id,
        |  CAST(len(v) AS INTEGER) AS dims,
        |  v[1] AS first_d,
        |  v[len(v)] AS last_d,
        |  list_aggregate(v, 'max') AS max_d,
        |  list_aggregate(v, 'min') AS min_d,
        |  list_sort(v)[3] AS third_smallest,
        |  list_dot_product(v, list_transform(v, x -> 1.0)) AS total,
        |  list_dot_product(v[1:8], list_transform(v[1:8], x -> 1.0)) AS head8_total
        |FROM e ORDER BY vec_id""".stripMargin,

    "q_map_battery" ->
      """SELECT o_orderpriority,
        |  CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n_f,
        |  CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS n_o,
        |  CAST(COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS n_p,
        |  CAST(COUNT(DISTINCT o_orderstatus) AS INTEGER) AS n_statuses,
        |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_struct_battery" ->
      """WITH r AS (SELECT o_custkey, o_totalprice, o_orderkey, o_orderdate,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey DESC) AS rb,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate ASC, o_orderkey ASC) AS rf
        |  FROM orders)
        |SELECT o_custkey,
        |  max(CASE WHEN rb = 1 THEN o_totalprice END) AS best_price,
        |  max(CASE WHEN rb = 1 THEN o_orderkey END) AS best_key,
        |  max(CASE WHEN rf = 1 THEN o_orderdate END) AS first_date,
        |  max(CASE WHEN rf = 1 THEN o_orderkey END) AS first_key
        |FROM r GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "q_left_join_nulls" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
        |FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "q_topk_global" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""".stripMargin,

    "q_cross_join" ->
      """SELECT r_name, o_orderstatus
        |FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
        |ORDER BY r_name, o_orderstatus""".stripMargin,

    "q7_nation_flows" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name <> n2.n_name
        |GROUP BY supp_nation, cust_nation
        |ORDER BY supp_nation, cust_nation""".stripMargin,

    "q_scalar_subquery" ->
      """SELECT p_partkey, p_retailprice FROM part
        |WHERE p_retailprice > (
        |  SELECT CAST(round(SUM(CAST(p_retailprice AS DECIMAL(18,4))), 2) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE)
        |  FROM part)
        |ORDER BY p_partkey""".stripMargin,

    "q_in_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin,

    "q2_min_cost" ->
      """SELECT DISTINCT l_partkey, l_suppkey, l_extendedprice AS min_price
        |FROM lineitem l1
        |WHERE l_extendedprice = (
        |  SELECT min(l_extendedprice) FROM lineitem l2
        |  WHERE l2.l_partkey = l1.l_partkey)
        |ORDER BY l_partkey, l_suppkey""".stripMargin,

    "q14_promo_share" ->
      """SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
        |  CAST(round(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
        |    ELSE CAST(0 AS DECIMAL(18,4)) END), 2) AS DOUBLE) AS promo_rev,
        |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS total_rev,
        |  100.0 * CAST(round(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
        |    ELSE CAST(0 AS DECIMAL(18,4)) END), 2) AS DOUBLE)
        |    / CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS promo_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY month ORDER BY month""".stripMargin,

    "q18_large_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(round(sum_qty, 2) AS DOUBLE) AS sum_qty
        |FROM orders JOIN (
        |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 250
        |) ON o_orderkey = l_orderkey
        |ORDER BY o_orderkey""".stripMargin,

    "q9_profit_nation" ->
      """SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name, o_year ORDER BY n_name, o_year""".stripMargin,

    "q10_returned" ->
      """SELECT c_custkey, c_name,
        |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "cdc_scd2" ->
      """WITH h AS (SELECT o_custkey AS key, o_orderkey AS version,
        |  o_totalprice AS amount FROM orders),
        |c AS (SELECT key, version, amount,
        |  lag(amount) OVER (PARTITION BY key ORDER BY version) AS prev
        |  FROM h),
        |ch AS (SELECT key, version, amount FROM c
        |  WHERE prev IS NULL OR amount IS DISTINCT FROM prev)
        |SELECT key, amount, version AS valid_from,
        |  lead(version) OVER (PARTITION BY key ORDER BY version) AS valid_to,
        |  lead(version) OVER (PARTITION BY key ORDER BY version) IS NULL
        |    AS is_current
        |FROM ch ORDER BY key, valid_from""".stripMargin,

    // The delta-fold ≡ whole-history law under the gate: the engine
    // folds four in-order batches through Cdc.mergeHistory; the oracle
    // is the whole-history compress.
    "stream_scd2_batches" ->
      """WITH h AS (SELECT o_custkey AS key, o_orderkey AS version,
        |  o_totalprice AS amount FROM orders),
        |c AS (SELECT key, version, amount,
        |  lag(amount) OVER (PARTITION BY key ORDER BY version) AS prev
        |  FROM h),
        |ch AS (SELECT key, version, amount FROM c
        |  WHERE prev IS NULL OR amount IS DISTINCT FROM prev)
        |SELECT key, amount, version AS valid_from,
        |  lead(version) OVER (PARTITION BY key ORDER BY version) AS valid_to,
        |  lead(version) OVER (PARTITION BY key ORDER BY version) IS NULL
        |    AS is_current
        |FROM ch ORDER BY key, valid_from""".stripMargin,

    // The bucketed raw store must be invisible in the result: same
    // whole-history compress oracle as the late gate below.
    "stream_scd2_bucketed_batches" ->
      """WITH h AS (SELECT o_custkey AS key, o_orderkey AS version,
        |  o_totalprice AS amount FROM orders),
        |c AS (SELECT key, version, amount,
        |  lag(amount) OVER (PARTITION BY key ORDER BY version) AS prev
        |  FROM h),
        |ch AS (SELECT key, version, amount FROM c
        |  WHERE prev IS NULL OR amount IS DISTINCT FROM prev)
        |SELECT key, amount, version AS valid_from,
        |  lead(version) OVER (PARTITION BY key ORDER BY version) AS valid_to,
        |  lead(version) OVER (PARTITION BY key ORDER BY version) IS NULL
        |    AS is_current
        |FROM ch ORDER BY key, valid_from""".stripMargin,

    // Arrival-order invariance under the gate: the engine folds four
    // INTERLEAVED batches through the late-repair path; the oracle is
    // the same whole-history compress as the in-order law's.
    "stream_scd2_late_batches" ->
      """WITH h AS (SELECT o_custkey AS key, o_orderkey AS version,
        |  o_totalprice AS amount FROM orders),
        |c AS (SELECT key, version, amount,
        |  lag(amount) OVER (PARTITION BY key ORDER BY version) AS prev
        |  FROM h),
        |ch AS (SELECT key, version, amount FROM c
        |  WHERE prev IS NULL OR amount IS DISTINCT FROM prev)
        |SELECT key, amount, version AS valid_from,
        |  lead(version) OVER (PARTITION BY key ORDER BY version) AS valid_to,
        |  lead(version) OVER (PARTITION BY key ORDER BY version) IS NULL
        |    AS is_current
        |FROM ch ORDER BY key, valid_from""".stripMargin,

    // The delta-fold ≡ whole-history law under the gate: the oracle is
    // the WHOLE-TABLE report — the engine's 4-batch fold must equal it.
    "dq_orders_incremental" ->
      """WITH checks AS (
        |  SELECT 'accepted_values(o_orderstatus in O|F)' AS c, 'accepted_values' AS kind,
        |    count(CASE WHEN NOT coalesce(o_orderstatus IN ('O','F'), FALSE)
        |      THEN 1 END) AS n_violations FROM orders
        |  UNION ALL
        |  SELECT 'no_future_orderdate', 'predicate',
        |    count(CASE WHEN NOT coalesce(
        |      o_orderdate <= TIMESTAMP '1998-12-31 00:00:00', FALSE)
        |      THEN 1 END) FROM orders
        |  UNION ALL
        |  SELECT 'not_null(o_orderkey)', 'not_null',
        |    count(CASE WHEN o_orderkey IS NULL THEN 1 END) FROM orders
        |  UNION ALL
        |  SELECT 'range(o_totalprice in [0.0,300000.0])', 'range',
        |    count(CASE WHEN NOT coalesce(
        |      o_totalprice >= 0.0 AND o_totalprice <= 300000.0, FALSE)
        |      THEN 1 END) FROM orders)
        |SELECT c AS "check", kind, CAST(n_violations AS BIGINT) AS n_violations,
        |  n_violations = 0 AS passed
        |FROM checks ORDER BY c""".stripMargin,

    // Each branch replays one check; violation = NOT coalesce(holds,
    // FALSE), the engine's null-never-passes-a-contract convention.
    "dq_orders_checks" ->
      """WITH checks AS (
        |  SELECT 'accepted_values(o_orderstatus in O|F)' AS c, 'accepted_values' AS kind,
        |    count(CASE WHEN NOT coalesce(o_orderstatus IN ('O','F'), FALSE)
        |      THEN 1 END) AS n_violations FROM orders
        |  UNION ALL
        |  SELECT 'foreign_key(o_custkey)', 'foreign_key',
        |    (SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL
        |       AND NOT EXISTS (SELECT 1 FROM customer c
        |                       WHERE c.c_custkey = o.o_custkey))
        |  UNION ALL
        |  SELECT 'no_future_orderdate', 'predicate',
        |    count(CASE WHEN NOT coalesce(
        |      o_orderdate <= TIMESTAMP '1998-12-31 00:00:00', FALSE)
        |      THEN 1 END) FROM orders
        |  UNION ALL
        |  SELECT 'not_null(o_orderkey)', 'not_null',
        |    count(CASE WHEN o_orderkey IS NULL THEN 1 END) FROM orders
        |  UNION ALL
        |  SELECT 'range(o_totalprice in [0.0,300000.0])', 'range',
        |    count(CASE WHEN NOT coalesce(
        |      o_totalprice >= 0.0 AND o_totalprice <= 300000.0, FALSE)
        |      THEN 1 END) FROM orders
        |  UNION ALL
        |  SELECT 'unique(o_orderkey)', 'unique',
        |    (SELECT coalesce(sum(n - 1), 0) FROM
        |       (SELECT count(*) AS n FROM orders WHERE o_orderkey IS NOT NULL
        |        GROUP BY o_orderkey) g)
        |    + (SELECT count(CASE WHEN o_orderkey IS NULL THEN 1 END)
        |       FROM orders))
        |SELECT c AS "check", kind, CAST(n_violations AS BIGINT) AS n_violations,
        |  n_violations = 0 AS passed
        |FROM checks ORDER BY c""".stripMargin,

    // Replays the diff natively: row-comparison (IS DISTINCT FROM on the
    // tracked tuple) stands in for the engine's per-side digest — the
    // digest only has to be injective WITHIN an engine, so the oracle is
    // free to compare values directly.
    "snapshot_diff" ->
      """WITH old AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderdate < DATE '1997-07-01'),
        |new AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'F'
        |         ELSE o_orderstatus END AS o_orderstatus,
        |    o_totalprice
        |  FROM orders
        |  WHERE o_orderdate < DATE '1998-01-01' AND o_orderkey % 97 <> 0),
        |d AS (
        |  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |    CASE WHEN o.o_orderkey IS NULL THEN 'added'
        |         WHEN n.o_orderkey IS NULL THEN 'removed'
        |         WHEN (o.o_orderstatus, o.o_totalprice) IS DISTINCT FROM
        |              (n.o_orderstatus, n.o_totalprice) THEN 'changed'
        |    END AS change
        |  FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey)
        |SELECT o_orderkey, change FROM d
        |WHERE change IS NOT NULL ORDER BY o_orderkey""".stripMargin,

    "q_try_battery" ->
      """WITH f AS (SELECT p_partkey,
        |  CASE WHEN p_partkey % 3 = 0 THEN p_name
        |    ELSE CAST(p_partkey AS VARCHAR) END AS s,
        |  CASE WHEN p_partkey % 2 = 0 THEN '15/06/2023'
        |    ELSE 'not-a-date' END AS d,
        |  p_partkey % 5 AS k, p_retailprice
        |  FROM part)
        |SELECT p_partkey,
        |  TRY_CAST(s AS BIGINT) AS maybe_num,
        |  p_retailprice / nullif(k, 0) AS maybe_ratio,
        |  CAST(try_strptime(d, '%d/%m/%Y') AS DATE) AS maybe_date
        |FROM f ORDER BY p_partkey""".stripMargin,

    "q22_idle_rich" ->
      """SELECT substr(c_name, 17, 2) AS code, COUNT(*) AS n_cust,
        |  CAST(round(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_bal
        |FROM customer
        |WHERE c_acctbal > (
        |  SELECT CAST(round(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) FROM customer)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |GROUP BY code ORDER BY code""".stripMargin,

    "q_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.9) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_histogram" ->
      """SELECT CAST(floor(o_totalprice / 40000.0) AS INTEGER) AS bucket, COUNT(*) AS n
        |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q_minmax_by" ->
      """WITH ranked AS (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey DESC) AS rb,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice ASC, o_orderkey ASC) AS rw
        |  FROM orders)
        |SELECT o_custkey,
        |  max(CASE WHEN rb = 1 THEN o_orderkey END) AS best_order,
        |  max(CASE WHEN rw = 1 THEN o_orderkey END) AS worst_order
        |FROM ranked GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "q_string_agg" ->
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    "q_monthly_orders" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |  COUNT(*) AS n_orders,
        |  CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM orders GROUP BY month ORDER BY month""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(round(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
        |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
  )
}
