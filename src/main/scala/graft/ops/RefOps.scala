package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's dataflow operators (SURVEY §2.2-2.3), pinned as named,
  * unit-tested combinators. Each is trivial by design — the value is the
  * pinned semantics (projection contracts, day-first dates, lossless split)
  * plus the scale mapping documented per function.
  */
object RefOps {

  /** P1-P3 (reference dags/etl.py:67-80, 98-114, 148-163): keep exactly the
    * named columns, in order; fails analysis if one is missing — the same
    * contract as the pandas KeyError, but at plan time. */
  def project(cols: Seq[String])(df: DataFrame): DataFrame =
    df.select(cols.map(col): _*)

  /** P4/P5 (etl.py:61-62, 143): tag a batch with its scan key. With a real
    * DataSource carrying the key as a column this disappears. */
  def tagLit(name: String, value: Any)(df: DataFrame): DataFrame =
    df.withColumn(name, lit(value))

  /** P7 (etl.py:91): strip the `.html` suffix to build a detail-URL key.
    * The reference uses `str.replace(".html", "")` (all occurrences); we
    * anchor at end-of-string, which is the intended semantics — a literal
    * ".html" mid-key would be corrupted by the reference's version. */
  def stripHtmlSuffix(c: Column): Column = regexp_replace(c, "\\.html$", "")

  /** P8 (etl.py:164-166): strict day-first Vietnamese date parse. Spark 4
    * runs ANSI mode, so an invalid date raises — same failure contract as
    * pandas `to_datetime(..., format=...)`. */
  def parseVnDate(c: Column): Column = to_date(c, "dd/MM/yyyy")

  /** Lenient variant: null on invalid instead of raising. */
  def tryParseVnDate(c: Column): Column = try_to_date(c, "dd/MM/yyyy")

  /** P9 (etl.py:251): referential-integrity guard — keep only rows whose
    * `key` exists in `valid`. The reference collects the key set to the
    * driver (`isin`); at 100 TB this must stay distributed: a left-semi
    * join, which Catalyst/AQE turns into a broadcast semi join when the
    * key set is small. */
  def riFilter(valid: DataFrame, key: String)(df: DataFrame): DataFrame =
    df.join(valid.select(key).distinct(), Seq(key), "left_semi")

  /** U1/U2 (etl.py:66, 147): n-ary UNION ALL of page batches. By name, so
    * column order drift between batches cannot silently mis-align. */
  def unionAll(dfs: Seq[DataFrame]): DataFrame = dfs.reduce(_ unionByName _)

  /** U3 (etl.py:86): pandas `drop_duplicates(subset=keys)` keeps the FIRST
    * row per key in row order. Distributed engines have no row order, so
    * "first" must be defined by an explicit ordering — deterministic and
    * oracle-checkable, unlike `dropDuplicates`. */
  def dedupByKeyFirst(keys: Seq[String], order: Seq[Column])(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** U4 (etl.py:250): distinct union of two key sets. */
  def distinctKeys(key: String)(a: DataFrame, b: DataFrame): DataFrame =
    a.select(key).union(b.select(key)).distinct()

  /** U5 (etl.py:115-120): the reference's fixed 5-way split drops the last
    * `len % 5` rows (integer division — they reach the DB load but are
    * never rating-scraped). This split is LOSSLESS by design: `ntile(n)`
    * assigns every row to exactly one part, sizes differing by at most 1.
    * Divergence from the reference is intentional and documented
    * (SURVEY §2.3 U5).
    *
    * Scale note: a global ntile over `Window.orderBy(...)` funnels the
    * dataset through ONE task. This computes the identical assignment
    * from [[ScaleOps.withGlobalIndex]] (range-partitioned sort + two-pass
    * offsets) and ntile's arithmetic: the first `total % n` tiles get
    * `total / n + 1` rows, the rest `total / n` — bit-identical to the
    * window form (oracle ref_u5_ntile_split pins it) with no
    * single-partition stage. `order` must be a total order, which the
    * window form needed anyway for determinism. */
  def splitEven(n: Int, order: Seq[Column])(df: DataFrame): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val (indexed, total) = ScaleOps.withGlobalIndex(df, order, "__pos")
    val q = total / n
    val r = total % n
    val pos = col("__pos")
    val bigSpan = lit(r * (q + 1)) // rows covered by the (q+1)-sized tiles
    // Spark's `/` is double division; cast each quotient back to long
    // immediately so the tile index is explicit integer floor (exact:
    // the double quotient of longs this size errs by far less than the
    // 1/(q+1) gap to the next integer).
    val part =
      if (q == 0) pos + 1L // more tiles than rows: one row per tile
      else when(pos < bigSpan, (pos / (q + 1)).cast("long"))
        .otherwise(lit(r) + ((pos - bigSpan) / q).cast("long")) + 1L
    indexed.withColumn("part_id", part.cast("int")).drop("__pos")
  }
}
