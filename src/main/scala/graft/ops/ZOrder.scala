package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) multi-dimensional clustering — the data-layout tool
  * behind multi-column file skipping in large parquet warehouses: sort
  * by the bit-interleaved key and rows close in EVERY dimension land in
  * the same files, so min/max footer stats prune scans on any of the
  * interleaved columns, not just the leading sort column.
  */
object ZOrder {

  /** The Morton code: interleave the low `bits` bits of each column
    * (2-4 columns, `bits · n ≤ 63`) into one non-negative long; column
    * i occupies bit positions `b·n + i`. Inputs must already be
    * non-negative ints below `2^bits` — bucket or rank them first
    * (values outside the domain alias silently; this is a layout key,
    * not a checksum). Pure integer bit arithmetic: exact, codegen-able,
    * and replayable in any engine. */
  def zValue(cols: Seq[Column], bits: Int): Column = {
    require(cols.size >= 2 && cols.size <= 4,
      s"interleave 2-4 columns, got ${cols.size}")
    require(bits >= 1 && bits * cols.size <= 63,
      s"bits*cols must fit a positive long, got $bits*${cols.size}")
    val n = cols.size
    val terms = for {
      b <- 0 until bits
      (c, i) <- cols.zipWithIndex
    } yield shiftleft(shiftright(c.cast("long"), b).bitwiseAND(lit(1L)),
      b * n + i)
    terms.reduce(_ bitwiseOR _)
  }
}
