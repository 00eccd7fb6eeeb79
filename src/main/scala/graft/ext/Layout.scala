package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering for scan
  * pruning.
  *
  * At 100 TB the dominant cost of a selective query is row groups read, and
  * parquet prunes on per-row-group min/max stats. Sorting the lake by ONE
  * column makes those stats tight for that column and useless for every
  * other; interleaving the bits of two columns into a single sort key makes
  * every contiguous key range a compact RECTANGLE in (a, b) space, so
  * row-group stats stay tight on BOTH dimensions and a predicate on either
  * one prunes. This is the layout trick behind Delta/Iceberg `ZORDER BY` —
  * here it is a pure integer Catalyst expression (codegen'd, exact, and
  * replayable bitwise by an oracle), feeding an ordinary
  * `repartitionByRange(zval).sortWithinPartitions(zval)` write.
  */
object Layout {

  /** Morton interleave of two non-negative integer dims, `bits` bits each:
    * bit i of `a` lands at position 2i, bit i of `b` at 2i+1. Pure 64-bit
    * integer arithmetic (safe for bits <= 31). */
  def zValue(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    (0 until bits).map { i =>
      (shiftright(a, i) % 2L) * lit(1L << (2 * i)) +
        (shiftright(b, i) % 2L) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
  }

  /** The same interleave as ANSI SQL over columns `a`/`b` (DuckDB-oracle
    * replay of [[zValue]]; `//` is exact integer division). */
  def zValueSql(a: String, b: String, bits: Int = 16): String =
    (0 until bits).map { i =>
      s"(($a // ${1L << i}) % 2) * ${1L << (2 * i)} + (($b // ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** Scale a non-negative dim onto the `bits`-bit grid given its inclusive
    * domain cap: `cell = min(v, cap) * 2^bits div (cap + 1)`. Fixed-domain
    * scaling keeps the mapping a pure function (re-runnable per partition);
    * a rank-based scaling would be adaptive to skew but needs a global
    * pass — at 100 TB you would feed this from table-level stats instead. */
  def gridCell(v: Column, cap: Long, bits: Int): Column =
    // floor of the double quotient is exact here: numerator < 2^53 and the
    // true quotient is >= 1/(cap+1) away from any integer unless divisible
    floor(least(v, lit(cap)) * lit(1L << bits) / lit(cap + 1)).cast("long")
}
