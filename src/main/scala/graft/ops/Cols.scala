package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared column-expression helpers.
  *
  * These encode the reference's recurring scalar patterns
  * (see /root/repo/SURVEY.md §2.8):
  *  - conditional sums `SUM(IF(cond, v, 0))` (A1, task-executor/trans_summary/trans_summary_5min.py:73-79)
  *  - int date encodings: yyyymmdd, hour, minute (F2, trans_summary_5min.py:96-98)
  *  - divide-by-zero => 0 normalization (F8, player_summary_5min.py:106)
  *
  * All are composed from built-in codegen'd functions — no UDFs — so they
  * stay inside WholeStageCodegen and keep parquet pushdown intact.
  */
object Cols {

  /** Exact money type. Fixture money columns carry ≤ 2 decimal digits, so the
    * cast is lossless; decimal sums are then EXACT and order-independent —
    * the same answer regardless of partitioning, merge order, or engine.
    * Double sums are none of those: at 100 TB a re-run of the same query can
    * legitimately return different low-order bits, which breaks idempotent
    * ledger merges and any hash-based reconciliation. Money math belongs in
    * decimal; ratios are derived at the end by casting the exact sums to
    * double (a correctly-rounded, deterministic conversion in every engine
    * while the unscaled value stays below 2^53). */
  val MoneyType: org.apache.spark.sql.types.DecimalType =
    org.apache.spark.sql.types.DecimalType(12, 2)

  /** Lossless money cast (see [[MoneyType]]). */
  def money(c: Column): Column = c.cast(MoneyType)

  /** A1: `SUM(IF(cond, v, 0))` — conditional sum, pivot-by-flag. The zero arm
    * is an integer literal so a decimal `value` keeps its exact decimal type
    * (a 0.0 double literal would coerce the whole sum to nondeterministic
    * float accumulation). */
  def sumIf(cond: Column, value: Column): Column =
    sum(when(cond, value).otherwise(lit(0)))

  /** A1: `SUM(IF(cond, 1, 0))` as a BIGINT count (count of rows matching). */
  def countIf(cond: Column): Column = count(when(cond, lit(1)))

  /** A3: clamped sum `SUM(IF(v >= 0, v, 0))` (player_summary_5min.py:85-86). */
  def sumClamped(value: Column): Column = sumIf(value >= 0, value)

  /** F2: int-encoded date `yyyymmdd` (trans_summary_5min.py:96). */
  def yyyymmdd(ts: Column): Column = date_format(ts, "yyyyMMdd").cast("int")

  /** yyyymmdd int -> yyyyMM int without going back through a timestamp. */
  def monthOfDateInt(dateInt: Column): Column = (dateInt / 100).cast("int")

  /** F8: division that yields 0 (not null/Inf) when the denominator is 0 or
    * null — reproduces pandas `replace([inf,-inf],nan).fillna(0)`. Operands
    * are cast to double first: for exact decimal sums this is one
    * correctly-rounded conversion each and then one correctly-rounded IEEE
    * division — deterministic and engine-independent — whereas decimal÷decimal
    * result types differ between engines. */
  def safeDiv(num: Column, den: Column): Column =
    when(den.isNull || den === 0, lit(0.0))
      .otherwise(num.cast("double") / den.cast("double"))

  /** P2: half-open event-time window `[gte, lt)`. String literals are cast by
    * Spark to the timestamp type of `ts`, so this works for both TIMESTAMP
    * and TIMESTAMP_NTZ columns. */
  def inWindow(ts: Column, gte: String, lt: String): Column =
    ts >= lit(gte) && ts < lit(lt)

  /** P1: dynamic equality filter with the reference's 'ALL' wildcard
    * (trans_summary_5min.py:56-65): 'ALL' disables the predicate. */
  def eqOrAll(c: Column, v: String): Column =
    if (v == "ALL") lit(true) else c === lit(v)
}
