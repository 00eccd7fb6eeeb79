package graft.time

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Time slicing — the reference's core streaming primitive.
  *
  * The reference turns a `[gte_time, lt_time)` range plus a frequency into a
  * list of task slices (task-producer/utils/TaskUtils.py:53-101), with
  * floor/ceil alignment rules used by both the producer
  * (task-producer/task_producer/GetNewTaskList.py:59-69) and the rerun
  * cascade (task-producer/rerun_producer/GetRelatedTimeSplit.py:33-84).
  *
  * Everything here is a column expression (sequence/explode — F6), so slicing
  * a million-row task board is one distributed select, not a driver loop.
  *
  * Month semantics reproduce the reference exactly for aligned (midnight,
  * month-start) inputs: a 1M slice is emitted for every whole month fully
  * inside `[gte, lt)`, snapped to month boundaries (TaskUtils.py:76-86 via
  * pandas MonthEnd). The reference's behavior for misaligned month inputs
  * (slice start snaps BEFORE gte — catch-up semantics) is reproduced too.
  */
object Slicer {

  /** Step of one frequency unit as a day-time interval column (F4). */
  private def unitInterval(freq: String): Column = freq match {
    case "5min" => expr("INTERVAL 5 MINUTES")
    case "1H"   => expr("INTERVAL 1 HOUR")
    case "1D"   => expr("INTERVAL 1 DAY")
    case other  => throw new IllegalArgumentException(s"no fixed interval for freq $other")
  }

  /** F3: floor a timestamp to the start of its frequency bucket. */
  def floorTo(c: Column, freq: String): Column = freq match {
    case "5min" =>
      date_trunc("hour", c) + make_dt_interval(lit(0), lit(0), floor(minute(c) / 5) * 5, lit(0))
    case "1H" => date_trunc("hour", c)
    case "1D" => date_trunc("day", c)
    case "1M" => date_trunc("month", c)
    case other => throw new IllegalArgumentException(s"unknown freq $other")
  }

  /** F3: ceil — boundary-exact timestamps stay put (pandas `.ceil` and the
    * rerun month rule "exactly at the boundary -> don't carry",
    * GetRelatedTimeSplit.py:63-73). */
  def ceilTo(c: Column, freq: String): Column = freq match {
    case "1M" =>
      when(c === date_trunc("month", c), c)
        .otherwise(add_months(date_trunc("month", c), 1).cast(dataTypeOf(c)))
    case f =>
      when(c === floorTo(c, f), c).otherwise(floorTo(c, f) + unitInterval(f))
  }

  // add_months returns DATE; cast back through the original column's family.
  // We standardize on timestamp: caller columns are timestamps.
  private def dataTypeOf(c: Column): String = "timestamp"

  /** Explode one task row (gte_time, lt_time, freq_type) into its slices.
    *
    * Fixed frequencies: slice starts are `sequence(gte, lt - unit, unit)` —
    * aligned to gte itself, exactly like `pd.date_range(gte, lt - td, freq)`
    * (TaskUtils.py:66-71); each slice is `[start, start + unit)`.
    *
    * 1M: month-ends within `[gte, lt - 1 day]` define the slices
    * (TaskUtils.py:76-86): slice = `[month_start(e), e + 1 day)`.
    *
    * One `explode` over a per-row array of slice starts serves every
    * frequency, so the input plan (typically a watermark aggregate) runs
    * once. Input columns are preserved; gte_time/lt_time are replaced by the
    * per-slice bounds. Rows whose range is empty, whose bounds are null or
    * whose freq_type is unknown produce no slices.
    */
  def explodeSlices(tasks: DataFrame): DataFrame = {
    val cols = tasks.columns.filterNot(Seq("gte_time", "lt_time").contains)
    val gte = col("gte_time").cast("timestamp")
    val lt = col("lt_time").cast("timestamp")
    val freq = col("freq_type")
    val oneDay = expr("INTERVAL 1 DAY")
    // null for 1M and unknown frequencies
    val step = make_dt_interval(lit(0), lit(0),
      when(freq === "5min", 5).when(freq === "1H", 60).when(freq === "1D", 1440), lit(0))
    def monthEnd(m: Column) = add_months(m, 1).cast("timestamp") - oneDay
    // Month-end dates e in [gte, lt - 1d]: candidate month starts spanned by
    // the range, filtered — mirrors pd.date_range(gte, lt - 1d, freq='1M').
    val months = filter(
      sequence(date_trunc("month", gte), date_trunc("month", lt), expr("INTERVAL 1 MONTH")),
      m => monthEnd(m) >= gte && monthEnd(m) <= lt - oneDay)
    // the guards keep `sequence` off empty or inverted ranges, which it rejects
    val starts = when(freq === "1M" && gte + oneDay <= lt, months)
      .when(gte + step <= lt, sequence(gte, lt - step, step))

    tasks
      .withColumn("slice_gte", explode(starts))
      .withColumn("slice_lt",
        when(freq === "1M", add_months(col("slice_gte"), 1).cast("timestamp"))
          .otherwise(col("slice_gte") + step))
      .drop("gte_time", "lt_time")
      .withColumnsRenamed(Map("slice_gte" -> "gte_time", "slice_lt" -> "lt_time"))
      .select((cols.map(col) :+ col("gte_time") :+ col("lt_time")): _*)
  }

  /** The rerun cascade (GetRelatedTimeSplit.py:33-84): one manual-rerun row
    * with flags 5min/1h/1d/1m becomes up to four aligned task rows, one per
    * enabled frequency, with floor/ceil realignment and the month-boundary
    * carry rule. Zero-width rows (gte == lt after alignment) are dropped.
    */
  def cascadeRerun(requests: DataFrame): DataFrame = {
    val gte = col("gte_time").cast("timestamp")
    val lt = col("lt_time").cast("timestamp")

    def variant(flag: String, freq: String, level: Int, g: Column, l: Column) =
      requests.filter(col(flag) === 1)
        .withColumn("assignee", concat(col("report_class"), lit("_" + flag)))
        .withColumn("freq_type", lit(freq))
        .withColumn("level", lit(level))
        .withColumn("gte_time", g)
        .withColumn("lt_time", l)

    val v5 = variant("5min", "5min", 100, gte, lt)
    val v1h = variant("1h", "1H", 200, floorTo(gte, "1H"), ceilTo(lt, "1H"))
    val v1d = variant("1d", "1D", 300, floorTo(gte, "1D"), ceilTo(lt, "1D"))
    val v1m = variant("1m", "1M", 400, floorTo(gte, "1M"), ceilTo(lt, "1M"))

    v5.unionByName(v1h).unionByName(v1d).unionByName(v1m)
      .filter(col("gte_time") =!= col("lt_time"))
      .drop("5min", "1h", "1d", "1m")
  }
}
