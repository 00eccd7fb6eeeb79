package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot grouping/join keys (SURVEY §7.4.7: player_name is
  * the natural hot key — a whale player can dominate a partition).
  *
  * [[saltedAgg]] is a two-stage aggregation. Stage 1 groups on
  * (keys, salt = hash(row) % buckets) so a hot key's rows spread over
  * `buckets` reducers; stage 2 merges the partials on the true keys. For
  * algebraic aggregates (sum/count/min/max) the result is identical to the
  * direct groupBy — at the cost of a second (tiny) shuffle.
  *
  * AQE's skew-join handling (on by default in the engine's sessions) covers
  * sort-merge joins automatically; aggregations need the salt.
  */
object Skew {

  /** Two-stage salted aggregation: `aggs` are (inputCol -> agg builder)
    * pairs applied per stage. Supports the algebraic aggregates the reports
    * use: sum, count (re-summed), min, max. */
  def saltedAgg(df: DataFrame, keys: Seq[String], buckets: Int)(
      sums: Seq[String] = Nil, counts: Seq[(String, String)] = Nil,
      mins: Seq[String] = Nil, maxs: Seq[String] = Nil): DataFrame = {
    require(buckets > 1, "buckets must be > 1")
    // content-derived salt: a pure function of the row, so it is identical
    // across task retries AND across partition relayouts (the previous
    // monotonically_increasing_id salt was retry-stable but depended on the
    // physical partition layout). Degenerate caveat: a hot key consisting of
    // BITWISE-IDENTICAL rows hashes to one bucket — real skew (one player,
    // many distinct rows) spreads; the algebraic merge is correct either way.
    val salted = df.withColumn("_salt",
      pmod(xxhash64(struct(df.columns.map(col): _*)), lit(buckets)))

    val stage1 = salted
      .groupBy((keys :+ "_salt").map(col): _*)
      .agg(
        (sums.map(c => sum(col(c)).as(s"_s_$c")) ++
          counts.map { case (c, alias) => count(col(c)).as(s"_c_$alias") } ++
          mins.map(c => min(col(c)).as(s"_mn_$c")) ++
          maxs.map(c => max(col(c)).as(s"_mx_$c"))).head,
        (sums.map(c => sum(col(c)).as(s"_s_$c")) ++
          counts.map { case (c, alias) => count(col(c)).as(s"_c_$alias") } ++
          mins.map(c => min(col(c)).as(s"_mn_$c")) ++
          maxs.map(c => max(col(c)).as(s"_mx_$c"))).tail: _*)

    stage1
      .groupBy(keys.map(col): _*)
      .agg(
        (sums.map(c => sum(col(s"_s_$c")).as(c)) ++
          counts.map { case (_, alias) => sum(col(s"_c_$alias")).as(alias) } ++
          mins.map(c => min(col(s"_mn_$c")).as(c)) ++
          maxs.map(c => max(col(s"_mx_$c")).as(c))).head,
        (sums.map(c => sum(col(s"_s_$c")).as(c)) ++
          counts.map { case (_, alias) => sum(col(s"_c_$alias")).as(alias) } ++
          mins.map(c => min(col(s"_mn_$c")).as(c)) ++
          maxs.map(c => max(col(s"_mx_$c")).as(c))).tail: _*)
  }
}
