package graft.time

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the slicer (SURVEY §5.3): slices tile `[gte, lt)`
  * exactly — no overlap, no gap, total span preserved — and floor/ceil are
  * idempotent projections. Samples are seeded-pseudo-random and checked
  * column-wise in one Spark pass per property (not one job per sample).
  */
class SlicerPropSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val base = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)

  test("property: fixed-freq slices tile the aligned range exactly") {
    // months and odd rows (unknown freq, null bound, empty or inverted range)
    // ride in the same frame: one expression slices every frequency
    def ts(t: java.time.LocalDateTime) = java.sql.Timestamp.valueOf(t)
    // (case, freq, gte, lt, expected slice count, expected covered span)
    val fixed = for {
      freq <- Seq("5min", "1H", "1D")
      startUnits <- Seq(0L, 3L, 17L)
      n <- Seq(1L, 7L, 48L)
    } yield {
      val unitMin = freq match { case "5min" => 5L; case "1H" => 60L; case "1D" => 1440L }
      val gte = ts(base.plusMinutes(startUnits * unitMin))
      val lt = ts(base.plusMinutes((startUnits + n) * unitMin))
      (s"$freq/$startUnits/$n", freq, gte, lt, n, (gte, lt))
    }
    val jan1 = ts(base)
    val mar1 = ts(base.plusMonths(2))
    val noLt = null.asInstanceOf[java.sql.Timestamp]
    val odd = Seq(
      ("1M/aligned", "1M", ts(base.minusMonths(2)), ts(base.plusMonths(3)), 5L,
        (ts(base.minusMonths(2)), ts(base.plusMonths(3)))),
      // misaligned: slices snap to whole months whose end lies in [gte, lt - 1d]
      ("1M/misaligned", "1M", ts(base.plusDays(14)), ts(base.plusMonths(2).plusDays(9)), 2L,
        (jan1, mar1)),
      ("unknown-freq", "7min", jan1, mar1, 0L, null),
      ("null-lt/5min", "5min", jan1, noLt, 0L, null),
      ("null-lt/1M", "1M", jan1, noLt, 0L, null),
      ("empty/1H", "1H", mar1, mar1, 0L, null),
      ("empty/1M", "1M", mar1, mar1, 0L, null),
      ("inverted/1M", "1M", mar1, jan1, 0L, null))
    val cases = fixed ++ odd
    val tasks = cases.map { case (id, f, g, l, _, _) => (id, f, g, l) }
      .toDF("case_id", "freq_type", "gte_time", "lt_time")
    val sliced = Slicer.explodeSlices(tasks)

    // count per case == n
    val counts = sliced.groupBy("case_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    cases.foreach { case (id, _, _, _, n, _) => assert(counts.getOrElse(id, 0L) === n, s"case $id") }

    // tiling: min gte == span start, max lt == span end, sum of widths == span
    val agg = sliced
      .withColumn("width", unix_timestamp(col("lt_time")) - unix_timestamp(col("gte_time")))
      .groupBy("case_id")
      .agg(min("gte_time").as("mn"), max("lt_time").as("mx"), sum("width").as("w"))
      .collect().map(r => r.getString(0) -> r).toMap
    cases.filter(_._5 > 0).foreach { case (id, _, _, _, _, (g, l)) =>
      val r = agg(id)
      assert(r.getAs[java.sql.Timestamp]("mn") === g, s"case $id min")
      assert(r.getAs[java.sql.Timestamp]("mx") === l, s"case $id max")
      assert(r.getAs[Long]("w") === (l.getTime - g.getTime) / 1000, s"case $id width: gap or overlap")
    }
  }

  test("property: floor/ceil are idempotent, ordered, and boundary-stable") {
    val rng = new scala.util.Random(42)
    val samples = (1 to 200).map { _ =>
      // mix of arbitrary instants and exact boundaries
      val m = rng.nextInt(400 * 24 * 60).toLong
      val minutes = if (rng.nextBoolean()) m - m % 60 else m
      java.sql.Timestamp.valueOf(base.plusMinutes(minutes))
    }
    for (freq <- Seq("5min", "1H", "1D", "1M")) {
      val df = samples.map(Tuple1(_)).toDF("ts").select(
        col("ts"),
        Slicer.floorTo(col("ts"), freq).as("f"),
        Slicer.ceilTo(col("ts"), freq).as("c"),
        Slicer.floorTo(Slicer.floorTo(col("ts"), freq), freq).as("ff"),
        Slicer.ceilTo(Slicer.ceilTo(col("ts"), freq), freq).as("cc"))
      val bad = df.filter(
        col("f") > col("ts") || col("c") < col("ts") ||
          col("ff") =!= col("f") || col("cc") =!= col("c") ||
          (col("f") === col("ts") && col("c") =!= col("ts")))
      assert(bad.isEmpty, s"freq $freq violated floor/ceil invariants: ${bad.head(3).mkString}")
    }
  }

  test("property: every emitted slice is whole (lt - gte == one unit) for fixed freqs") {
    val tasks = (0 until 20).map { i =>
      (s"t$i", Seq("5min", "1H", "1D")(i % 3),
        java.sql.Timestamp.valueOf(base.plusMinutes(i * 37L)),
        java.sql.Timestamp.valueOf(base.plusMinutes(i * 37L + 2000L)))
    }.toDF("case_id", "freq_type", "gte_time", "lt_time")
    val bad = Slicer.explodeSlices(tasks)
      .withColumn("width_s", unix_timestamp(col("lt_time")) - unix_timestamp(col("gte_time")))
      .withColumn("expect_s",
        when(col("freq_type") === "5min", 300L)
          .when(col("freq_type") === "1H", 3600L)
          .otherwise(86400L))
      .filter(col("width_s") =!= col("expect_s"))
    assert(bad.isEmpty)
  }
}
