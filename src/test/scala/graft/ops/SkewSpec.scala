package graft.ops

import graft.SparkTestSession
import graft.etl.TestData
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SkewSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  lazy val vlog = TestData.valueLog(spark).cache()

  test("salted aggregation equals the direct groupBy (sums, counts, min/max)") {
    val direct = vlog.groupBy("player_name")
      .agg(sum("value").as("v"), count("value").as("n"),
        min("value").as("mn"), max("value").as("mx"))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    // counts alias must differ from the min/max input col to avoid name clash
    val salted = Skew.saltedAgg(vlog, Seq("player_name"), buckets = 8)(
      sums = Seq("value"), counts = Seq(("trade_type", "n")),
      mins = Seq("before_value"), maxs = Seq("after_value"))
      .collect()
      .map(r => (r.getAs[String]("player_name"),
        (r.getAs[Double]("value"), r.getAs[Long]("n"),
          r.getAs[Double]("before_value"), r.getAs[Double]("after_value"))))
      .toMap
    assert(direct.keySet === salted.keySet)
    direct.foreach { case (k, (v, n, mn, mx)) =>
      val (sv, sn, smn, smx) = salted(k)
      assert(math.abs(sv - v) < 1e-9, s"sum mismatch for $k")
      assert(sn === n, s"count mismatch for $k")
      // min of before_value = 2*min(value); max of after_value = 0.9*max(value)
      assert(math.abs(smn - 2 * mn) < 1e-9, s"min mismatch for $k")
      assert(math.abs(smx - 0.9 * mx) < 1e-9, s"max mismatch for $k")
    }
  }
}
