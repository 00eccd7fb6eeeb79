package graft

import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("Bench times the output: a column nothing reads is evaluated, and its failure is reported") {
    val spark = SparkTestSession.spark
    // a count() prunes `unread` and passes; a write of the output evaluates it
    val boom = udf((id: Long) => if (id >= 0) throw new IllegalStateException("evaluated") else id)
    val results = Bench.measure(spark, Seq(
      "plain" -> (_.range(0, 4, 1, 1).toDF("id")),
      "unread_fails" -> (_.range(0, 4, 1, 1).withColumn("unread", boom(col("id"))))))
    val line = Bench.report(results, 0.0, "artifact", "sf")

    assert(results.toMap.apply("plain").isDefined)
    assert(line.contains(""""unread_fails":-1"""), line)
    assert(line.contains(""""failed":["unread_fails"]"""), line)
    assert(line.contains(""""action":"noop""""), line)
  }
}
