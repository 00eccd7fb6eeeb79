package graftbench

import org.apache.spark.sql.DataFrame
import scala.collection.mutable

/** `query_sweep`: the registered query surface, timed on its output.
  *
  * Each query is built (DataFrame construction, which includes any eager
  * staging, pins, collects and the whole run of a streaming drain) and
  * then materialized with a `noop` write, which executes the full plan and
  * stores nothing. The warm-up pass writes every result as parquet for the
  * DuckDB comparison; one measured pass follows, in the given order. A
  * group's figure is the sum of its queries' build + action times.
  */
object Sweep {
  private val LayerOf = Map("stream" -> "streaming", "report" -> "etl").withDefaultValue("queries")

  def run(r: Run, spec: Seq[String]): Unit = {
    val spark = r.spark
    val tr = r.trace
    val qs = spec.map(_.split(":", 2)).map { case Array(g, n) => (g, n) }
    val registered = graft.SparkEntry.queries
    val out = s"${r.work}/outputs"

    qs.foreach { case (_, n) =>
      r.op(s"warm-up $n")(tr.span(s"warmup.$n", "bench") {
        registered(n)(spark, r.inputs).write.mode("overwrite").parquet(s"$out/$n")
      })
    }
    val oracle = graft.SparkEntry.oracleSql
    java.nio.file.Files.write(java.nio.file.Paths.get(s"${r.work}/oracle_sql.json"),
      qs.map(_._2).filter(oracle.contains)
        .map(n => s"${Json.str(n)}:${Json.str(oracle(n))}").mkString("{", ",\n", "}")
        .getBytes("UTF-8"))
    r.setupDone()

    val build, action = mutable.LinkedHashMap.empty[String, Double]
    qs.foreach { case (g, n) =>
      r.op(n)(tr.span(s"sweep.$g", "bench") {
        var df: DataFrame = null
        build(n) = tr.time(s"queries.$n.build", LayerOf(g)) { df = registered(n)(spark, r.inputs) }
        action(n) = tr.time(s"queries.$n.action", LayerOf(g)) {
          df.write.format("noop").mode("overwrite").save()
        }
      })
    }

    // One sample per query, so the sum of per-query times is also the total.
    val perQuery = qs.collect { case (g, n) if action.contains(n) => (g, build(n) + action(n)) }
    val sweepS = perQuery.map(_._2).sum
    r.e2e("op_p50_s") = sweepS
    r.e2e("work_s") = sweepS
    r.detail("sweep_s") = sweepS
    perQuery.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (g, xs) =>
      r.detail(s"${g}_s") = xs.map(_._2).sum
    }
    r.detail("queries") = qs.size

    if (tr.enabled) {
      tr.drain()
      action.keys.toSeq.sorted.foreach { n =>
        r.layer(s"queries.$n.build_s") = build(n)
        r.layer(s"queries.$n.action_s") = action(n)
      }
      r.layer("streaming.batches") = tr.streamBatches.toDouble
      r.layer("streaming.batch_s") =
        if (tr.streamBatchMs.isEmpty) 0.0 else Stats.median(tr.streamBatchMs.toSeq)
      r.layer("streaming.state_rows_max") = tr.streamStateRowsMax.toDouble
      Families.report(r, qs.map(q => s"sweep.${q._1}").distinct.sorted)
    }
  }
}
