package graft.tools

import graft.Sessions

/** Dev tool: dump formatted physical plans for the harness queries so the
  * scan pushdown / join strategy / codegen coverage can be reviewed.
  * Usage: runMain graft.tools.ExplainPlans [queryName ...]
  */
object ExplainPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Sessions.local(Sessions.cpus, "graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    val wanted = if (args.nonEmpty) args.toSet else graft.SparkEntry.queries.keySet
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted(n) }
      .foreach { case (name, fn) =>
        println(s"\n===== $name =====")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
