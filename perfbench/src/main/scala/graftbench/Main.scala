package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Shared state of one benchmark run: the session, the trace, where inputs
  * and scratch live, and the figures and check outcomes the workload
  * reports back to perfbench/run.py. */
final class Run(val spark: SparkSession, val trace: Trace, val inputs: String,
    val work: String) {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var setupDoneMs = 0L

  def read(name: String): DataFrame = spark.read.parquet(s"$inputs/$name.parquet")

  /** One attempted operation; an exception counts it as failed. */
  def op(what: String)(f: => Unit): Unit = {
    attempted += 1
    try f
    catch { case e: Throwable =>
      failed += 1
      failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
      System.err.println(s"[perfbench] FAILED ${failures.last}")
    }
  }

  /** One correctness check; a mismatch counts as a failed operation. */
  def check(what: String)(ok: => Boolean): Unit =
    op(what) { if (!ok) throw new IllegalStateException("mismatch") }

  /** Ends set-up: later sink-job time counts toward the measured work. */
  def setupDone(): Unit = {
    setupDoneMs = System.currentTimeMillis()
    trace.drain()
    trace.sinkJobMs = 0L
    trace.streamBatches = 0L
    trace.streamBatchMs.clear()
    trace.streamStateRowsMax = 0L
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case c if c < ' ' => " "
    case c => c.toString
  } + "\""
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest whole percentile with at least ten samples above it, and
    * the value there (p0 and the minimum when there are ten or fewer). */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val n = xs.size
    val p = if (n <= 10) 0 else math.floor(100.0 * (n - 10) / n).toInt
    (p, quantile(xs, p / 100.0))
  }

  /** Files and bytes under a directory tree (parquet data files only). */
  def files(path: String): (Long, Long) = {
    val root = new java.io.File(path)
    if (!root.exists) (0L, 0L)
    else {
      val fs = org.apache.commons.io.FileUtils.listFiles(root, Array("parquet"), true)
      import scala.jdk.CollectionConverters._
      val xs = fs.asScala.toSeq
      (xs.size.toLong, xs.map(_.length).sum)
    }
  }
}

/** Entry point: `graftbench.Main --workload W --inputs DIR --work DIR
  * --out FILE --trace 0|1 --seed N --threads T --log-level L`.
  * The session is the engine's own local configuration
  * (graft.Sessions.local) on T threads; scratch locations arrive as -D
  * system properties from perfbench/run.py. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val traced = opts.getOrElse("trace", "0") == "1"
    val spark = graft.Sessions.local(opts("threads").toInt, s"perfbench-$workload")
    spark.sparkContext.setLogLevel(opts("log-level"))
    val runId = s"$workload-${opts("seed")}-${if (traced) "traced" else "timed"}"
    val trace = new Trace(spark, traced, runId)
    val run = new Run(spark, trace, opts("inputs"), opts("work"))
    workload match {
      case "cascade_live" => Live.run(run)
      case "query_sweep" => Sweep.run(run, opts("queries").split(",").toSeq)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (traced) {
      trace.drain()
      run.layer ++= trace.selfSeconds().map { case (l, s) => s"self.${l}_s" -> s }
      java.nio.file.Files.write(java.nio.file.Paths.get(opts("out") + ".trace.json"),
        trace.sidecarJson().getBytes("UTF-8"))
    }
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def obj(m: mutable.LinkedHashMap[String, Double]) =
      m.map { case (k, v) => s""""$k":${if (v.isNaN || v.isInfinite) "null" else v.toString}""" }
        .mkString("{", ",", "}")
    val json =
      s"""{"setup_jvm_s":${(run.setupDoneMs - jvmStart) / 1e3},"attempted":${run.attempted},""" +
        s""""failed":${run.failed},"failures":${run.failures.map(Json.str).mkString("[", ",", "]")},""" +
        s""""e2e":${obj(run.e2e)},"detail":${obj(run.detail)},"layer":${obj(run.layer)}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(opts("out")), json.getBytes("UTF-8"))
    spark.stop()
  }
}
