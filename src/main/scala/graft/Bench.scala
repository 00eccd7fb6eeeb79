package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main — one JSON line with per-query wall times.
  *
  * An untimed warm-up pass (JIT, codegen cache, parquet footer cache,
  * broadcast warm), then `Passes` timed passes over the query set in sorted
  * name order. Without the warm-up the first query absorbs ~10 s of
  * JVM/session startup and the numbers are noise.
  *
  * Each query is timed on its output: building the DataFrame (which includes
  * any eager staging, pins, collects and the whole run of a streaming drain)
  * is timed apart from materializing it with a `noop` write, which executes
  * the full plan and stores nothing. A `count()` would let Catalyst prune
  * every column it does not need, and with them joins, windows and
  * generators. Per query the line carries the median build, action and total
  * over the passes and the min–max of the total; with this few samples a
  * tail percentile would be no tail, so none is reported.
  */
object Bench {

  /** Timed passes per query; every figure is a median over them. */
  val Passes = 3

  /** One query's medians over the timed passes, in seconds, and the
    * min–max of its per-pass totals. */
  private[graft] final case class Timing(build: Double, action: Double, total: Double,
      min: Double, max: Double)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Build `df` and materialize it with a noop write: (build s, action s). */
  private def timeOnce(df: => DataFrame): (Double, Double) = {
    val t0 = System.nanoTime()
    val built = df
    val t1 = System.nanoTime()
    built.write.format("noop").mode("overwrite").save()
    ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
  }

  /** The warm-up pass, then `Passes` timed passes of every query in order.
    * A query that throws in a timed pass is `None` — a broken query must
    * never masquerade as a fast one — and is not run again. */
  private[graft] def measure(spark: SparkSession,
      queries: Seq[(String, SparkSession => DataFrame)]): Seq[(String, Option[Timing])] = {
    queries.foreach { case (_, q) =>
      try timeOnce(q(spark)) catch { case _: Throwable => () }
    }
    val samples = queries.map(_._1 -> Seq.newBuilder[(Double, Double)]).toMap
    val failed = scala.collection.mutable.Set[String]()
    (1 to Passes).foreach { _ =>
      queries.filterNot(q => failed(q._1)).foreach { case (name, q) =>
        try samples(name) += timeOnce(q(spark))
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          failed += name
        }
      }
    }
    queries.map { case (name, _) =>
      val s = samples(name).result()
      val totals = s.map { case (b, a) => b + a }
      name -> Option.when(!failed(name))(
        Timing(median(s.map(_._1)), median(s.map(_._2)), median(totals), totals.min, totals.max))
    }
  }

  // 3 decimals (ms resolution): the full double repr made the line ~1 KB
  // longer than a tail-bounded capture window, which then cut the HEAD of
  // the line. Wall-clock noise is >1 ms anyway.
  private def fmt(v: Double): String =
    if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** The JSON line: headline keys, `queries` holding each query's median
    * total (-1 for a failed one), then the build/action medians and the
    * total's min–max of the queries that succeeded. */
  private[graft] def report(results: Seq[(String, Option[Timing])], controlSec: Double,
      artifact: String, sfDir: String): String = {
    def obj(f: Timing => String): String = results.collect { case (n, Some(t)) =>
      "\"" + n + "\":" + f(t)
    }.mkString("{", ",", "}")
    val qs = results.map { case (n, t) => "\"" + n + "\":" + fmt(t.fold(-1.0)(_.total)) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (n, None) => n }
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.flatMap(_._2).map(_.total).sum
    // headline keys are duplicated at the TAIL of the line: a bounded tail
    // capture drops the HEAD of an over-long line (round 7's artifact lost
    // "metric"/"value"/most of "queries" that way), so everything a
    // round-over-round comparison needs to survive truncation — totals,
    // control, failure count, the artifact path holding the full line —
    // sits after the big maps
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,""" +
      s""""build_sec":${obj(t => fmt(t.build))},"action_sec":${obj(t => fmt(t.action))},""" +
      s""""spread_sec":${obj(t => s"[${fmt(t.min)},${fmt(t.max)}]")},"failed":$failedJson,""" +
      s""""action":"noop","passes":$Passes,"control_sec":${fmt(controlSec)},""" +
      s""""total_sec":${fmt(total)},"n_queries":${results.size},"n_failed":${failed.size},""" +
      s""""artifact":"$artifact","sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val artifact = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/bench_last.json")
    val spark = Sessions.local(Sessions.cpus, "graft-bench")

    // name fixture drift up front (warn, don't abort — unaffected queries
    // should still record; the failed list carries the blast radius)
    SchemaGuard.violations(spark, sfDir)
      .foreach(v => System.err.println(s"[bench] SCHEMA DRIFT: $v"))

    // SPARK_GRAFT_ONLY=q1_x,q2_y runs a subset (hotspot iteration)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val registered = SparkEntry.queries
    val names = registered.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // the control is data-independent pure CPU (no IO, no shuffle skew): its
    // ratio across boots is the host-noise factor a cross-run comparison
    // should divide out before blaming a plan change. It leads every pass.
    // Per-term mod keeps every partial sum under 2e8 * 1e9 = 2e17 << 2^63
    // (ANSI mode makes a long-overflowing sum a task failure, not a wrap).
    val control: SparkSession => DataFrame =
      _.range(200L * 1000 * 1000).selectExpr("sum((id * 2654435761) % 1000000007)")
    val timed = measure(spark, ("_control" -> control) +:
      names.map(n => n -> ((s: SparkSession) => registered(n)(s, sfDir))))
    val controlSec = timed.head._2.fold(-1.0)(_.total)
    val results = timed.tail
    val line = report(results, controlSec, artifact, sfDir)
    // belt and braces: persist the full JSON as a file artifact too, so the
    // recorded number is self-contained even if a stdout capture truncates
    try java.nio.file.Files.write(java.nio.file.Paths.get(artifact),
      (line + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    val nFailed = results.count(_._2.isEmpty)
    // compact companion line FIRST (stderr, [bench]-prefixed so no JSON-line
    // parser can mistake it for the artifact): the human-readable summary a
    // bounded capture keeps even when the full line is cut mid-queries
    System.err.println(s"[bench] summary total=${fmt(results.flatMap(_._2).map(_.total).sum)}s " +
      s"control=${fmt(controlSec)}s queries=${results.size} failed=$nFailed artifact=$artifact")
    // stop BEFORE printing: the JSON line must be the last thing on the
    // merged stdout/stderr so a line-oriented parser can't trip over a
    // stop-time warning trailing it
    spark.stop()
    println(line)
    if (nFailed > 0) sys.exit(1)
  }
}
