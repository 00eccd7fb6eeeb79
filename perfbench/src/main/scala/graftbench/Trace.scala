package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Spans at every layer boundary the benchmark calls into, plus Spark and
  * streaming listener counters attributed to the innermost open span.
  *
  * Timing is always on (the workloads need it for their end-to-end
  * figures); span records, job attribution and the listeners exist only
  * when tracing is enabled, so an untraced run pays for a clock read and
  * nothing else. Spans stay in memory and are written as one JSON sidecar.
  */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    startNs: Long, var endNs: Long = -1L)

final class Trace(spark: SparkSession, val enabled: Boolean, runId: String) {

  final class Counters {
    var jobs = 0L
    var taskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var gcMs = 0L
    var bytesWritten = 0L
    def add(o: Counters): Unit = {
      jobs += o.jobs; taskMs += o.taskMs; shuffleBytes += o.shuffleBytes
      spillBytes += o.spillBytes; gcMs += o.gcMs; bytesWritten += o.bytesWritten
    }
  }

  private val SpanKey = "graftbench.span"
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  // listener-thread state
  private val own = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (Long, Boolean)]
  /** Wall time of jobs whose call site is in graft.io.Sinks. */
  var sinkJobMs = 0L
  var streamBatches = 0L
  val streamBatchMs = mutable.ArrayBuffer.empty[Double]
  var streamStateRowsMax = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)
        .getOrElse(-1)
      e.stageIds.foreach(s => stageSpan(s) = sid)
      own.getOrElseUpdate(sid, new Counters).jobs += 1
      val sink = e.stageInfos.exists(_.name.contains("Sinks.scala"))
      jobStart(e.jobId) = (e.time, sink)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (t, sink) => if (sink) sinkJobMs += e.time - t }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val c = own.getOrElseUpdate(stageSpan.getOrElse(e.stageId, -1), new Counters)
        c.taskMs += m.executorRunTime
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
        c.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      streamBatches += 1
      Option(p.durationMs.get("triggerExecution")).foreach(ms => streamBatchMs += ms.doubleValue / 1e3)
      streamStateRowsMax = math.max(streamStateRowsMax, p.stateOperators.map(_.numRowsTotal).sum)
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Run `f` inside a span; the span is recorded only when tracing. */
  def span[T](name: String, layer: String)(f: => T): T = {
    val start = System.nanoTime()
    if (!enabled) f
    else {
      val s = Span(spans.size, name, layer, stack.headOption.getOrElse(-1), start)
      spans += s
      stack = s.id :: stack
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanKey, s.id.toString)
      try f
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
      }
    }
  }

  /** Seconds `f` took, recorded as a span when tracing. */
  def time(name: String, layer: String)(f: => Unit): Double = {
    val start = System.nanoTime()
    span(name, layer)(f)
    (System.nanoTime() - start) / 1e9
  }

  /** Deliver every pending listener event. */
  def drain(): Unit = if (enabled) org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** Counters of each span including its descendants, keyed by span id. */
  def inclusive(): Map[Int, Counters] = synchronized {
    val acc = mutable.Map.empty[Int, Counters]
    own.foreach { case (sid, c) =>
      var cur = sid
      while (cur >= 0) {
        acc.getOrElseUpdate(cur, new Counters).add(c)
        cur = spans(cur).parent
      }
    }
    acc.toMap
  }

  /** Per-family totals: summed inclusive counters of every span named `family`. */
  def family(family: String): Counters = {
    val inc = inclusive()
    val out = new Counters
    spans.filter(_.name == family).foreach(s => inc.get(s.id).foreach(out.add))
    out
  }

  /** Self time per layer over the measured spans (warm-up trees left
    * out): each span's duration minus what its children cover. */
  def selfSeconds(): Map[String, Double] = {
    def warm(s: Span): Boolean = s.name.startsWith("warmup.") || (s.parent >= 0 && warm(spans(s.parent)))
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.filterNot(warm).groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.endNs - s.startNs - childNs(s.id)).sum / 1e9
    }
  }

  /** The span list as JSON: name, layer, start, end (seconds since the
    * trace began), parent id and run id, plus each span's own counters. */
  def sidecarJson(): String = {
    val owned = synchronized(own.toMap)
    spans.map { s =>
      val c = owned.getOrElse(s.id, new Counters)
      f"""{"run":"$runId","id":${s.id},"name":"${s.name}","layer":"${s.layer}","parent":${s.parent},""" +
        f""""start_s":${(s.startNs - t0) / 1e9}%.6f,"end_s":${(s.endNs - t0) / 1e9}%.6f,""" +
        s""""jobs":${c.jobs},"task_ms":${c.taskMs},"shuffle_bytes":${c.shuffleBytes},""" +
        s""""spill_bytes":${c.spillBytes},"gc_ms":${c.gcMs},"bytes_written":${c.bytesWritten}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Spark counters per span family, and the io counters of the measured spans. */
object Families {
  def io(r: Run, families: Seq[String]): Unit = {
    r.layer("io.overwrite_s") = r.trace.sinkJobMs / 1e3
    r.layer("io.bytes_written") = families.map(r.trace.family(_).bytesWritten).sum.toDouble
  }

  def report(r: Run, families: Seq[String]): Unit = {
    families.foreach { f =>
      val c = r.trace.family(f)
      r.layer ++= Seq(
        s"$f.jobs" -> c.jobs.toDouble,
        s"$f.task_s" -> c.taskMs / 1e3,
        s"$f.shuffle_bytes" -> c.shuffleBytes.toDouble,
        s"$f.spill_bytes" -> c.spillBytes.toDouble,
        s"$f.gc_s" -> c.gcMs / 1e3)
    }
  }
}
