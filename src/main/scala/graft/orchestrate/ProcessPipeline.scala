package graft.orchestrate

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's pipeline runner + error monitoring, re-expressed
  * (task-producer/utils/PipelineUtils.py:9-36, monitor/ErrorHandler.py).
  *
  * A pipeline threads an optional DataFrame through named steps; each step
  * retries with a fixed delay, and an unrecoverable failure is recorded to
  * the error ledger and pushed through the notifier before the pipeline
  * halts (the reference appends to an error_log table and sends a Telegram
  * message — here the notifier is a seam: no messaging egress exists in
  * this environment, so the default logs, and a production deployment plugs
  * its own transport in).
  */
object ProcessPipeline {

  /** One pipeline stage (PipelineUtils.ProcessStep). */
  trait Step {
    def name: String
    def process(data: Option[DataFrame], spark: SparkSession): Option[DataFrame]
  }

  def step(stepName: String)(fn: (Option[DataFrame], SparkSession) => Option[DataFrame]): Step =
    new Step {
      val name: String = stepName
      def process(data: Option[DataFrame], spark: SparkSession): Option[DataFrame] = fn(data, spark)
    }

  /** Failure record shape (monitor/ErrorHandler.py:13-20 error_log row). */
  case class PipelineError(pipeline: String, process: String, content: String,
      traceback: String, ts: java.sql.Timestamp)

  /** Alert transport seam (monitor/TGMessage.py). */
  trait Notifier extends Serializable {
    def send(title: String, error: PipelineError): Unit
  }

  /** The alert payload in the reference's message shape (TGMessage.py:12-20
    * builds exactly this title + field block before sending). Shared by every
    * transport so a swap of transport never changes what on-call reads. */
  def formatAlert(title: String, e: PipelineError): String =
    s"""***** $title Error *****
       |pipeline: ${e.pipeline}
       |process: ${e.process}
       |content: ${e.content}
       |time: ${e.ts}
       |""".stripMargin

  /** Default transport: structured log line (no egress in this env). */
  object LogNotifier extends Notifier {
    override def send(title: String, e: PipelineError): Unit =
      System.err.println(formatAlert(title, e))
  }

  /** Run the steps in order with per-step retry; on exhaustion, persist the
    * error to `errorLogPath` (append) + notify, and halt — mirroring the
    * reference's break-on-failure semantics. Returns the last step output on
    * success, or the error on halt. A fatal error or an interrupt is not a
    * step failure: it propagates at once, unretried and unrecorded. */
  def run(spark: SparkSession, pipelineName: String, steps: Seq[Step],
      errorLogPath: Option[String] = None,
      notifier: Notifier = LogNotifier,
      tries: Int = 3, delayMs: Long = 5000,
      clock: () => java.sql.Timestamp = () => new java.sql.Timestamp(System.currentTimeMillis())): Either[PipelineError, Option[DataFrame]] = {
    var data: Option[DataFrame] = None
    for (s <- steps) {
      var attempt = 0
      var done = false
      var lastError: Throwable = null
      while (!done && attempt < tries) {
        try {
          data = s.process(data, spark)
          done = true
        } catch {
          case scala.util.control.NonFatal(e) =>
            lastError = e
            attempt += 1
            if (attempt < tries) Thread.sleep(delayMs)
        }
      }
      if (!done) {
        val err = PipelineError(pipelineName, s.name,
          String.valueOf(lastError),
          lastError.getStackTrace.take(10).mkString("\n"), clock())
        errorLogPath.foreach { path =>
          import spark.implicits._
          graft.io.Sinks.append(Seq(err).toDS().toDF(), path)
        }
        notifier.send(pipelineName, err)
        return Left(err)
      }
    }
    Right(data)
  }
}
