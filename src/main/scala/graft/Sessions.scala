package graft

import org.apache.spark.sql.SparkSession

/** Session factory encoding the engine's recommended configuration.
  *
  * `local(n)` is the test/bench shape (single JVM, n threads); `tuned` holds
  * the conf that carries to a real cluster unchanged:
  *  - AQE on, with skew-join handling (hot player_name keys) and partition
  *    coalescing (small slices after pruning collapse into few tasks)
  *  - shuffle partitions sized to the parallelism at hand, not the 200
  *    default (on a 1000-executor cluster this is set to ~2-3x total cores;
  *    AQE coalescing then right-sizes each stage downward)
  *  - 128 MiB file-split targets so a 100 TB scan yields ~800k well-sized
  *    tasks instead of millions of tiny ones
  *  - UTC session time zone (oracle parity and sane event-time semantics)
  */
object Sessions {

  def tuned(builder: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    builder
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")

  /** Executor threads for a `runMain` tool's local session:
    * `SPARK_GRAFT_CPUS`, else one per core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** Local session: n executor threads, UI off. */
  def local(n: Int, appName: String = "graft"): SparkSession = {
    val s = tuned(SparkSession.builder().master(s"local[$n]").appName(appName), n)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
