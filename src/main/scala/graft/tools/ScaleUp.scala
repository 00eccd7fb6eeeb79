package graft.tools

import graft.Sessions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Locally replicate the sf0.1 fixtures to ~10x volume (sf1) for the scale
  * gate: every fact table is unioned `copies` times with its key columns
  * offset by a disjoint stride per copy, preserving referential integrity
  * (an order's copy-k lineitems point at the copy-k order/part/supplier)
  * and every distribution the queries aggregate over. Dimensions
  * (region/nation) stay fixed, as a real scale factor would have them.
  *
  *  - events: event_id/user_id offset; `ts` passes through in whatever
  *    physical encoding the source fixture has — TIMESTAMP(NANOS) surfaces
  *    as BIGINT under `nanosAsLong` and is written back as INT64,
  *    TIMESTAMP(MICROS) surfaces as TIMESTAMP_NTZ and is written back as
  *    micros — and graft.Tables.events branches on the loaded schema either
  *    way (window pushdown included).
  *  - documents: text is copied VERBATIM — the dedup surface at sf1 then
  *    contains real 10-way exact/near duplicate groups, which is the honest
  *    stress for the dedup/winnowing/clustering operators (caps and band
  *    joins must absorb 10-way dup groups, not just pairs).
  *  - embeddings: each copy is deterministically perturbed (hash noise,
  *    ~1% of a coordinate) so ANN at sf1 searches 10x distinct vectors
  *    rather than bitwise clones.
  *
  * Optional 4th arg `hotPct` (default 0 = off) plants a genuinely HOT
  * user: that percentage of ALL replicated events is deterministically
  * reassigned (hash of event_id) to one existing copy-0 user. At
  * hotPct=10 over 10 copies the hot user carries ~1500x the median user's
  * events — the `player_name`-skew shape from the reference's report
  * paths (SURVEY §7.4.7), used to prove the per-user aggregation/window
  * queries hold their slopes under skew (AQE skew-join / salted paths
  * engaging) rather than serializing one reducer. The same flag plants a
  * hot PART (hotPct% of all lineitem rows redirected to one copy-0 part) —
  * a co-purchase hub, the hot-node stress for the graph loops (q49/q52).
  *
  * Usage: sbt "runMain graft.tools.ScaleUp [src] [dst] [copies] [hotPct]"
  */
object ScaleUp {
  private val Stride = 1000000000L

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/root/repo/localdata/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val hotPct = args.lift(3).map(_.toInt).getOrElse(0)
    require(hotPct >= 0 && hotPct <= 50, "hotPct must be in [0, 50]")
    val spark = Sessions.local(Sessions.cpus, "graft-scaleup")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def read(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"SCALEUP $name rows=${spark.read.parquet(s"$dst/$name.parquet").count()}")
    }

    /** `copies` unions with each key column offset into its copy's stride. */
    def replicate(df: DataFrame, keys: Seq[String],
        perCopy: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until copies).map { k =>
        perCopy(keys.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(k * Stride))), k)
      }.reduce(_ unionByName _)

    write(read("region"), "region")
    write(read("nation"), "nation")
    write(replicate(read("customer"), Seq("c_custkey")), "customer")
    write(replicate(read("supplier"), Seq("s_suppkey")), "supplier")
    write(replicate(read("part"), Seq("p_partkey")), "part")
    write(replicate(read("orders"), Seq("o_orderkey", "o_custkey")), "orders")
    val lineitem = replicate(read("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey"))
    val lineitemSkewed =
      if (hotPct == 0) lineitem
      else {
        // graph-skew twin of the hot user: one EXISTING copy-0 part absorbs
        // hotPct% of ALL lineitem rows — in the co-purchase graph (q49/q52
        // edges) that part becomes a hub co-bought with ~every other part,
        // the hot-KEY shape for the per-node joins/aggregations of the
        // graph loops (per-basket pair generation itself is size-bounded).
        // Selection hashes (l_orderkey, l_linenumber) so it is deterministic
        // and uniform over baskets.
        val hotPart = read("lineitem").agg(min(col("l_partkey"))).head.getLong(0)
        println(s"SCALEUP hot part=$hotPart pct=$hotPct")
        lineitem.withColumn("l_partkey",
          when(pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(100L)) < hotPct,
            lit(hotPart)).otherwise(col("l_partkey")))
      }
    write(lineitemSkewed, "lineitem")
    val events = replicate(read("events"), Seq("event_id", "user_id"))
    val skewed =
      if (hotPct == 0) events
      else {
        // one EXISTING copy-0 user absorbs hotPct% of every copy's events;
        // selection hashes event_id so the hot subset is deterministic and
        // spread uniformly over time/type (a real celebrity-user shape,
        // not one contiguous block)
        val hotId = read("events").agg(min(col("user_id"))).head.getLong(0)
        println(s"SCALEUP hot user=$hotId pct=$hotPct")
        events.withColumn("user_id",
          when(pmod(xxhash64(col("event_id")), lit(100L)) < hotPct, lit(hotId))
            .otherwise(col("user_id")))
      }
    write(skewed, "events")
    write(replicate(read("documents"), Seq("doc_id")), "documents")
    write(replicate(read("embeddings"), Seq("vec_id"),
      perCopy = (d, k) =>
        if (k == 0) d // copy 0 bitwise-preserves the originals (query set)
        else d.withColumn("embedding", expr(
          // outer cast back to FLOAT: the noise arithmetic promotes to
          // double, and a widened array<double> would poison the union's
          // element type (cosine_sim requires array<float>)
          s"""transform(embedding, (x, j) -> cast(
             |  x + pmod(xxhash64(vec_id * 131071 + j * 31 + $k), 1000) / 50000.0 - 0.01
             |  as float))""".stripMargin))),
      "embeddings")

    spark.stop()
  }
}
