package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Writers for the report tables.
  *
  * The reference's idempotency story is delete-before-insert per slice
  * (trans_summary_5min.py:104-128 — S4). The Spark-native equivalent is
  * dynamic partition overwrite: report tables are parquet partitioned by
  * their slice keys (summary_date [, hours [, mins]]), and a rewrite of a
  * slice replaces exactly the partitions present in the incoming DataFrame.
  * Re-running a slice is therefore naturally idempotent, and concurrent
  * slices touch disjoint partitions.
  *
  * At 100 TB: partitioning by summary_date keeps partition counts bounded
  * (365/yr × ~few files); platform/site stay row-level (high cardinality ×
  * date would explode the partition count and kill the driver's listing).
  */
object Sinks {

  /** S4: idempotent slice overwrite (delete-before-insert). Only partitions
    * present in `df` are replaced. */
  def overwriteSlices(df: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      df.write
        .mode(SaveMode.Overwrite)
        .partitionBy(partitionCols: _*)
        .parquet(path)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  /** Key-level delete-before-insert (upsert): replace exactly the rows whose
    * `keyCols` match an incoming row, keep every other row of the touched
    * partitions, leave untouched partitions alone.
    *
    * Why it exists: `overwriteSlices` is partition-granular, which is correct
    * only when the writer always supplies a COMPLETE partition. An update-mode
    * streaming aggregation emits just the groups a micro-batch changed, so a
    * late row that updates one group of an already-written slice must not
    * wipe the slice's other groups — that is the reference's row-level
    * DELETE WHERE keys / INSERT semantics
    * (task-executor/trans_summary/trans_summary_5min.py:104-128), and without
    * Delta-style MERGE support in the environment, read-merge-overwrite over
    * the PRUNED set of touched partitions is the Spark-native equivalent
    * (same shape as RiskCtrl.rtpLedgerMerge).
    *
    * Shape, four Spark jobs per upsert (SinksSpec counts them):
    *  - the batch is materialized once (`localCheckpoint`), because it may
    *    come off a streaming `foreachBatch` plan and is read three times
    *    below (a batch whose own plan shuffles adds its stages here);
    *  - its touched partition values are deduplicated inside each batch
    *    partition and collected (one job, no shuffle);
    *  - the existing table is read with the batch's schema (no footer
    *    inference job), pruned to the touched partitions, and anti-joined
    *    against the broadcast batch keys (one job; a left-anti join needs no
    *    unique build keys, so there is no `distinct`);
    *  - survivors ∪ batch go straight to a dynamic partition overwrite (one
    *    job). Reading the partitions being replaced is safe here: dynamic
    *    overwrite stages the new files under `.spark-staging-*` and deletes
    *    a target partition only at job commit, after every task has read
    *    it, so the merge needs no second pin.
    *
    * Cost model at 100 TB (vs a transactional MERGE, unavailable here — no
    * Delta/Iceberg jars in the environment): write amplification is bounded
    * by the TOUCHED partitions, not the table — `cost = O(Σ size(touched
    * partitions))`, with the partition count per batch bounded by the
    * batch's own key spread (a 5-min late-data batch touches 1–2 days). A
    * Delta MERGE would rewrite only the touched FILES within those
    * partitions — the delta is one more level of pruning, material only
    * when single partitions are huge; daily partitions at ~100 GB keep the
    * rewrite under a minute per touched day on a 1000-executor cluster.
    * SinksSpec asserts the bound physically (untouched partitions'
    * part-files survive an upsert byte-identical, by size+mtime snapshot);
    * StreamRecoverySpec asserts it at row level for the streaming path.
    * Full cost model: BASELINE.md "Read-merge-overwrite cost model".
    */
  def upsertSlices(batch: DataFrame, path: String, partitionCols: Seq[String],
      keyCols: Seq[String]): Unit = {
    require(partitionCols.forall(keyCols.contains),
      "partition columns must be part of the upsert key")
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val spark = batch.sparkSession
    val b = batch.localCheckpoint() // batch may come off a streaming plan
    val touched = b.select(partitionCols.map(col): _*).rdd
      .mapPartitions(_.toSet.iterator).collect().distinct
    if (touched.isEmpty) return
    // read with the batch's schema: an existing directory without data files
    // reads as empty instead of failing schema inference
    val merged =
      if (!exists(spark, path)) b
      else {
        val old = spark.read.schema(b.schema).parquet(path)
        // Null-SAFE equality throughout: a group key or partition value of
        // NULL is legal (e.g. an unknown country), and `===` would let the
        // stale NULL-key row survive the anti-join (duplicate groups) or
        // turn the partition filter into all-null (wiping siblings).
        val partFilter = touched.map(r => partitionCols.zipWithIndex
          .map { case (c, i) => col(c) <=> lit(r.get(i)) }
          .reduce(_ && _)).reduce(_ || _)
        val bKeys = b.select(keyCols.map(col): _*).alias("bk")
        val anti = keyCols.map(c => col(s"old.$c") <=> col(s"bk.$c")).reduce(_ && _)
        val survivors = old.filter(partFilter).alias("old")
          .join(broadcast(bKeys), anti, "left_anti")
        survivors.select(b.columns.map(col): _*).unionByName(b)
      }
    overwriteSlices(merged, path, partitionCols)
  }

  /** S3: plain append (task publication, first write of a table). */
  def append(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path)

  /** Bucketed table write: pre-shuffles once at write time so every later
    * join/aggregation on `bucketCols` is co-located — no exchange in the
    * plan. The 100 TB pattern for the rollup cascade: the 5min/1h/1d tiers
    * all key on the same player columns, so bucketing the materialized tiers
    * makes every re-aggregation and every risk-report join shuffle-free.
    * (Bucketing needs the catalog, hence saveAsTable rather than a path.) */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      numBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Read a report table back with its stored schema. A table that was
    * never written, or whose directory holds no data files yet, reads as an
    * empty DataFrame with the given schema. */
  def readOrEmpty(spark: SparkSession, path: String, schema: org.apache.spark.sql.types.StructType): DataFrame = {
    def empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    if (!exists(spark, path)) empty
    else try spark.read.parquet(path)
    catch { case _: org.apache.spark.sql.AnalysisException => empty } // no file to infer from
  }

  /** Asks the path's Hadoop filesystem. Reading a missing path fails too, but
    * only after Spark logs the listing's FileNotFoundException. */
  private[graft] def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
