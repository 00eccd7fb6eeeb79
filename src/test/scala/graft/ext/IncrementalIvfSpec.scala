package graft.ext

import java.nio.file.{Files, Path}

import graft.SparkTestSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Serving shape of the persisted quantized IVF index: an indexed probe
  * equals the inline formulation bitwise and physically reads only the
  * probed clusters' partitions. */
class IncrementalIvfSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"
  lazy val emb = graft.Tables.embeddings(spark, sf).cache()

  private def tmp(): String = Files.createTempDirectory("graft_ivfq").toString

  private def probed(path: String, queries: org.apache.spark.sql.DataFrame, k: Int) =
    Similarity.cosineTopKIvfQuantizedIndexed(spark, path, queries, k)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))

  test("indexed quantized probe equals the inline formulation bitwise") {
    val dir = tmp()
    Similarity.buildIvfIndexQuantized(emb, dir)
    val queries = emb.filter(col("vec_id") < 10)
    val indexed = probed(dir, queries, 5)
    val inline = Similarity.cosineTopKIvfQuantized(emb, queries, 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    assert(indexed === inline)
  }

  test("probe scans only the probed clusters' partitions (static pruning)") {
    val dir = tmp()
    Similarity.buildIvfIndexQuantized(emb, dir)
    val oneQuery = emb.filter(col("vec_id") === 0)
    val df = Similarity.cosineTopKIvfQuantizedIndexed(spark, dir, oneQuery, k = 3, nprobe = 2)
    // unwrap AQE: collect() on the adaptive root does not descend into it
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val postingsScans = root.collect {
      case s: FileSourceScanExec if s.partitionFilters.nonEmpty => s
    }
    assert(postingsScans.nonEmpty, "the postings scan must carry a partition filter")
    val readPartitions = postingsScans.head.selectedPartitions.partitionCount
    assert(readPartitions <= 2, s"nprobe=2 must read <= 2 partitions, read $readPartitions")
    val totalClusters = spark.read.parquet(s"$dir/postings")
      .select("cluster_id").distinct().count()
    assert(totalClusters > 2, "fixture must spread over more clusters than are probed")
  }
}
