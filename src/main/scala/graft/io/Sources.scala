package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Ingest readers for semi-structured drops (the path a training-data
  * pipeline feeds from: JSONL/CSV landed by upstream producers).
  *
  * Scale rules encoded here:
  *  - ALWAYS an explicit schema. Schema inference is a full extra pass over
  *    the data before the real read — at 100 TB that is the difference
  *    between one scan and two. It also silently widens types on dirty data.
  *  - PERMISSIVE + a corrupt-record column, not FAILFAST: one malformed line
  *    among billions must quarantine, not kill the job; DROPMALFORMED is
  *    worse (silent row loss with no audit trail).
  *  - The quarantine SPLIT happens in one read: good rows continue with the
  *    declared schema, bad raw lines park in a side table for replay/triage
  *    — the same split-on-read discipline the report cascade applies to
  *    late data (rerun boards, not dropped slices).
  */
object Sources {

  val CorruptCol = "_corrupt_record"

  /** Read JSON-lines with the declared schema; returns (good, quarantined).
    * `good` has exactly `schema`'s columns; `quarantined` is one string
    * column `raw` holding each malformed line verbatim. */
  def jsonl(spark: SparkSession, path: String, schema: StructType): (DataFrame, DataFrame) = {
    val withCorrupt = StructType(schema.fields :+ StructField(CorruptCol, StringType))
    val raw = spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .json(path)
      // Spark requires caching/materializing before filtering on the corrupt
      // column alone (the lazy parser would otherwise prune the data columns
      // and report nothing as corrupt)
      .cache()
    val good = raw.filter(col(CorruptCol).isNull).select(schema.fieldNames.map(col): _*)
    val bad = raw.filter(col(CorruptCol).isNotNull).select(col(CorruptCol).as("raw"))
    (good, bad)
  }

  /** ORC interchange (the other columnar format large pipelines exchange —
    * Hive-era lakes land ORC): declared-schema read so a drifting upstream
    * writer surfaces as an analysis error, not silently-null columns. Writes
    * are plain `df.write.orc` — predicate pushdown/column pruning work as
    * with parquet (ORC is a first-class Spark V1 source). */
  def orc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** Same discipline for CSV drops (header'd, declared schema). */
  def csv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): (DataFrame, DataFrame) = {
    val withCorrupt = StructType(schema.fields :+ StructField(CorruptCol, StringType))
    val raw = spark.read
      .schema(withCorrupt)
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .csv(path)
      .cache()
    val good = raw.filter(col(CorruptCol).isNull).select(schema.fieldNames.map(col): _*)
    val bad = raw.filter(col(CorruptCol).isNotNull).select(col(CorruptCol).as("raw"))
    (good, bad)
  }
}
