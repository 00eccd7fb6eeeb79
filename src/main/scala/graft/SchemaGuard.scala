package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import scala.util.control.NonFatal

/** One place that states what the engine assumes about each fixture table's
  * LOADED schema, and fails with a named table+column instead of letting a
  * drifted physical encoding surface as a DATATYPE_MISMATCH analysis error
  * five operators deep (round 4's `events.ts` ns->us drift cost 35 queries
  * before anything said "ts changed type").
  *
  * Columns may legitimately ship under more than one physical encoding on a
  * lake with mixed writers — each expectation is therefore a SET of
  * acceptable Spark types, and the adaptive readers in [[Tables]] own the
  * normalization. The guard's job is to catch the third encoding nobody
  * wrote a branch for, by name, up front.
  */
object SchemaGuard {

  /** table -> (column -> acceptable loaded types). Intentionally covers only
    * columns the engine filters/aggregates/joins on — additive drift (new
    * columns) must not fail the guard. */
  private val expected: Map[String, Map[String, Set[DataType]]] = {
    val ts: Set[DataType] = Set(TimestampNTZType, TimestampType, LongType)
    Map(
      "region" -> Map("r_regionkey" -> Set(IntegerType, LongType), "r_name" -> Set(StringType)),
      "nation" -> Map("n_nationkey" -> Set(IntegerType, LongType),
        "n_name" -> Set(StringType), "n_regionkey" -> Set(IntegerType, LongType)),
      "customer" -> Map("c_custkey" -> Set(LongType, IntegerType),
        "c_nationkey" -> Set(IntegerType, LongType),
        "c_acctbal" -> Set(DoubleType), "c_mktsegment" -> Set(StringType)),
      "supplier" -> Map("s_suppkey" -> Set(LongType, IntegerType),
        "s_nationkey" -> Set(IntegerType, LongType), "s_acctbal" -> Set(DoubleType)),
      "part" -> Map("p_partkey" -> Set(LongType, IntegerType),
        "p_size" -> Set(IntegerType, LongType), "p_retailprice" -> Set(DoubleType),
        "p_brand" -> Set(StringType), "p_type" -> Set(StringType)),
      "orders" -> Map("o_orderkey" -> Set(LongType), "o_custkey" -> Set(LongType),
        "o_orderstatus" -> Set(StringType), "o_totalprice" -> Set(DoubleType),
        "o_orderdate" -> Set(TimestampNTZType, TimestampType, DateType)),
      "lineitem" -> Map("l_orderkey" -> Set(LongType), "l_partkey" -> Set(LongType),
        "l_suppkey" -> Set(LongType), "l_quantity" -> Set(DoubleType),
        "l_extendedprice" -> Set(DoubleType), "l_discount" -> Set(DoubleType),
        "l_tax" -> Set(DoubleType), "l_returnflag" -> Set(StringType),
        "l_linestatus" -> Set(StringType),
        "l_shipdate" -> Set(TimestampNTZType, TimestampType, DateType)),
      "events" -> Map("event_id" -> Set(LongType), "user_id" -> Set(LongType),
        "event_type" -> Set(StringType), "value" -> Set(DoubleType),
        // the drift that bit round 4: nanos-as-long vs native micros NTZ
        "ts" -> ts),
      "documents" -> Map("doc_id" -> Set(LongType), "text" -> Set(StringType),
        "lang" -> Set(StringType), "source" -> Set(StringType),
        "n_chars" -> Set(LongType, IntegerType)),
      "embeddings" -> Map("vec_id" -> Set(LongType),
        "embedding" -> Set(ArrayType(FloatType, true), ArrayType(FloatType, false)),
        "label" -> Set(IntegerType, LongType)))
  }

  final case class Violation(table: String, column: String, detail: String) {
    override def toString = s"$table.$column: $detail"
  }

  /** All violations across the fixture dir (missing table / missing column /
    * unexpected loaded type). Empty = every engine assumption holds. */
  def violations(spark: SparkSession, dir: String): Seq[Violation] =
    expected.toSeq.sortBy(_._1).flatMap { case (table, cols) =>
      val path = s"$dir/$table.parquet"
      val loaded =
        if (!graft.io.Sinks.exists(spark, path)) Left("table missing")
        else
          try {
            // events needs the nanosAsLong branch-point visible, same as Tables
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            Right(spark.read.parquet(path).schema)
          } catch { case NonFatal(e) => Left(s"table unreadable ($e)") }
      loaded match {
        case Left(why) => Seq(Violation(table, "*", s"$why at $path"))
        case Right(schema) =>
          val byName = schema.fields.map(f => f.name -> f.dataType).toMap
          cols.toSeq.sortBy(_._1).flatMap { case (name, ok) =>
            byName.get(name) match {
              case None => Some(Violation(table, name, "column missing"))
              case Some(t) if !ok.contains(t) =>
                Some(Violation(table, name,
                  s"loaded as $t, engine supports ${ok.mkString("{", ", ", "}")}"))
              case _ => None
            }
          }
      }
    }

  /** Throws with every violation listed (not just the first) so one run of
    * the guard reports the whole drift, named per table.column. */
  def check(spark: SparkSession, dir: String): Unit = {
    val v = violations(spark, dir)
    if (v.nonEmpty)
      throw new IllegalStateException(
        s"fixture schema drift at $dir (${v.size} violation(s)):\n  " + v.mkString("\n  "))
  }
}
