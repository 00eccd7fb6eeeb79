package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns: images/audio/video as opaque `binary` payloads with
  * typed metadata, plus the decode / feature-extract / resize / frame-sample
  * stages a training-data pipeline needs.
  *
  * The Spark-side plumbing is real — schemas, partition-friendly batch
  * processing via mapPartitions (the JVM analogue of mapInPandas: one
  * iterator per partition, amortized per-batch setup), typed stage
  * signatures, deterministic outputs. The actual codec is STUBBED (no
  * image/audio library ships with the engine): `FakeCodec` derives
  * deterministic pseudo-features from the bytes so every downstream stage is
  * testable end-to-end. A real codec replaces `FakeCodec`'s four methods and
  * touches no plumbing.
  *
  * Scale notes: payloads stay opaque binary until the decode stage runs
  * inside mapPartitions — no driver collection, no shuffle of payload bytes
  * unless the caller repartitions. Metadata-only transforms (routing,
  * filtering, budgeting by size/kind) never deserialize the payload, and
  * column pruning means a metadata query never reads the binary pages of the
  * parquet at all.
  */
object Multimodal {

  /** Decoded-feature schema produced by the decode stage. */
  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("feature", ArrayType(FloatType), nullable = false),
    StructField("feature_dim", IntegerType, nullable = false),
    StructField("decode_ok", BooleanType, nullable = false)))

  /** Deterministic stand-in codec, the stages' implementation: features are
    * seeded by a rolling hash of the payload so identical bytes always
    * produce identical features — making dedup/similarity over media
    * testable without real decoders. */
  private object FakeCodec {
    private def rollingHash(bytes: Array[Byte]): Long = {
      var h = 1125899906842597L
      var i = 0
      while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
      h
    }
    /** bytes -> fixed-dim feature vector, or None when undecodable. */
    def decode(kind: String, payload: Array[Byte], dim: Int): Option[Array[Float]] = {
      if (payload == null || payload.isEmpty) return None
      val seed = rollingHash(bytes = payload)
      val out = new Array[Float](dim)
      var x = seed
      var i = 0
      while (i < dim) {
        // xorshift64* — deterministic, stateless across rows
        x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
        out(i) = ((x * 2685821657736338717L) >>> 11).toFloat / (1L << 53).toFloat - 0.5f
        i += 1
      }
      Some(out)
    }
    /** image resize: a content-bounded prefix standing in for re-encoded bytes. */
    def resize(payload: Array[Byte], w: Int, h: Int): Array[Byte] =
      if (payload == null) Array.emptyByteArray
      else payload.take(math.max(16, math.min(payload.length, w * h / 64)))
    /** video frame sampling: n evenly-spaced pseudo-frames. */
    def sampleFrames(payload: Array[Byte], n: Int): Seq[Array[Byte]] = {
      if (payload == null || payload.isEmpty || n <= 0) return Seq.empty
      val stride = math.max(1, payload.length / n)
      (0 until math.min(n, payload.length)).map { i =>
        payload.slice(i * stride, math.min(i * stride + stride, payload.length))
      }
    }
    /** audio segmentation: n contiguous chunks covering the payload exactly
      * (proportional byte ranges standing in for sample-accurate cuts). */
    def segment(payload: Array[Byte], n: Int): Seq[Array[Byte]] = {
      if (payload == null || payload.isEmpty || n <= 0) return Seq.empty
      val len = payload.length.toLong
      // contiguous cover: segment i is [len*i/n, len*(i+1)/n) — boundaries by
      // integer division so an oracle can replay them as pure arithmetic
      (0 until n).map { i =>
        payload.slice((len * i / n).toInt, (len * (i + 1) / n).toInt)
      }
    }
  }

  /** Decode stage: batch feature extraction inside mapPartitions (payloads
    * never leave the executor; per-partition codec setup happens once). */
  def decodeFeatures(media: DataFrame, dim: Int = 64): DataFrame = {
    val spark = media.sparkSession
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(featureSchema)
    media
      .select("media_id", "kind", "payload")
      .mapPartitions { rows =>
        // per-partition codec initialization would go here (real codecs keep
        // native handles; the fake codec is stateless)
        rows.map { r =>
          val id = r.getLong(0)
          val kind = r.getString(1)
          val payload = if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2)
          FakeCodec.decode(kind, payload, dim) match {
            case Some(f) => Row(id, kind, f.toSeq, dim, true)
            case None    => Row(id, kind, Seq.empty[Float], dim, false)
          }
        }
      }(enc)
  }

  /** Metadata-only media budget report — never touches payload bytes (column
    * pruning keeps the binary out of the scan). */
  def mediaBudget(media: DataFrame): DataFrame =
    media.groupBy(col("kind"))
      .agg(
        count(lit(1)).as("n"),
        sum(length(col("payload"))).as("total_bytes"),
        avg(length(col("payload"))).as("avg_bytes"),
        sum(coalesce(col("duration_ms"), lit(0L))).as("total_duration_ms"))

  /** Resize stage for images (stub codec; real plumbing). */
  def resizeImages(media: DataFrame, w: Int, h: Int): DataFrame = {
    val resize = udf((payload: Array[Byte]) => FakeCodec.resize(payload, w, h))
    media.filter(col("kind") === "image")
      .withColumn("payload", resize(col("payload")))
      .withColumn("width", lit(w))
      .withColumn("height", lit(h))
  }

  /** Frame sampling for videos: one row per sampled frame. */
  def sampleVideoFrames(media: DataFrame, n: Int): DataFrame = {
    val sample = udf((payload: Array[Byte]) => FakeCodec.sampleFrames(payload, n))
    media.filter(col("kind") === "video")
      .withColumn("frame", explode(sample(col("payload"))))
      .select(col("media_id"), lit("image").as("kind"), col("frame").as("payload"),
        col("source_doc_id"))
  }

  /** Audio segmentation: split each audio payload into fixed-duration
    * windows (the training-pipeline stage that turns long recordings into
    * model-sized clips). Segment count = ceil(duration / segMs); the stub
    * codec cuts proportional byte ranges where a real codec would cut at
    * sample boundaries. One row per segment with its time window stamped. */
  def segmentAudio(media: DataFrame, segMs: Long): DataFrame = {
    require(segMs > 0, "segMs must be positive")
    val cut = udf((payload: Array[Byte], durationMs: java.lang.Long) => {
      val dur = if (durationMs == null) 0L else durationMs.longValue
      val n = math.max(1L, (dur + segMs - 1) / segMs).toInt
      FakeCodec.segment(payload, n).zipWithIndex.map { case (b, i) => (i, b) }
    })
    // A row with no duration metadata but a non-empty payload must not emit
    // an empty [0, 0) window over real bytes: fall back to a duration derived
    // from the payload length (1 ms/byte — arbitrary but non-degenerate and
    // consistent between the segment count and the stamped window; a real
    // codec would read the true duration from the container header).
    val effDur = coalesce(col("duration_ms"),
      length(col("payload")).cast("long"), lit(0L))
    media.filter(col("kind") === "audio")
      .withColumn("_eff_dur", effDur)
      .withColumn("seg", explode(cut(col("payload"), col("_eff_dur"))))
      .select(
        col("media_id"), col("source_doc_id"),
        col("seg._1").as("seg_index"),
        (col("seg._1").cast("long") * lit(segMs)).as("seg_start_ms"),
        least(col("seg._1").cast("long") * lit(segMs) + lit(segMs),
          col("_eff_dur")).as("seg_end_ms"),
        col("seg._2").as("payload"))
  }

  /** Build a synthetic media table from the documents fixture (payload =
    * utf-8 of text) — the deterministic test/bench input for this module. */
  def syntheticMedia(spark: SparkSession, docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(typedlit(Seq("image", "audio", "video")), (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").cast("binary").as("payload"),
      lit("application/octet-stream").as("mime"),
      lit(64).as("width"), lit(64).as("height"),
      (col("n_chars") * 10).as("duration_ms"),
      col("doc_id").as("source_doc_id"))
}
