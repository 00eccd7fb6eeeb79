package graft.ext

import graft.functions.VectorFunctions.{cosine_sim, dot_product}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - brute-force top-k: broadcast the query set against the corpus, score
  *    with the codegen'd CosineSim expression, per-query window top-k. Exact;
  *    cost = |queries| x |corpus| — the baseline and the verification oracle.
  *  - LSH (random hyperplane) ANN: per-row signatures, multi-table bucket
  *    join for candidates, exact re-score on candidates, top-k. At 100 TB the
  *    corpus side stays partitioned by bucket and only candidate buckets are
  *    scored (|candidates| << |corpus|).
  *
  * Hyperplanes are generated deterministically from xxhash64(table, plane,
  * dim) — no RNG state, identical across executors, reproducible run-to-run.
  */
object Similarity {

  /** recall@k of an approximate top-k result against the exact one — the
    * standard ANN quality metric (what a serving team monitors when tuning
    * nprobe / table count / quantization). Both inputs are (query_id,
    * neighbor_id[, ...]) top-k frames; output is one row per exact-side
    * query: (query_id, hits, recall) with recall = hits / k.
    *
    * Scale shape: both inputs are top-k results — |queries| * k rows, tiny
    * relative to the corpora that produced them — so the semi join and the
    * per-query count are trivially shuffle-cheap regardless of corpus size.
    * hits/recall are an exact integer count and one exact-input IEEE
    * division: bit-replayable. */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k > 0, "recallAtK needs k > 0")
    val hits = exact.select("query_id", "neighbor_id")
      .join(approx.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)).cast("double") / lit(k.toDouble)).as("recall"))
  }

  /** Symmetric per-vector int8 quantization — the storage/bandwidth stage of
    * a large-scale ANN index (4x smaller than float32; dot products on int8
    * SIMD-accelerate on modern hardware). scale = 127 / max|x| per vector;
    * q_i = round(x_i * scale) in [-127, 127]. Reconstruction error is
    * bounded by 0.5/scale per coordinate. All arithmetic is double-precision
    * and element-local (transform — narrow, codegen'd lambda-free plan
    * shape), so an external engine replays every quantized value bit for
    * bit. Zero vectors (max|x| = 0) are dropped: they carry no direction.
    * Returns (id, max_abs, scale, q array<int>). */
  def quantizeInt8(embeddings: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    embeddings
      .select(col(idCol), expr(s"transform($vecCol, x -> cast(x as double))").as("vd"))
      .filter(size(col("vd")) > 0)
      .withColumn("max_abs", expr("array_max(transform(vd, x -> abs(x)))"))
      .filter(col("max_abs") > 0)
      .withColumn("scale", lit(127.0) / col("max_abs"))
      .select(col(idCol), col("max_abs"), col("scale"),
        expr("transform(vd, x -> cast(round(x * scale) as int))").as("q"))

  /** Top-k cosine over the QUANTIZED vectors — the search path of an int8
    * ANN index. Scoring is integer dot products (exact, order-independent)
    * normalized by one sqrt of the exact norm product, so unlike float
    * cosine the score needs NO rounding to be cross-engine stable: every
    * bit of the ranking is reproducible anywhere. Queries broadcast; the
    * quantized corpus streams. */
  def cosineTopKQuantized(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    def prep(d: DataFrame, id: String, q: String) =
      quantizeInt8(d, idCol, vecCol)
        .select(col(idCol).as(id), col("q").as(q),
          expr("aggregate(q, 0L, (acc, v) -> acc + cast(v as bigint) * v)").as(s"n_$id"))
    val c = graft.ops.Par.fanOut(prep(corpus, "neighbor_id", "qc"))
    val qs = prep(queries, "query_id", "qq")
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    c.join(broadcast(qs), col("query_id") =!= col("neighbor_id"))
      .withColumn("dot",
        expr("aggregate(zip_with(qq, qc, (x, y) -> cast(x as bigint) * y), 0L, (acc, v) -> acc + v)"))
      .withColumn("score",
        col("dot").cast("double") / sqrt((col("n_query_id") * col("n_neighbor_id")).cast("double")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
  }

  /** Exact cosine for every (query, corpus) pair except self-matches —
    * the scoring stage of [[cosineTopK]], exposed so callers can rank on a
    * transformed score (e.g. rounded for cross-engine-stable ordering)
    * BEFORE any top-k cut. Queries are broadcast — the corpus is never
    * shuffled beyond the parallelism fan-out. */
  def cosineScores(corpus: DataFrame, queries: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    // the non-equi join is a nested loop streaming the corpus: fan the
    // corpus out first or the whole pairwise scoring runs on one core
    val c = graft.ops.Par.fanOut(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine_sim(col("q_vec"), col("c_vec")))
      .select("query_id", "neighbor_id", "cosine")
  }

  /** Brute-force exact top-k: for each query row, the k nearest corpus rows
    * by cosine (self-match excluded); per-query window top-k. */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cosineScores(corpus, queries, idCol, vecCol)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Deterministic hyperplanes for one LSH table (seeded per table; no RNG
    * state crosses executors — the planes are literals in the plan). */
  def planes(table: Int, bits: Int, dim: Int): Seq[Seq[Float]] = {
    val rng = new scala.util.Random(0xC0FFEEL + table * 7919L)
    Seq.fill(bits)(Seq.fill(dim)((rng.nextDouble() * 2 - 1).toFloat))
  }

  /** ANN top-k via multi-table hyperplane LSH: rows sharing a signature in
    * any table are candidates; candidates are re-scored exactly and top-k'd.
    * Recall grows with `tables`; cost with bucket collision rate (2^-bits).
    * Defaults follow the measured recall curve on the fixtures (random
    * vectors are LSH's worst case — clustered real corpora do better):
    * 16 tables x 6 bits gives ~2/3 recall of cos~0.4 neighbors at ~25%
    * corpus scanned per query. */
  def cosineTopKLsh(corpus: DataFrame, queries: DataFrame, k: Int,
      tables: Int = 16, bits: Int = 6, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {

    // one HyperplaneSigs node computes every table's signature in a single
    // compiled pass (plane literals in the plan made analysis the bottleneck)
    def signed(df: DataFrame, id: String, vec: String): DataFrame =
      graft.ops.Par.fanOut(df.select(col(idCol).as(id), col(vecCol).as(vec)))
        .select(col(id), col(vec),
          posexplode(graft.functions.VectorFunctions.hyperplane_sigs(col(vec), tables, bits, dim))
            .as(Seq("table_id", "sig")))

    val qs = signed(queries, "query_id", "q_vec")
    val cs = signed(corpus, "neighbor_id", "c_vec")
    // Score BEFORE deduplicating multi-table collisions: the cosine is 64
    // fused mult-adds, far cheaper than shuffling the embedding arrays
    // through the dedup exchange — post-score rows are 3 scalars.
    // Rounded to 6dp BEFORE the rank cut (cross-engine-stable ordering,
    // same rationale as the brute-force harness query).
    val scored = qs.join(cs, Seq("table_id", "sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(cosine_sim(col("q_vec"), col("c_vec")), 6))
      .select("query_id", "neighbor_id", "cosine")
      .dropDuplicates("query_id", "neighbor_id")

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Embedding near-duplicate pairs: all (a < b) pairs with cosine >= the
    * threshold. Exact quadratic form — verification/small-scale; the LSH
    * bucket join above is the scale path for the same predicate. */
  def embeddingNearDupPairs(embeddings: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val a = graft.ops.Par.fanOut(
      embeddings.select(col(idCol).as("vec_a"), col(vecCol).as("va")))
    val b = embeddings.select(col(idCol).as("vec_b"), col(vecCol).as("vb"))
    a.join(broadcast(b), col("vec_a") < col("vec_b"))
      .withColumn("cosine", cosine_sim(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select("vec_a", "vec_b", "cosine")
  }

  /** Embedding near-dup pairs at scale: hyperplane-LSH bucket join instead
    * of the quadratic scan — same predicate as [[embeddingNearDupPairs]],
    * cost proportional to bucket collisions. Candidate pairs sharing a
    * signature in ANY table are exact-scored; like every LSH, recall < 1 for
    * pairs near the threshold (raise `tables` to tighten).
    */
  def embeddingNearDupPairsLsh(embeddings: DataFrame, threshold: Double,
      tables: Int = 16, bits: Int = 6, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // Proxy-join shape (guide §8): the bucket self-join moves ONLY
    // (table_id, sig, id) — the former shape shuffled every row's embedding
    // array through both sides of the exchange `tables` times (16x the
    // payload bytes for the same candidate set) and re-scored each pair
    // once per colliding table before deduplicating. Here candidates dedup
    // as bare id pairs, the vectors are re-attached ONCE per side, and each
    // surviving pair is scored exactly once — identical pair set (sharing a
    // signature in ANY table), identical cosine per pair, so the dedup-
    // then-score order change is output-invariant.
    val vecs = embeddings.select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
    val signed = graft.ops.Par.fanOut(vecs)
      .select(col("vec_id"),
        posexplode(graft.functions.VectorFunctions.hyperplane_sigs(col("vec"), tables, bits, dim))
          .as(Seq("table_id", "sig")))
    val cand = signed.select(col("table_id"), col("sig"), col("vec_id").as("vec_a"))
      .join(signed.select(col("table_id"), col("sig"), col("vec_id").as("vec_b")),
        Seq("table_id", "sig"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
      .distinct()
    cand
      .join(vecs.select(col("vec_id").as("vec_a"), col("vec").as("va")), Seq("vec_a"))
      .join(vecs.select(col("vec_id").as("vec_b"), col("vec").as("vb")), Seq("vec_b"))
      .withColumn("cosine", cosine_sim(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select("vec_a", "vec_b", "cosine")
  }

  /** MMR (maximal marginal relevance, Carbonell & Goldstein 1998) diversity
    * re-ranking of a brute-force candidate pool: greedily pick the candidate
    * maximizing lambdaRel * relevance - lambdaDiv * max-similarity-to-
    * already-selected. The first pick is pure relevance (its mmr_score IS
    * rel); ties always break to the smaller candidate id.
    *
    * Determinism contract: relevance and candidate-pairwise cosines are
    * rounded to 6dp BEFORE any ranking; the MMR score rounds once after the
    * fixed-order expression lambdaRel*rel - lambdaDiv*maxSim. lambdaRel and
    * lambdaDiv are SEPARATE literals — deriving one as 1-lambda would
    * change the double (1-0.7 != 0.3 in IEEE) and break external replay.
    *
    * Shape: the greedy loop is inherently sequential in k, but each of the
    * k steps is ONE distributed job over ALL queries at once (per-query
    * argmax via a window over the poolK-bounded candidate set) — a million
    * queries re-rank in the same k stages. Pool and pairwise-sim tables are
    * poolK- and poolK^2-bounded per query and pinned once
    * (localCheckpoint) so the k-step lineage stays flat. */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, poolK: Int, k: Int,
      lambdaRel: Double, lambdaDiv: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      driverPoolLimit: Long = 100000L): DataFrame = {
    require(k >= 1 && poolK >= k, s"need 1 <= k <= poolK, got k=$k poolK=$poolK")
    val wPool = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("cand_id").asc)
    val pool = cosineScores(corpus, queries, idCol, vecCol)
      .withColumn("rel", round(col("cosine"), 6))
      .select(col("query_id"), col("neighbor_id").as("cand_id"), col("rel"))
      .withColumn("rn", row_number().over(wPool))
      .filter(col("rn") <= poolK)
      .drop("rn")
      .localCheckpoint()
    val vecs = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("v"))
    val poolV = pool.join(vecs, "cand_id")
    val pairs = poolV.select(col("query_id"), col("cand_id").as("a"), col("v").as("va"))
      .join(poolV.select(col("query_id"), col("cand_id").as("b"), col("v").as("vb")),
        Seq("query_id"))
      .filter(col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"),
        round(cosine_sim(col("va"), col("vb")), 6).as("sim"))
      .localCheckpoint()
    // Scale-adaptive gate, the componentLabels discipline: the greedy loop
    // consumes only the poolK-bounded pool and poolK^2-bounded pair table —
    // when those fit comfortably on the driver, k sequential Spark jobs
    // (each a join+window+checkpoint over a few dozen rows per query) are
    // pure scheduler overhead. Collect once, replay the IDENTICAL
    // arithmetic (rel/sim arrive pre-rounded from the distributed plan; the
    // only driver ops are the same two IEEE multiplies, one subtract, and
    // the same HALF_UP 6dp round Spark's Round applies), emit the same
    // rows. Above the gate — or for non-integral ids, whose driver-side
    // ordering could diverge from Catalyst's — the distributed loop below
    // is unchanged.
    val integralIds = {
      import org.apache.spark.sql.types.{IntegerType, LongType}
      val t = pool.schema("cand_id").dataType
      t == LongType || t == IntegerType
    }
    // The gate bounds BOTH driver collects: pool rows AND the pair table,
    // which is ~|pool| * (poolK - 1) rows — a large poolK could otherwise
    // pass a pool-only gate yet collect tens of millions of pair rows onto
    // the driver. The replay itself bails (returns None, distributed loop
    // runs) if any collected rel/sim is null — the distributed plan
    // tolerates nulls through max() and nulls-last ordering, and the driver
    // replay must not guess at that arithmetic.
    if (integralIds && {
      val nPool = pool.count()
      nPool <= driverPoolLimit && nPool * math.max(poolK - 1, 1).toLong <= driverPoolLimit
    }) {
      mmrGreedyDriver(pool, pairs, k, lambdaRel, lambdaDiv) match {
        case Some(replayed) => return replayed
        case None => () // nulls in rel/sim: fall through to the distributed loop
      }
    }
    val wPick = Window.partitionBy(col("query_id"))
      .orderBy(col("mmr_score").desc, col("cand_id").asc)
    var result = pool
      .withColumn("rn", row_number().over(wPool)).filter(col("rn") === 1)
      .select(col("query_id"), col("cand_id"), col("rel"),
        col("rel").as("mmr_score"), lit(1).as("rank"))
      .localCheckpoint()
    for (step <- 2 to k) {
      val pick = pool
        .join(result.select("query_id", "cand_id"), Seq("query_id", "cand_id"), "left_anti")
        .join(pairs.withColumnRenamed("a", "cand_id"), Seq("query_id", "cand_id"))
        .join(result.select(col("query_id"), col("cand_id").as("b")), Seq("query_id", "b"))
        .groupBy("query_id", "cand_id", "rel").agg(max(col("sim")).as("max_sim"))
        .withColumn("mmr_score",
          round(lit(lambdaRel) * col("rel") - lit(lambdaDiv) * col("max_sim"), 6))
        .withColumn("rn", row_number().over(wPick)).filter(col("rn") === 1)
        .select(col("query_id"), col("cand_id"), col("rel"),
          col("mmr_score"), lit(step).as("rank"))
      result = result.unionByName(pick).localCheckpoint()
    }
    result
  }

  /** Driver-side replay of [[mmrRerank]]'s greedy loop for gate-sized
    * pools. Bitwise-identical to the distributed loop by construction:
    * rel and sim are collected ALREADY 6dp-rounded, the step score is the
    * same `lambdaRel * rel - lambdaDiv * maxSim` (two IEEE multiplies, one
    * subtract, same literal lambdas) through the same HALF_UP 6dp round
    * Catalyst's Round applies to doubles, and the argmax order
    * (mmr_score DESC, cand_id ASC) matches the window spec — a total order
    * over integral ids, so ties resolve identically. */
  private def mmrGreedyDriver(pool: DataFrame, pairs: DataFrame, k: Int,
      lambdaRel: Double, lambdaDiv: Double): Option[DataFrame] = {
    val spark = pool.sparkSession
    def idOf(v: Any): Long = v match {
      case l: java.lang.Long => l.longValue
      case i: java.lang.Integer => i.longValue
      case other => sys.error(s"gated ids must be integral, got $other")
    }
    // Spark's Round on DoubleType: BigDecimal.valueOf -> setScale HALF_UP
    def r6(d: Double): Double =
      java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP)
        .doubleValue()
    // a null rel or sim (null/zero-norm embedding -> null cosine) means the
    // distributed plan's null semantics (max() skips, nulls order last)
    // apply — decline the replay rather than re-implement them
    val poolRows = pool.collect()
    val pairRows = pairs.collect()
    if (poolRows.exists(_.isNullAt(2)) || pairRows.exists(_.isNullAt(3)))
      return None
    val simMap = new java.util.HashMap[(Any, Long, Long), java.lang.Double]()
    pairRows.foreach { r =>
      simMap.put((r.get(0), idOf(r.get(1)), idOf(r.get(2))), r.getDouble(3))
    }
    val out = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    poolRows.groupBy(_.get(0)).foreach { case (q, rows) =>
      val cands = rows.map(r => (r.get(1), idOf(r.get(1)), r.getDouble(2)))
        .sortBy { case (_, key, rel) => (-rel, key) }
      val picked = new scala.collection.mutable.ArrayBuffer[Long]()
      val first = cands.head
      out += org.apache.spark.sql.Row(q, first._1, first._3, first._3, 1)
      picked += first._2
      for (step <- 2 to k) {
        var best: (Any, Long, Double, Double) = null
        cands.foreach { case (id, key, rel) =>
          if (!picked.contains(key)) {
            // explicit lookup: a candidate with NO pair row to any picked
            // member drops out of the distributed step's inner join on
            // `pairs` and is ineligible — an absent key must not silently
            // unbox to 0.0 and sneak it back in
            var maxSim = Double.NegativeInfinity
            var found = false
            picked.foreach { b =>
              val s = simMap.get((q, key, b))
              if (s != null) { found = true; if (s.doubleValue > maxSim) maxSim = s.doubleValue }
            }
            if (found) {
              val score = r6(lambdaRel * rel - lambdaDiv * maxSim)
              if (best == null || score > best._4 || (score == best._4 && key < best._2))
                best = (id, key, rel, score)
            }
          }
        }
        if (best != null) {
          out += org.apache.spark.sql.Row(q, best._1, best._3, best._4, step)
          picked += best._2
        }
      }
    }
    val idType = pool.schema("query_id").dataType
    val candType = pool.schema("cand_id").dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id", idType),
      org.apache.spark.sql.types.StructField("cand_id", candType),
      org.apache.spark.sql.types.StructField("rel",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("mmr_score",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
    import scala.jdk.CollectionConverters._
    Some(spark.createDataFrame(out.asJava, schema))
  }

  /** Embedding-distribution drift between two corpus slices: per group
    * (label), the cosine between the slice-A mean vector and the slice-B
    * mean vector, plus slice counts — the monitor a production embedding
    * pipeline watches for upstream model/data changes (a drifting source
    * shows cos << 1 long before downstream metrics move).
    *
    * Exactness: per-(group, slice, dim) means use the x54 trick — sum
    * DECIMAL of 6dp-rounded coordinates (exact, order-free), ONE division,
    * then the cosine of the two mean vectors in the compiled kernel,
    * rounded to 6dp. One shuffle on (group, dim); means are |groups|x|dim|
    * rows — broadcast-size at any corpus scale. */
  def centroidDrift(embeddings: DataFrame, slicePred: Column,
      groupCol: String = "label",
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dims = embeddings
      .select(col(groupCol).as("grp"), slicePred.cast("int").as("in_b"),
        posexplode(col(vecCol)).as(Seq("j", "x")))
      .groupBy(col("grp"), col("in_b"), col("j"))
      .agg((sum(round(col("x").cast("double"), 6)
        .cast(org.apache.spark.sql.types.DecimalType(27, 6))).cast("double")
        / count(lit(1)).cast("double")).as("mv"))
    val means = dims.groupBy("grp", "in_b")
      .agg(array_sort(collect_list(struct(col("j"), col("mv")))).as("jm"))
      .select(col("grp"), col("in_b"),
        expr("transform(jm, p -> cast(p.mv as float))").as("mean_vec"))
    val counts = embeddings.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n_total"),
        sum(slicePred.cast("long")).as("n_b"))
    means.filter(col("in_b") === 0).select(col("grp"), col("mean_vec").as("va"))
      .join(means.filter(col("in_b") === 1).select(col("grp"), col("mean_vec").as("vb")), Seq("grp"))
      .join(counts, Seq("grp"))
      .select(col("grp").as(groupCol),
        col("n_total"), col("n_b"),
        round(graft.functions.VectorFunctions.cosine_sim(col("va"), col("vb")), 6)
          .as("drift_cosine"))
  }

  /** Per-vector neighborhood statistics of the cosine-threshold graph —
    * the density diagnostic a dedup deployment reads before choosing how
    * aggressive to cut: degree (how many neighbors at >= threshold),
    * strongest neighbor, and mean neighbor similarity, with isolated
    * vectors kept at degree 0 via the corpus spine.
    *
    * Edges come from the SAME hyperplane-LSH bucket join as
    * [[embeddingNearDupPairsLsh]] (cost ~ bucket collisions, never
    * all-pairs); the rollup symmetrizes pairs with a union (narrow) and
    * pays one hash shuffle on vec_id plus the spine's left join on the
    * same key. The mean sums 6dp-rounded cosines as DECIMAL (order-free,
    * exact) and divides once — bitwise on any engine. */
  def cosineGraphDegree(embeddings: DataFrame, threshold: Double,
      tables: Int = 16, bits: Int = 6, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val pairs = embeddingNearDupPairsLsh(embeddings, 0.0, tables, bits, dim, idCol, vecCol)
      .withColumn("cosine", round(col("cosine"), 6))
      .filter(col("cosine") >= threshold)
    val sym = pairs.select(col("vec_a").as("vec_id"), col("cosine"))
      .unionAll(pairs.select(col("vec_b").as("vec_id"), col("cosine")))
    val deg = sym.groupBy("vec_id").agg(
      count(lit(1)).as("degree"),
      max(col("cosine")).as("max_cosine"),
      sum(col("cosine").cast(org.apache.spark.sql.types.DecimalType(18, 6))).as("cos_sum"))
    embeddings.select(col(idCol).as("vec_id"), col("label"))
      .join(deg, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("max_cosine"), lit(0.0)).as("max_cosine"),
        when(col("degree").isNull, lit(0.0))
          .otherwise(col("cos_sum").cast("double") / col("degree").cast("double"))
          .as("avg_cosine"))
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023): assign
    * every embedding to its nearest coarse centroid — the SAME deterministic
    * IVF quantizer as [[cosineTopKIvf]] — and run exact cosine ONLY within
    * clusters. The cluster assignment bounds the candidate set: total work is
    * sum over clusters of |c|^2 instead of |corpus|^2, and because the
    * assignment is a pure function of the vectors it shards trivially — at
    * 100 TB each cluster's pair scan runs where its postings live (the same
    * partitioned layout as [[buildIvfIndex]]), nothing global ever pairs.
    * Pairs crossing a centroid boundary are unscored BY DESIGN — that is the
    * recall trade every semantic-dedup deployment makes (raise nlist for
    * tighter clusters, or probe neighbors for higher recall).
    *
    * The assignment is pinned once (localCheckpoint) — it feeds both sides
    * of the intra-cluster self-join and recomputing the centroid crossJoin
    * per side would double the assignment cost. Cosine is rounded to 6dp
    * BEFORE the threshold (cross-engine-stable set membership). */
  /** Corpus-adaptive cluster count for [[semanticDupPairs]]: ~500 vectors
    * per cluster, clamped to [16, 4096]. Integer arithmetic ONLY (ceil via
    * (n+499)/500) so an external oracle replays the choice exactly — a
    * float log2 would round differently at power-of-two boundaries. This is
    * what keeps the within-cluster |c|^2 work LINEAR in corpus size: fixed
    * nlist at 10x data means 10x fatter clusters and 100x the pair work;
    * nlist growing with n pins the per-cluster cost. */
  def adaptiveNlist(n: Long): Int =
    math.max(16L, math.min(4096L, (n + 499L) / 500L)).toInt

  /** [[semanticDupPairs]] with [[adaptiveNlist]] chosen from one count()
    * of the corpus (metadata-cheap on parquet; an index deployment knows
    * its corpus size anyway). */
  def semanticDupPairsAuto(corpus: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    semanticDupPairs(corpus, threshold, adaptiveNlist(corpus.count()), idCol, vecCol)

  def semanticDupPairs(corpus: DataFrame, threshold: Double, nlist: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centroids = ivfCentroids(corpus, nlist, idCol, vecCol)
    val assigned = nearestCentroids(
      corpus.select(col(idCol).as("vec_id"), col(vecCol).as("vec")),
      centroids, "vec_id", "vec", keep = 1)
      .localCheckpoint()
    val a = assigned.select(col("cluster_id"), col("vec_id").as("vec_a"), col("vec").as("va"))
    val b = assigned.select(col("cluster_id"), col("vec_id").as("vec_b"), col("vec").as("vb"))
    a.join(b, Seq("cluster_id"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine", round(cosine_sim(col("va"), col("vb")), 6))
      .filter(col("cosine") >= threshold)
      .select("cluster_id", "vec_a", "vec_b", "cosine")
  }

  /** IVF (inverted-file) ANN: a coarse quantizer built from deterministically
    * sampled corpus vectors as centroids; every corpus row is assigned to its
    * nearest centroid (one small broadcast scan), and a query exact-scores
    * only the rows in its `nprobe` closest clusters.
    *
    * Scale: the corpus is written partitioned/clustered by `cluster_id`, so a
    * query touches |corpus| * nprobe / nlist rows. Centroid selection is
    * deterministic (hash-ordered sample, no RNG): identical across runs and
    * executors. Recall depends on nprobe/nlist like any IVF index.
    */
  def cosineTopKIvf(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centroids = ivfCentroids(corpus, nlist, idCol, vecCol)
    val assigned = nearestCentroids(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")),
      centroids, "neighbor_id", "c_vec", keep = 1)
    ivfScore(assigned, centroids, queries, k, nprobe, idCol, vecCol)
  }

  /** 1. coarse centroids: the nlist corpus vectors with the smallest
    * md5-low-64 of 'ivf:'||id — a deterministic uniform sample (no RNG:
    * identical across runs and executors, and bit-replayable by a SQL
    * oracle via md5_number_lower). */
  private def ivfCentroids(corpus: DataFrame, nlist: Int,
      idCol: String, vecCol: String): DataFrame =
    corpus
      .select(col(idCol).as("centroid_id"), col(vecCol).as("centroid_vec"),
        graft.functions.HashFunctions.md5_lo64(
          concat(lit("ivf:"), col(idCol).cast("string"))).as("_h"))
      .orderBy(col("_h")).limit(nlist).drop("_h")

  /** 2. assignment: nearest `keep` centroids per row (broadcast nested-loop
    * over nlist rows, argmax by cosine, ties to the lower centroid id). */
  private def nearestCentroids(df: DataFrame, centroids: DataFrame,
      id: String, vec: String, keep: Int): DataFrame = {
    val w = Window.partitionBy(col(id))
      .orderBy(col("_c").desc, col("centroid_id").asc)
    df.crossJoin(broadcast(centroids))
      .withColumn("_c", cosine_sim(col(vec), col("centroid_vec")))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= keep)
      .select(col(id), col(vec), col("centroid_id").as("cluster_id"))
  }

  /** 3. exact scoring inside the probed clusters only. The cosine is
    * rounded to 6dp BEFORE the rank cut (same rationale as the brute-force
    * harness query: cross-engine-stable ordering — an oracle reproduces the
    * identical ranking because ulp noise can no longer flip ranks). */
  private def ivfScore(assigned: DataFrame, centroids: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int,
      idCol: String, vecCol: String): DataFrame = {
    val probes = nearestCentroids(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
      centroids, "query_id", "q_vec", keep = nprobe)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    probes.join(assigned, Seq("cluster_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(cosine_sim(col("q_vec"), col("c_vec")), 6))
      .select("query_id", "neighbor_id", "cosine")
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Lloyd (k-means) refinement of the coarse quantizer: start from the
    * deterministic md5-ordered centroid sample ([[ivfCentroids]]) and run
    * `iters` assign-then-recenter iterations, returning the assignment
    * against the refined centroids. One-pass sampling is what the IVF paths
    * ship by default; real vector stacks refine the codebook with a few
    * Lloyd rounds because better centroids mean tighter clusters and fewer
    * probes for the same recall (the spec measures the fit gain).
    *
    * Determinism — the whole iteration is a pure function of the corpus:
    *  - assignment is argmax cosine with ties to the lower centroid id (the
    *    IVF rule, bit-replayed by the oracle's window);
    *  - re-centering sums each (cluster, dimension) as DECIMAL of
    *    6dp-rounded coordinates (exact, order-independent — the money trick
    *    applied to vector means), divides once, and stores the coordinate
    *    as float32 (one correctly-rounded cast on either engine);
    *  - clusters that lose all members simply drop out of the next round
    *    (inner-join semantics on both engines).
    *
    * Scale shape: per iteration, one narrow fan-out + broadcast-nlist
    * assignment pass and one map-side-combined (cluster, dim) aggregation
    * bounded by nlist x dim rows — the textbook distributed k-means step.
    * Nothing quadratic, nothing driver-side beyond the bounded codebook. */
  def kmeansRefine(corpus: DataFrame, nlist: Int = 16, iters: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(iters >= 1, "kmeansRefine needs at least one Lloyd iteration")
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
    var centroids = ivfCentroids(corpus, nlist, idCol, vecCol)
    for (_ <- 1 to iters) {
      val assigned = nearestCentroids(c, centroids, "vec_id", "v", keep = 1)
      centroids = assigned
        .select(col("cluster_id"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cluster_id"), col("dim"))
        .agg(
          sum(round(col("x").cast("double"), 6).cast("decimal(27,6)")).as("s"),
          count(lit(1)).as("n"))
        .select(col("cluster_id"), col("dim"),
          (col("s").cast("double") / col("n").cast("double")).cast("float").as("cv"))
        .groupBy(col("cluster_id"))
        .agg(array_sort(collect_list(struct(col("dim"), col("cv")))).as("_p"))
        .select(col("cluster_id").as("centroid_id"),
          expr("transform(_p, e -> e.cv)").as("centroid_vec"))
    }
    val fin = nearestCentroids(c, centroids, "vec_id", "v", keep = 1)
    val sizes = fin.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    fin
      .join(broadcast(centroids.withColumnRenamed("centroid_id", "cluster_id")),
        "cluster_id")
      .withColumn("fit", round(cosine_sim(col("v"), col("centroid_vec")), 6))
      .join(broadcast(sizes), "cluster_id")
      .select(col("vec_id"), col("cluster_id"), col("cluster_size"), col("fit"))
  }

  /** Build and PERSIST the IVF index: `path/centroids` (nlist rows) and
    * `path/postings`, the corpus partitioned by cluster_id. Partitioning is
    * the inverted file: a probe joins postings on cluster_id against a
    * broadcast probe list, so dynamic partition pruning reads only the
    * probed clusters' files — |corpus| * nprobe / nlist rows of IO, which is
    * what makes build-once/probe-many serving work at 100 TB. */
  def buildIvfIndex(corpus: DataFrame, path: String, nlist: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val centroids = ivfCentroids(corpus, nlist, idCol, vecCol)
    centroids.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    nearestCentroids(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")),
      centroids, "neighbor_id", "c_vec", keep = 1)
      .write.mode("overwrite").partitionBy("cluster_id").parquet(s"$path/postings")
  }

  /** [[buildIvfIndex]] with [[adaptiveNlist]] sizing — the serving default.
    * Fixed nlist means clusters fatten linearly with the corpus and every
    * probe's postings read grows with it; ~500-vector cells pin the
    * per-probe cost (nprobe * ~500 scored rows) at ANY corpus size, leaving
    * nprobe as the pure recall knob. At the driver SFs the formula resolves
    * to the 16 floor, so recorded outputs are unchanged. */
  def buildIvfIndexAuto(corpus: DataFrame, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    buildIvfIndex(corpus, path, adaptiveNlist(corpus.count()), idCol, vecCol)

  /** Probe a persisted IVF index (see [[buildIvfIndex]]). Same output as
    * [[cosineTopKIvf]] over the corpus the index was built from.
    *
    * The probed cluster list is tiny and known up front (<= min(nlist,
    * nprobe * |queries|)), so it is pushed into the postings scan as a
    * STATIC partition filter — only the probed clusters' directories are
    * listed or read, independent of how many clusters the index holds
    * (the same treatment as the quantized probe; PlanAuditSpec pins it).
    * The filter changes nothing semantically: ivfScore's equi-join on
    * cluster_id already discards every unprobed cluster. */
  def cosineTopKIvfIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, k: Int, nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centroids = spark.read.parquet(s"$path/centroids")
    // The queries plan is evaluated twice — once eagerly here (the probe-
    // cluster collect) and once inside ivfScore. Pin ONE evaluation of the
    // narrowed two-column projection so an expensive or nondeterministic
    // queries plan can't double-pay or make the static partition filter
    // diverge from ivfScore's per-query probes. Queries are the bounded
    // probe batch in the serving shape (both in-repo callers cap them), so
    // the pinned copy is small by contract.
    val q = queries.select(col(idCol), col(vecCol)).localCheckpoint()
    val probeClusters = nearestCentroids(
      q.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
      centroids, "query_id", "q_vec", keep = nprobe)
      .select(col("cluster_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted // bounded: <= nlist rows
    val assigned = spark.read.parquet(s"$path/postings")
      .withColumn("cluster_id", col("cluster_id").cast("long"))
      .filter(col("cluster_id").isin(probeClusters: _*))
      .select(col("neighbor_id"), col("c_vec"), col("cluster_id"))
    ivfScore(assigned, centroids, q, k, nprobe, idCol, vecCol)
  }

  /** Embedding-space outlier scan over a persisted IVF index: each vector's
    * cosine to its OWN coarse centroid, globally bottom-k — the vectors the
    * quantizer represents worst. In a curation pipeline these are the
    * out-of-distribution rows (mis-embedded media, wrong-language text,
    * encoding damage) that a centroid-based dedup/search stack silently
    * mishandles, so they get surfaced for audit rather than trusted.
    *
    * Cost is one narrow pass over the postings (the assignment was paid at
    * index build) plus a broadcast of nlist centroids: O(corpus), no
    * shuffle beyond TakeOrderedAndProject's k-row driver merge. The cosine
    * is rounded to 6dp pre-rank (ties to vec_id) — the cross-engine-stable
    * ordering treatment, so an oracle replays the scan bit for bit. */
  def centroidOutliers(spark: org.apache.spark.sql.SparkSession, path: String,
      k: Int): DataFrame = {
    val centroids = spark.read.parquet(s"$path/centroids")
    val scored = spark.read.parquet(s"$path/postings")
      .select(col("neighbor_id").as("vec_id"), col("c_vec"), col("cluster_id"))
      .join(broadcast(centroids), col("cluster_id") === col("centroid_id"))
      .withColumn("centroid_cos", round(cosine_sim(col("c_vec"), col("centroid_vec")), 6))
      .select("vec_id", "cluster_id", "centroid_cos")
      .orderBy(col("centroid_cos").asc, col("vec_id").asc)
      .limit(k)
    scored.withColumn("rank", row_number().over(
        Window.orderBy(col("centroid_cos").asc, col("vec_id").asc)).cast("int"))
      .select("vec_id", "cluster_id", "centroid_cos", "rank")
  }

  // -------------------------------------------------------------------------
  // Quantized IVF: int8 postings inside the inverted file — the production
  // composition of [[quantizeInt8]] (storage/bandwidth) with [[buildIvfIndex]]
  // (IO pruning). A probe reads |corpus| * nprobe / nlist rows of int8
  // postings (4x smaller than float32) and scores them with exact integer
  // dot products, so both the IO volume AND the bytes-per-row shrink while
  // the ranking stays bit-reproducible across engines.
  // -------------------------------------------------------------------------

  /** Append the per-vector symmetric int8 quantization ([[quantizeInt8]]'s
    * scheme) of `vecCol` as `qCol` (array<int>) plus its exact squared norm
    * `nrmCol` (bigint). Zero/empty vectors are dropped (no direction). */
  private def withQuantized(df: DataFrame, vecCol: String,
      qCol: String, nrmCol: String): DataFrame =
    df
      .withColumn("_vd", expr(s"transform($vecCol, x -> cast(x as double))"))
      .filter(size(col("_vd")) > 0)
      .withColumn("_max_abs", expr("array_max(transform(_vd, x -> abs(x)))"))
      .filter(col("_max_abs") > 0)
      .withColumn(qCol, expr("transform(_vd, x -> cast(round(x * (127.0 / _max_abs)) as int))"))
      .withColumn(nrmCol, expr(s"aggregate($qCol, 0L, (acc, v) -> acc + cast(v as bigint) * v)"))
      .drop("_vd", "_max_abs")

  /** Quantized postings for a (batch of the) corpus against FIXED centroids:
    * (cluster_id, neighbor_id, q, nrm). Assignment is float cosine against
    * the broadcast centroids (identical to [[cosineTopKIvf]]); only the
    * stored payload is quantized. */
  private def quantizedPostings(corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    withQuantized(
      nearestCentroids(
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")),
        centroids, "neighbor_id", "c_vec", keep = 1),
      "c_vec", "q", "nrm")
      .select(col("cluster_id").cast("long").as("cluster_id"),
        col("neighbor_id"), col("q"), col("nrm"))

  /** Scoring stage shared by the inline and indexed quantized-IVF forms:
    * probe the nprobe closest clusters per query (float cosine — the query
    * vector is still float at probe time), quantize the query with its own
    * symmetric scale, then integer-dot against the postings. The score
    * dot / sqrt(nq * nc) is bit-exact on any engine ([[cosineTopKQuantized]]'s
    * argument), so no rounding is needed before the rank cut. */
  private def ivfScoreQuantized(postings: DataFrame, centroids: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int,
      idCol: String, vecCol: String): DataFrame = {
    val probes = withQuantized(
      nearestCentroids(
        queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
        centroids, "query_id", "q_vec", keep = nprobe),
      "q_vec", "qq", "nq")
      .select(col("cluster_id").cast("long").as("cluster_id"),
        col("query_id"), col("qq"), col("nq"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    // no (query, neighbor) dedup needed: every posting lives in EXACTLY one
    // cluster (keep=1 assignment), so a pair can only surface once — unlike
    // the multi-table LSH path, which must dedup collisions
    broadcast(probes).join(postings, Seq("cluster_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("dot",
        expr("aggregate(zip_with(qq, q, (x, y) -> cast(x as bigint) * y), 0L, (acc, v) -> acc + v)"))
      .withColumn("score",
        col("dot").cast("double") / sqrt((col("nq") * col("nrm")).cast("double")))
      .select("query_id", "neighbor_id", "score")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
  }

  /** Inline quantized-IVF ANN (the spec/ground-truth twin of the indexed
    * form below): prune clusters with the float coarse quantizer, score with
    * int8 dots. */
  def cosineTopKIvfQuantized(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centroids = ivfCentroids(corpus, nlist, idCol, vecCol)
    ivfScoreQuantized(quantizedPostings(corpus, centroids, idCol, vecCol),
      centroids, queries, k, nprobe, idCol, vecCol)
  }

  /** Build and PERSIST the quantized IVF index: `path/centroids` (float
    * vectors — the coarse quantizer stays full-precision) and
    * `path/postings` partitioned by cluster_id with int8 payloads. */
  def buildIvfIndexQuantized(corpus: DataFrame, path: String, nlist: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val centroids = ivfCentroids(corpus, nlist, idCol, vecCol)
    centroids.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    quantizedPostings(corpus, centroids, idCol, vecCol)
      .write.mode("overwrite").partitionBy("cluster_id").parquet(s"$path/postings")
  }

  /** [[buildIvfIndexQuantized]] with [[adaptiveNlist]] sizing — see
    * [[buildIvfIndexAuto]] for the rationale. */
  def buildIvfIndexQuantizedAuto(corpus: DataFrame, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    buildIvfIndexQuantized(corpus, path, adaptiveNlist(corpus.count()), idCol, vecCol)

  /** Probe a persisted quantized IVF index. The probed cluster list is tiny
    * and known up front (<= min(nlist, nprobe * |queries|)), so it is pushed
    * into the postings scan as a STATIC partition filter — only the probed
    * clusters' directories are listed or read (PlanAuditSpec pins the
    * PartitionCount), independent of how many clusters the index holds. */
  def cosineTopKIvfQuantizedIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, k: Int, nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centroids = spark.read.parquet(s"$path/centroids")
    val probeClusters = nearestCentroids(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
      centroids, "query_id", "q_vec", keep = nprobe)
      .select(col("cluster_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted // bounded: <= nlist rows
    val postings = spark.read.parquet(s"$path/postings")
      .withColumn("cluster_id", col("cluster_id").cast("long"))
      .filter(col("cluster_id").isin(probeClusters: _*))
    ivfScoreQuantized(postings, centroids, queries, k, nprobe, idCol, vecCol)
  }

  /** Johnson-Lindenstrauss random projection with a Rademacher (+-1) matrix
    * derived from md5 parity — the cheap, data-independent dimensionality
    * reduction for embedding pipelines (shrink vectors before an ANN index
    * or a pairwise stage; distances survive within 1+-eps w.h.p.).
    *
    * The matrix entry R[out, in] is +1 iff md5-low-64("out:in") is even —
    * no RNG state, data-independent (it ships as a 1024-row literal table
    * in the plan), and an external engine rebuilds the identical matrix
    * from the same digests (`md5_number_lower(...) % 2`). Projection
    * y_o = (1/sqrt(k)) * sum_in R[o,in] * round(x_in, 6) sums 6dp-rounded
    * signed coordinates as DECIMAL — exact, order-free — and `k` must be a
    * power of four so 1/sqrt(k) is an exact dyadic scale (one exponent
    * shift, no rounding anywhere).
    *
    * Scale shape: coordinates explode to |corpus| * d rows, join the
    * broadcast k x d sign table, and aggregate back map-side — one shuffle
    * on (id, out-dim), nothing global.
    *
    * Output: long format (idCol, out_dim, y). */
  def randomProject(emb: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && math.pow(4, (math.log(k) / math.log(4)).round.toDouble) == k,
      "k must be a power of four (exact 1/sqrt(k))")
    val spark = emb.sparkSession
    import spark.implicits._
    val invSqrtK = 1.0 / math.sqrt(k.toDouble) // exact dyadic for k = 4^m
    val signs = (for (o <- 0 until k; i <- 0 until 64) yield {
      val h = graft.functions.HashKernels.md5Lo64(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"$o:$i"))
      (o, i, if ((h & 1L) == 0L) 1 else -1)
    }).toDF("out_dim", "i", "s")
    graft.ops.Par.fanOut(emb)
      .select(col(idCol), posexplode(col(vecCol)).as(Seq("i", "x")))
      .join(broadcast(signs), "i")
      .groupBy(col(idCol), col("out_dim"))
      .agg(sum((col("s") * round(col("x").cast("double"), 6))
        .cast(org.apache.spark.sql.types.DecimalType(38, 6))).as("ys"))
      .select(col(idCol), col("out_dim"),
        (col("ys").cast("double") * lit(invSqrtK)).as("y"))
  }

  /** [[randomProject]] reassembled into float vectors (out_dim order) —
    * the drop-in reduced `embedding` column for any downstream ANN stage. */
  def randomProjectVectors(emb: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    randomProject(emb, k, idCol, vecCol)
      .groupBy(idCol)
      .agg(array_sort(collect_list(struct(col("out_dim"), col("y")))).as("jm"))
      .select(col(idCol), expr("transform(jm, p -> cast(p.y as float))").as(vecCol))

  /** PCA top principal component by power iteration — the dimensionality
    * audit behind embedding compression decisions (how much variance one
    * axis explains) and a building block for random-projection/PCA
    * reduction.
    *
    * Scale split: the d x d covariance matrix is ONE distributed pass
    * (explode each vector into its d^2 coordinate pairs — rows scale as
    * |corpus| * d^2 but aggregate map-side into d^2 cells), after which
    * every power-iteration step is a join over the d^2-row matrix —
    * corpus-size-independent. d is the embedding dim (64 here), so the
    * iteration state is trivially broadcastable at any corpus scale.
    *
    * Determinism: coordinate products and matvec terms round to 6dp and sum
    * as DECIMAL (partition-order-invariant); normalization is the x56
    * sqrt-of-decimal-sum shape; v0 = 1/d with d a power of two is exact.
    * Sign is pinned by v0 (all-positive start), so the component replays
    * bitwise — no eigenvector sign ambiguity.
    *
    * Output: one row per dimension j with the component loading and the
    * final pre-normalization magnitude (the eigenvalue estimate). */
  def pcaTopComponent(emb: DataFrame, iters: Int = 3,
      vecCol: String = "embedding"): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    // unit-norm embeddings make covariance entries ~1e-4 and matvec terms
    // ~1e-6 — the house 6dp rounding would zero them out (a 6dp draft died
    // with norm == 0); the interior arithmetic rounds at 12dp instead, same
    // cross-engine trick at a scale that preserves the signal
    val dec = org.apache.spark.sql.types.DecimalType(38, 12)
    // ONE custom-aggregate pass (cov_cell_sums) replaces the whole
    // pre-iteration distributed work: the N*d posexplode feeding the means,
    // the separate count job, and the N*d(d+1)/2 upper-triangle Generate
    // feeding the cell aggregation — per input row the aggregate loops the
    // j <= k pairs directly and accumulates the EXACT
    // `sum(round(x, 12) :: decimal(38,12))` terms (same string-based
    // HALF_UP rounding) as scaled integers, so the d^2-bounded output is
    // bitwise-identical to the explode pipeline's (pinned by an ExtSpec
    // equivalence test over ragged/null/adversarial-rounding inputs) while
    // the row fan-out and its per-row aggregation probes never exist.
    val vecs = graft.ops.Par.fanOut(emb).select(col(vecCol).as("e"))
    val stats = vecs
      .agg(graft.functions.AggFunctions.cov_cell_sums(col("e")).as("st"))
      .localCheckpoint() // one row; every consumer below re-reads it
    val nRow = stats.select(col("st.n").as("n"))
    val means = stats
      .select(col("st.n").as("n"), explode(col("st.means")).as("mm"))
      .select(col("mm.j").as("j"),
        (col("mm.ms").cast("double") / col("n").cast("double")).as("m"))
    // mirrored sums are bitwise equal — IEEE multiply commutes
    // (xj*xk == xk*xj) and the DECIMAL sum is order-free
    val upper = stats.select(explode(col("st.cells")).as("c"))
      .select(col("c.j").as("j"), col("c.k").as("k"), col("c.sxx").as("sxx"))
    val fullSums = upper.unionByName(
      upper.filter(col("j") =!= col("k"))
        .select(col("k").as("j"), col("j").as("k"), col("sxx")))
    val cov = fullSums
      .crossJoin(broadcast(nRow))
      .join(means.select(col("j"), col("m").as("mj")), "j")
      .join(means.select(col("j").as("k"), col("m").as("mk")), "k")
      .select(col("j"), col("k"),
        round(col("sxx").cast("double") / col("n").cast("double")
          - col("mj") * col("mk"), 12).as("c"))
      .localCheckpoint() // the iteration rejoins this d^2-row matrix each step
    val d = cov.agg(max(col("j"))).head().getInt(0) + 1
    require((d & (d - 1)) == 0, s"dim $d must be a power of two for the exact v0")
    var v = cov.select(col("j")).distinct()
      .select(col("j"), lit(1.0 / d).as("v"))
    var lastNorm: DataFrame = null
    for (_ <- 1 to iters) {
      // Pin each iterate: w is consumed TWICE per step (the norm aggregate
      // and the normalized update), so an unpinned loop doubles the lazy
      // plan every iteration — 2^iters copies of the matvec by the end
      // (a ~1900-operator plan at iters = 3, pure planner burn). The pin is
      // d rows — dimension-sized, corpus-independent.
      val w = cov.join(v.select(col("j").as("k"), col("v").as("vk")), "k")
        .groupBy("j")
        .agg(sum(round(col("c") * col("vk"), 12).cast(dec)).as("ws"))
        .select(col("j"), round(col("ws").cast("double"), 12).as("w"))
        .localCheckpoint()
      lastNorm = w.agg(
        sqrt(sum(round(col("w") * col("w"), 12).cast(dec)).cast("double")).as("norm"))
      // a degenerate corpus (all vectors identical → zero covariance) gives
      // norm = 0; dividing through would silently turn every loading into
      // null/NaN — fail fast with the actual condition instead
      v = w.crossJoin(broadcast(lastNorm))
        .select(col("j"), round(col("w") /
          when(col("norm") > 0d, col("norm")).otherwise(raise_error(lit(
            "pcaTopComponent: zero iteration norm — covariance is degenerate "
              + "(all vectors identical?); the top component is undefined"))), 6)
          .as("v"))
    }
    v.crossJoin(broadcast(lastNorm))
      .select(col("j"), col("v").as("loading"), round(col("norm"), 6).as("eigenvalue"))
  }

  /** Simplified silhouette per cluster — the cluster-quality audit of the
    * coarse quantizer (and of any centroid assignment): for each vector,
    * a = cosine distance to its OWN centroid, b = distance to the nearest
    * OTHER centroid, s = (b - a) / max(a, b) in [-1, 1]; the per-cluster
    * mean says whether a cluster is tight (s -> 1), overlapping (s -> 0),
    * or mis-assigned (s < 0). The full silhouette is O(n^2) pairwise; the
    * simplified form (centroid distances only) is the one that scales —
    * n * nlist cosines against a BROADCAST centroid table, a per-vector
    * bounded window (nlist rows per key), and a per-cluster mean of
    * 6dp-rounded scores summed in exact DECIMAL (order-free, bitwise).
    *
    * Centroids are the deterministic md5-ordered sample shared by every
    * IVF path; assignment is argmax UNROUNDED cosine with ties to the
    * lower centroid id (the x13/x54-proven cross-engine ordering); every
    * cosine that enters the silhouette arithmetic is pre-rounded to 6dp.
    *
    * Returns (cluster_id, n_vectors, silhouette). */
  def silhouetteSimplified(corpus: DataFrame, nlist: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nlist >= 2, "silhouette needs a second centroid to compare against")
    val cents = ivfCentroids(corpus, nlist, idCol, vecCol)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("rawcos").desc, col("centroid_id").asc)
    // each centroid scores exactly once per vector, so the nearest OTHER
    // centroid is simply the rank-2 row — own and other both fall out of
    // ONE per-vector aggregation over the top-2 (WindowGroupLimit keeps the
    // sort input at 2 rows per key), instead of an own-vs-rest self-join
    // that would shuffle the corpus twice
    val per = corpus
      .select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .crossJoin(broadcast(cents))
      .withColumn("rawcos", cosine_sim(col("v"), col("centroid_vec")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy("vec_id")
      .agg(
        max(when(col("rn") === 1, col("centroid_id"))).as("cluster_id"),
        max(when(col("rn") === 1, round(col("rawcos"), 6))).as("own_cos"),
        max(when(col("rn") === 2, round(col("rawcos"), 6))).as("other_cos"))
      // nlist >= 2 was required, but a sub-2-vector corpus still yields one
      // centroid and no rank-2 row; a null other_cos would null s and skew
      // the null-skipping mean toward 0 silently — fail fast instead
      .withColumn("other_cos",
        when(col("other_cos").isNotNull, col("other_cos"))
          .otherwise(raise_error(lit(
            "silhouetteSimplified: no second centroid to compare against "
              + "(corpus has fewer than 2 vectors?) — silhouette is undefined"))))
    val a = lit(1.0) - col("own_cos")
    val b = lit(1.0) - col("other_cos")
    per
      .withColumn("s",
        when(greatest(a, b) === 0d, lit(0.0))
          .otherwise(round((b - a) / greatest(a, b), 6)))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_vectors"),
        (sum(col("s").cast(org.apache.spark.sql.types.DecimalType(27, 6)))
          .cast("double") / count(lit(1)).cast("double")).as("silhouette"))
  }

  /** Farthest-first k-center coreset selection (Gonzalez greedy, the
    * 2-approximation): pick the min-id seed, then k-1 times the vector
    * farthest (cosine distance) from everything selected so far. The
    * diversity-maximizing dual of dedup — a training-data pipeline uses the
    * selected set as a coverage skeleton (eval anchors, cluster seeds,
    * labeling budget) where random sampling would oversample the dense modes.
    *
    * Returns (sel_rank, vec_id, radius): radius is the selected vector's
    * min-distance at selection time — by the greedy invariant it is also a
    * cover bound, every vector sits within radius of the PREVIOUS selection —
    * monotonically non-increasing; the seed carries the cosine-diameter
    * bound 2.0.
    *
    * Shape: k rounds, each ONE narrow pass over the corpus (broadcast 1-row
    * center, `least` running min-distance, localCheckpoint'd so round r+1
    * scans a materialized (vec_id, v, mind) table, not a k-deep lineage) and
    * ONE TakeOrdered(1) argmax — no shuffle anywhere, k * O(n/p) wall. The
    * argmax rows are the only driver-visible data (k rows). Distances are
    * 6dp-pre-rounded cosines, ties break on vec_id asc — deterministic at
    * any parallelism, replayed bitwise by the unrolled oracle. */
  def kCenterCoreset(emb: DataFrame, k: Int = 8,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(k >= 1, "need at least the seed")
    val base = emb.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
    val seed = base.orderBy("vec_id").limit(1).localCheckpoint()
    var picks = Seq(seed.select(lit(1).as("sel_rank"), col("vec_id"),
      lit(2.0).as("radius")))
    var cur = base
      .crossJoin(broadcast(seed.select(col("v").as("cv"))))
      .select(col("vec_id"), col("v"),
        (lit(1.0) - round(cosine_sim(col("v"), col("cv")), 6)).as("mind"))
      .localCheckpoint()
    for (r <- 2 to k) {
      val next = cur.orderBy(col("mind").desc, col("vec_id").asc).limit(1)
        .localCheckpoint()
      picks = picks :+ next.select(lit(r).as("sel_rank"), col("vec_id"),
        col("mind").as("radius"))
      if (r < k) cur = cur
        .crossJoin(broadcast(next.select(col("v").as("cv"))))
        .select(col("vec_id"), col("v"),
          least(col("mind"),
            lit(1.0) - round(cosine_sim(col("v"), col("cv")), 6)).as("mind"))
        .localCheckpoint()
    }
    picks.reduce(_ unionByName _)
  }
}
