package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a sparse edge set — the clustering step of a
  * near-dedup pipeline: LSH/minhash emits near-dup PAIRS, but keep/drop
  * decisions need whole CLUSTERS (a~b, b~c => {a,b,c} keeps one doc even
  * though a~c never scored above threshold).
  *
  * Algorithm: min-label propagation with pointer jumping. Every vertex
  * starts labeled with itself; each round a vertex takes the minimum of
  *   - its own label,
  *   - its neighbors' labels (one-hop propagation along edges),
  *   - its label's label (pointer jumping / path halving).
  * The jump term contracts label chains geometrically, so convergence is
  * O(log n) rounds rather than O(component diameter) — the property that
  * makes this viable on a 1000-executor cluster where a long chain of
  * near-dups would otherwise serialize into hundreds of shuffle rounds.
  * Each round is two shuffles (edge join + min-aggregation); lineage is cut
  * with localCheckpoint so plans stay flat across iterations.
  *
  * Labels only ever decrease, so the fixpoint (no label changed) is exact:
  * every vertex ends labeled with the minimum vertex id of its component.
  */
object Cluster {

  /** Component label per vertex: (id, lbl) with lbl = min id reachable.
    *
    * `edges` may be directed pairs; they are symmetrized internally.
    * Vertices absent from `edges` keep their own id (singleton clusters).
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
      idCol: String, srcCol: String, dstCol: String,
      maxIters: Int = 50): DataFrame = {
    val sym = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .union(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .localCheckpoint()
    var lbl = vertices.select(col(idCol).as("id"), col(idCol).as("lbl"))
      .localCheckpoint()
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIters) {
      val viaEdge = sym.join(lbl, sym("src") === lbl("id"))
        .select(sym("dst").as("id"), col("lbl"))
      val viaJump = lbl.as("a").join(lbl.as("b"), col("a.lbl") === col("b.id"))
        .select(col("a.id").as("id"), col("b.lbl").as("lbl"))
      val next = lbl.union(viaEdge).union(viaJump)
        .groupBy("id").agg(min("lbl").as("lbl"))
        .localCheckpoint()
      changed = next.as("n").join(lbl.as("o"), "id")
        .filter(col("n.lbl") < col("o.lbl")).count()
      lbl = next
      iter += 1
    }
    require(changed == 0, s"connectedComponents did not converge in $maxIters rounds")
    lbl
  }

  /** Scale-adaptive component labeling: near-dup edge sets are a sliver of
    * the corpus (LSH already pruned), so when the edge count fits comfortably
    * on the driver, one collect + union-find + broadcast join beats several
    * distributed shuffle rounds — the same runtime-size reasoning AQE applies
    * to broadcast joins. Above the threshold, the distributed
    * [[connectedComponents]] loop takes over. Both produce the identical
    * min-id labeling. */
  def componentLabels(vertices: DataFrame, edges: DataFrame,
      idCol: String, srcCol: String, dstCol: String,
      driverEdgeLimit: Long = 2000000L): DataFrame = {
    val nEdges = edges.count()
    if (nEdges > driverEdgeLimit)
      return connectedComponents(vertices, edges, idCol, srcCol, dstCol)
    val spark = vertices.sparkSession
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.getOrDefault(c, c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.select(col(srcCol).cast("long"), col(dstCol).cast("long")).collect().foreach { row =>
      val (a, b) = (find(row.getLong(0)), find(row.getLong(1)))
      if (a != b) { if (a < b) parent.put(b, a) else parent.put(a, b) }
    }
    val labels = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
    parent.keySet().forEach(v => labels += ((v, find(v))))
    import spark.implicits._
    val lblDf = labels.toSeq.toDF("id", "lbl")
    // non-root members carry their label; roots and untouched vertices label
    // themselves. broadcast: the label table is driver-sized by construction.
    vertices.select(col(idCol).as("id"))
      .join(broadcast(lblDf), Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("lbl"))
  }

  /** Near-dup clustering with an EXACT-COLLAPSE pre-pass — the production
    * composition for corpora with heavy verbatim duplication (every real
    * crawl): collapse byte-identical texts to one representative (min id per
    * md5 group, one cheap hash aggregation), run the LSH candidate pipeline
    * over the REPRESENTATIVES only, then expand membership back over all
    * docs.
    *
    * The output is BITWISE EQUAL to [[dupClusters]] over
    * `Dedup.nearDupMinhash(docs, ...)`, not an approximation:
    *  - identical texts have jaccard 1 >= any threshold, so an identical
    *    group is always one component — collapsing it loses nothing;
    *  - the MinHash signature (and so every band hash) is a pure function of
    *    the text, so ALL members of an identical group collide in exactly
    *    the bands their representative collides in: candidate recall over
    *    reps is identical to recall over raw docs, pair for pair;
    *  - the representative is the group's min id, so component minima (the
    *    cluster labels) are unchanged by the collapse.
    * What changes is cost: a g-way identical group contributes g(g-1)/2
    * intra-group candidate pairs (plus g x the cross-group collisions) to
    * the raw pipeline and ZERO to the collapsed one — on the sf1 replica
    * (10-way groups) this is the difference between 7.1 s and ~1 s, and at
    * crawl scale (duplication rates of 30-60%) it is the difference between
    * a feasible pipeline and a quadratic blowup on exactly the hottest
    * documents. */
  def dupClustersCollapsed(docs: DataFrame, threshold: Double,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val keyed = docs.select(col(idCol), col(textCol), md5(col(textCol)).as("_fp"))
    // one rep per identical text: min id; max(text) of identical strings is
    // that string (deterministic, no first() nondeterminism)
    val reps = keyed.groupBy(col("_fp"))
      .agg(min(col(idCol)).as(idCol), max(col(textCol)).as(textCol))
      .localCheckpoint() // pins the collapse: feeds LSH, clustering, expansion
    val repDocs = reps.select(col(idCol), col(textCol))
    val repClusters = dupClusters(repDocs,
      Dedup.nearDupMinhash(repDocs, threshold, textCol = textCol, idCol = idCol)
        .select(col("doc_a"), col("doc_b")),
      idCol = idCol)
      .select(col(idCol).as("_rep"), col("cluster_id"))
    val expanded = keyed.select(col(idCol), col("_fp"))
      .join(reps.select(col("_fp"), col(idCol).as("_rep")), "_fp")
      .join(repClusters, "_rep")
      .select(col(idCol), col("cluster_id"))
    val sizes = expanded.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    expanded.join(sizes, "cluster_id")
      .select(col(idCol), col("cluster_id"), col("cluster_size"))
  }

  /** Canonical-document selection: resolve every near-dup cluster to ONE
    * kept document — the highest quality score, ties broken to the lowest
    * doc id (deterministic under re-runs and any parallelism). This is the
    * keep/drop resolution step of a dedup pipeline: clustering says which
    * docs are interchangeable, quality says which one to keep.
    *
    * Inputs: `clusters` as produced by [[dupClusters]]/[[dupClustersCollapsed]]
    * (doc_id, cluster_id, cluster_size) and `quality` (doc_id,
    * quality_score). Output is total over `clusters`: every doc with its
    * cluster and a 0/1 `kept` flag (singletons are trivially kept).
    *
    * Scale shape: the argmax is a map-side-combining aggregation
    * (max of a (score, -id) struct — NOT a window sort, which would
    * sort every cluster's rows just to read rank 1), so the plan is the
    * doc_id join + one hash shuffle on cluster_id + the join back. At
    * 100 TB the per-cluster winners table is ~|clusters| rows and AQE
    * broadcasts it back; nothing holds more than a cluster's partials. */
  def canonicalDocs(clusters: DataFrame, quality: DataFrame): DataFrame = {
    val scored = clusters.join(quality, "doc_id")
    val best = scored.groupBy(col("cluster_id"))
      .agg(max(struct(col("quality_score"), (-col("doc_id")).as("neg_id"))).as("_b"))
      .select(col("cluster_id"), (-col("_b.neg_id")).as("_keep"))
    scored.join(best, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("quality_score"),
        (col("doc_id") === col("_keep")).cast("int").as("kept"))
  }

  /** Cluster assignment for a document set: every doc with its component's
    * min doc id and the component size. Singletons cluster with themselves
    * (size 1), so the output is total over `docs`. */
  def dupClusters(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    // Iterate only over edge-touched vertices: near-dup edges cover a tiny
    // fraction of a deduped corpus, so the loop's working set is |V(edges)|,
    // not |docs|. Everything untouched is a singleton labeled with itself,
    // attached after the fixpoint with one left join.
    // Pin the pair set once: it feeds the size probe, the touched-vertex
    // projection, and the label computation — without this the whole LSH
    // candidate pipeline would re-run for each.
    val edges = pairs.select(col(aCol), col(bCol)).localCheckpoint()
    val touched = edges.select(col(aCol).as("v"))
      .union(edges.select(col(bCol).as("v"))).distinct()
    val lbl = componentLabels(touched, edges, "v", aCol, bCol)
    val all = docs.select(col(idCol))
      .join(lbl.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("lbl"), col(idCol)).as("cluster_id"))
    val sizes = all.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    all.join(sizes, "cluster_id")
      .select(col(idCol), col("cluster_id"), col("cluster_size"))
  }

  /** Cross-stratum duplication leakage: for every pair of strata (sources,
    * crawl snapshots, train/eval pools), how many near-dup CLUSTERS have a
    * member in both. This is the corpus-level audit behind the leakage-safe
    * split — a high count between a training source and an eval-derived
    * source means document-level splitting WOULD have leaked; between two
    * crawl snapshots it measures inter-snapshot redundancy that exact dedup
    * alone misses.
    *
    * `clusters` is [[dupClusters]] output; `strata` maps doc_id -> stratum.
    * Output: (stratum_a, stratum_b, shared_clusters) for stratum_a <
    * stratum_b, shared clusters only.
    *
    * Scale shape: the join carries only cluster members (|docs| rows, one
    * shuffle on doc_id), collapses to DISTINCT (cluster, stratum) — bounded
    * by |clusters| x |strata| — and self-joins THAT, never the docs. The
    * pair table is bounded by |strata|^2 rows. */
  def crossStratumLeakage(clusters: DataFrame, strata: DataFrame,
      idCol: String = "doc_id", stratumCol: String = "stratum"): DataFrame = {
    val cs = clusters.select(col(idCol), col("cluster_id"))
      .join(strata.select(col(idCol), col(stratumCol)), idCol)
      .select(col("cluster_id"), col(stratumCol)).distinct()
    cs.select(col("cluster_id"), col(stratumCol).as("stratum_a"))
      .join(cs.select(col("cluster_id"), col(stratumCol).as("stratum_b")), "cluster_id")
      .filter(col("stratum_a") < col("stratum_b"))
      .groupBy(col("stratum_a"), col("stratum_b"))
      .agg(count(lit(1)).as("shared_clusters"))
  }

  /** Weighted PageRank by unrolled power iteration — the generic importance
    * measure over any extracted graph (link graphs for crawl prioritization,
    * transition graphs for behavior modeling).
    *
    * Each iteration is two shuffles (join ranks to edges on src, re-group
    * contributions on dst) — the standard Pregel-by-joins shape, linear in
    * |edges| per round and independent of graph diameter concerns since the
    * round count is fixed. Dangling mass is dropped (no out-edge nodes
    * contribute nothing), the common simplification.
    *
    * Determinism: per-edge contributions are rounded to 6dp and summed as
    * DECIMAL(27,6) — exact, partition-order-invariant — then the damped
    * update is rounded to 6dp. Every float op is replayable bitwise by a
    * SQL oracle unrolling the same iterations.
    *
    * `edges`: (src, dst, weight). Ranks initialize to round(1/N, 6) over the
    * N distinct endpoint nodes. */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val e = edges.select(col("src"), col("dst"), col("weight").cast("double").as("w"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().localCheckpoint()
    val outW = e.groupBy("src").agg(sum(col("w")).as("out_w"))
    val n = nodes.count()
    // plain IEEE doubles, mirrored literally by the oracle's
    // (1.0 - CAST(d AS DOUBLE)) / CAST(N AS DOUBLE) — both engines perform
    // the identical correctly-rounded ops on identical inputs
    val base = lit((1.0 - damping) / n.toDouble)
    val rank0 = BigDecimal(1.0 / n.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble // = round(1.0/N, 6)
    var ranks = nodes.withColumn("rank", lit(rank0))
    for (_ <- 1 to iters) {
      val contrib = e.join(outW, "src")
        .join(ranks, col("src") === col("node"))
        .select(col("dst").as("node"),
          round(col("rank") * col("w") / col("out_w"), 6)
            .cast(org.apache.spark.sql.types.DecimalType(27, 6)).as("c"))
        .groupBy("node").agg(sum(col("c")).as("in_rank"))
      ranks = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          round(base + lit(damping) * coalesce(col("in_rank").cast("double"), lit(0.0)), 6)
            .as("rank"))
    }
    ranks
  }

  /** Minimum hop distance from a seed set, capped at `maxHops` — k-hop
    * reachability (blast radius, related-item expansion) over an undirected
    * edge set.
    *
    * Frontier BFS as iterative equi-joins: each round joins ONLY the newest
    * frontier (nodes first reached last round) against the edge set, then
    * merges with a min-distance aggregation — the closed set never re-joins,
    * so round h moves |frontier_h| * avg_degree rows, not |reached| *
    * avg_degree. Lineage is cut per round (localCheckpoint, same as the LPA
    * and CC loops) so the plan stays flat for any hop count. Distances are
    * pure integers — bitwise on any engine; an oracle unrolls the rounds.
    *
    * `edges`: (src, dst); `seeds`: (node). Returns (node, dist) for every
    * node within `maxHops` of a seed (seeds themselves at 0).
    *
    * Each (src, dst) row is an UNDIRECTED pair: the staged parquet holds
    * each pair once and the reverse direction is derived by swapping
    * columns on the cheap staged scan. Callers should hand each pair in one
    * direction only; pre-unioning both gives the same distances but (a)
    * doubles the staged write volume and (b) runs the edge-derivation
    * pipeline's final aggregation once per union branch (exchange reuse
    * dedupes only the partial-agg exchange below it).
    *
    * Scale-adaptive gate, the [[componentLabels]] discipline: once the
    * edge set is staged, its row count is a cheap columnar probe — when it
    * fits comfortably on the driver, maxHops rounds of join + min-agg +
    * checkpoint are pure scheduler overhead, so the distances come from
    * one collect + in-memory frontier BFS instead. Hop distances are pure
    * integers and BFS computes the identical min-hop labeling, so both
    * branches are bitwise-equal by construction (pinned by a test). Above
    * the threshold the distributed loop below is unchanged. */
  def khopDistances(edges: DataFrame, seeds: DataFrame, maxHops: Int,
      driverEdgeLimit: Long = 2000000L): DataFrame = {
    require(maxHops >= 1, "maxHops must be >= 1")
    // The edge set is re-joined EVERY round; without a materialization the
    // whole edge-derivation pipeline (for q52: the per-basket pair fan-out)
    // re-runs once per hop. Stage it to parquet through the same scratch
    // seam as the LPA loop — columnar two-long rows off heap, each round
    // re-scans a fresh source, and the iterative-reuse shape survives any
    // edge count (the on-heap localCheckpoint alternative is exactly what
    // thrashed the LPA loop at 10x sf1). The returned frame is
    // localCheckpoint-pinned by the last round, so nothing lazily depends
    // on the scratch dir.
    val spark = edges.sparkSession
    graft.queries.Staging.withScratch(spark, "khop") { scratch =>
      val ePath = s"$scratch/edges"
      val projected = edges
        .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      projected.write.mode("overwrite").parquet(ePath)
      // explicit schema on the read-back: an empty edge frame with zero
      // partitions writes no part files, and schema INFERENCE over an empty
      // directory fails — a degenerate input must stay a working one
      val staged = spark.read.schema(projected.schema).parquet(ePath)
      if (staged.count() <= driverEdgeLimit) {
        // the collect reads the just-written columnar scratch (two long
        // columns), so the fully-derived edge pipeline is never re-run;
        // the returned frame holds driver-local rows — no scratch lineage
        khopDriver(spark, staged, seeds, maxHops)
      } else {
        // the reverse direction is a union of two staged-scan projections,
        // NOT an explode-both-directions Generate: the scan is cheap columnar
        // parquet, and the measured explode variant regressed q52
        // 3.4->4.5 s at sf0.1 (per-row array-of-struct allocation through
        // the Generate costs more than the second scan it saves)
        val e = staged.union(staged.select(col("dst").as("src"), col("src").as("dst")))
        var dist = seeds.select(col("node").cast("long").as("node"))
          .distinct().withColumn("dist", lit(0)).localCheckpoint()
        for (h <- 1 to maxHops) {
          val frontier = dist.filter(col("dist") === h - 1)
          val next = frontier.join(e, frontier("node") === e("src"))
            .select(e("dst").as("node"), lit(h).as("dist"))
          dist = dist.union(next)
            .groupBy("node").agg(min(col("dist")).as("dist"))
            .localCheckpoint()
        }
        dist
      }
    }
  }

  /** Driver-side frontier BFS for gate-sized staged edge sets — the same
    * min-hop labeling the distributed loop computes (pure integers, so
    * bitwise-equal by construction): seeds at 0, each hop labels every
    * still-unlabeled neighbor of the previous frontier. Output schema
    * mirrors the distributed branch (nullable bigint node, nullable int
    * dist) so consumers and the driver's schema compare see one shape. */
  private def khopDriver(spark: org.apache.spark.sql.SparkSession,
      staged: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    val adj = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]()
    def add(a: Long, b: Long): Unit =
      adj.computeIfAbsent(a, _ => new scala.collection.mutable.ArrayBuffer[Long]()) += b
    staged.collect().foreach { r =>
      add(r.getLong(0), r.getLong(1))
      add(r.getLong(1), r.getLong(0))
    }
    val dist = new java.util.HashMap[Long, Int]()
    var frontier = seeds.select(col("node").cast("long").as("node"))
      .distinct().collect().map(_.getLong(0)).toSeq
    frontier.foreach(s => dist.put(s, 0))
    for (h <- 1 to maxHops) {
      val nf = new scala.collection.mutable.ArrayBuffer[Long]()
      frontier.foreach { u =>
        val nbrs = adj.get(u)
        if (nbrs != null) nbrs.foreach { v =>
          if (!dist.containsKey(v)) { dist.put(v, h); nf += v }
        }
      }
      frontier = nf.toSeq
    }
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](dist.size)
    dist.forEach((n, d) => rows.add(org.apache.spark.sql.Row(n, d)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("dist",
        org.apache.spark.sql.types.IntegerType)))
    spark.createDataFrame(rows, schema)
  }

  /** Per-node triangle counts over an undirected edge set (pairs normalized
    * a < b, already distinct) — the local-clustering audit of a similarity
    * graph: a near-dup pair inside a triangle is corroborated by a third
    * document, a pair with no closing edge is the LSH fringe.
    *
    * Degree-ordered node-iterator (Schank-Wagner): every edge is oriented
    * from its lower-(degree, id) endpoint to the higher one, so each wedge
    * is generated exactly once, at its lowest-ranked corner. That bound is
    * what survives skew at scale — a hub of degree d generates NO wedges
    * from its own adjacency unless both neighbors out-rank it, capping the
    * wedge fan-out at O(|E|^1.5) total instead of sum(d^2) (a 10M-degree
    * spam-cluster hub would otherwise emit 10^14 wedges from one key).
    * Plan: degree agg (1 shuffle), wedge self-join on the oriented source,
    * closure hash-join back against the oriented edge set — no all-pairs,
    * nothing driver-side. The triangle SET is orientation-invariant, so an
    * id-ordered oracle replays it exactly.
    *
    * Returns (node, n_triangles) for nodes in >= 1 triangle. */
  def triangleCounts(edges: DataFrame,
      aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    // Pin the edge set FIRST: it feeds the degree aggregation (twice, via
    // the symmetrizing union) and both degree re-attach joins — four
    // occurrences in the DAG, so an unpinned expensive edge derivation
    // (x79 feeds the whole collapsed-MinHash pipeline in here) re-runs four
    // times. The near-dup edge list is LSH-pruned — a sliver of the corpus —
    // so the pin is bounded at any scale (the dupClusters discipline).
    val e = edges.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .localCheckpoint()
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // rank = (degree, id): a total order, ties broken by id
    val ranked = e
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("src"), col("b").as("dst"), col("db").as("dd")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"), col("da").as("dd")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.dd").as("dd"))
    val oriented = ranked.localCheckpoint()
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") &&
          struct(col("e1.dd"), col("e1.dst")) < struct(col("e2.dd"), col("e2.dst")))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"), col("e2.dst").as("w"))
    // the closing edge v-w is oriented v->w because v out-ranks lower
    val tri = wedges.join(
      oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    tri.select(col("u").as("node"))
      .union(tri.select(col("v").as("node")))
      .union(tri.select(col("w").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Synchronous weighted label propagation (fixed iteration count):
    * communities FINER than connected components — CC merges everything
    * reachable, LPA keeps weakly-bridged groups apart, which is what a
    * product-affinity or topic grouping wants. Deterministic by
    * construction: the vote is argmax (weight sum DESC, label ASC) with
    * exact integer weights, computed as max(struct(s, -label)) — a plain
    * map-side-combinable aggregate, NO per-node window sort, so a hub
    * node's votes partial-aggregate before the shuffle. Iterations 2+ are
    * two shuffles each (neighbor-label join + vote agg), same as the CC
    * rounds; iteration 1 skips the join outright — against the identity
    * labeling it is a no-op — and with it goes the nodes-distinct pass
    * that only existed to build labels0. A fixed iteration count keeps the
    * plan finite and the oracle unrollable. Nodes keep their own label
    * when isolated.
    *
    * `edges`: undirected (a, b, w) pairs; symmetrized internally.
    * Precondition: each unordered pair appears at most once (e.g. the output
    * of a pair-keyed aggregation over a < b), so the first iteration can
    * vote with each edge's own weight and needs no per-(u,v) re-sum. A
    * repeated pair would vote with its largest row instead of its sum.
    * Returns (node, label) for every edge endpoint. */
  def labelPropagation(edges: DataFrame, iters: Int,
      aCol: String = "a", bCol: String = "b", wCol: String = "w"): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val e = edges.select(col(aCol).cast("long").as("u"),
      col(bCol).cast("long").as("v"), col(wCol).cast("long").as("w"))
    // The symmetric edge list is re-joined EVERY iteration — materialize it
    // once. A localCheckpoint holds it as deserialized rows ON HEAP, which
    // at 10x sf1 (240M (u,v,w) rows ≈ heap-scale) turns the whole loop into
    // GC/spill thrash: q49 measured 418 s at 32 GiB vs 214 s at 48 GiB.
    // A parquet round-trip is the iterative-reuse shape that survives any
    // edge count: columnar-compressed three-long rows off heap, each
    // iteration re-scans a fresh source (lineage cut for free), executor
    // memory stays owned by the join/agg doing actual work. Same fix
    // measured: 418 s -> 131 s at the SAME 32 GiB heap (slope vs sf1 back
    // to ~linear). The scratch dir comes from the configurable Staging
    // seam (spark.graft.scratch → shared storage on a cluster) and is
    // recursively deleted on exit — every labels iterate is an EAGER
    // localCheckpoint, so the returned frame has no lineage into it.
    val spark = edges.sparkSession
    graft.queries.Staging.withScratch(spark, "lpa") { scratch =>
      // Stage the DIRECTED pairs and derive the reverse direction from the
      // staged scan: half the write volume, and the (possibly expensive)
      // edge pipeline runs once instead of once per union branch — exchange
      // reuse only dedupes the partial-agg exchange, so a pre-union would
      // still pay the final pair aggregation twice. Per-iteration cost is
      // two cheap columnar scans of |E| instead of one of 2|E|.
      val ePath = s"$scratch/edges"
      e.write.mode("overwrite").parquet(ePath)
      // explicit schema: an empty edge frame can write zero part files, and
      // inference over an empty directory fails (same guard as khop's)
      val d = spark.read.schema(e.schema).parquet(ePath)
      // Symmetrize by exploding BOTH directions out of one row instead of
      // unioning two projections of the staged scan: every per-iteration
      // consumer (all of them aggregations or agg-fed joins) scans the
      // staged parquet ONCE, not twice, and the Generate fuses into the
      // same codegen stage as the downstream partial aggregation. Same row
      // multiset, so every downstream aggregate is unchanged — long sums
      // and the argmax are order-free. (Measured: q49 min 2.50 s vs 2.96 s
      // for the union-of-two-scans form at sf0.1. The khop BFS keeps the
      // union form — its consumer is a row-per-row broadcast-join probe
      // with no aggregation to amortize the Generate, and the explode form
      // measured WORSE there, 3.4->4.5 s.)
      val sym = d.select(explode(array(
          struct(col("u"), col("v"), col("w")),
          struct(col("v").as("u"), col("u").as("v"), col("w")))).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v"), col("p.w").as("w"))
      // Iteration 1 against the IDENTITY labeling (labels0 = node) is a
      // join no-op: each symmetric edge (u,v,w) votes (label = v, s =
      // sum of w over duplicate (u,v) rows). So the first round needs no
      // label table at all — and with it goes the nodes-distinct pass that
      // only existed to build labels0. With distinct pairs (the
      // precondition), s = w directly and the vote collapses into the
      // argmax: ONE map-side-combinable aggregation over sym (hub-safe — a
      // hot node's candidates partial-combine to one struct per map task).
      var labels = sym.select(col("u"), col("w").as("s"), col("v").as("label"))
        .groupBy("u")
        .agg(max(struct(col("s"), (-col("label")).as("nl"))).as("m"))
        .select(col("u").as("node"), (-col("m.nl")).as("label"))
        .localCheckpoint()
      for (_ <- 2 to iters) {
        val votes = sym
          .join(labels.select(col("node").as("v"), col("label")), Seq("v"))
          .groupBy(col("u"), col("label")).agg(sum(col("w")).as("s"))
        // The vote covers EVERY node by construction: labels is total over
        // edge endpoints (iteration 1 aggregates every u in sym, and sym is
        // symmetric), so each symmetric edge (u,v) matches, and every node
        // appears as u in sym. The textbook nodes-LEFT-join + coalesce
        // fallback therefore re-attaches nothing — it only added a join +
        // shuffle per iteration. Dropped.
        labels = votes.groupBy("u")
          .agg(max(struct(col("s"), (-col("label")).as("nl"))).as("m"))
          .select(col("u").as("node"), (-col("m.nl")).as("label"))
          .localCheckpoint()
      }
      labels
    }
  }
}
