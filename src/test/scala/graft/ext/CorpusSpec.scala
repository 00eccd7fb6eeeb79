package graft.ext

import graft.SparkTestSession
import graft.ops.PrefixSum
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  val sf = "/root/testdata/sf0.001"

  // --- connected components -------------------------------------------------

  test("connectedComponents: known graph, chains collapse transitively") {
    // components: {1,2,3,9} (1-2, 2-3, 3-9 chain), {5,7}, singleton 4
    val vertices = Seq(1L, 2L, 3L, 4L, 5L, 7L, 9L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 9L), (7L, 5L)).toDF("src", "dst")
    val got = Cluster.connectedComponents(vertices, edges, "id", "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 4L -> 4L, 5L -> 5L, 7L -> 5L))
  }

  test("connectedComponents: long chain converges (pointer jumping, not diameter-bound)") {
    val n = 200L
    val vertices = (0L until n).toDF("id")
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")
    val got = Cluster.connectedComponents(vertices, edges, "id", "src", "dst", maxIters = 12)
      .as[(Long, Long)].collect()
    assert(got.length == n && got.forall(_._2 == 0L))
  }

  test("componentLabels: driver union-find path equals the distributed loop") {
    val vertices = (0L until 60L).toDF("id")
    val edges = ((0L until 30L by 3).map(i => (i, i + 3)) ++ Seq((40L, 41L), (41L, 45L)))
      .toDF("src", "dst")
    val viaDriver = Cluster.componentLabels(vertices, edges, "id", "src", "dst")
      .as[(Long, Long)].collect().toMap
    val viaLoop = Cluster.componentLabels(vertices, edges, "id", "src", "dst",
      driverEdgeLimit = 0L).as[(Long, Long)].collect().toMap
    assert(viaDriver == viaLoop)
    assert(viaDriver(30L) == 0L && viaDriver(45L) == 40L && viaDriver(59L) == 59L)
  }

  test("dupClusters is total over docs and consistent with pair edges") {
    val docs = graft.Tables.documents(spark, sf)
    val pairs = Dedup.nearDupMinhash(docs, 0.8).select($"doc_a", $"doc_b")
    val clusters = Cluster.dupClusters(docs, pairs).cache()
    assert(clusters.count() == docs.count())
    // every pair ends up in the same cluster
    val c = clusters.select($"doc_id", $"cluster_id")
    val violated = pairs
      .join(c.withColumnsRenamed(Map("doc_id" -> "doc_a", "cluster_id" -> "ca")), "doc_a")
      .join(c.withColumnsRenamed(Map("doc_id" -> "doc_b", "cluster_id" -> "cb")), "doc_b")
      .filter($"ca" =!= $"cb").count()
    assert(violated == 0)
    // cluster_id is a member of its own cluster
    val selfLabeled = clusters.filter($"doc_id" === $"cluster_id").count()
    assert(selfLabeled == clusters.select("cluster_id").distinct().count())
  }

  // --- prefix sum -----------------------------------------------------------

  test("exclusiveRunningTotal equals the single-partition window formulation") {
    val df = (1L to 1000L).map(i => (i * 7 % 1013, i % 97)).toDF("k", "v")
      .dropDuplicates("k")
    val got = PrefixSum.exclusiveRunningTotal(df, "k", "v", "run", numPartitions = 8)
    val want = df.withColumn("run",
      coalesce(sum($"v").over(Window.orderBy($"k").rowsBetween(Window.unboundedPreceding, -1)), lit(0)))
    assert(got.select("k", "run").except(want.select("k", "run")).isEmpty)
    assert(want.select("k", "run").except(got.select("k", "run")).isEmpty)
    // a downstream coalesce pipelines several range partitions into one task;
    // offsets must still come from the range partition, not the task
    val coalesced = got.coalesce(1)
    assert(coalesced.select("k", "run").except(want.select("k", "run")).isEmpty)
  }

  // --- sampling -------------------------------------------------------------

  test("stratifiedSample: deterministic, rate-proportional, pure function of key") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.01")
      .select($"doc_id", $"lang")
    val rates = Map("en" -> 0.5, "de" -> 0.1)
    val s1 = Corpus.stratifiedSample(docs, concat(lit("k:"), $"doc_id"), $"lang", rates)
    val s2 = Corpus.stratifiedSample(docs, concat(lit("k:"), $"doc_id"), $"lang", rates)
    assert(s1.collect().toSet == s2.collect().toSet) // same sample every run
    val byLang = s1.groupBy("lang").count().as[(String, Long)].collect().toMap
    val totals = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    // en keeps ~50%: loose CLT bound at n=218
    val enFrac = byLang("en").toDouble / totals("en")
    assert(enFrac > 0.35 && enFrac < 0.65, s"en fraction $enFrac")
    assert(!byLang.contains("zh") || byLang("zh") == 0) // default rate 0 drops the rest
  }

  // --- shard packing --------------------------------------------------------

  test("packTokenShards: shards fill contiguously to capacity in doc order") {
    val docs = graft.Tables.documents(spark, sf)
    val cap = 500L
    val shards = Corpus.packTokenShards(docs, cap).cache()
    assert(shards.count() == docs.count())
    // offsets are within [0, cap); shard ids are nondecreasing in doc order
    assert(shards.filter($"shard_offset" < 0 || $"shard_offset" >= cap).count() == 0)
    val rows = shards.orderBy("doc_id").as[(Long, Long, Long, Long)].collect()
    var cum = 0L
    rows.foreach { case (_, n, shard, off) =>
      assert(shard == cum / cap && off == cum % cap)
      cum += n
    }
  }

  // --- top ngrams -----------------------------------------------------------

  test("topNgrams: matches a full-sort ranking, deterministic ties") {
    val docs = graft.Tables.documents(spark, sf)
    val got = Corpus.topNgrams(docs, n = 2, k = 10).as[(Int, String, Long)].collect()
    val full = docs
      .select(explode(graft.functions.HashFunctions.word_shingles($"text", 2)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("doc_freq"))
      .orderBy($"doc_freq".desc, $"ngram").limit(10)
      .as[(String, Long)].collect()
    assert(got.map(r => (r._2, r._3)).toSeq == full.toSeq)
    assert(got.map(_._1).toSeq == (1 to 10))
  }

  test("chunkDocs: full coverage, correct overlap, short docs yield one chunk") {
    val mk = (n: Int) => (1 to n).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, mk(100)), // 64 + 52 with 16-token overlap -> 2 chunks
      (2L, mk(10)),  // shorter than one window -> 1 chunk
      (3L, mk(64)),  // exactly one window -> 1 chunk
      (4L, mk(65)),  // one token over -> 2 chunks
      (5L, "   ")    // blank -> no chunks
    ).toDF("doc_id", "text")
    val got = Corpus.chunkDocs(docs, window = 64, stride = 48)
      .orderBy("doc_id", "chunk_index").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    assert(got.toSeq === Seq(
      (1L, 0, 0L, 64), (1L, 1, 48L, 52),
      (2L, 0, 0L, 10),
      (3L, 0, 0L, 64),
      (4L, 0, 0L, 64), (4L, 1, 48L, 17)))
    // coverage: last chunk reaches the last token of every doc
    assert(got.groupBy(_._1).forall { case (_, cs) =>
      val (_, _, start, len) = cs.maxBy(_._2)
      val nToks = Map(1L -> 100, 2L -> 10, 3L -> 64, 4L -> 65)(cs.head._1)
      start + len == nToks
    })
    // chunk fingerprints are pure functions of the tokens (stable re-run)
    val fps = Corpus.chunkDocs(docs, 64, 48).select("chunk_fp").collect().map(_.getString(0))
    val fps2 = Corpus.chunkDocs(docs, 64, 48).select("chunk_fp").collect().map(_.getString(0))
    assert(fps.sorted.toSeq === fps2.sorted.toSeq)
  }

  test("upsample: weights become copy counts — floor guaranteed, fraction reproducible") {
    val docs = graft.Tables.documents(spark, sf).select($"doc_id", $"lang")
    val mixed = Corpus.upsample(docs,
      concat(lit("t:"), $"doc_id".cast("string")), $"lang",
      weights = Map("en" -> 2.5, "fr" -> 0.5), defaultWeight = 1.0).cache()
    val perDoc = mixed.groupBy("doc_id", "lang", "n_copies")
      .agg(count(lit(1)).as("rows"), countDistinct("copy_id").as("ids"))
    // copy_id enumerates the copies exactly
    assert(perDoc.filter($"rows" =!= $"n_copies" || $"ids" =!= $"n_copies").isEmpty)
    // en docs get 2 or 3 copies, fr 0 or 1 (0-copy docs absent), others exactly 1
    assert(mixed.filter($"lang" === "en" && ($"n_copies" < 2 || $"n_copies" > 3)).isEmpty)
    assert(mixed.filter($"lang" === "fr" && $"n_copies" =!= 1).isEmpty)
    assert(mixed.filter(!$"lang".isin("en", "fr") && $"n_copies" =!= 1).isEmpty)
    // the fractional copy hits roughly its rate (md5 buckets are uniform)
    val en = docs.filter($"lang" === "en").count().toDouble
    val en3 = mixed.filter($"lang" === "en" && $"n_copies" === 3)
      .select("doc_id").distinct().count().toDouble
    assert(en3 / en > 0.3 && en3 / en < 0.7, s"got ${en3 / en}")
    // pure function of the key: identical mixture on re-run
    val again = Corpus.upsample(docs,
      concat(lit("t:"), $"doc_id".cast("string")), $"lang",
      weights = Map("en" -> 2.5, "fr" -> 0.5), defaultWeight = 1.0)
    assert(mixed.exceptAll(again).isEmpty && again.exceptAll(mixed).isEmpty)
    mixed.unpersist()
  }

  test("property: chunking tiles every doc length exactly — stride spacing, full cover, no empties") {
    val lengths = Seq(1, 2, 7, 9, 10, 11, 25, 63, 64, 65, 100, 173, 300)
    val docs = lengths.map(n => (n.toLong, (1 to n).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    for ((w, s) <- Seq((64, 48), (10, 10), (8, 3), (1, 1))) {
      val byDoc = Corpus.chunkDocs(docs, w, s)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
        .groupBy(_._1)
      for (n <- lengths) {
        val cs = byDoc(n.toLong).sortBy(_._2)
        val expected = 1 + math.max(0, (n - w + s - 1) / s)
        assert(cs.length === expected, s"n=$n w=$w s=$s count")
        cs.foreach { case (_, i, start, len) =>
          assert(start === i.toLong * s, s"n=$n w=$w s=$s start of chunk $i")
          assert(len === math.min(w, n - i * s), s"n=$n w=$w s=$s len of chunk $i")
          assert(len >= 1, s"n=$n w=$w s=$s empty chunk $i")
        }
        val (_, _, lastStart, lastLen) = cs.last
        assert(lastStart + lastLen === n.toLong, s"n=$n w=$w s=$s cover")
      }
    }
  }

  // --- DSIR importance weights ---------------------------------------------

  test("dsirWeights: target-exclusive vocabulary scores above raw-common vocabulary") {
    // target docs (grp=t) use words the raw-only docs never use, and vice
    // versa: weights must separate them with positive vs negative sign.
    val docs = Seq(
      (1L, "t", "alpha beta alpha gamma"),
      (2L, "t", "beta gamma alpha beta"),
      (3L, "r", "delta epsilon delta zeta"),
      (4L, "r", "epsilon zeta delta epsilon"),
      (5L, "r", "")).toDF("doc_id", "grp", "text")
    val w = Corpus.dsirWeights(docs, col("grp") === "t")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(w.size === 5)
    assert(w(1L)._2 > 0 && w(2L)._2 > 0, "target-vocab docs must up-weight")
    assert(w(3L)._2 < 0 && w(4L)._2 < 0, "raw-only-vocab docs must down-weight")
    assert(w(5L) === ((0L, 0.0)), "blank doc: zero terms, zero weight")
  }

  test("dsirWeights: bit-identical across partition layouts (exact decimal sum)") {
    val docs = graft.Tables.documents(spark, sf)
    val base = Corpus.dsirWeights(docs, col("lang") === "en")
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3))).sortBy(_._1)
    val shuffled = Corpus.dsirWeights(docs.repartition(7), col("lang") === "en")
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3))).sortBy(_._1)
    assert(base.sameElements(shuffled), "weight must not depend on partitioning")
    // the target slice should carry the higher mean weight on the fixture
    val byLang = Corpus.dsirWeights(docs, col("lang") === "en")
      .join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy("lang").agg(avg("avg_log_weight").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(byLang("en") === byLang.values.max, "en target must rank top on mean weight")
  }

  test("distributionMatch: kept sample's bucket distribution moves toward the target's") {
    import org.apache.spark.sql.DataFrame
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.01")
    val bucket = least(expr("token_count div 10"), lit(19)).cast("int")
    val feats = docs.select(col("doc_id"), col("lang"),
      TextStats.tokenCount(col("text")).as("token_count"))
    val out = Corpus.distributionMatch(feats, bucket, col("lang") === "en",
      concat(lit("lm:"), col("doc_id").cast("string"))).cache()
    // totality + membership determinism
    assert(out.count() === docs.count())
    val again = Corpus.distributionMatch(feats, bucket, col("lang") === "en",
      concat(lit("lm:"), col("doc_id").cast("string")))
    assert(out.select("doc_id", "kept").except(again.select("doc_id", "kept")).isEmpty)
    // the best-matched bucket keeps everything (rate 1 -> threshold = buckets)
    assert(out.filter(col("threshold") === 10000).count() > 0, "max-ratio bucket must keep all")
    // L1 distance between bucket distributions: kept vs target must be <= corpus vs target
    def dist(df: DataFrame): Map[Int, Double] = {
      val rows = df.groupBy("bucket").count().collect()
      val tot = rows.map(_.getLong(1)).sum.toDouble
      rows.map(r => r.getInt(0) -> r.getLong(1) / tot).toMap
    }
    val target = dist(out.filter(col("lang") === "en"))
    val corpus = dist(out)
    val kept = dist(out.filter(col("kept") === 1))
    def l1(a: Map[Int, Double], b: Map[Int, Double]): Double =
      (a.keySet ++ b.keySet).toSeq.map(k => math.abs(a.getOrElse(k, 0.0) - b.getOrElse(k, 0.0))).sum
    assert(l1(kept, target) <= l1(corpus, target) + 1e-9,
      s"matching must not move the distribution AWAY from the target: ${l1(kept, target)} vs ${l1(corpus, target)}")
    out.unpersist()
  }

  test("exclusiveRunningTotalOrdered: equals the window formulation on a desc order with ties") {
    val df = (1L to 500L).map(i => (i, (i * 7) % 50, (i % 13) + 1))
      .toDF("id", "rev", "v")
    val got = PrefixSum.exclusiveRunningTotalOrdered(
        df, Seq(col("rev").desc, col("id").asc), "v", outCol = "rt")
      .select("id", "rt").as[(Long, Long)].collect().toMap
    val w = Window.orderBy(col("rev").desc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = df.select(col("id"), coalesce(sum(col("v")).over(w), lit(0L)).as("rt"))
      .as[(Long, Long)].collect().toMap
    assert(got == want, "two-pass scan must equal the window running total")
    // and the input columns survive (generalized variant keeps the row)
    val cols = PrefixSum.exclusiveRunningTotalOrdered(
      df, Seq(col("rev").desc, col("id").asc), "v").columns.toSeq
    assert(cols == Seq("id", "rev", "v", "running_total"))
  }

  test("pageRank: cycle fixed point, hub dominance, layout-invariant") {
    // symmetric 2-cycle: 0.5 is the exact fixed point of the damped update
    val cycle = Seq(("a", "b", 1L), ("b", "a", 1L)).toDF("src", "dst", "weight")
    val cr = Cluster.pageRank(cycle, iters = 3).as[(String, Double)].collect().toMap
    assert(cr == Map("a" -> 0.5, "b" -> 0.5), s"cycle must stay at the fixed point: $cr")
    // star: every spoke points at the hub -> hub outranks all spokes
    val star = (1 to 6).map(i => (s"s$i", "hub", 1L)).toDF("src", "dst", "weight")
    val sr = Cluster.pageRank(star, iters = 3).as[(String, Double)].collect().toMap
    assert(sr("hub") > sr("s1") * 3, s"hub must dominate: $sr")
    assert((1 to 6).map(i => sr(s"s$i")).distinct.size == 1, "spokes are symmetric")
    // partition-layout invariance (exact decimal contribution sums)
    val again = Cluster.pageRank(star.repartition(13), iters = 3)
      .as[(String, Double)].collect().toMap
    assert(again == sr, "ranks must be bitwise layout-invariant")
  }

  test("khopDistances: chain distances, min over multiple paths, hop cap, frontier-only") {
    // chain 1-2-3-4-5 plus shortcut 1-4: node 4 is 1 hop via the shortcut
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L))
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val got = Cluster.khopDistances(edges, seeds, maxHops = 3)
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2, 5L -> 2),
      s"min-distance merge must pick the shortest path: $got")
    // hop cap: with maxHops = 1 only direct neighbors appear
    val capped = Cluster.khopDistances(edges, seeds, maxHops = 1)
      .as[(Long, Int)].collect().toMap
    assert(capped == Map(1L -> 0, 2L -> 1, 4L -> 1))
    // multiple seeds: distance is the min over seeds; layout-invariant
    val two = Cluster.khopDistances(edges.repartition(7), Seq(1L, 5L).toDF("node"), maxHops = 2)
      .as[(Long, Int)].collect().toMap
    assert(two == Map(1L -> 0, 5L -> 0, 2L -> 1, 4L -> 1, 3L -> 2))
    // pairs handed in one direction: the reverse is derived from the staged
    // scan, which must equal the pre-unioned run exactly
    val sym = Cluster.khopDistances(pairs.toDF("src", "dst"), seeds, maxHops = 3)
      .as[(Long, Int)].collect().toMap
    assert(sym == got, s"one-direction pairs must match pre-unioned edges: $sym")
    // the driver-BFS gate (default limit covers these tiny sets) vs the
    // forced distributed loop (driverEdgeLimit = 0) must be bitwise equal,
    // for both inputs, and agree on schema nullability
    val distRun = Cluster.khopDistances(edges, seeds, maxHops = 3,
      driverEdgeLimit = 0L)
    assert(distRun.as[(Long, Int)].collect().toMap == got,
      "forced-distributed run must equal the gated driver BFS")
    val symDist = Cluster.khopDistances(pairs.toDF("src", "dst"), seeds,
        maxHops = 3, driverEdgeLimit = 0L)
    assert(symDist.as[(Long, Int)].collect().toMap == sym)
    assert(Cluster.khopDistances(edges, seeds, maxHops = 3).schema ===
      distRun.schema, "gated and distributed branches must share one schema")
    // undirected through the gate: the 1->2->3 chain is walked backwards
    // from seed 3
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val back = Cluster.khopDistances(chain, Seq(3L).toDF("node"), maxHops = 2)
      .as[(Long, Int)].collect().toMap
    assert(back == Map(3L -> 0, 2L -> 1, 1L -> 2), s"edges must be undirected: $back")
  }

  test("seededShuffle: bijective positions, shard math, layout-invariant, sf1-scale ids safe") {
    // ids with the sf1 stride shape (1e9 apart) plus small ids — the hash must
    // stay exact in 64-bit arithmetic across the whole id range
    val ids = (0L until 40L) ++ (0L until 5L).map(i => 5_000_000_000L + i * 1_000_000_000L)
    val docs = ids.toDF("doc_id")
    val out = Corpus.seededShuffle(docs, seed = 17L, shardSize = 8L)
      .select("doc_id", "shuffle_bucket", "position", "shard_id")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._3)
    assert(out.map(_._1).toSet == ids.toSet, "every doc appears exactly once")
    assert(out.map(_._3).toSeq == (0L until ids.length).toSeq, "positions are 0..n-1")
    assert(out.forall(r => r._4 == r._3 / 8L), "shard = position div shardSize")
    // position order IS (bucket, doc_id) order
    val sortedKeys = out.map(r => (r._2, r._1)).toSeq
    assert(sortedKeys == sortedKeys.sorted, "global order follows (bucket, id)")
    // replay on a different partition layout: bitwise-identical assignment
    val again = Corpus.seededShuffle(docs.repartition(7), seed = 17L, shardSize = 8L)
      .select("doc_id", "shuffle_bucket", "position", "shard_id")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._3)
    assert(out.toSeq == again.toSeq, "shuffle order is a pure function of (ids, seed)")
    // a different seed produces a different permutation (not the identity map)
    val reseeded = Corpus.seededShuffle(docs, seed = 18L, shardSize = 8L)
      .select("doc_id", "position").as[(Long, Long)].collect().toMap
    assert(out.exists(r => reseeded(r._1) != r._3), "seed changes the order")
  }

  test("neymanAllocation fails fast on a fully degenerate corpus (all sd = 0)") {
    // every stratum zero-variance -> total weight 0: the division must not
    // silently emit null allocations (the pcaTopComponent raise_error
    // discipline)
    val flat = Seq((1L, "a", 10L), (2L, "a", 10L), (3L, "b", 7L))
      .toDF("doc_id", "source", "n_chars")
    val e = intercept[Exception] {
      Corpus.neymanAllocation(flat, col("source"), col("n_chars"), 100L).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("zero variance"),
      s"degenerate design must name the condition: ${e.getMessage}")
  }

  test("neymanAllocation: uniform stratum earns 0, allocation tracks N*sd, budget respected") {
    // s1: 3 docs all length 10 (sd 0) — earns nothing despite its size;
    // s2: 2 docs lengths 10/30 (sd 10); s3: 4 docs lengths 0/10/20/30
    // (sd ~11.18) — bigger AND wider, so it must out-earn s2
    val rows = Seq(
      (1L, "s1", 10L), (2L, "s1", 10L), (3L, "s1", 10L),
      (4L, "s2", 10L), (5L, "s2", 30L),
      (6L, "s3", 0L), (7L, "s3", 10L), (8L, "s3", 20L), (9L, "s3", 30L))
      .toDF("doc_id", "source", "n_chars")
    val out = Corpus.neymanAllocation(rows, col("source"), col("n_chars"), 100L)
      .as[(String, Long, Double, Long)].collect().map(r => r._1 -> r).toMap
    assert(out("s1")._4 == 0L, s"zero-variance stratum earns nothing: $out")
    assert(out("s3")._4 > out("s2")._4, s"bigger and wider must out-earn: $out")
    assert(out.values.map(_._4).sum <= 100L, s"floor allocation respects the budget: $out")
    assert(out("s2")._3 == 10.0, s"population sd of {10,30} is 10: $out")
    // driver replay with identical arithmetic
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val strata = Seq(
      ("s1", Seq(10L, 10L, 10L)), ("s2", Seq(10L, 30L)), ("s3", Seq(0L, 10L, 20L, 30L)))
    val ws = strata.map { case (s, xs) =>
      val n = xs.size.toLong
      val num = n * xs.map(x => x * x).sum - xs.sum * xs.sum
      val sd = BigDecimal(r6(math.sqrt(num.toDouble) / n.toDouble)).setScale(6)
      (s, n, sd, sd * BigDecimal(n))
    }
    val tw = ws.map(_._4).foldLeft(BigDecimal(0))(_ + _)
    ws.foreach { case (s, n, sd, w) =>
      val alloc = math.floor(w.toDouble * 100.0 / tw.toDouble).toLong
      assert(out(s) == ((s, n, sd.toDouble, alloc)),
        s"driver replay must match bitwise for $s: ${out(s)} vs ($s, $n, $sd, $alloc)")
    }
  }
}
