package graft.ext

import graft.{SparkTestSession, Tables}
import graft.functions.VectorFunctions.cosine_sim
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ExtSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  val sf = "/root/testdata/sf0.001"

  lazy val docs = Tables.documents(spark, sf).cache()
  lazy val emb = Tables.embeddings(spark, sf).cache()

  test("exact dedup: planted duplicate collapses to one representative") {
    val planted = docs.unionByName(
      docs.filter(col("doc_id") === 0).withColumn("doc_id", lit(100000L)))
    val deduped = Dedup.dedupExact(planted)
    assert(deduped.count() === docs.count())
    assert(deduped.filter(col("doc_id") === 100000L).isEmpty, "kept the non-min representative")
    val groups = Dedup.exactDupGroups(planted)
    assert(groups.filter(col("dup_count") === 2).count() === 1)
  }

  test("canonicalDocs: exactly one kept doc per cluster, argmax by (score, -id), singletons kept") {
    val clusters = Cluster.dupClustersCollapsed(docs, 0.8)
    val quality = TextStats.qualityScore(docs).select(col("doc_id"), col("quality_score"))
    val out = Cluster.canonicalDocs(clusters, quality).cache()
    assert(out.count() === docs.count(), "selection must be total over docs")
    // exactly one winner per cluster
    val perCluster = out.groupBy("cluster_id").agg(sum("kept").as("n_kept"))
    assert(perCluster.filter(col("n_kept") =!= 1).isEmpty, "clusters without exactly one kept doc")
    // the winner is the (max score, then min id) member of its cluster
    val viol = out.alias("a").join(out.alias("b"), "cluster_id")
      .filter(col("a.kept") === 1 &&
        (col("b.quality_score") > col("a.quality_score") ||
         (col("b.quality_score") === col("a.quality_score") && col("b.doc_id") < col("a.doc_id"))))
    assert(viol.isEmpty, "a cluster kept a non-argmax member")
    // singleton clusters keep their only member
    assert(out.filter(col("cluster_size") === 1 && col("kept") =!= 1).isEmpty)
    out.unpersist()
  }

  test("kmeansRefine: refinement does not worsen mean fit, assignment total and deterministic") {
    def meanFit(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(avg(col("fit"))).head.getDouble(0)
    val r1 = Similarity.kmeansRefine(emb, nlist = 8, iters = 1).cache()
    assert(r1.count() === emb.count(), "assignment must be total over the corpus")
    assert(r1.select("vec_id").distinct().count() === emb.count(), "one cluster per vector")
    // cluster sizes reconcile with the assignment
    val bad = r1.groupBy("cluster_id", "cluster_size").agg(count(lit(1)).as("n"))
      .filter(col("n") =!= col("cluster_size"))
    assert(bad.isEmpty, "cluster_size disagrees with the actual member count")
    // Lloyd monotonicity (in expectation): the refined codebook must fit at
    // least as well as the raw md5 seed sample it started from
    val seedFit = {
      // fit of the UNrefined assignment: cosine to the seed centroid
      val c = emb.select(col("vec_id"), col("embedding").as("v"))
      val cents = emb.select(col("vec_id").as("centroid_id"),
          col("embedding").as("centroid_vec"),
          graft.functions.HashFunctions.md5_lo64(
            concat(lit("ivf:"), col("vec_id").cast("string"))).as("_h"))
        .orderBy(col("_h")).limit(8).drop("_h")
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
        .orderBy(col("_c").desc, col("centroid_id").asc)
      c.crossJoin(broadcast(cents))
        .withColumn("_c", cosine_sim(col("v"), col("centroid_vec")))
        .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .agg(avg(round(col("_c"), 6))).head.getDouble(0)
    }
    assert(meanFit(r1) >= seedFit - 1e-9,
      s"one Lloyd round worsened mean fit: ${meanFit(r1)} < $seedFit")
    // a second round must not regress the first
    val r2 = Similarity.kmeansRefine(emb, nlist = 8, iters = 2)
    assert(meanFit(r2) >= meanFit(r1) - 1e-9, "second Lloyd round regressed fit")
    // pure function of the corpus: partitioning cannot change a bit
    val again = Similarity.kmeansRefine(emb.repartition(7), nlist = 8, iters = 1).collect()
    assert(r1.collect().map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
    r1.unpersist()
  }

  test("term index: bm25 and hybridRrf probes equal the inline formulations bitwise") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_term_index").toString
    Retrieval.buildTermIndex(docs, tmp)
    val terms = Seq("table", "query", "stream", "window")
    val inline = Retrieval.bm25(docs, terms, k = 10).collect()
    val probed = Retrieval.bm25FromIndex(spark, tmp, terms, k = 10).collect()
    assert(inline.map(_.toString).toSeq === probed.map(_.toString).toSeq,
      "indexed bm25 differs from inline")
    // the filtered probe (x43's sparse leg) equals filtering docs up front
    val inlineF = Retrieval.bm25(docs.filter(col("doc_id") =!= 0L), terms, k = 20).collect()
    val probedF = Retrieval.bm25FromIndex(spark, tmp, terms, k = 20,
      filterDocs = col("doc_id") =!= 0L).collect()
    assert(inlineF.map(_.toString).toSeq === probedF.map(_.toString).toSeq,
      "doc-filtered indexed bm25 differs from inline")
    val fusedInline = Retrieval.hybridRrf(docs, emb, terms, queryVecId = 0L).collect()
    val fusedProbed = Retrieval.hybridRrfFromIndex(spark, tmp, emb, terms,
      queryVecId = 0L).collect()
    assert(fusedInline.map(_.toString).toSeq === fusedProbed.map(_.toString).toSeq,
      "indexed hybridRrf differs from inline")
  }

  test("weightedSample: n per stratum, huge weight always wins, matches window formulation, deterministic") {
    val n = 5
    val out = Corpus.weightedSample(docs, col("lang"), col("doc_id"),
      greatest(col("n_chars"), lit(1L)), n).cache()
    // exactly min(n, stratum size) rows per stratum, ranks 1..n
    val sizes = docs.groupBy(col("lang").as("stratum")).count()
    val perStratum = out.groupBy("stratum").agg(
      count(lit(1)).as("picked"), max("rank").as("maxr"), min("rank").as("minr"))
    val bad = perStratum.join(sizes, "stratum")
      .filter(col("picked") =!= least(lit(n.toLong), col("count")) ||
        col("minr") =!= 1 || col("maxr") =!= col("picked"))
    assert(bad.isEmpty, "per-stratum pick counts/ranks broken")
    // equals the window formulation (the oracle's shape) bit for bit
    val m53 = shiftrightunsigned(graft.functions.HashFunctions.md5_lo64(
      concat(lit("es:"), col("doc_id").cast("string"))), 11) + lit(1L)
    val es = round(log(m53.cast("double") / lit(9007199254740992.0))
      / greatest(col("n_chars"), lit(1L)).cast("double") * lit(1e6), 0).cast("long")
    val win = docs.select(col("lang").as("stratum"), col("doc_id"), es.as("es_scaled"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("stratum")
          .orderBy(col("es_scaled").desc, col("doc_id").asc)).cast("int"))
      .filter(col("rank") <= n)
      .select("stratum", "rank", "doc_id", "es_scaled")
    assert(out.select("stratum", "rank", "doc_id", "es_scaled")
      .except(win).isEmpty && win.except(out).isEmpty,
      "TopKPairs selection differs from the window formulation")
    // a weight orders of magnitude above the rest must always be picked first:
    // ln(u)/w -> 0- as w grows, and every other key is strictly more negative
    val skewed = Corpus.weightedSample(docs,
      col("lang"), col("doc_id"),
      when(col("doc_id") === 7L, lit(1e12)).otherwise(lit(1.0)), n)
    val seven = skewed.filter(col("doc_id") === 7L).collect()
    assert(seven.length === 1 && seven.head.getAs[Int]("rank") === 1,
      "the dominant-weight doc was not rank 1")
    // pure function of the key: partitioning cannot change a bit
    val again = Corpus.weightedSample(docs.repartition(7), col("lang"), col("doc_id"),
      greatest(col("n_chars"), lit(1L)), n).collect()
    assert(out.collect().map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
    out.unpersist()
  }

  test("centroidOutliers: bottom-k by own-centroid cosine, ascending ranks, centroids never outliers") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_outlier_ivf").toString
    Similarity.buildIvfIndex(emb, tmp)
    val out = Similarity.centroidOutliers(spark, tmp, k = 10).cache()
    val rows = out.orderBy("rank").collect()
    assert(rows.length === 10)
    assert(rows.map(_.getAs[Int]("rank")).toSeq === (1 to 10))
    val cos = rows.map(_.getAs[Double]("centroid_cos"))
    assert(cos.zip(cos.tail).forall { case (a, b) => a <= b }, "scores not ascending")
    // every corpus vector scores >= the worst outlier (bottom-k is global)
    val centroids = spark.read.parquet(s"$tmp/centroids")
    val all = spark.read.parquet(s"$tmp/postings")
      .join(broadcast(centroids), col("cluster_id") === col("centroid_id"))
      .withColumn("c", round(cosine_sim(col("c_vec"), col("centroid_vec")), 6))
    assert(all.filter(col("c") < cos.last).count() <= 10,
      "a vector below the k-th outlier score escaped the bottom-k")
    // a centroid is its own cluster's exemplar: cosine 1 — never in bottom-k here
    val centroidIds = centroids.select(col("centroid_id")).collect().map(_.getLong(0)).toSet
    assert(!rows.map(_.getAs[Long]("vec_id")).exists(centroidIds), "a centroid ranked as an outlier")
    out.unpersist()
  }

  test("datacard: one row per source, counts reconcile, planted cross-source dup counted on both sides") {
    // plant a verbatim copy of doc 0 in a DIFFERENT source so dup exposure
    // shows up on both sources' rows
    val clone = docs.filter(col("doc_id") === 0)
      .withColumn("doc_id", lit(200000L)).withColumn("source", lit("srcX"))
    val planted = docs.unionByName(clone)
    val quality = TextStats.qualityScore(planted).select(col("doc_id"), col("quality_score"))
    val card = Corpus.datacard(planted, TextStats.tokenCount(col("text")), quality).cache()
    assert(card.count() === planted.select("source").distinct().count())
    assert(card.agg(sum("n_docs")).head.getLong(0) === planted.count())
    val src0 = planted.filter(col("doc_id") === 0).head.getAs[String]("source")
    val dupRows = card.filter(col("source").isin(src0, "srcX"))
      .select("source", "dup_docs").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dupRows("srcX") === 1L, "clone source must see 1 dup doc")
    assert(dupRows(src0) >= 1L, "original source must see its copy too")
    // majority language is deterministic: recompute independently
    val lc = planted.groupBy("source", "lang").count()
    val expTop = lc.groupBy("source").agg(max("count").as("mx"))
      .join(lc, "source").filter(col("count") === col("mx"))
      .groupBy("source").agg(min("lang").as("exp"))
    assert(card.join(expTop, "source").filter(col("top_lang") =!= col("exp")).isEmpty)
    card.unpersist()
  }

  test("crossStratumLeakage: shared-cluster counts over a known assignment") {
    val clusters = Seq(
      (1L, 100L, 2L), (2L, 100L, 2L), // cluster 100 spans a, b
      (3L, 200L, 2L), (4L, 200L, 2L), // cluster 200 inside a only
      (5L, 300L, 3L), (6L, 300L, 3L), (7L, 300L, 3L) // cluster 300 spans a, b, c
    ).toDF("doc_id", "cluster_id", "cluster_size")
    val strata = Seq(
      (1L, "a"), (2L, "b"), (3L, "a"), (4L, "a"),
      (5L, "a"), (6L, "b"), (7L, "c")).toDF("doc_id", "stratum")
    val got = Cluster.crossStratumLeakage(clusters, strata)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === Map(("a", "b") -> 2L, ("a", "c") -> 1L, ("b", "c") -> 1L))
  }

  test("mixturePlanSqrt: weights normalize to 1, flatten toward uniform, budgets sum to ~budget") {
    val plan = Corpus.mixturePlanSqrt(docs, col("source"),
      TextStats.tokenCount(col("text")), tokenBudget = 1000000L).cache()
    val rows = plan.collect()
    assert(rows.length === docs.select("source").distinct().count())
    val wSum = rows.map(_.getAs[Double]("mix_weight")).sum
    assert(math.abs(wSum - 1.0) < 1e-9, s"weights sum to $wSum")
    val bSum = rows.map(_.getAs[Long]("budget_tokens")).sum
    assert(math.abs(bSum - 1000000L) <= rows.length, s"budgets sum to $bSum")
    // T=2 flattens: every stratum's weight sits between its natural share
    // and the uniform 1/n (strictly, unless already uniform)
    val n = rows.length
    rows.foreach { r =>
      val (share, w) = (r.getAs[Double]("token_share"), r.getAs[Double]("mix_weight"))
      val lo = math.min(share, 1.0 / n) - 1e-9
      val hi = math.max(share, 1.0 / n) + 1e-9
      assert(w >= lo && w <= hi, s"${r.getAs[String]("stratum")}: w=$w outside [$lo,$hi]")
    }
    // determinism at different parallelism: the decimal normalizer promises
    // identical bits whatever the partial-agg order
    val again = Corpus.mixturePlanSqrt(docs.repartition(7), col("source"),
      TextStats.tokenCount(col("text")), tokenBudget = 1000000L).collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
    plan.unpersist()
  }

  test("frequencyCapSample: over-cap strata thinned to the cap, under-cap kept whole, deterministic") {
    // skewed synthetic: srcA has 80% of docs, srcB 20%
    val skewed = spark.range(1000).select(
      col("id").as("doc_id"),
      when(col("id") < 800, "srcA").otherwise("srcB").as("source"))
    val out = Corpus.frequencyCapSample(skewed, col("source"),
      concat(lit("cap:"), col("doc_id").cast("string")), maxShare = 0.5).cache()
    assert(out.count() === 1000, "output must be total (kept flag, not a filter)")
    val perSrc = out.groupBy("source").agg(
      sum("kept").as("n_kept"), count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_kept"), r.getAs[Long]("n"))).toMap
    // srcB under the cap: keeps everything
    assert(perSrc("srcB")._1 === perSrc("srcB")._2)
    // srcA over the cap: thinned toward cap*N = 500 docs (md5 buckets are
    // uniform-ish, not exact — allow 10% slack)
    val keptA = perSrc("srcA")._1
    assert(keptA < 800 && math.abs(keptA - 500L) < 50, s"srcA kept $keptA, expected ~500")
    // pure function of the key: identical bits on a different partitioning
    val again = Corpus.frequencyCapSample(skewed.repartition(7), col("source"),
      concat(lit("cap:"), col("doc_id").cast("string")), maxShare = 0.5)
    assert(out.collect().map(_.toString).sorted
      .sameElements(again.collect().map(_.toString).sorted))
    out.unpersist()
  }

  test("leakageSafeSplit: every cluster lands wholly on one side") {
    val clusters = Cluster.dupClustersCollapsed(docs, 0.8)
    val split = Corpus.leakageSafeSplit(clusters, trainFrac = 0.9).cache()
    assert(split.count() === docs.count())
    val straddling = split.groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("n_sides"))
      .filter(col("n_sides") > 1)
    assert(straddling.isEmpty, "a near-dup cluster straddles train/valid")
    // both sides populated at 90/10 on this fixture
    val sides = split.select("split").distinct().collect().map(_.getString(0)).toSet
    assert(sides === Set("train", "valid"))
    split.unpersist()
  }

  test("minhash LSH finds exactly the exact-jaccard pairs at threshold 0.8") {
    val exact = Dedup.jaccardPairs(docs, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.nearDupMinhash(docs, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(lsh === exact)
  }

  test("minhash signature approximates jaccard") {
    val sig = docs
      .select(col("doc_id"), Dedup.shingles("text").as("sh"))
      .withColumn("sig", Dedup.minHashSignature(col("sh"), 128))
    val pair = Dedup.jaccardPairs(docs, 0.8).limit(1).head
    val (a, b, j) = (pair.getLong(0), pair.getLong(1), pair.getDouble(2))
    val sa = sig.filter(col("doc_id") === a).head.getAs[collection.Seq[Long]]("sig")
    val sb = sig.filter(col("doc_id") === b).head.getAs[collection.Seq[Long]]("sig")
    val est = sa.zip(sb).count { case (x, y) => x == y } / 128.0
    assert(math.abs(est - j) < 0.15, s"minhash estimate $est too far from true jaccard $j")
  }

  test("simhash near-dups cover the high-jaccard planted pairs") {
    val exact = Dedup.jaccardPairs(docs, 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.nearDupSimhash(docs, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // Recall property: near-identical texts must land within hamming<=3.
    // (Precision is NOT asserted: simhash is a frequency-profile fingerprint,
    // so same-vocab docs can collide at low jaccard — inherent to simhash on
    // bag-of-words corpora, and why the jaccard verify step exists.)
    assert(sim.nonEmpty)
    assert((exact -- sim).size <= exact.size / 2, "simhash missed most near-identical pairs")
  }

  test("cosine_sim expression matches a scala-side computation") {
    val rows = emb.limit(3).collect().map(_.getAs[collection.Seq[Float]]("embedding"))
    def cos(a: collection.Seq[Float], b: collection.Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    val got = emb.limit(3).alias("a").crossJoin(emb.limit(3).alias("b"))
      .select(cosine_sim(col("a.embedding"), col("b.embedding")).as("c"))
      .collect().map(_.getDouble(0))
    val exp = for (a <- rows; b <- rows) yield cos(a, b)
    got.zip(exp).foreach { case (g, e) => assert(math.abs(g - e) < 1e-12) }
    // self-similarity is 1
    val self = emb.select(cosine_sim(col("embedding"), col("embedding")).as("c"))
      .agg(min("c"), max("c")).head
    assert(math.abs(self.getDouble(0) - 1.0) < 1e-12 && math.abs(self.getDouble(1) - 1.0) < 1e-12)
  }

  test("LSH ANN results are a correctly-scored subset of brute force candidates") {
    val brute = Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 10), 5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lsh = Similarity.cosineTopKLsh(emb, emb.filter(col("vec_id") < 10), 5)
      .collect()
    assert(lsh.nonEmpty)
    // every LSH hit that brute force also ranked must carry the same cosine
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      brute.get(key).foreach(b => assert(math.abs(b - r.getDouble(2)) < 1e-6))
    }
    // determinism: run twice, same rows
    val again = Similarity.cosineTopKLsh(emb, emb.filter(col("vec_id") < 10), 5).collect()
    assert(lsh.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("IVF ANN: correctly-scored, deterministic, with reasonable recall") {
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity.cosineTopK(emb, queries, 5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val ivf = Similarity.cosineTopKIvf(emb, queries, 5, nlist = 8, nprobe = 4).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      brute.get(key).foreach(b => assert(math.abs(b - r.getDouble(2)) < 1e-6))
    }
    // probing half the clusters should recover a majority of true neighbors
    val hits = ivf.count(r => brute.contains((r.getLong(0), r.getLong(1))))
    assert(hits >= brute.size / 2, s"IVF recall too low: $hits of ${brute.size}")
    val again = Similarity.cosineTopKIvf(emb, queries, 5, nlist = 8, nprobe = 4).collect()
    assert(ivf.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("persisted IVF index probes identically to the inline computation") {
    val queries = emb.filter(col("vec_id") < 10)
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx_spec").toString
    Similarity.buildIvfIndex(emb, dir, nlist = 8)
    val indexed = Similarity.cosineTopKIvfIndexed(spark, dir, queries, 5, nprobe = 4)
      .collect().map(_.toString).sorted
    val inline = Similarity.cosineTopKIvf(emb, queries, 5, nlist = 8, nprobe = 4)
      .collect().map(_.toString).sorted
    assert(indexed.sameElements(inline))
  }

  test("embedding LSH near-dup pairs are an exact-scored subset with decent recall") {
    val exact = Similarity.embeddingNearDupPairs(emb, 0.4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lsh = Similarity.embeddingNearDupPairsLsh(emb, 0.4).collect()
    assert(exact.nonEmpty)
    // precision 1: every LSH pair must be a true pair with the same cosine
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(exact.contains(key), s"false positive pair $key")
      assert(math.abs(exact(key) - r.getDouble(2)) < 1e-12)
    }
    // recall: deterministic for fixed planes; expect a majority at cos>=0.4
    assert(lsh.length * 2 >= exact.size, s"LSH recall too low: ${lsh.length} of ${exact.size}")
  }

  test("winnowing fingerprints: local-edit robustness and containment pairs") {
    import org.apache.spark.sql.functions.{col => c}
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val edited = base.replace("word20", "EDITED")
    val other = (100 to 140).map(i => s"tok$i").mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, edited), (4L, other), (5L, "short"))
      .toDF("doc_id", "text")
    val fp = df.select(c("doc_id"),
        graft.functions.HashFunctions.winnowing_fp(c("text")).as("fingerprints")).collect()
      .map(r => r.getLong(0) -> r.getAs[collection.Seq[Long]]("fingerprints")).toMap
    assert(fp(1L) === fp(2L), "identical texts share all fingerprints")
    val overlap = fp(1L).toSet.intersect(fp(3L).toSet).size.toDouble / fp(1L).size
    assert(overlap > 0.6, s"local edit must keep most fingerprints, got $overlap")
    assert(fp(1L).toSet.intersect(fp(4L).toSet).isEmpty, "disjoint texts share none")
    assert(fp(5L).isEmpty, "text shorter than k has no k-grams")

    // containment pairs on the fixture: planted near-dups must surface
    val exact = Dedup.jaccardPairs(docs, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val winnow = Dedup.winnowingPairs(docs, minContainment = 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(winnow), s"winnowing missed planted pairs: ${exact -- winnow}")
  }

  test("token and subword counts handle edge cases") {
    val df = Seq("", "   ", "one", "a b  c", "supercalifragilistic").toDF("text")
    val got = df.select(
      TextStats.tokenCount(col("text")).as("t"),
      TextStats.subwordCount(col("text")).as("s")).collect()
    assert(got.map(_.getInt(0)).toSeq === Seq(0, 0, 1, 3, 1))
    // ceil(3/4)=1 per short word; 20-char word -> 5 subwords
    assert(got.map(_.getInt(1)).toSeq === Seq(0, 0, 1, 3, 5))
  }

  test("quality score: ordered overrides drop degenerate docs regardless of score") {
    val df = Seq(
      ("short doc", 1L),                       // < 10 tokens -> keep=0
      (Seq.fill(50)("the good and of to in text").mkString(" "), 2L))
      .toDF("text", "doc_id")
    val got = TextStats.qualityScore(df).select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(1L) === 0)
    assert(got(2L) === 1)
  }

  test("fingerprints: whitespace-normalized texts share norm_fp") {
    val df = Seq(("a b c d", 1L), ("A  b   C d", 2L), ("different words here x", 3L))
      .toDF("text", "doc_id")
    val fp = TextStats.fingerprints(df).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L) !== fp(3L))
  }

  test("topTerms: rare repeated terms outrank common ones; at most k per doc") {
    // "zebra" appears twice in doc 1 and nowhere else (tf=2, df=1 -> 1.0);
    // "the" is everywhere (df=3 -> score <= tf/4)
    val df = Seq(
      ("the zebra saw the zebra", 1L),
      ("the cat sat", 2L),
      ("the dog ran far away today", 3L)).toDF("text", "doc_id")
    val top = TextStats.topTerms(df, k = 2)
    val byDoc = top.collect().groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.values.forall(_.length <= 2))
    val d1 = byDoc(1L).sortBy(_.getAs[Long]("rank")).map(_.getAs[String]("term"))
    assert(d1.head === "zebra")
    // deterministic under repetition
    assert(top.collect().map(_.toString).sorted.toSeq ===
      TextStats.topTerms(df, k = 2).collect().map(_.toString).sorted.toSeq)
  }

  test("quantizeInt8: range, scale, reconstruction bound, zero vectors dropped") {
    val q = Similarity.quantizeInt8(emb).cache()
    // every coordinate lands in [-127, 127]
    assert(q.filter(expr("exists(q, v -> v < -127 OR v > 127)")).isEmpty)
    // some coordinate must hit +/-127 (the max-abs one, by construction)
    assert(q.filter(expr("exists(q, v -> abs(v) = 127)")).count() === q.count())
    // reconstruction: |x - q/scale| <= 0.5/scale per coordinate
    val bad = Similarity.quantizeInt8(emb)
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .filter(expr(
        """exists(zip_with(embedding, q, (x, v) ->
          |  abs(cast(x as double) - v / scale) > 0.5 / scale + 1e-12), b -> b)""".stripMargin))
    assert(bad.isEmpty)
    // zero/empty vectors are dropped, everything else kept
    val kept = emb.filter(expr(
      "size(embedding) > 0 AND exists(embedding, x -> x <> 0.0)")).count()
    assert(q.count() === kept)
    q.unpersist()
  }

  test("quantized knn: high top-5 overlap with exact cosine ranking") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.cosineTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.cosineTopKQuantized(emb, queries, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = (exact intersect quant).size.toDouble / exact.size
    assert(overlap >= 0.8, s"int8 quantization degraded recall to $overlap")
    // deterministic re-run
    val again = Similarity.cosineTopKQuantized(emb, queries, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === quant)
  }

  test("contaminationScan: verbatim leak scores 1.0, partial overlap scored, noise excluded") {
    val mk = (s: String) => s.trim
    val evalSet = Seq(
      (100L, mk("alpha beta gamma delta epsilon zeta eta theta iota kappa")), // 10 toks, 3 8-grams
      (200L, mk("one two three four five six seven eight"))).toDF("doc_id", "text")
    val corpus = Seq(
      // full copy of eval 100 -> containment 1.0
      (1L, mk("alpha beta gamma delta epsilon zeta eta theta iota kappa")),
      // shares only the first 8 tokens of eval 100 -> 1 of its 3 8-grams (< minShared)
      (2L, mk("alpha beta gamma delta epsilon zeta eta theta DIFFERENT TAIL")),
      // unrelated
      (3L, mk("totally unrelated words that never overlap with anything here"))
    ).toDF("doc_id", "text")
    val got = Dedup.contaminationScan(corpus, evalSet, n = 8, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got((100L, 1L)) === ((3L, 1.0)))
    assert(got((100L, 2L)) === ((1L, 1.0 / 3)))
    assert(!got.keySet.exists(_._2 == 3L))
    // minShared floor drops the single-ngram pair
    val floored = Dedup.contaminationScan(corpus, evalSet, n = 8, minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(floored === Set((100L, 1L)))
  }

  test("redactPii: class counts, pass order, and non-PII text untouched") {
    val df = Seq(
      (1L, "mail bob@example.com or alice@test.org from 10.0.0.1 call 12345678"),
      (2L, "server at 192.168.1.254 port 8080"),   // 8080 is too short for <NUM>
      (3L, "no pii in this sentence at all"),
      (4L, "edge: 1234567 exactly seven digits")).toDF("doc_id", "text")
    val r = TextStats.redactPii(df).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[String]("text_redacted") ===
      "mail <EMAIL> or <EMAIL> from <IP> call <NUM>")
    assert((r(1L).getAs[Int]("n_emails"), r(1L).getAs[Int]("n_ips"),
      r(1L).getAs[Int]("n_longnums")) === ((2, 1, 1)))
    assert(r(2L).getAs[String]("text_redacted") === "server at <IP> port 8080")
    assert(r(3L).getAs[String]("text_redacted") === r(3L).getAs[String]("text"))
    assert(r(4L).getAs[String]("text_redacted") === "edge: <NUM> exactly seven digits")
    // the digit pass must not re-match digits inside an already-redacted
    // email/IP (pass order) — counts come from the PREVIOUS pass's output
    val tricky = Seq((9L, "acct 99887766 of u12345678@bank.example from 203.0.113.77"))
      .toDF("doc_id", "text")
    val t = TextStats.redactPii(tricky).head
    assert(t.getAs[String]("text_redacted") === "acct <NUM> of <EMAIL> from <IP>")
    assert((t.getAs[Int]("n_emails"), t.getAs[Int]("n_ips"), t.getAs[Int]("n_longnums"))
      === ((1, 1, 1)))
  }

  test("repetition signals: hand-computed fractions and degenerate docs") {
    val d = Seq(
      (1L, "a b a b a"),   // 2-grams: ab,ba,ab,ba; 3-grams: aba,bab,aba
      (2L, "p q r s t u v w x y"), // all grams unique
      (3L, "solo")         // no grams at all
    ).toDF("doc_id", "text")
    val out = TextStats.repetitionSignals(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getLong(1) === 5L)
    assert(r1.getDouble(2) === 2.0 * 2 / 5)   // top 2-gram "a b" occurs twice
    assert(r1.getDouble(3) === 1.0)           // every 2-gram slot duplicated
    assert(r1.getDouble(4) === 2.0 / 3)       // "a b a" twice of 3 slots
    assert(r1.getInt(5) === 0)
    val r2 = out(2L)
    assert(r2.getDouble(2) === 2.0 / 10 && r2.getDouble(3) === 0.0 && r2.getInt(5) === 1)
    val r3 = out(3L)
    assert(r3.getLong(1) === 1L && r3.getDouble(2) === 0.0 && r3.getInt(5) === 1)
  }

  test("LM quality score: hand-computed add-1 trigram log-probs, exact decimal sum") {
    val d = Seq((1L, "aaaa"), (2L, "abcd"), (3L, "xy")).toDF("doc_id", "text")
    // corpus trigram slots: aaa,aaa (doc1), abc,bcd (doc2); doc3 has none.
    // counts: aaa->2, abc->1, bcd->1; N=4 slots, V=3 distinct.
    def lp(c: Long): BigDecimal =
      BigDecimal(math.log((c + 1.0) / 7.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val out = TextStats.lmQualityScore(d).collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) === 2L)
    assert(out(1L).getDouble(2) === (lp(2) + lp(2)).toDouble)
    assert(out(2L).getDouble(2) === (lp(1) + lp(1)).toDouble)
    assert(out(3L).getLong(1) === 0L && out(3L).getDouble(2) === 0.0)
    // the common-trigram doc is more "fluent" under the corpus model
    assert(out(1L).getDouble(3) > out(2L).getDouble(3))
  }

  test("adaptive nlist: integer rule, clamps, and auto == explicit at fixture size") {
    import Similarity.adaptiveNlist
    assert(adaptiveNlist(1) === 16 && adaptiveNlist(7500) === 16) // floor clamp
    assert(adaptiveNlist(8000) === 16 && adaptiveNlist(8001) === 17)
    assert(adaptiveNlist(10000) === 20)
    assert(adaptiveNlist(3_000_000) === 4096) // cap
    val n = emb.count()
    val auto = Similarity.semanticDupPairsAuto(emb, 0.4).collect().toSet
    val explicit = Similarity.semanticDupPairs(emb, 0.4, adaptiveNlist(n)).collect().toSet
    assert(auto === explicit)
  }

  test("semantic dup pairs = exact near-dup pairs restricted to shared coarse clusters") {
    val pairs = Similarity.semanticDupPairs(emb, threshold = 0.4).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // the exact quadratic scan thresholded the same way
    val exact = Similarity.embeddingNearDupPairs(emb, 0.0)
      .withColumn("cosine", round(col("cosine"), 6))
      .filter(col("cosine") >= 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs.nonEmpty, "fixture should contain semantic near-dups")
    assert(pairs.subsetOf(exact), "semantic pairs must be exactly-scored true pairs")
    // recall loss only ever comes from cluster boundaries: every exact pair
    // co-located in one cluster IS reported
    val assigned = Similarity.semanticDupPairs(emb, threshold = -1.0).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    val missed = exact.filter(p => !pairs.contains(p))
    assert(missed.forall(p => !assigned.contains((p._1, p._2))),
      "a same-cluster pair above threshold was dropped")
  }

  test("collapsed minhash pair enumeration equals the raw banded pipeline bitwise") {
    val planted = docs.select("doc_id", "text")
      .unionByName(docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
      // a shingle-less identical group (2 words < n=3) must pair in NEITHER
      .unionByName(Seq((300000L, "tiny doc"), (300001L, "tiny doc"))
        .toDF("doc_id", "text"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val raw = canon(Dedup.nearDupMinhash(planted, 0.8))
    val collapsed = canon(Dedup.nearDupMinhashCollapsed(planted, 0.8))
    assert(collapsed === raw)
    assert(!collapsed.exists(t => t._1 >= 300000L || t._2 >= 300000L))
    // every planted intra-group pair is present at jaccard exactly 1.0
    assert(collapsed.contains((0L, 100000L, 1.0)) && collapsed.contains((100000L, 200000L, 1.0)))
  }

  test("collapsed simhash pair enumeration equals the raw chunk-join pipeline bitwise") {
    val planted = docs.select("doc_id", "text")
      .unionByName(docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    val raw = canon(Dedup.nearDupSimhash(planted))
    val collapsed = canon(Dedup.nearDupSimhashCollapsed(planted))
    assert(collapsed === raw)
    assert(collapsed.contains((0L, 100000L, 0)))
  }

  test("collapsed near-dup clustering equals the raw formulation bitwise, dup groups planted") {
    // plant 3-way verbatim duplicate groups (the crawl shape the collapse
    // optimizes) on top of the fixture's organic near-dups
    val planted = docs.select("doc_id", "text")
      .unionByName(docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
    val raw = Cluster.dupClusters(planted,
      Dedup.nearDupMinhash(planted, 0.8).select(col("doc_a"), col("doc_b")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val collapsed = Cluster.dupClustersCollapsed(planted, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(collapsed === raw)
    // the planted copies must cluster with their originals
    val m = collapsed.map(t => t._1 -> t._2).toMap
    (0L until 20L).foreach { id =>
      assert(m(id + 100000L) === m(id) && m(id + 200000L) === m(id))
    }
  }

  test("dupSpans: a planted verbatim copy marks every full block duplicated") {
    val planted = docs.select(col("doc_id"), col("text")).unionByName(
      docs.filter(col("doc_id") === 1).select(lit(300000L).as("doc_id"), col("text")))
    val spans = Dedup.dupSpans(planted, blockTokens = 8)
    val row = spans.filter(col("doc_id") === 300000L).head
    val (nTok, nBlk, dupBlk) = (row.getLong(1), row.getLong(2), row.getLong(3))
    assert(nBlk === nTok / 8)
    assert(dupBlk === nBlk, "verbatim copy: all its blocks occur twice corpus-wide")
    assert(row.getLong(5) === nTok - 8 * nBlk) // tokens_kept
    // the original is symmetric
    val orig = spans.filter(col("doc_id") === 1).head
    assert(orig.getLong(3) === orig.getLong(2))
  }

  test("dupSpans: invariants hold over the fixture; short docs produce zero blocks") {
    val spans = Dedup.dupSpans(docs, blockTokens = 8).collect()
    assert(spans.length === docs.count())
    spans.foreach { r =>
      val (nTok, nBlk, dupBlk, frac, kept) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5))
      assert(nBlk === nTok / 8)
      assert(dupBlk >= 0 && dupBlk <= nBlk)
      assert(kept === nTok - 8 * dupBlk && kept >= 0)
      assert(frac >= 0.0 && frac <= 1.0)
    }
    // a doc shorter than one block is fully kept
    val tiny = Dedup.dupSpans(
      Seq((1L, "just five little words here"), (2L, "just five little words here")).toDF("doc_id", "text"),
      blockTokens = 8).collect()
    tiny.foreach { r =>
      assert(r.getLong(2) === 0L && r.getLong(3) === 0L && r.getLong(5) === r.getLong(1))
    }
  }

  test("removeDupSpans: rewrite agrees with dupSpans accounting; unique text untouched") {
    val planted = docs.select(col("doc_id"), col("text")).unionByName(
      docs.filter(col("doc_id") === 1).select(lit(300000L).as("doc_id"), col("text")))
    val cleaned = Dedup.removeDupSpans(planted, blockTokens = 8).collect()
    cleaned.foreach { r =>
      val (nTok, dupBlk, kept, text) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
      assert(kept === nTok - 8 * dupBlk)
      // the rewritten text really contains exactly tokens_kept tokens
      val n = if (text.isEmpty) 0 else text.split(" ").length
      assert(n === kept, s"doc ${r.getLong(0)}: clean_text has $n tokens, expected $kept")
    }
    // the planted copy keeps only its tail past the last full block
    val copy = cleaned.find(_.getLong(0) == 300000L).get
    assert(copy.getLong(3) === copy.getLong(1) % 8)
    // a doc with no duplicated blocks is returned verbatim
    val uniq = Seq((1L, "a b c d e f g h tail"), (2L, "q r s t u v w x")).toDF("doc_id", "text")
    Dedup.removeDupSpans(uniq, blockTokens = 8).collect().foreach { r =>
      assert(r.getLong(2) === 0L)
      assert(r.getString(4).split(" ").length === r.getLong(1))
    }
  }

  test("recallAtK: hand-built frames, identity gives 1.0, misses count as 0") {
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L), (3L, 30L), (3L, 31L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 99L)) // q3 absent
      .toDF("query_id", "neighbor_id")
    val r = Similarity.recallAtK(exact, approx, k = 2).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(r(1L) === ((2L, 1.0)))
    assert(r(2L) === ((1L, 0.5)))
    assert(r(3L) === ((0L, 0.0)))
    val self = Similarity.recallAtK(exact, exact, k = 2).collect()
    assert(self.forall(_.getDouble(2) === 1.0))
  }

  test("chunkDedup: kept chunks = distinct fingerprints, planted dup doc keeps nothing") {
    val out = Corpus.chunkDedup(docs, window = 32).cache()
    val chunks = Corpus.chunkDocs(docs, 32, 32).cache()
    // survivorship is exactly one winner per distinct fingerprint
    val kept = out.agg(sum("n_kept")).head.getLong(0)
    assert(kept === chunks.select("chunk_fp").distinct().count())
    assert(out.agg(sum("n_chunks")).head.getLong(0) === chunks.count())
    assert(out.filter(col("n_kept") > col("n_chunks")).isEmpty)
    // a verbatim copy of doc 0 appended with a HIGHER id keeps zero chunks
    val planted = docs.unionByName(
      docs.filter(col("doc_id") === 0).withColumn("doc_id", lit(900000L)))
    val copyRow = Corpus.chunkDedup(planted, window = 32)
      .filter(col("doc_id") === 900000L).head()
    assert(copyRow.getLong(2) === 0L, "copy's chunks must all lose to doc 0")
    assert(copyRow.getDouble(4) === 1.0)
    chunks.unpersist(); out.unpersist()
  }

  test("tfidfTopTerms: ranks total, idf monotone — rarer terms outscore common ones at equal tf") {
    val out = TextStats.tfidfTopTerms(docs, k = 3).cache()
    assert(out.filter(col("rank") < 1 || col("rank") > 3).isEmpty)
    assert(out.groupBy("doc_id", "rank").count().filter(col("count") > 1).isEmpty,
      "duplicate rank within a doc")
    assert(out.filter(col("doc_norm") <= 0.0).isEmpty, "non-empty docs have positive norms")
    // within a doc's top-3, (tfidf desc, term asc) ordering holds
    val pairs = out.alias("a").join(out.alias("b"),
      col("a.doc_id") === col("b.doc_id") && (col("a.rank") + 1) === col("b.rank"))
      .filter(col("b.tfidf") > col("a.tfidf") ||
        (col("b.tfidf") === col("a.tfidf") && col("b.term") < col("a.term")))
    assert(pairs.isEmpty, "rank order violates (tfidf desc, term asc)")
    out.unpersist()
  }

  test("curriculumStages: total over docs, stages contiguous, best-quality doc leads stage 0") {
    val quality = TextStats.qualityScore(docs).select(col("doc_id"), col("quality_score"))
    val out = Corpus.curriculumStages(docs, quality, budget = 5000L).cache()
    assert(out.count() === docs.count())
    // offsets stay inside the stage budget; stage ids are 0..max with no holes
    assert(out.filter(col("stage_offset") < 0 || col("stage_offset") >= 5000L).isEmpty)
    val ids = out.select("stage_id").distinct().collect().map(_.getLong(0)).sorted
    assert(ids.sameElements(0L to ids.max))
    // the doc at (stage 0, offset 0) is the quality argmax (ties to min id)
    val first = out.filter(col("stage_id") === 0 && col("stage_offset") === 0)
      .join(quality, "doc_id").head()
    val best = quality.orderBy(col("quality_score").desc, col("doc_id")).head()
    assert(first.getLong(0) === best.getLong(0))
    out.unpersist()
  }

  test("cosineGraphDegree: spine-total, handshake parity with the LSH pair set") {
    val out = Similarity.cosineGraphDegree(emb, threshold = 0.4).cache()
    assert(out.count() === emb.count(), "every vector appears, isolated ones at degree 0")
    val pairs = Similarity.embeddingNearDupPairsLsh(emb, 0.0)
      .withColumn("cosine", round(col("cosine"), 6))
      .filter(col("cosine") >= 0.4).count()
    assert(out.agg(sum("degree")).head.getLong(0) === 2 * pairs, "handshake lemma")
    assert(out.filter(col("degree") === 0 &&
      (col("max_cosine") =!= 0.0 || col("avg_cosine") =!= 0.0)).isEmpty)
    assert(out.filter(col("degree") > 0 && col("avg_cosine") > col("max_cosine")).isEmpty)
    out.unpersist()
  }

  test("mmrRerank: lambda (1,0) degenerates to relevance top-k; picks are distinct and pool-bounded") {
    val queries = emb.filter(col("vec_id") < 3)
    val mmr = Similarity.mmrRerank(emb, queries, poolK = 10, k = 4,
      lambdaRel = 1.0, lambdaDiv = 0.0).cache()
    // no diversity penalty -> the greedy loop IS relevance order
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("rel").desc, col("neighbor_id").asc)
    val topk = Similarity.cosineScores(emb, queries)
      .withColumn("rel", round(col("cosine"), 6))
      .withColumn("rank", row_number().over(wq)).filter(col("rank") <= 4)
      .select(col("query_id"), col("neighbor_id").as("cand_id"), col("rank"))
    assert(mmr.join(topk, Seq("query_id", "cand_id", "rank")).count() === 3 * 4,
      "lambda (1,0) must reproduce relevance order exactly")
    // distinct picks, exactly k per query, all from the pool
    assert(mmr.count() === 3 * 4)
    assert(mmr.groupBy("query_id", "cand_id").count().filter(col("count") > 1).isEmpty)
    // a diversity-weighted run still starts at the relevance argmax
    val div = Similarity.mmrRerank(emb, queries, poolK = 10, k = 4,
      lambdaRel = 0.5, lambdaDiv = 0.5)
    val firsts = div.filter(col("rank") === 1).select("query_id", "cand_id")
    assert(firsts.join(topk.filter(col("rank") === 1),
      Seq("query_id", "cand_id")).count() === 3)
    mmr.unpersist()
  }

  test("mmrRerank: gated driver greedy is bitwise-identical to the distributed loop") {
    // the gate replays the loop driver-side for pool-bounded inputs; a
    // driverPoolLimit of -1 forces the distributed path on the same input —
    // every pick, score and rank must match exactly (same rounds, same
    // argmax ties)
    val queries = emb.filter(col("vec_id") < 5)
    def rows(limit: Long) =
      Similarity.mmrRerank(emb, queries, poolK = 8, k = 5,
          lambdaRel = 0.7, lambdaDiv = 0.3, driverPoolLimit = limit)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getInt(4))).sortBy(t => (t._1, t._5))
    val gated = rows(100000L)
    val dist = rows(-1L)
    assert(gated.length === 5 * 5)
    assert(gated.sameElements(dist),
      s"gated vs distributed drift:\n${gated.mkString("\n")}\nvs\n${dist.mkString("\n")}")
    // the gate bounds the PAIRS collect too: 5 queries x poolK 8 = 40 pool
    // rows pass a 100-row pool bound, but 40 * (8 - 1) = 280 pair rows do
    // not — the distributed loop must run (and emit the identical rows)
    val pairBound = rows(100L)
    assert(pairBound.sameElements(dist), "pairs-volume gate drifted from the distributed loop")
  }

  test("mmrRerank: null cosines (zero-norm query) decline the driver replay, both paths agree") {
    // a zero-norm query vector makes every rel (and pair sim) null — the
    // replay must detect the nulls and fall back to the distributed loop
    // instead of NPE-ing in getDouble or guessing at null-ordering
    val zeroQ = emb.filter(col("vec_id") === 0)
      .select(lit(999999L).as("vec_id"),
        expr("transform(embedding, x -> cast(0 as float))").as("embedding"))
    def rows(limit: Long) =
      Similarity.mmrRerank(emb, zeroQ, poolK = 6, k = 3,
          lambdaRel = 0.7, lambdaDiv = 0.3, driverPoolLimit = limit)
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) Long.MinValue else r.getLong(1),
          if (r.isNullAt(2)) -999.0 else r.getDouble(2), // null sentinel: NaN breaks ==
          if (r.isNullAt(3)) -999.0 else r.getDouble(3),
          r.getInt(4))).sortBy(t => (t._1, t._5))
    val viaGate = rows(100000L)
    val dist = rows(-1L)
    assert(viaGate.length === dist.length)
    assert(viaGate.sameElements(dist),
      "null-input fallback drifted from the distributed loop")
  }

  test("hybridRrf: fused ranking is consistent with its two legs") {
    val fused = Retrieval.hybridRrf(docs, emb,
      Seq("table", "query", "stream", "window"), queryVecId = 0L, k = 10).collect()
    assert(fused.length === 10)
    // ranks are 1..10 in rrf_score-desc order with doc_id tiebreak
    val scores = fused.sortBy(_.getInt(4)).map(r => (r.getDouble(3), r.getLong(0)))
    assert(scores.sameElements(scores.sortBy { case (s, id) => (-s, id) }))
    // every fused row appeared in at least one leg, and a doc present in
    // both legs beats an equal-rank doc present in one
    fused.foreach { r =>
      assert(!(r.isNullAt(1) && r.isNullAt(2)), "fused doc in neither leg")
    }
    val both = fused.filter(r => !r.isNullAt(1) && !r.isNullAt(2))
    assert(both.nonEmpty, "fixture probe should overlap sparse and dense pools")
    // deterministic across a re-run
    val again = Retrieval.hybridRrf(docs, emb,
      Seq("table", "query", "stream", "window"), queryVecId = 0L, k = 10).collect()
    assert(fused.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("jaccardPairsPrefix: bitwise-equal to the all-shingles join on the fixture, two thresholds") {
    for (t <- Seq(0.8, 0.6)) {
      val naive = Dedup.jaccardPairs(docs, t)
        .orderBy("doc_a", "doc_b").collect().map(_.toString).toSeq
      val prefix = Dedup.jaccardPairsPrefix(docs, t)
        .orderBy("doc_a", "doc_b").collect().map(_.toString).toSeq
      assert(prefix == naive, s"prefix-filtered join must equal ground truth at t=$t " +
        s"(naive ${naive.size}, prefix ${prefix.size})")
    }
  }

  test("prefix-pair collapse: bitwise-equal to the raw prefix join on verbatim dup groups") {
    // 2- and 3-way verbatim groups plus a duplicated shingle-less text: the
    // collapse must reproduce the RAW prefix join's pair set bitwise —
    // intra pairs at exactly 1.0, cross pairs at the rep score, shingle-less
    // groups never pairing.
    val base = docs.select("doc_id", "text")
    val dup = base.unionByName(base.withColumn("doc_id", col("doc_id") + 100000L))
      .unionByName(base.filter(col("doc_id") % 3 === 0)
        .withColumn("doc_id", col("doc_id") + 200000L))
      .unionByName(Seq((300000L, "one two"), (300001L, "one two"))
        .toDF("doc_id", "text"))
    for (t <- Seq(0.8, 0.7)) {
      val raw = Dedup.jaccardPairsPrefix(dup, t)
        .orderBy("doc_a", "doc_b").collect().map(_.toString).toSeq
      val collapsed = Dedup.jaccardPairsPrefixCollapsed(dup, t)
        .orderBy("doc_a", "doc_b").collect().map(_.toString).toSeq
      assert(collapsed == raw,
        s"collapsed jaccard pairs must equal raw at t=$t (raw ${raw.size}, collapsed ${collapsed.size})")
      assert(raw.nonEmpty, "fixture must pair")
    }
    val rawC = Dedup.containmentPairsPrefix(dup, 0.9)
      .orderBy("doc_a", "doc_b").collect().map(_.toString).toSeq
    val colC = Dedup.containmentPairsPrefixCollapsed(dup, 0.9)
      .orderBy("doc_a", "doc_b").collect().map(_.toString).toSeq
    assert(colC == rawC,
      s"collapsed containment pairs must equal raw (raw ${rawC.size}, collapsed ${colC.size})")
    assert(rawC.nonEmpty, "fixture must contain directed pairs")
  }

  test("jaccardPairsPrefix: exactly-at-threshold contained pair survives the size filter") {
    import spark.implicits._
    // shingle sets: A has 5 word-3-grams, B its first 4 => jaccard = 4/5 = 0.8
    val a = "w1 w2 w3 w4 w5 w6 w7" // 5 shingles
    val b = "w1 w2 w3 w4 w5 w6"    // 4 shingles, all in A
    val pair = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val got = Dedup.jaccardPairsPrefix(pair, 0.8)
      .as[(Long, Long, Double)].collect()
    assert(got.toSeq == Seq((1L, 2L, 0.8)),
      s"boundary pair (t*na == nb, jaccard == t) must be found, got ${got.toSeq}")
  }

  test("profile: exact per-column stats; pruned per-column scans; decimal-canonical extremes") {
    import spark.implicits._
    val df = Seq(
      (Some(3L), Some("b")), (Some(1L), None), (None, Some("a")), (Some(3L), Some("a")))
      .toDF("k", "s")
    val out = Profile.profile(df, Seq("k", "s"))
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("k") == (("k", 4L, 1L, 2L, "1.000000", "3.000000")))
    assert(out("s") == (("s", 4L, 1L, 2L, "a", "b")))
    // plan shape: one PRUNED scan per column (no Expand blow-up), and no
    // Expand operator anywhere — the multi-distinct formulation would
    // multiply every row by N+1 before shuffling
    val plan = Profile.profile(df, Seq("k", "s")).queryExecution.optimizedPlan
    assert(plan.collectLeaves().size == 2, "one pruned scan per column")
    val hasExpand = plan.collect {
      case e: org.apache.spark.sql.catalyst.plans.logical.Expand => e
    }.nonEmpty
    assert(!hasExpand, "profile must not plan an Expand")
  }

  test("nextTokenPairs: hand stream yields exactly the sliding (context, target) pairs") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "c"), (1L, 4L, "d"), (1L, 5L, "e"),
      (2L, 1L, "x"), (2L, 2L, "y"), (2L, 3L, "z"))
      .toDF("uid", "seq", "tok")
    val out = Sequences.nextTokenPairs(ev, col("uid"), Seq(col("seq")), col("tok"),
        ctx = 3, keep = Seq(col("uid"), col("seq")))
      .as[(Long, Long, String, String, String, String)].collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq == Seq(
      (1L, 4L, "a", "b", "c", "d"),
      (1L, 5L, "b", "c", "d", "e")),
      s"got ${out.toSeq}")
  }

  test("zValue: known interleave; fixed-width z-ranges are aligned rectangles beating 1-dim sort") {
    import spark.implicits._
    // interleave(a=5 (101b), b=9 (1001b)) = 1 + 2 + 16 + 128 = 147
    val known = Seq((5L, 9L)).toDF("a", "b")
      .select(Layout.zValue(col("a"), col("b"), bits = 8)).as[Long].head()
    assert(known == 147L, s"zValue(5, 9) must be 147, got $known")
    // scattered points over the 256x256 grid
    val pts = (0 until 8192).map(i => ((i * 37L) % 256L, (i * 91L) % 256L)).toDF("a", "b")
    val spans = pts
      .withColumn("zval", Layout.zValue(col("a"), col("b"), bits = 8))
      .groupBy(expr("zval div 1024").as("bk"))
      .agg((max("a") - min("a")).as("sa"), (max("b") - min("b")).as("sb"))
      .select("sa", "sb").as[(Long, Long)].collect()
    // a 1024-wide aligned z-range is exactly one 32x32 tile: both spans <= 31
    assert(spans.forall(s => s._1 <= 31 && s._2 <= 31),
      s"z-range must bound BOTH dims to its 32-cell tile: ${spans.filterNot(s => s._1 <= 31 && s._2 <= 31).take(3).toSeq}")
    // the same row budget laid out by b alone leaves `a` unbounded per range
    val bSorted = pts.groupBy(expr("b div 4").as("bk"))
      .agg((max("a") - min("a")).as("sa")).select("sa").as[Long].collect()
    assert(bSorted.max > 200, "single-dim layout must NOT bound the other dim (sanity)")
  }

  test("pcaTopComponent: planted dominant axis recovered; loadings unit-ish; layout-invariant") {
    import spark.implicits._
    // dim 4 (power of two): variance concentrated on axis 0, slight axis-1
    // wobble, axes 2/3 constant — the top component must align with axis 0
    val vecs = (0 until 64).map { i =>
      val a = (i % 16) - 7.5f
      Array(a, (i % 3) * 0.1f, 0.5f, -0.25f)
    }.toDF("embedding")
    val out = Similarity.pcaTopComponent(vecs, iters = 3)
      .orderBy("j").as[(Int, Double, Double)].collect()
    assert(out.length == 4)
    val byJ = out.map(r => r._1 -> r._2).toMap
    assert(math.abs(byJ(0)) > 0.99, s"axis 0 dominates, got $byJ")
    assert(math.abs(byJ(2)) < 0.01 && math.abs(byJ(3)) < 0.01,
      s"constant axes carry ~no loading: $byJ")
    assert(out.head._3 > 0, "eigenvalue estimate positive")
    val norm = math.sqrt(out.map(r => r._2 * r._2).sum)
    assert(math.abs(norm - 1.0) < 1e-4, s"loadings ~unit norm, got $norm")
    val again = Similarity.pcaTopComponent(
      vecs.repartition(9), iters = 3).orderBy("j").as[(Int, Double, Double)].collect()
    assert(again.toSeq == out.toSeq, "component must be bitwise layout-invariant")
  }

  test("cov_cell_sums: bitwise-equal to the explode pipeline on ragged/null/adversarial inputs") {
    import spark.implicits._
    // inputs chosen to stress every equivalence claim: ragged lengths (the
    // triangular layout must stay prefix-stable), null elements (sum skips
    // them; an all-null column yields a null cell), a null vector row
    // (counts in n, contributes nothing), values near 12dp HALF_UP
    // boundaries, magnitudes above the 4e3 double-roundtrip threshold, and
    // negatives/zeroes
    val rows: Seq[Seq[Any]] = Seq(
      Seq(0.1f, -0.25f, 5e-7f, 1234.5678f),
      Seq(0.3f, null, 4567.8f),
      Seq(-0.0001f, 2.5e-7f),
      Seq(7.7f, 0.0f, -9999.25f, 0.333333f),
      null,
      Seq(1e-8f, -1e-8f, 3.3333333f, 0.5f))
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("e",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType, containsNull = true)))))
    val dec = org.apache.spark.sql.types.DecimalType(38, 12)
    // the explode pipeline exactly as pcaTopComponent previously built it
    val byJ = df.select(col("e"), posexplode(col("e")).as(Seq("j", "xj")))
    val refMeans = byJ.groupBy("j")
      .agg(sum(round(col("xj").cast("double"), 12).cast(dec)).as("ms"))
      .collect().map(r => r.getInt(0) -> r.getDecimal(1)).toMap
    val refCells = byJ.select(col("j"), col("xj").cast("double").as("xj"),
        posexplode(slice(col("e"), col("j") + 1, size(col("e")) - col("j"))).as(Seq("p", "xk")))
      .select(col("j"), (col("j") + col("p")).as("k"), col("xj"),
        col("xk").cast("double").as("xk"))
      .groupBy("j", "k")
      .agg(sum(round(col("xj") * col("xk"), 12).cast(dec)).as("sxx"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDecimal(2)).toMap
    val st = df.agg(graft.functions.AggFunctions.cov_cell_sums(col("e")).as("st"))
      .select(col("st.n"), col("st.means"), col("st.cells")).collect()(0)
    assert(st.getLong(0) === rows.length.toLong, "n counts every row, null vectors included")
    val gotMeans = st.getSeq[org.apache.spark.sql.Row](1)
      .map(r => r.getInt(0) -> r.getDecimal(1)).toMap
    val gotCells = st.getSeq[org.apache.spark.sql.Row](2)
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDecimal(2)).toMap
    assert(gotMeans.keySet === refMeans.keySet, "means cover exactly the emitted j set")
    gotMeans.keySet.foreach { j =>
      assert(gotMeans(j) == refMeans(j), s"mean sum mismatch at j=$j: ${gotMeans(j)} vs ${refMeans(j)}")
    }
    assert(gotCells.keySet === refCells.keySet, "cells cover exactly the emitted (j,k) set")
    gotCells.keySet.foreach { jk =>
      assert(gotCells(jk) == refCells(jk), s"cell sum mismatch at $jk: ${gotCells(jk)} vs ${refCells(jk)}")
    }
    // partition-layout invariance of the aggregate itself
    val again = df.repartition(7)
      .agg(graft.functions.AggFunctions.cov_cell_sums(col("e")).as("st"))
      .select(col("st.cells")).collect()(0)
      .getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDecimal(2)).toMap
    assert(again === gotCells, "cell sums must be partition-layout-invariant")
    // long-overflow escalation: values whose scaled-by-1e12 products exceed
    // a long on few rows (x*x = 9e6 -> unscaled 9e18 ~ Long.Max) must keep
    // summing exactly through the BigInteger path
    val big = Seq.fill(5)(Array(3000.0f)).toDF("e")
    val bigRef = big.select(posexplode(col("e")).as(Seq("j", "x")))
      .agg(sum(round(col("x").cast("double") * col("x").cast("double"), 12).cast(dec)))
      .collect()(0).getDecimal(0)
    val bigGot = big.agg(graft.functions.AggFunctions.cov_cell_sums(col("e")).as("st"))
      .select(col("st.cells")(0).getField("sxx")).collect()(0).getDecimal(0)
    assert(bigGot == bigRef, s"overflow escalation must stay exact: $bigGot vs $bigRef")
  }

  test("randomProject: JL distance preservation on fixture embeddings; layout-invariant") {
    import spark.implicits._
    val proj = Similarity.randomProject(emb, k = 16)
      .as[(Long, Int, Double)].collect()
      .groupBy(_._1).map { case (id, rows) =>
        id -> rows.sortBy(_._2).map(_._3)
      }
    val orig = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ids = orig.keys.toSeq.sorted.take(20)
    val ratios = for (Seq(i, j) <- ids.combinations(2).toSeq) yield {
      val od = d2(orig(i).map(_.toDouble), orig(j).map(_.toDouble))
      val pd = d2(proj(i), proj(j))
      pd / od
    }
    val mean = ratios.sum / ratios.size
    assert(mean > 0.7 && mean < 1.3, s"JL must preserve distances on average, mean=$mean")
    assert(ratios.count(r => r > 0.3 && r < 2.0) >= ratios.size * 9 / 10,
      s"too many badly-distorted pairs: ${ratios.count(r => r <= 0.3 || r >= 2.0)}/${ratios.size}")
    val again = Similarity.randomProject(emb.repartition(7), k = 16)
      .as[(Long, Int, Double)].collect().sortBy(r => (r._1, r._2))
    assert(again.toSeq == proj.toSeq.flatMap { case (id, ys) =>
      ys.zipWithIndex.map { case (y, o) => (id, o, y) } }.sortBy(r => (r._1, r._2)),
      "projection must be bitwise layout-invariant")
  }

  test("filter kill-matrix: hand-built docs land in their exact cells; mass conserved") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox and a dog went to the market in town today fine"), // all pass
      (2L, "short text"),                                      // len fails
      (3L, "the 11 22 33 44 55 66 77 88 99 00 11 22 33 44"),   // digit fails (len ok, stop ok)
      (4L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"))     // stop fails
      .toDF("doc_id", "text")
    val m = graft.queries.ExtensionQueries.queries("x78_filter_matrix")
    // run the registered query against a temp dir holding these docs
    val tmp = java.nio.file.Files.createTempDirectory("graft-km").toString
    docs.withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val cells = m(spark, tmp)
      .as[(Int, Int, Int, Int, Long, Long)].collect()
    assert(cells.map(_._5).sum == 4, s"every doc lands in exactly one cell: ${cells.toSeq}")
    val byFlags = cells.map(c => (c._1, c._2, c._3, c._4) -> c._5).toMap
    assert(byFlags((1, 1, 1, 1)) == 1, s"doc 1 passes all: ${cells.toSeq}")
    assert(byFlags.exists { case ((l, _, _, _), n) => l == 0 && n >= 1 },
      s"the short doc must fail the length filter: ${cells.toSeq}")
    assert(byFlags.exists { case ((_, _, d, _), n) => d == 0 && n >= 1 },
      s"the digit-heavy doc must fail the digit filter: ${cells.toSeq}")
    assert(byFlags.exists { case ((1, _, 1, st), n) => st == 0 && n >= 1; case _ => false },
      s"the stopword-free doc must fail the stopword floor: ${cells.toSeq}")
  }

  test("snapshotDiff: hand-built release classifies every change exactly") {
    import spark.implicits._
    val v1 = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("doc_id", "text")
    val v2 = Seq((1L, "a"), (2L, "B2"), (4L, "d"), (9L, "new")).toDF("doc_id", "text")
    val got = Corpus.snapshotDiff(v1, v2, "doc_id", md5(col("text")))
      .as[(String, Long)].collect().toMap
    assert(got == Map("unchanged" -> 2L, "changed" -> 1L, "removed" -> 1L, "added" -> 1L),
      s"got $got")
  }

  test("projected recall: totals valid on the fixture; clustered data keeps its neighbors") {
    // On ~uniform random unit vectors all cosines are near 0, so fine
    // rankings do NOT survive compression even though distances do (JL
    // preserves metric, not near-tie order) — the fixture run only pins
    // well-formedness. The ranking claim is tested where it actually holds:
    // data with real neighborhood structure.
    val fx = graft.queries.ExtensionQueries
      .queries("x76_projected_recall")(spark, sf)
      .select("recall").as[Double].collect()
    assert(fx.nonEmpty && fx.forall(r => r >= 0.0 && r <= 1.0))
    // 3 well-separated clusters, 10 vectors each, tiny intra-cluster spread:
    // exact top-5 = cluster mates, and the 16-dim search must keep them
    import spark.implicits._
    val vecs = (0 until 30).map { i =>
      val c = i % 3
      val v = Array.fill(64)(0.0f)
      v(c * 20) = 1.0f
      v(c * 20 + (i % 5) + 1) = 0.02f * ((i % 7) + 1)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val proj = Similarity.randomProjectVectors(vecs, k = 16)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    def top5(corpus: org.apache.spark.sql.DataFrame) =
      Similarity.cosineScores(corpus, corpus.filter(col("vec_id") < 6))
        .withColumn("cosine", round(col("cosine"), 6))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
    val rec = Similarity.recallAtK(top5(vecs), top5(proj), k = 5)
      .select("recall").as[Double].collect()
    val mean = rec.sum / rec.length
    assert(mean > 0.8, s"clustered neighborhoods must survive projection: $mean")
  }

  test("rendezvous sharding: movers only go TO the new shard; movement ~1/(S+1); deterministic") {
    import spark.implicits._
    val keys = (0L until 2000L).toDF("k")
    val mm = Sharding.movementMatrix(keys, col("k"), fromShards = 8, toShards = 9)
      .as[(Int, Int, Long)].collect()
    val moved = mm.filter(r => r._1 != r._2)
    assert(moved.forall(_._2 == 8), s"HRW movers must land on the NEW shard only: ${moved.toSeq}")
    val movedFrac = moved.map(_._3).sum.toDouble / mm.map(_._3).sum
    assert(movedFrac > 0.03 && movedFrac < 0.25,
      s"movement should be ~1/9 of keys, got $movedFrac")
    val again = Sharding.rendezvousAssign(keys.repartition(11), col("k"), 8)
      .as[(Long, Int)].collect().toMap
    val base = Sharding.rendezvousAssign(keys, col("k"), 8).as[(Long, Int)].collect().toMap
    assert(again == base, "placement is a pure function of (key, shard count)")
    // balance sanity: no shard holds more than 3x its fair share
    val sizes = base.values.groupBy(identity).map(_._2.size)
    assert(sizes.max < 3 * 2000 / 8, s"shard sizes badly skewed: $sizes")
  }

  test("pmiPairs: perfect collocation tops the list with exact pmi; rare terms pruned") {
    import spark.implicits._
    // "neural network" co-occur in all 6 of their docs; "the" is everywhere
    // (pmi ~ 0 against anything); "rare" appears twice (df < minDf, pruned)
    val docs = ((0 until 6).map(i =>
        (i.toLong, "neural network the " + (if (i < 2) "rare" else "ignored" + i))) ++
      (6 until 24).map(i => (i.toLong, "the filler" + (i % 9) + " pad" + i)))
      .toDF("doc_id", "text")
    val out = TextStats.pmiPairs(docs, minDf = 3, minPair = 2, k = 10)
      .select("term_a", "term_b", "co_docs", "df_a", "df_b", "pmi")
      .as[(String, String, Long, Long, Long, Double)].collect()
    val top = out.head
    assert((top._1, top._2) == ("network", "neural"), s"collocation must rank first, got $top")
    // exact arithmetic: pmi = ln(co * N / (df_a * df_b)) rounded to 6dp
    val expected = BigDecimal(math.log(6.0 * 24.0 / (6.0 * 6.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(top._6 == expected, s"pmi ${top._6} != $expected")
    assert(!out.exists(r => r._1 == "rare" || r._2 == "rare"), "df < minDf terms pruned")
    assert(out.forall(r => r._3 >= 2 && r._1 < r._2), "pair floor and canonical order hold")
  }

  test("triangleCounts: 4-clique + pendant edge + path count exactly; orientation-invariant") {
    // K4 on {1,2,3,4} (4 triangles, 3 per node), pendant 4-5, path 6-7-8 (none)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (6L, 7L), (7L, 8L)).toDF("doc_a", "doc_b")
    val out = Cluster.triangleCounts(edges).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("n_triangles")).toMap
    assert(out === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      s"K4 corners must each sit in 3 triangles, pendant/path in none: $out")
    // total corner count is divisible by 3 on any graph (each triangle has 3)
    val fixture = Cluster.triangleCounts(Dedup.nearDupMinhashCollapsed(docs, 0.8))
    val total = fixture.agg(sum("n_triangles")).collect()(0).getLong(0)
    assert(total % 3 === 0, s"corner total $total not divisible by 3")
  }

  test("vocabularySpectrum: known corpus spectrum and Good-Turing chain") {
    // tokens: a x3, b x2, c x1  =>  S(1)=S(2)=S(3)=1
    val corpus = Seq((1L, "a a a b"), (2L, "b c")).toDF("doc_id", "text")
    val out = TextStats.vocabularySpectrum(corpus).collect()
      .map(r => r.getAs[Long]("freq") ->
        (r.getAs[Long]("n_types"), Option(r.getAs[java.lang.Double]("gt_freq")))).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out.values.map(_._1).toSeq.forall(_ == 1L))
    assert(out(1L)._2 === Some(2.0), "gt(1) = 2*S(2)/S(1)")
    assert(out(2L)._2 === Some(3.0), "gt(2) = 3*S(3)/S(2)")
    assert(out(3L)._2 === None, "top bin has no successor — estimator undefined")
    // invariant on the fixture corpus: sum(freq * n_types) = total tokens
    val spec = TextStats.vocabularySpectrum(docs)
    val massed = spec.agg(sum(col("freq") * col("n_types"))).collect()(0).getLong(0)
    val toks = docs.select(explode(split(trim(col("text")), " "))).count()
    assert(massed === toks, s"spectrum mass $massed != token count $toks")
  }

  test("labelPropagation: weakly-bridged triangles stay separate (finer than CC)") {
    // two w=2 triangles joined by a w=1 bridge 3-4; hand-traced 2-iteration
    // sync LPA fixpoint: {1,2,3} -> 1 and {4,5,6} -> 4
    val edges = Seq(
      (1L, 2L, 2L), (1L, 3L, 2L), (2L, 3L, 2L),
      (4L, 5L, 2L), (4L, 6L, 2L), (5L, 6L, 2L),
      (3L, 4L, 1L)).toDF("a", "b", "w")
    val out = Cluster.labelPropagation(edges, iters = 2).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L),
      s"LPA must keep the bridge from merging the triangles: $out")
    // CC on the same edges merges everything — LPA is strictly finer here
    val cc = Cluster.componentLabels(
      edges.select(col("a").as("doc_id")).union(edges.select(col("b").as("doc_id"))).distinct(),
      edges.select(col("a").as("doc_a"), col("b").as("doc_b")),
      "doc_id", "doc_a", "doc_b")
    assert(cc.select("lbl").distinct().count() === 1L, "bridge graph is one component")
  }

  test("labelPropagation: distinct-pair input matches the literal spec replay") {
    // the precondition: each unordered pair appears once, so iteration 1
    // against the identity labeling may vote with each edge's own weight;
    // the literal spec (join + per-(u,label) sum + argmax from the identity
    // labeling) must reach the same labels
    val edges = Seq(
      (1L, 2L, 2L), (1L, 3L, 2L), (2L, 3L, 2L),
      (4L, 5L, 2L), (4L, 6L, 2L), (5L, 6L, 2L),
      (3L, 4L, 1L)).toDF("a", "b", "w")
    val got = Cluster.labelPropagation(edges, iters = 2).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L))
    val sym = edges.select(col("a").as("u"), col("b").as("v"), col("w"))
      .union(edges.select(col("b").as("u"), col("a").as("v"), col("w")))
    var ref = sym.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to 2) {
      ref = sym.join(ref.select(col("node").as("v"), col("label")), Seq("v"))
        .groupBy(col("u"), col("label")).agg(sum(col("w")).as("s"))
        .groupBy("u").agg(max(struct(col("s"), (-col("label")).as("nl"))).as("m"))
        .select(col("u").as("node"), (-col("m.nl")).as("label"))
    }
    val refMap = ref.collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
    assert(got === refMap, s"labelPropagation must equal the spec replay: $got vs $refMap")
  }

  test("labelPropagation: scratch staging honors the conf seam and cleans up after itself") {
    // the staged symmetric edge list is GB-scale at 10x sf1 — deleteOnExit
    // can never remove a non-empty dir, so the contract is: (a) the scratch
    // dir is created under the configurable root (shared storage on a real
    // cluster), (b) it is recursively gone when the call returns, (c) the
    // returned labels are still fully usable (no lineage into the deleted
    // files — every iterate is an eager localCheckpoint)
    val root = java.nio.file.Files.createTempDirectory("graft_scratch_spec")
    spark.conf.set("spark.graft.scratch", root.toString)
    try {
      val edges = Seq((1L, 2L, 2L), (1L, 3L, 2L), (2L, 3L, 2L)).toDF("a", "b", "w")
      val out = Cluster.labelPropagation(edges, iters = 2).collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
      assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"triangle must converge: $out")
      val leftovers = Option(root.toFile.listFiles()).map(_.toSeq).getOrElse(Seq())
      assert(leftovers.isEmpty, s"scratch leaked into the configured root: $leftovers")
    } finally {
      spark.conf.unset("spark.graft.scratch")
      root.toFile.delete()
    }
  }

  test("psiBySource: identical length profiles give exactly 0, skew gives > 0") {
    // s1 and s2 each hold one 1-token and one 3-token doc: per-source
    // distribution == corpus distribution, p == q in every bucket, and
    // round((p-q)*ln(p/q), 6) is exactly 0 — no tolerance needed
    val even = Seq((1L, "a", "s1"), (2L, "a b c", "s1"),
      (3L, "a", "s2"), (4L, "a b c", "s2")).toDF("doc_id", "text", "source")
    val psi0 = Corpus.psiBySource(even).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("psi")).toMap
    assert(psi0 === Map("s1" -> 0.0, "s2" -> 0.0), s"matched profiles must score 0: $psi0")
    // a source whose docs sit in a length band the corpus rarely occupies
    val skew = Seq((1L, "a", "s1"), (2L, "a", "s1"), (3L, "a", "s1"),
      (4L, "a b c d e f g h", "s2")).toDF("doc_id", "text", "source")
    val psi1 = Corpus.psiBySource(skew).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("psi")).toMap
    assert(psi1("s2") > 0.0 && psi1("s1") > 0.0, s"skewed profiles must score > 0: $psi1")
  }

  test("quantileCalibrate: generous source maps to corpus quantile; monotone per source") {
    // A scores everything 0.2, B scores everything 0.8 — both sit at the
    // within-source midpoint quantile 0.5, whose corpus value is 0.2: B's
    // generosity is calibrated away
    val scored = Seq(("a1", "A", 0.2), ("a2", "A", 0.2),
      ("b1", "B", 0.8), ("b2", "B", 0.8))
      .toDF("doc_id", "source", "quality_score")
    val out = Corpus.quantileCalibrate(scored).collect()
      .map(r => (r.getString(0), r.getAs[Double]("quality_q")) ->
        r.getAs[Double]("corpus_q")).toMap
    assert(out(("A", 0.2)) === 0.2 && out(("B", 0.8)) === 0.2,
      s"midpoint quantile 0.5 must map both sources to the corpus 0.2 level: $out")
    // fixture invariant: within a source, calibration is monotone in the level
    val fix = Corpus.quantileCalibrate(
      TextStats.qualityScore(docs).select(col("source"), col("quality_score")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("quality_q")
    val viol = fix.withColumn("prev", lag(col("corpus_q"), 1).over(w))
      .filter(col("prev").isNotNull && col("corpus_q") < col("prev"))
    assert(viol.isEmpty, "calibrated scores must be monotone per source")
  }

  test("x83 dedup sweep: curve is monotone non-increasing in the threshold") {
    val spark2 = spark
    val out = graft.queries.ExtensionQueries.queries("x83_dedup_sweep")(spark2, sf)
      .collect().map(r => r.getAs[Double]("threshold") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_dominated_docs"),
          r.getAs[Long]("dominated_tokens"))).toMap
    assert(out.keySet === Set(0.7, 0.8, 0.9))
    val (p7, p8, p9) = (out(0.7), out(0.8), out(0.9))
    assert(p7._1 >= p8._1 && p8._1 >= p9._1, s"pair curve must not increase: $out")
    assert(p7._2 >= p8._2 && p8._2 >= p9._2, s"dominated-doc curve must not increase: $out")
    assert(p7._3 >= p8._3 && p8._3 >= p9._3, s"token curve must not increase: $out")
    assert(p9._1 > 0, "planted near-dups must survive the tightest threshold")
  }

  test("sortedNeighborhood: prefix-adjacent dups found, precision exact, subset of ground truth") {
    val got = Dedup.sortedNeighborhoodPairs(docs, window = 5, threshold = 0.8)
      .as[(Long, Long, Double)].collect()
    val truth = Dedup.jaccardPairs(docs, 0.8)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(got.nonEmpty, "fixture near-dups share prefixes — the window must catch some")
    got.foreach { case (a, b, j) =>
      assert(truth.get((a, b)).contains(j),
        s"every emitted pair must be a ground-truth pair with the identical jaccard: ($a,$b,$j)")
    }
    // widening the window cannot lose pairs (monotone recall)
    val wide = Dedup.sortedNeighborhoodPairs(docs, window = 20, threshold = 0.8)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    assert(got.map(t => (t._1, t._2)).toSet.subsetOf(wide), "recall is monotone in the window")
    // layout invariance: rank comes from the prefix scan, not partition order
    val again = Dedup.sortedNeighborhoodPairs(docs.repartition(13), window = 5, threshold = 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(again == got.toSet, "pairs must be bitwise layout-invariant")
  }

  test("silhouetteSimplified fails fast when no second centroid exists") {
    // one-vector corpus: nlist >= 2 passes the require, but the centroid
    // sample has a single row, so other_cos would be null and the
    // null-skipping mean would read a silent 0-ish silhouette — the guard
    // must surface the condition instead
    val lone = Seq((1L, Array(1f, 0f, 0f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    val e = intercept[Exception] {
      Similarity.silhouetteSimplified(lone, nlist = 16).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("second centroid"),
      s"degenerate corpus must name the condition: ${e.getMessage}")
  }

  test("silhouetteSimplified: bounds, coverage, and a full driver-side replay agree") {
    val out = Similarity.silhouetteSimplified(emb, nlist = 16)
      .as[(Long, Long, Double)].collect()
    assert(out.map(_._2).sum == emb.count(), "every vector lands in exactly one cluster")
    assert(out.forall(r => r._3 >= -1.0 && r._3 <= 1.0), s"silhouette is in [-1,1]: ${out.toSeq}")
    // independent replay: engine's deterministic centroid sample, then plain
    // Scala assignment + silhouette arithmetic (same rounding discipline)
    val cents = emb.select(col("vec_id"), col("embedding"),
        graft.functions.HashFunctions.md5_lo64(
          concat(lit("ivf:"), col("vec_id").cast("string"))).as("h"))
      .orderBy("h").limit(16)
      .as[(Long, Array[Float], Long)].collect().map(t => (t._1, t._2))
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- 0 until math.min(x.length, y.length)) {
        dot += x(i).toDouble * y(i).toDouble
        nx += x(i).toDouble * x(i).toDouble; ny += y(i).toDouble * y(i).toDouble
      }
      val d = math.sqrt(nx) * math.sqrt(ny); if (d == 0.0) 0.0 else dot / d
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = emb.as[(Long, Array[Float], Int)].collect()
    val per = vecs.map { case (_, v, _) =>
      val scored = cents.map { case (cid, cv) => (cid, cos(v, cv)) }
      val (ownId, ownRaw) = scored.minBy { case (cid, c) => (-c, cid) }
      val otherCos = scored.filter(_._1 != ownId).map(t => r6(t._2)).max
      val a = 1.0 - r6(ownRaw); val b = 1.0 - otherCos
      val s = if (math.max(a, b) == 0.0) 0.0 else r6((b - a) / math.max(a, b))
      (ownId, s)
    }
    val expect = per.groupBy(_._1).map { case (cid, ss) =>
      val sum = ss.map(s => BigDecimal(s._2).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        .foldLeft(BigDecimal(0))(_ + _)
      cid -> (ss.length.toLong, sum.toDouble / ss.length.toDouble)
    }
    val got = out.map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == expect, s"driver replay must match bitwise:\n$got\nvs\n$expect")
  }

  test("editNeighborPairs: substitution/insert/delete found, distance 2 excluded, matches brute force") {
    val names = Seq(
      1L -> "gizmo",   // base
      2L -> "gizmp",   // substitution (dist 1 of 1)
      3L -> "gizmos",  // insertion   (dist 1 of 1)
      4L -> "gizo",    // deletion    (dist 1 of 1)
      5L -> "gizbat",  // dist 2 of 1 — must NOT pair with 1
      6L -> "widget"   // unrelated
    ).toDF("id", "name")
    val got = Dedup.editNeighborPairs(names)
      .as[(Long, Long, Int)].collect().map(t => (t._1, t._2)).toSet
    assert(got.contains((1L, 2L)) && got.contains((1L, 3L)) && got.contains((1L, 4L)),
      s"all three single-edit kinds must be found: $got")
    assert(!got.contains((1L, 5L)) && !got.exists(p => p._1 == 6L || p._2 == 6L),
      s"distance-2 and unrelated names must be excluded: $got")
    // completeness vs brute force on the full cross product
    val brute = names.as[(Long, String)].collect()
    val expect = (for {
      (ia, na) <- brute; (ib, nb) <- brute if ia < ib
      if levenshteinRef(na, nb) <= 1
    } yield (ia, ib)).toSet
    assert(got == expect, s"blocking must find exactly the brute-force pairs: $got vs $expect")
  }

  test("fuzzyMatchSummary: hand-traced fixture; agrees with the enumerating twin on real names") {
    // ids 1,2 share a name (dist 0); 3 is one substitution away; 4-5 are a
    // single-deletion pair; 6 matches nothing
    val names = Seq(
      1L -> "abc", 2L -> "abc", 3L -> "abd",
      4L -> "xyz", 5L -> "xy", 6L -> "widget").toDF("id", "name")
    val got = Dedup.fuzzyMatchSummary(names)
      .as[(Long, Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3, t._4)).toMap
    val expect = Map(
      1L -> (1L, 1L, 2L), // exact twin 2 beats near 3
      2L -> (1L, 1L, 1L),
      3L -> (0L, 2L, 1L), // two near matches (1,2), best = min id 1
      4L -> (0L, 1L, 5L),
      5L -> (0L, 1L, 4L)) // id 6 emits no row
    assert(got === expect, s"hand trace mismatch:\n$got\nvs\n$expect")
    // twin consistency on a real name table: aggregating x86's enumeration
    // (symmetrized) must reproduce the summary exactly — same guarantee the
    // oracle states declaratively
    val cust = Tables.customer(spark, sf).select(col("c_custkey"), col("c_name"))
    val pairs = Dedup.editNeighborPairs(cust, "c_custkey", "c_name")
      .as[(Long, Long, Int)].collect()
    val sym = pairs.flatMap(p => Seq((p._1, p._2, p._3), (p._2, p._1, p._3)))
    val twin = sym.groupBy(_._1).map { case (id, ms) =>
      val best = ms.map(m => (m._3, m._2)).min._2
      id -> (ms.count(_._3 == 0).toLong, ms.count(_._3 == 1).toLong, best)
    }
    val served = Dedup.fuzzyMatchSummary(cust, "c_custkey", "c_name")
      .as[(Long, Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3, t._4)).toMap
    assert(served === twin, s"summary must equal the aggregated enumeration (${twin.size} entities)")
    assert(twin.nonEmpty, "fixture must actually contain fuzzy matches")
  }

  test("fuzzyTopMatches: hand-traced ranking; agrees with the enumerating twin on real names") {
    // same fixture as the summary test: 1,2 share "abc"; 3 = "abd" (dist 1);
    // 4-5 a deletion pair; 6 matches nothing
    val names = Seq(
      1L -> "abc", 2L -> "abc", 3L -> "abd",
      4L -> "xyz", 5L -> "xy", 6L -> "widget").toDF("id", "name")
    val got = Dedup.fuzzyTopMatches(names, k = 3)
      .as[(Long, Int, Long, Int)].collect().map(t => (t._1, t._2) -> (t._3, t._4)).toMap
    val expect = Map(
      (1L, 1) -> (2L, 0), (1L, 2) -> (3L, 1), // exact twin outranks the near match
      (2L, 1) -> (1L, 0), (2L, 2) -> (3L, 1),
      (3L, 1) -> (1L, 1), (3L, 2) -> (2L, 1), // two near matches, id order
      (4L, 1) -> (5L, 1),
      (5L, 1) -> (4L, 1))                     // id 6 emits nothing
    assert(got === expect, s"hand trace mismatch:\n$got\nvs\n$expect")
    // twin consistency: ranking x86's enumeration (symmetrized) by
    // (dist, id) and cutting at 3 must reproduce the output exactly
    val cust = Tables.customer(spark, sf).select(col("c_custkey"), col("c_name"))
    val pairs = Dedup.editNeighborPairs(cust, "c_custkey", "c_name")
      .as[(Long, Long, Int)].collect()
    val twin = pairs.flatMap(p => Seq((p._1, p._2, p._3), (p._2, p._1, p._3)))
      .groupBy(_._1).toSeq.flatMap { case (id, ms) =>
        ms.map(m => (m._3, m._2)).sorted.take(3).zipWithIndex
          .map { case ((d, mid), i) => (id, i + 1) -> (mid, d) }
      }
    val served = Dedup.fuzzyTopMatches(cust, "c_custkey", "c_name", k = 3)
      .as[(Long, Int, Long, Int)].collect().map(t => (t._1, t._2) -> (t._3, t._4)).toMap
    assert(served === twin.toMap,
      s"top-k must equal the ranked enumeration (${twin.size} rows)")
    assert(twin.nonEmpty, "fixture must actually contain fuzzy matches")
  }

  test("containmentPairsPrefix: planted embedded doc found; exact vs brute force; layout-invariant") {
    val d0 = docs.filter(col("doc_id") === 0).select("text").as[String].head()
    val d1 = docs.filter(col("doc_id") === 1).select("text").as[String].head()
    // 200000 wraps d0 verbatim inside d1's text: containment(0 -> 200000) = 1
    val planted = docs.select("doc_id", "text").unionByName(
      Seq((200000L, d1 + " " + d0 + " " + d1)).toDF("doc_id", "text"))
    val got = Dedup.containmentPairsPrefix(planted, 0.9)
      .as[(Long, Long, Double)].collect()
    assert(got.exists(p => p._1 == 0L && p._2 == 200000L && p._3 == 1.0),
      s"the planted embedded copy must surface at containment 1.0: ${got.toSeq}")
    // exactness: the prefix filter only prunes — brute-force directed
    // containment over every doc pair must match bitwise (driver doubles
    // compute the same IEEE integer ratio)
    val shs = planted.select(col("doc_id"), Dedup.shingles("text").as("sh"))
      .as[(Long, Seq[String])].collect()
      .filter(_._2.nonEmpty).map { case (id, s) => (id, s.toSet) }
    val truth = (for {
      (ia, sa) <- shs; (ib, sb) <- shs if ia != ib
      inter = sa.intersect(sb).size if inter.toDouble / sa.size >= 0.9
    } yield (ia, ib, inter.toDouble / sa.size)).toSet
    assert(got.toSet == truth, s"prefix-filtered containment must equal brute force:\n${got.toSet}\nvs\n$truth")
    // layout invariance: ranks and pairs survive any partitioning
    val again = Dedup.containmentPairsPrefix(planted.repartition(13), 0.9)
      .as[(Long, Long, Double)].collect()
    assert(again.toSet == got.toSet, "pairs must be bitwise layout-invariant")
  }

  test("noveltyScores: referenced copies score 0, unique docs score 1, driver replay exact") {
    val refText = docs.filter(col("doc_id") % 5 === 0)
      .orderBy("doc_id").select("text").as[String].head()
    val planted = docs.select("doc_id", "text").unionByName(Seq(
      300001L -> refText, // % 5 = 1: probe whose every shingle is referenced
      300002L -> "zq1 zq2 zq3 zq4 zq5 zq6" // probe with unseen shingles only
    ).toDF("doc_id", "text"))
    val out = Corpus.noveltyScores(planted)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(300001L)._3 == 0L && out(300001L)._4 == 0.0,
      s"a verbatim copy of a reference doc has zero novelty: ${out(300001L)}")
    assert(out(300002L)._3 == out(300002L)._2 && out(300002L)._4 == 1.0,
      s"a doc of unseen shingles is fully novel: ${out(300002L)}")
    assert(!out.keySet.exists(_ % 5 == 0), "reference docs are never scored")
    val shs = planted.select(col("doc_id"), Dedup.shingles("text").as("sh"))
      .as[(Long, Seq[String])].collect().filter(_._2.nonEmpty)
    val refSet = shs.filter(_._1 % 5 == 0).flatMap(_._2).toSet
    val expect = shs.filter(_._1 % 5 != 0).map { case (id, sh) =>
      val novel = sh.count(s => !refSet.contains(s)).toLong
      id -> ((id, sh.size.toLong, novel, novel.toDouble / sh.size))
    }.toMap
    assert(out == expect, s"driver replay must match bitwise:\n$out\nvs\n$expect")
  }

  test("kAnonymityLadder: census replay exact; nested widths shrink risky rows monotonically") {
    val cust = Tables.customer(spark, sf)
    val widths = Seq(100, 1000, 10000)
    val out = Profile.kAnonymityLadder(cust,
        Seq("c_nationkey", "c_mktsegment"), "c_acctbal", widths, 5)
      .as[(Int, Long, Long, Long, Int)].collect().map(r => r._1 -> r).toMap
    val rows = cust.select(col("c_nationkey").cast("long"), col("c_mktsegment"),
      col("c_acctbal")).as[(Long, String, Double)].collect()
    def census(w: Int): Seq[Int] = rows.groupBy { case (n, s, b) =>
      (n, s, math.floor(math.round(b * 100).toDouble / (w * 100.0)).toLong)
    }.map(_._2.length).toSeq
    widths.foreach { w =>
      val cs = census(w)
      assert(out(w)._2 == cs.size.toLong, s"class count at width $w")
      assert(out(w)._3 == cs.count(_ < 5).toLong, s"risky classes at width $w")
      assert(out(w)._4 == cs.filter(_ < 5).map(_.toLong).sum, s"risky rows at width $w")
      assert(out(w)._5 == (if (cs.count(_ < 5) == 0) 1 else 0), s"meets_k at width $w")
    }
    // 100 | 1000 | 10000 nest: a coarse class >= k frees ALL its rows, and a
    // coarse class < k implies every child was already < k — risky rows can
    // only shrink as the ladder widens
    assert(out(100)._4 >= out(1000)._4 && out(1000)._4 >= out(10000)._4,
      s"nested widths cannot increase risky rows: $out")
  }

  test("ksMatrix: every source pair, ks in [0,1], identical slices score 0, driver replay exact") {
    val out = Corpus.ksMatrix(docs).as[(String, String, Double)].collect()
    val nSrc = docs.select("source").distinct().count().toInt
    assert(out.length == nSrc * (nSrc - 1) / 2, s"one row per unordered source pair: ${out.length}")
    assert(out.forall(r => r._3 >= 0.0 && r._3 <= 1.0), s"KS is a probability sup-gap: ${out.toSeq}")
    // a duplicated source must sit at exactly 0 from its twin
    val twin = docs.select("source", "n_chars").unionByName(
      docs.filter(col("source") === "src0")
        .select(lit("srcX").as("source"), col("n_chars")))
    val withTwin = Corpus.ksMatrix(twin).as[(String, String, Double)].collect()
    assert(withTwin.exists(r => r._1 == "src0" && r._2 == "srcX" && r._3 == 0.0),
      s"identical distributions must give ks = 0: ${withTwin.filter(_._2 == "srcX").toSeq}")
    // full driver replay: integer cross-product sup over the merged level set
    val rows = docs.select(col("source"), col("n_chars")).as[(String, Long)].collect()
    val bySrc = rows.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sorted }
    val levels = rows.map(_._2).distinct.sorted
    val expect = (for {
      a <- bySrc.keys.toSeq; b <- bySrc.keys.toSeq if a < b
      na = bySrc(a).length.toLong; nb = bySrc(b).length.toLong
    } yield {
      val num = levels.map { x =>
        math.abs(bySrc(a).count(_ <= x).toLong * nb - bySrc(b).count(_ <= x).toLong * na)
      }.max
      (a, b, num.toDouble / (na.toDouble * nb.toDouble))
    }).toSet
    assert(out.toSet == expect, s"driver replay must match bitwise")
  }

  test("memorizedContexts: deterministic continuations found, branching contexts excluded, threshold respected") {
    val corpus = Seq(
      1L -> "alpha beta gamma delta epsilon end1",
      2L -> "alpha beta gamma delta epsilon end2",
      3L -> "alpha beta gamma delta epsilon end3", // ctx "alpha beta gamma delta" -> epsilon x3 (memorized)
      4L -> "one two three four five",
      5L -> "one two three four six",              // ctx "one two three four" branches -> excluded
      6L -> "solo phrase appears here once"        // below threshold
    ).toDF("doc_id", "text")
    val out = TextStats.memorizedContexts(corpus)
      .as[(String, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out.contains("alpha beta gamma delta") &&
      out("alpha beta gamma delta") == (("alpha beta gamma delta", 3L, "epsilon")),
      s"the 3x deterministic continuation must surface: $out")
    // downstream contexts of the same phrase also repeat 3x but branch at the
    // final word — "gamma delta epsilon" has three continuations
    assert(!out.contains("beta gamma delta epsilon"), s"branching contexts must be excluded: $out")
    assert(!out.contains("one two three four"), s"two continuations is not memorization: $out")
    assert(!out.keys.exists(_.startsWith("solo")), s"sub-threshold contexts must be excluded: $out")
    // fixture smoke: output matches a driver replay
    val shs = docs.select("text").as[String].collect()
      .map(_.trim).filter(_.nonEmpty).map(_.split(" "))
      .filter(_.length >= 5)
      .flatMap(w => w.sliding(5).map(g => (g.take(4).mkString(" "), g(4))))
    val expect = shs.groupBy(_._1).collect {
      case (ctx, occs) if occs.length >= 3 && occs.map(_._2).distinct.length == 1 =>
        ctx -> ((ctx, occs.length.toLong, occs.head._2))
    }.toMap
    val full = TextStats.memorizedContexts(docs)
      .as[(String, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(full == expect, s"fixture replay must match bitwise")
  }

  test("kCenterCoreset: greedy invariants + full driver replay bitwise") {
    val out = Similarity.kCenterCoreset(emb, 8)
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    assert(out.map(_._1).sameElements(1 to 8), "one pick per rank")
    assert(out.map(_._2).distinct.length == 8, "picks must be distinct vectors")
    val radii = out.filter(_._1 >= 2).map(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => a >= b },
      s"greedy radii are non-increasing: ${radii.toSeq}")
    // driver replay with identical rounding and tie-breaks
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- 0 until math.min(x.length, y.length)) {
        dot += x(i).toDouble * y(i).toDouble
        nx += x(i).toDouble * x(i).toDouble; ny += y(i).toDouble * y(i).toDouble
      }
      val d = math.sqrt(nx) * math.sqrt(ny); if (d == 0.0) 0.0 else dot / d
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = emb.select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1)
    var mind = vecs.map(v => v._1 -> (1.0 - r6(cos(v._2, vecs.head._2)))).toMap
    val byId = vecs.toMap
    var expect = List((1, vecs.head._1, 2.0))
    for (r <- 2 to 8) {
      val (id, d) = mind.toSeq.maxBy { case (i, d) => (d, -i) }
      expect = expect :+ ((r, id, d))
      if (r < 8) mind = mind.map { case (i, m) =>
        i -> math.min(m, 1.0 - r6(cos(byId(i), byId(id)))) }
    }
    assert(out.toList.map(t => (t._1, t._2, t._3)) == expect,
      s"driver greedy replay must match bitwise:\n${out.toList}\nvs\n$expect")
  }

  test("entropyRate: deterministic corpus scores 0, fixture replay exact") {
    // two identical docs: every context fully determines its next token
    val det = Seq(1L -> "a b c d e", 2L -> "a b c d e").toDF("doc_id", "text")
    val dz = TextStats.entropyRate(det).as[(Int, Long, Long, Double)].collect()
    assert(dz.length == 3 && dz.forall(_._4 == 0.0),
      s"a deterministic corpus has zero conditional entropy: ${dz.toSeq}")
    val out = TextStats.entropyRate(docs)
      .as[(Int, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val texts = docs.select("text").as[String].collect()
      .map(_.trim).filter(_.nonEmpty).map(_.split(" "))
    for (n <- 1 to 3) {
      val slotsList = texts.filter(_.length >= n + 1)
        .flatMap(w => w.sliding(n + 1).map(g => (g.take(n).mkString(" "), g(n))))
      val cn = slotsList.groupBy(identity).toSeq
        .map { case ((ctx, nxt), o) => (ctx, nxt, o.length.toLong) }
      val occ = cn.groupBy(_._1).map { case (ctx, rs) => ctx -> rs.map(_._3).sum }
      val hCtx = cn.groupBy(_._1).map { case (ctx, rs) =>
        val o = occ(ctx)
        ctx -> rs.map { case (_, _, c) =>
          BigDecimal(r6((c.toDouble / o.toDouble) * math.log(o.toDouble / c.toDouble)))
            .setScale(6)
        }.foldLeft(BigDecimal(0))(_ + _).toDouble
      }
      val slots = occ.values.sum
      val hn = occ.keys.toSeq.map { ctx =>
        BigDecimal(r6(hCtx(ctx) * occ(ctx).toDouble / slots.toDouble)).setScale(6)
      }.foldLeft(BigDecimal(0))(_ + _).toDouble
      assert(out(n)._2 == occ.size.toLong && out(n)._3 == slots && out(n)._4 == hn,
        s"n=$n driver replay must match bitwise: ${out(n)} vs (${occ.size}, $slots, $hn)")
    }
  }

  test("bigramCrossEntropy: repeated transitions score low, fixture replay bitwise") {
    val corpus = Seq(
      1L -> "a b a b a b a b",
      2L -> "a b a b",
      3L -> "x q z w").toDF("doc_id", "text")
    val toy = TextStats.bigramCrossEntropy(corpus)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(toy(1L)._2 == 7L && toy(2L)._2 == 3L && toy(3L)._2 == 3L, s"slot counts: $toy")
    assert(toy(3L)._3 > toy(1L)._3,
      s"unique transitions must cost more than corpus-common ones: $toy")
    // fixture replay with identical arithmetic
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val texts = docs.select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => (id, t.trim) }.filter(_._2.nonEmpty)
      .map { case (id, t) => (id, t.split(" ")) }.filter(_._2.length >= 2)
    val slotsList = texts.flatMap { case (id, w) =>
      w.sliding(2).map(g => (id, g(0), g(1))) }
    val pc = slotsList.groupBy(s => (s._2, s._3)).map { case (k, v) => k -> v.size.toLong }
    val cc = pc.groupBy(_._1._1).map { case (c, m) => c -> m.values.sum }
    val v = slotsList.map(_._3).distinct.size.toLong
    val expect = slotsList.groupBy(_._1).map { case (id, ss) =>
      val byPair = ss.groupBy(s => (s._2, s._3)).map { case (k, o) => k -> o.size.toLong }
      val nmicro = byPair.toSeq.map { case ((c, n), m) =>
        (BigDecimal(r6(math.log((cc(c) + v).toDouble / (pc((c, n)) + 1).toDouble)))
          .setScale(6) * 1000000).toLong * m
      }.sum
      val slots = ss.size.toLong
      id -> ((id, slots, ((2 * nmicro + slots) / (2 * slots)).toDouble / 1000000.0))
    }
    val full = TextStats.bigramCrossEntropy(docs)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(full == expect, "fixture replay must match bitwise")
  }

  test("giniConcentration: uniform 0, known skew exact, fixture replay bitwise") {
    val uniform = Seq((1L, "a b c d", "s1")).toDF("doc_id", "text", "source")
    val u = TextStats.giniConcentration(uniform)
      .as[(String, Long, Long, Double)].collect()
    assert(u.toSeq == Seq(("s1", 4L, 4L, 0.0)), s"uniform mass has zero gini: ${u.toSeq}")
    // "a a a b": sorted masses (1, 3) -> gini = (2*(1*1+2*3) - 3*4) / (2*4) = 0.25
    val skew = Seq((1L, "a a a b", "s1")).toDF("doc_id", "text", "source")
    val s = TextStats.giniConcentration(skew).as[(String, Long, Long, Double)].collect()
    assert(s.toSeq == Seq(("s1", 2L, 4L, 0.25)), s"textbook replay: ${s.toSeq}")
    // fixture replay via the textbook sorted-rank formula (ties rank-sum-
    // invariant, so any tie order gives the same S)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val bySource = docs.select("source", "text").as[(String, String)].collect()
      .map { case (src, t) => (src, t.trim) }.filter(_._2.nonEmpty)
      .groupBy(_._1)
    val expect = bySource.map { case (src, rows) =>
      val freqs = rows.flatMap(_._2.split(" ")).groupBy(identity)
        .map(_._2.size.toLong).toSeq.sorted
      val n = freqs.size.toLong
      val t = freqs.sum
      val sRank = freqs.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
      (src, n, t, r6((2 * sRank - (n + 1) * t).toDouble / (n * t).toDouble))
    }.toSet
    val full = TextStats.giniConcentration(docs)
      .as[(String, Long, Long, Double)].collect().toSet
    assert(full == expect, "fixture replay must match bitwise")
  }

  test("benfordAudit: digit census exact, abs/zero handling visible, chi2 replay") {
    // -4.56 must test as digit 4 (magnitude, not '-'); 0.00 has no leading
    // digit and must be counted in `excluded`, not silently dropped
    val rows = Seq(
      ("g1", 1.23), ("g1", 19.99), ("g1", 0.02), ("g1", 3.50), ("g1", -4.56),
      ("g2", 9.99), ("g2", 0.91), ("g2", 0.0)).toDF("grp", "amount")
    val out = Profile.benfordAudit(rows, "amount", "grp")
      .as[(String, Int, Long, Double, Double, Double, Long)].collect()
    assert(out.length == 18, s"9-digit grid per group: ${out.length}")
    val g1 = out.filter(_._1 == "g1").map(r => r._2 -> r).toMap
    val g2 = out.filter(_._1 == "g2").map(r => r._2 -> r).toMap
    assert(g1(1)._3 == 2L && g1(2)._3 == 1L && g1(3)._3 == 1L && g1(4)._3 == 1L,
      s"observed digit census (|-4.56| lands on 4): ${g1.values.toSeq.sortBy(_._2)}")
    assert(g1.values.forall(_._7 == 0L), s"g1 excluded nothing: ${g1(1)}")
    assert(g2.values.forall(_._7 == 1L), s"g2's zero row is counted out loud: ${g2(1)}")
    assert(g2(9)._3 == 2L, s"g2 digits: ${g2.values.toSeq.sortBy(_._2)}")
    // chi2 replay with identical arithmetic (6dp expected literals,
    // exact-decimal expected counts, DECIMAL term sum); g1 n = 5 tested rows
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val p = Seq(0.301030, 0.176091, 0.124939, 0.096910, 0.079181,
      0.066947, 0.057992, 0.051153, 0.045757)
    val chi2 = (1 to 9).map { d =>
      val e = BigDecimal(p(d - 1)).setScale(6) * BigDecimal(5)
      val dev = g1(d)._3.toDouble - e.toDouble
      BigDecimal(r6(dev * dev / e.toDouble)).setScale(6)
    }.foldLeft(BigDecimal(0))(_ + _).toDouble
    assert(g1(1)._6 == chi2, s"chi2 replay: ${g1(1)._6} vs $chi2")
    assert(g1.values.map(_._6).toSet.size == 1, "chi2 is constant within a group")
    // expected counts carry the group total: the 6dp Benford literals
    // telescope to exactly 1.000000 (Σ log10(1+1/d) = log10(10)), so the
    // expected mass equals n (the TESTED rows, zero-cent exclusions out)
    val expSum = g1.values.map(_._4).sum
    assert(math.abs(expSum - 5.0) < 1e-9, s"expected-count mass: $expSum")
    // an all-zero group tests nothing and says so: chi2 0, n excluded
    val z = Profile.benfordAudit(
      Seq(("z", 0.0), ("z", 0.0)).toDF("grp", "amount"), "amount", "grp")
      .as[(String, Int, Long, Double, Double, Double, Long)].collect()
    assert(z.length == 9 && z.forall(r => r._3 == 0L && r._6 == 0.0 && r._7 == 2L),
      s"all-zero group: ${z.toSeq}")
  }

  test("winsorizeAudit: exact percentile thresholds, clip census, moved mass identity") {
    // 100 rows of value k cents for k = 1..100 in one group: p5 = 5, p95 = 95
    val rows = (1 to 100).map(k => ("g", k / 100.0)).toDF("grp", "v")
    val out = Profile.winsorizeAudit(rows, "v", "grp")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    // below 5: {1,2,3,4} -> moved (5-1)+(5-2)+(5-3)+(5-4)=10; above 95:
    // {96..100} -> moved 1+2+3+4+5=15
    assert(out.toSeq == Seq(("g", 100L, 5L, 95L, 4L, 5L, 25L)),
      s"textbook percentile census: ${out.toSeq}")
    // fixture replay on events at sf0.001 via a driver inverse-CDF
    val ev = graft.Tables.events(spark, sf)
      .select("event_type", "value").as[(String, Double)].collect()
    def cents(v: Double): Long =
      BigDecimal(v * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val expect = ev.groupBy(_._1).map { case (t, rs) =>
      val cs = rs.map(r => cents(r._2)).sorted
      val n = cs.length.toLong
      def thr(pct: Int): Long = cs(math.max(0,
        cs.indices.find(i => (i + 1).toLong * 100 >= n * pct).get))
      val (lo, hi) = (thr(5), thr(95))
      val moved = cs.filter(_ < lo).map(lo - _).sum + cs.filter(_ > hi).map(_ - hi).sum
      (t, n, lo, hi, cs.count(_ < lo).toLong, cs.count(_ > hi).toLong, moved)
    }.toSet
    val full = graft.queries.ExtensionQueries.queries("x99_winsorize")(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(full == expect, s"fixture replay must match bitwise:\n$full\nvs\n$expect")
  }

  test("vocabularyGrowth: known first-appearances, monotone curve, fixture totals") {
    // ids 0..9 -> buckets 0..9 under (id*10) div 10; vocab grows then repeats
    val corpus = (0L to 9L).map { i =>
      val text = if (i < 5) s"w$i w$i w$i" else "w0 w1 w0"
      (i, text)
    }.toDF("doc_id", "text")
    val out = TextStats.vocabularyGrowth(corpus)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.map(_._1).sameElements(0L to 9L), s"ten buckets: ${out.toSeq}")
    assert(out.last._2 == 10L && out.last._3 == 30L, s"totals: ${out.last}")
    // types: one new type per bucket 0..4, none after
    assert(out.map(_._4).sameElements(Seq(1L, 2L, 3L, 4L, 5L, 5L, 5L, 5L, 5L, 5L)),
      s"type curve: ${out.map(_._4).toSeq}")
    // shingles: each doc is one distinct 3-gram; buckets 5..9 repeat one
    assert(out.map(_._5).sameElements(Seq(1L, 2L, 3L, 4L, 5L, 6L, 6L, 6L, 6L, 6L)),
      s"shingle curve: ${out.map(_._5).toSeq}")
    // monotone + bounded on the fixture
    val fix = TextStats.vocabularyGrowth(docs)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(fix.zip(fix.tail).forall { case (a, b) =>
      a._2 <= b._2 && a._3 <= b._3 && a._4 <= b._4 && a._5 <= b._5 },
      "cumulative curves must be monotone")
    val totalDocs = docs.filter(trim(col("text")) =!= "").count()
    assert(fix.last._2 == totalDocs, "every non-blank doc lands in a bucket")
  }

  test("survivalCurve: textbook Kaplan-Meier on a hand-built cohort, fixture identities") {
    // observation ends at day 20 (user C's last activity); churn gap 8 days
    // => churned iff last day <= 12. A: lifetime 10 (churn), B: 0 (churn),
    // C: 20 (censored at the horizon).
    val log = Seq(
      ("A", "2024-01-01"), ("A", "2024-01-11"),
      ("B", "2024-01-01"),
      ("C", "2024-01-01"), ("C", "2024-01-21")
    ).toDF("user_id", "ts")
    val out = Profile.survivalCurve(log)
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val t0 = r6(math.log(2.0 / 3.0))
    val t10 = BigDecimal(t0) + BigDecimal(r6(math.log(0.5)))
    assert(out.toSeq == Seq(
      (0L, 3L, 1L, 0L, t0),
      (10L, 2L, 1L, 0L, t10.toDouble),
      (20L, 1L, 0L, 1L, t10.toDouble)), s"KM table: ${out.toSeq}")
    // fixture identities at sf0.001: at-risk telescopes from the cohort
    // total, events partition the cohort, log-survival is non-increasing
    val fix = Profile.survivalCurve(Tables.events(spark, sf))
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    val cohort = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(fix.head._2 == cohort, "first at-risk row must equal the cohort size")
    assert(fix.map(r => r._3 + r._4).sum == cohort, "churned+censored must partition the cohort")
    fix.zip(fix.tail).foreach { case (a, b) =>
      assert(b._2 == a._2 - a._3 - a._4, s"at-risk must telescope: $a -> $b")
      assert(b._5 <= a._5 + 1e-12, "survival cannot increase")
    }
  }

  test("burstiness: metronome pins B=-1, known two-gap stream, fixture gap accounting") {
    // u1/"a": gaps 10,10,10 (sigma=0 -> B=-1); u2/"b": gaps 1,3 ->
    // n*sigma = sqrt(n*Sx2 - Sx^2) = sqrt(2*10-16) = 2, n*mu = 4 -> B = -1/3
    val log = Seq(
      ("u1", "a", 1L, "2024-01-01 00:00:00"), ("u1", "a", 2L, "2024-01-01 00:00:10"),
      ("u1", "a", 3L, "2024-01-01 00:00:20"), ("u1", "a", 4L, "2024-01-01 00:00:30"),
      ("u2", "b", 5L, "2024-01-01 00:00:00"), ("u2", "b", 6L, "2024-01-01 00:00:01"),
      ("u2", "b", 7L, "2024-01-01 00:00:04")
    ).toDF("user_id", "event_type", "event_id", "ts")
    val out = Profile.burstiness(log)
      .as[(String, Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      ("a", 3L, 30L, 300.0, -1.0),
      ("b", 2L, 4L, 10.0, -0.333333)), s"burstiness table: ${out.toSeq}")
    // fixture accounting at sf0.001: per type, #gaps = #events - #active
    // (user,type) streams; B stays in the defined [-1, 1) band
    val fix = Profile.burstiness(Tables.events(spark, sf))
      .as[(String, Long, Long, Double, Double)].collect()
    val expectGaps = Tables.events(spark, sf)
      .groupBy("event_type").agg(
        (count(lit(1)) - countDistinct(col("user_id"))).as("g"))
      .as[(String, Long)].collect().toMap
    fix.foreach { r =>
      assert(r._2 == expectGaps(r._1), s"gap count for ${r._1}: $r vs ${expectGaps(r._1)}")
      assert(r._5 >= -1.0 && r._5 < 1.0, s"B out of band: $r")
    }
  }

  test("cusumChangePoint: hand-built level shift localized; fixture replay bitwise") {
    // 5 days at volume 1, then 5 at volume 3: the positive CUSUM peaks at
    // the last day (50, still climbing), the negative at the last
    // low-volume day (day index 4) — the classic pre-shift change point.
    val days = (0 until 10).map(d => (f"2024-01-${d + 1}%02d", if (d < 5) 1 else 3))
    val log = days.flatMap { case (ts, n) => Seq.fill(n)(("a", ts)) }
      .toDF("event_type", "ts")
    val out = Profile.cusumChangePoint(log)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    val d0 = java.time.LocalDate.parse("2024-01-01").toEpochDay
    assert(out.toSeq == Seq(("a", 10L, 20L, 50L, d0 + 9, 50L, d0 + 4)),
      s"level-shift CUSUM: ${out.toSeq}")
    // fixture replay at sf0.001: rebuild the day census on the driver and
    // run the textbook max(0, S+d) recursions directly
    val census = Tables.events(spark, sf)
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      .as[(String, java.time.LocalDate, Long)].collect()
    val expect = census.groupBy(_._1).map { case (t, rows) =>
      val xs = rows.sortBy(_._2.toEpochDay).map(r => (r._2.toEpochDay, r._3))
      val n = xs.length.toLong; val tot = xs.map(_._2).sum
      var (sp, sn) = (0L, 0L)
      var (bp, bn) = ((Long.MinValue, 0L), (Long.MinValue, 0L)) // (peak, day)
      xs.foreach { case (d, x) =>
        val dev = x * n - tot
        sp = math.max(0L, sp + dev); sn = math.max(0L, sn - dev)
        if (sp > bp._1) bp = (sp, d)
        if (sn > bn._1) bn = (sn, d)
      }
      (t, n, tot, bp._1, bp._2, bn._1, bn._2)
    }.toSet
    val full = graft.queries.ExtensionQueries.queries("x103_cusum")(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(full == expect, s"fixture CUSUM replay:\n$full\nvs\n$expect")
  }

  test("autocorrelation: period-2 series pins ACF(-1,+1,0); fixture replay bitwise") {
    // daily volumes 1,3,1,3 over four days: lag1 r=-1, lag2 r=+1, lag3
    // degenerate (one pair, zero variance -> 0.0), lags 4..7 have no pairs
    val days = Seq(("2024-01-01", 1), ("2024-01-02", 3), ("2024-01-03", 1), ("2024-01-04", 3))
    val log = days.flatMap { case (ts, n) => Seq.fill(n)(("a", ts)) }
      .toDF("event_type", "ts")
    val out = Profile.autocorrelation(log)
      .as[(String, Long, Long, Double)].collect().sortBy(_._2)
    assert(out.toSeq == Seq(("a", 1L, 3L, -1.0), ("a", 2L, 2L, 1.0), ("a", 3L, 1L, 0.0)),
      s"period-2 ACF: ${out.toSeq}")
    // fixture replay at sf0.001: zero-filled dense series, same exact-sum
    // Pearson formula on the driver
    val census = Tables.events(spark, sf)
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      .as[(String, java.time.LocalDate, Long)].collect()
    val expect = census.groupBy(_._1).flatMap { case (t, rows) =>
      val m = rows.map(r => r._2.toEpochDay -> r._3).toMap
      val (d0, d1) = (m.keys.min, m.keys.max)
      val s = (d0 to d1).map(d => m.getOrElse(d, 0L))
      (1 to 7).flatMap { k =>
        val pairs = (k until s.length).map(i => (s(i), s(i - k)))
        if (pairs.isEmpty) None else {
          val np = pairs.length.toLong
          val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
          val sxx = pairs.map(p => BigInt(p._1) * p._1).sum
          val syy = pairs.map(p => BigInt(p._2) * p._2).sum
          val sxy = pairs.map(p => BigInt(p._1) * p._2).sum
          val covn = sxy.toDouble * np - sx.toDouble * sy.toDouble
          val vx = sxx.toDouble * np - sx.toDouble * sx.toDouble
          val vy = syy.toDouble * np - sy.toDouble * sy.toDouble
          val r = if (vx * vy <= 0.0) 0.0
            else BigDecimal(covn / math.sqrt(vx * vy))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          Some((t, k.toLong, np, r))
        }
      }
    }.toSet
    val full = graft.queries.ExtensionQueries.queries("x104_acf")(spark, sf)
      .as[(String, Long, Long, Double)].collect().toSet
    assert(full == expect, s"fixture ACF replay:\n$full\nvs\n$expect")
  }

  test("zipfSlope: hand spectrum replays OLS; fixture slope negative and replayed") {
    def ols(spectrum: Seq[(Long, Long)]): (Long, Double, Double) = {
      // spectrum rows (freq, n_types); points (ln rank_hi desc-cum, ln freq)
      def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      def r12(v: Double) = BigDecimal(v).setScale(12, BigDecimal.RoundingMode.HALF_UP)
      val pts = spectrum.sortBy(-_._1)
        .scanLeft((0L, 0L)) { case ((cum, _), (f, n)) => (cum + n, f) }.tail
        .map { case (rank, f) => (r6(math.log(rank.toDouble)), r6(math.log(f.toDouble))) }
      val m = pts.length.toLong
      val sx = pts.map(p => BigDecimal(p._1)).sum.toDouble
      val sy = pts.map(p => BigDecimal(p._2)).sum.toDouble
      val sxy = pts.map(p => r12(p._1 * p._2)).sum.toDouble
      val sxx = pts.map(p => r12(p._1 * p._1)).sum.toDouble
      val md = m.toDouble
      val num = sxy * md - sx * sy
      val den = sxx * md - sx * sx
      if (den == 0.0) (m, 0.0, r6(sy / md))
      else (m, r6(num / den), r6((sy - (num / den) * sx) / md))
    }
    // corpus: a:4 b:2 c:2 d:1 -> spectrum {4:1, 2:2, 1:1}
    val corpus = Seq((0L, "a a a a"), (1L, "b b"), (2L, "c c"), (3L, "d"))
      .toDF("doc_id", "text")
    val out = TextStats.zipfSlope(corpus).as[(Long, Double, Double)].head()
    val exp = ols(Seq((4L, 1L), (2L, 2L), (1L, 1L)))
    assert(out == exp, s"hand spectrum: $out vs $exp")
    assert(out._2 < 0.0, "frequency must fall with rank")
    // fixture replay at sf0.001: rebuild the spectrum in Spark (small),
    // replay the regression on the driver
    val spec = graft.ops.Par.fanOut(docs)
      .select(explode(split(trim(col("text")), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .groupBy("freq").agg(count(lit(1)).as("n_types"))
      .as[(Long, Long)].collect().toSeq
    val fix = TextStats.zipfSlope(docs).as[(Long, Double, Double)].head()
    assert(fix == ols(spec), s"fixture replay: $fix vs ${ols(spec)}")
    assert(fix._2 < 0.0, s"fixture corpus must be Zipf-shaped: $fix")
  }

  test("hillTail: hand order statistics replay; fixture alpha positive and replayed") {
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def replay(top: Seq[Long]): (Long, Long, Double, Double) = {
      val k = top.size.toLong; val xk = top.min
      val slnx = top.map(x => BigDecimal(r6(math.log(x.toDouble)))).sum.toDouble
      val hraw = (slnx - k.toDouble * r6(math.log(xk.toDouble))) / k.toDouble
      (k, xk, r6(hraw), if (hraw == 0.0) 0.0 else r6(1.0 / hraw))
    }
    val hand = Seq(1000L, 100L, 10L, 0L, -5L).toDF("n_chars") // non-positives dropped
    val out = Profile.hillTail(hand, "n_chars").as[(Long, Long, Double, Double)].head()
    assert(out == replay(Seq(1000L, 100L, 10L)), s"hand Hill: $out")
    // a geometric tail x = r^i has H = mean of i*ln r = known closed sum
    val geo = (0 to 9).map(i => math.pow(2.0, i).toLong).toDF("n_chars")
    val gout = Profile.hillTail(geo, "n_chars").as[(Long, Long, Double, Double)].head()
    assert(gout == replay((0 to 9).map(i => 1L << i)), s"geometric Hill: $gout")
    assert(gout._3 > 0.0 && gout._4 > 0.0, "a decaying tail has positive H and alpha")
    // fixture replay: top-500 doc lengths collected and replayed
    val top = docs.select(col("n_chars").cast("long").as("x")).filter(col("x") > 0)
      .orderBy(col("x").desc).limit(500).as[Long].collect().toSeq
    val fix = Profile.hillTail(docs, "n_chars").as[(Long, Long, Double, Double)].head()
    assert(fix == replay(top), s"fixture Hill replay: $fix vs ${replay(top)}")
    assert(fix._4 > 0.0, s"doc lengths must show a decaying tail: $fix")
  }

  test("chiSquareIndependence: exact 0 on independence, N on perfect 2x2 dependence, fixture replay") {
    // independent 2x2: every E equals O exactly -> chi2 = 0, V = 0
    val ind = (Seq.fill(2)(("a1", "b1")) ++ Seq.fill(2)(("a1", "b2"))
      ++ Seq.fill(3)(("a2", "b1")) ++ Seq.fill(3)(("a2", "b2"))).toDF("a", "b")
    val i = Profile.chiSquareIndependence(ind, "a", "b")
      .as[(Long, Long, Long, Long, Double, Double)].head()
    assert(i == ((10L, 2L, 2L, 1L, 0.0, 0.0)), s"independent table: $i")
    // perfectly dependent 2x2: chi2 = N, Cramer's V = 1
    val dep = (Seq.fill(5)(("a1", "b1")) ++ Seq.fill(5)(("a2", "b2"))).toDF("a", "b")
    val d = Profile.chiSquareIndependence(dep, "a", "b")
      .as[(Long, Long, Long, Long, Double, Double)].head()
    assert(d == ((10L, 2L, 2L, 1L, 10.0, 1.0)), s"dependent table: $d")
    // fixture replay at sf0.001 from the collected contingency census
    val cen = docs.groupBy(col("lang").as("a"), col("source").as("b"))
      .agg(count(lit(1)).as("o")).as[(String, String, Long)].collect()
    val n = cen.map(_._3).sum
    val ra = cen.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val cb = cen.groupBy(_._2).map { case (k, v) => k -> v.map(_._3).sum }
    val omap = cen.map(r => (r._1, r._2) -> r._3).toMap
    val chi2d = (for (a <- ra.keys.toSeq; b <- cb.keys.toSeq) yield {
      val o = omap.getOrElse((a, b), 0L) // zero cells contribute E
      val e = ra(a).toDouble * cb(b).toDouble / n.toDouble
      BigDecimal((o.toDouble - e) * (o.toDouble - e) / e)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    }).sum
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val mind = math.min(ra.size - 1, cb.size - 1).toDouble
    val expect = (n, ra.size.toLong, cb.size.toLong,
      (ra.size - 1).toLong * (cb.size - 1).toLong,
      r6(chi2d.toDouble), r6(math.sqrt(chi2d.toDouble / (n.toDouble * mind))))
    val fix = graft.queries.ExtensionQueries.queries("x107_chi2_mix")(spark, sf)
      .as[(Long, Long, Long, Long, Double, Double)].head()
    assert(fix == expect, s"fixture chi2 replay: $fix vs $expect")
    assert(fix._6 >= 0.0 && fix._6 <= 1.0, s"Cramer's V in [0,1]: $fix")
  }

  test("kNN agreement: clean clusters read 1.0, a planted mislabel is caught (x109 brute)") {
    import graft.queries.ExtensionQueries
    val dir = java.nio.file.Files.createTempDirectory("graft-x109").toString
    // two tight clusters (same direction per cluster), 6 vectors each; the
    // corpus is far below the 256 sample cap, so EVERY vector is a query —
    // all labels consistent -> every query agrees with its cluster's vote
    def vec(base: Array[Float], eps: Float, i: Int): Array[Float] =
      base.zipWithIndex.map { case (v, j) => if (j == i % 4) v + eps else v }
    val a = Array(1f, 0f, 0f, 0f); val b = Array(0f, 1f, 0f, 0f)
    val clean = (0 to 5).map(i => (i.toLong * 50, vec(a, 0.01f * (i + 1), i), 1)) ++
      (0 to 5).map(i => (i.toLong * 50 + 1, vec(b, 0.01f * (i + 1), i), 2))
    clean.toDF("vec_id", "embedding", "label").write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val out = ExtensionQueries.queries("x109_knn_agreement_brute")(spark, dir)
      .as[(Int, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet == Set(1, 2), s"every vector is sampled under the cap: $out")
    assert(out(1) == ((1, 6L, 6L, 1.0)) && out(2) == ((2, 6L, 6L, 1.0)),
      s"clean clusters must agree 1.0: $out")
    // plant: flip one vector's label -> its 5 neighbors still vote 1
    val planted = clean.map { case (id, v, l) => (id, v, if (id == 100L) 9 else l) }
    planted.toDF("vec_id", "embedding", "label").write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val out2 = ExtensionQueries.queries("x109_knn_agreement_brute")(spark, dir)
      .as[(Int, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out2(9) == ((9, 1L, 0L, 0.0)), s"the mislabel must read 0 agreement: $out2")
    assert(out2(1)._3 == 5L, s"the remaining label-1 queries still agree: $out2")
  }

  test("x108 IVF-probed agreement tracks the x109 brute twin") {
    import graft.queries.ExtensionQueries
    // identical capped sample on both paths -> identical per-label query
    // counts; rates may differ only where the 4-probe misses a true
    // neighbor, so the fixture audit must stay within recall tolerance
    val ivf = ExtensionQueries.queries("x108_knn_agreement")(spark, sf)
      .as[(Int, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    val brute = ExtensionQueries.queries("x109_knn_agreement_brute")(spark, sf)
      .as[(Int, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(ivf.keySet == brute.keySet, s"same label partition: $ivf vs $brute")
    assert(ivf.keySet.forall(l => ivf(l)._2 == brute(l)._2),
      s"the md5-capped sample is the same on both paths: $ivf vs $brute")
    val n = ivf.values.map(_._2).sum
    assert(n == math.min(256L, emb.count()), s"sample is the 256-cap: $n")
    ivf.keySet.foreach { l =>
      assert(math.abs(ivf(l)._4 - brute(l)._4) <= 0.34,
        s"IVF agreement must track brute within recall tolerance at label $l: " +
          s"${ivf(l)} vs ${brute(l)}")
    }
    assert(ivf.values.forall(r => r._3 <= r._2), "agreement bounded by query count")
  }

  /** Textbook DP reference for the spec's brute-force cross-check. */
  private def levenshteinRef(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }
}
