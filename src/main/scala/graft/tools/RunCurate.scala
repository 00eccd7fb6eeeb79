package graft.tools

import graft.{Sessions, Tables}
import graft.ext.{Cluster, Corpus, Dedup, TextStats}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation cascade over the documents fixture —
  * the pipeline a 100 TB pretraining corpus runs, stage by stage:
  *
  *   0. PII scrubbing      (compiled regex passes: emails/IPs/digit runs ->
  *                          typed placeholders, before anything hashes text)
  *   1. exact dedup        (hash groupBy, one 16-byte/row shuffle)
  *   2. near-dup clusters  (minhash LSH pairs -> connected components ->
  *                          keep the min-id doc per cluster)
  *   2b. span dedup        (Lee-et-al block grid: drop docs that are mostly
  *                          corpus-duplicated spans — boilerplate shells
  *                          pair-level dedup keeps)
  *   3. quality filter     (deterministic feature scoring + Gopher
  *                          repetition caps + corpus-trigram LM floor)
  *   4. language sampling  (reproducible md5-bucket stratified rates)
  *   4b. DSIR resampling   (importance weights toward the en target;
  *                          deterministic md5-bucket uniform as the draw)
  *   5. shard packing      (token-budget shards via the distributed scan)
  *   6. incremental admission (a later batch: broadcast-Bloom exact-dup
  *                          pre-drop, then the survivors probed against the
  *                          curated corpus's persisted MinHash index —
  *                          steady-state ingestion never re-pairs the corpus)
  *
  * Every stage is deterministic, so any slice of the output can be
  * recomputed independently — the property that makes the pipeline safe to
  * re-run and backfill. Prints per-stage row counts (the curation funnel).
  *
  * Usage: runMain graft.tools.RunCurate [sfDir] [outDir]
  */
object RunCurate {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft_curate").toString
    val spark = Sessions.local(Sessions.cpus, "graft-curate")

    val raw = Tables.documents(spark, sfDir)
    val n0 = raw.count()
    println(s"[curate] input                 : $n0 docs")

    // 0. PII scrubbing before any text hashing (a fingerprint of unscrubbed
    // text would differ from the corpus the shards actually ship)
    val withPii = TextStats.redactPii(raw)
    val nTouched = withPii
      .filter(col("n_emails") + col("n_ips") + col("n_longnums") > 0).count()
    val docs = withPii.withColumn("text", col("text_redacted"))
      .select(raw.columns.map(col): _*).localCheckpoint()
    println(s"[curate] PII scrubbed          : $nTouched docs touched")

    // 1. exact dedup: keep the min doc_id of every identical-text group
    val exact = Dedup.dedupExact(docs).localCheckpoint()
    println(s"[curate] after exact dedup     : ${exact.count()}")

    // 2. near-dup clusters over the survivors; resolve each cluster to its
    // BEST-quality member (canonical selection) rather than an arbitrary
    // min-id — near-dups differ in boilerplate/truncation, and keeping the
    // highest-scoring variant is free at this point in the funnel
    val pairs = Dedup.nearDupMinhash(exact, threshold = 0.8)
      .select(col("doc_a"), col("doc_b"))
    val clusters = Cluster.dupClusters(exact, pairs)
    val quality = TextStats.qualityScore(exact)
      .select(col("doc_id"), col("quality_score"))
    val nearDeduped = exact.join(
        Cluster.canonicalDocs(clusters, quality)
          .filter(col("kept") === 1).select("doc_id"),
        Seq("doc_id"), "left_semi")
      .localCheckpoint()
    println(s"[curate] after near-dup dedup  : ${nearDeduped.count()} (canonical per cluster)")

    // 2b. duplicated-span accounting (Lee-et-al block grid): docs that are
    // MOSTLY duplicated spans (>= 50% of tokens inside corpus-duplicated
    // blocks) are boilerplate shells pair-level dedup keeps — they share
    // spans with MANY docs without being a near-dup of any single one.
    // Drop them; report the token budget span removal would reclaim.
    val spans = Dedup.dupSpans(nearDeduped)
    val spanStats = spans.agg(sum("n_tokens"), sum(expr("8 * dup_blocks"))).head
    val spanDeduped = nearDeduped.join(
        spans.filter(col("dup_token_frac") < 0.5).select("doc_id"),
        Seq("doc_id"), "left_semi")
      .localCheckpoint()
    println(s"[curate] after span dedup      : ${spanDeduped.count()} " +
      s"(duplicated spans hold ${spanStats.getLong(1)} of ${spanStats.getLong(0)} tokens)")

    // 3. quality filter: ratio features + Gopher repetition caps + the
    // bottom decile of the corpus-trigram LM score (CCNet-style) all gate
    val scored = TextStats.qualityScore(spanDeduped)
    val rep = TextStats.repetitionSignals(spanDeduped)
      .select(col("doc_id"), col("repetition_keep"))
    val lm = TextStats.lmQualityScore(spanDeduped)
      .select(col("doc_id"), col("avg_logprob"))
    val lmFloor = lm.agg(
      expr("percentile_approx(avg_logprob, 0.1)").as("p10")).head.getDouble(0)
    val kept = scored.filter(col("keep") === 1)
      .join(rep.filter(col("repetition_keep") === 1), Seq("doc_id"), "left_semi")
      .join(lm.filter(col("avg_logprob") >= lmFloor), Seq("doc_id"), "left_semi")
      .select(spanDeduped.columns.map(col): _*).localCheckpoint()
    println(s"[curate] after quality filter  : ${kept.count()} (lm p10 floor $lmFloor)")

    // 4. reproducible stratified sampling by language
    val sampled = Corpus.stratifiedSample(
        kept, concat(lit("curate:"), col("doc_id").cast("string")), col("lang"),
        rates = Map("en" -> 0.9, "de" -> 0.7, "fr" -> 0.7, "es" -> 0.7),
        defaultRate = 0.5)
      .drop("bucket").localCheckpoint()
    println(s"[curate] after lang sampling   : ${sampled.count()}")

    // 4b. DSIR importance resampling toward the English target: accept doc d
    // iff its md5-bucket uniform u(d) < exp(log_weight(d)) — sampling
    // proportional to the importance weight with a DETERMINISTIC uniform
    // (same bucket trick as stage 4: a re-run or backfill accepts the
    // identical set; no rand() anywhere in the pipeline).
    val dsir = Corpus.dsirWeights(sampled, col("lang") === "en")
    val dsirBuckets = 10000
    val resampled = sampled
      .join(dsir.select(col("doc_id"), col("log_weight")), "doc_id")
      .withColumn("_u", graft.functions.HashFunctions.md5_bucket(
        concat(lit("dsir:"), col("doc_id").cast("string")), dsirBuckets))
      .filter(col("_u") <
        round(least(exp(col("log_weight")), lit(1.0)) * dsirBuckets).cast("int"))
      .drop("_u", "log_weight").localCheckpoint()
    println(s"[curate] after DSIR resampling : ${resampled.count()} (tilt toward en)")

    // 5. pack into token-budget shards by REAL subword counts (the BPE
    // tokenizer the training loader would run — whitespace words under-count
    // the budget) and write partitioned by shard
    val budgets = resampled.agg(
      sum(TextStats.tokenCount(col("text"))).as("ws"),
      sum(TextStats.bpeTokenCount(col("text"))).as("bpe")).head
    println(s"[curate] token budget          : whitespace=${budgets.getLong(0)} " +
      s"bpe=${budgets.getLong(1)}")
    val shards = Corpus.packTokenShards(resampled, capacity = 2000L,
      tokenCount = TextStats.bpeTokenCount)
    val out = resampled.join(shards.select("doc_id", "n_tokens", "shard_id"), "doc_id")
    out.write.mode("overwrite").partitionBy("shard_id").parquet(s"$outDir/corpus")
    val written = spark.read.parquet(s"$outDir/corpus")
    val nShards = written.select("shard_id").distinct().count()
    println(s"[curate] packed                : ${written.count()} docs into $nShards shards at $outDir/corpus")

    // determinism receipt: the same pipeline re-run must produce the same set
    val again = Corpus.stratifiedSample(
      kept, concat(lit("curate:"), col("doc_id").cast("string")), col("lang"),
      rates = Map("en" -> 0.9, "de" -> 0.7, "fr" -> 0.7, "es" -> 0.7),
      defaultRate = 0.5).drop("bucket")
    require(again.exceptAll(sampled).isEmpty && sampled.exceptAll(again).isEmpty,
      "curation pipeline is not deterministic")
    println("[curate] determinism check     : PASS")

    // 5b. final training order: the seeded global shuffle a data loader
    // would stream — a pure function of (corpus, seed), so a resumed or
    // re-run training job sees the identical order without storing it
    val order = Corpus.seededShuffle(written.select("doc_id"), seed = 17L, shardSize = 64L)
    require(order.count() == written.count(), "training-order shuffle must be a bijection")
    println(s"[curate] training order        : ${order.count()} positions, " +
      s"${order.agg(max(col("shard_id"))).head.getLong(0) + 1} loader shards (seed 17)")

    // 6. steady state: persist the curated corpus's band index once, then
    // admit a simulated "tomorrow's crawl" (the curated docs themselves,
    // re-keyed — worst case: everything is a dup) plus genuinely new text.
    val idx = "graft_curate_idx"
    if (spark.catalog.tableExists(idx)) spark.sql(s"DROP TABLE $idx")
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh, idx))
    Dedup.buildMinhashIndex(resampled, idx)
    val replayed = resampled.select(
      (col("doc_id") + lit(10000000L)).as("doc_id"), col("text"))
    val fresh = spark.range(3).select(
      (col("id") + lit(20000000L)).as("doc_id"),
      concat(lit("genuinely new document number "), col("id").cast("string"),
        lit(" with previously unseen token content entirely")).as("text"))
    val batch = replayed.unionByName(fresh)
    // 6a. exact-dup pre-drop: the broadcast Bloom route kills byte-identical
    // re-crawls (the overwhelmingly common case) before anything shingles
    val bloomPass = Dedup.bloomAdmit(resampled, batch).select("doc_id")
    val preDropped = batch.join(bloomPass, Seq("doc_id"), "left_semi")
    println(s"[curate] bloom exact pre-drop  : ${batch.count()} probed -> " +
      s"${preDropped.count()} survive to the near-dup probe")
    // 6b. near-dup probe of the survivors against the persisted band index
    val admitted = Dedup.dedupNewBatch(spark, idx, preDropped, threshold = 0.8)
    val nAdmitted = admitted.count()
    println(s"[curate] incremental admission : " +
      s"$nAdmitted admitted (replayed corpus rejected, fresh docs pass)")
    require(nAdmitted == 3, s"expected only the 3 fresh docs, got $nAdmitted")
    spark.stop()
  }
}
