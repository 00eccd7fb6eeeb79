package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data curation: token counting, quality
  * scoring, language identification, and document fingerprinting.
  *
  * Everything is built from codegen'd string/regex built-ins — one pass over
  * the text column, no shuffle until the optional per-language aggregation.
  * Each heuristic is deliberately simple and EXACTLY mirrored by a DuckDB
  * oracle SQL (the point at 100 TB is deterministic, cheap, vectorizable
  * scoring — model-based scoring would sit behind the same column API).
  */
object TextStats {

  /** Whitespace token count; empty/blank text counts 0. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0).otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish subword count: word chunks of <= 4 chars — a deterministic
    * stand-in for tokenizer budget estimation (ceil(len/4) per word). */
  def subwordCount(text: Column): Column =
    when(length(trim(text)) === 0, 0)
      .otherwise(aggregate(
        split(trim(text), "\\s+"),
        lit(0),
        (acc, w) => acc + ceil(length(w) / lit(4.0)).cast("int")))

  /** REAL subword tokenization: the greedy BPE merge loop over the pinned
    * merge table (graft.functions.BpeVocab), one compiled pass per row.
    * This is what shard packing (x18) and context-window chunking (x29)
    * budget with — whitespace words under-count what a subword tokenizer
    * actually produces, and a budget is only as real as its token counts. */
  def bpeTokens(text: Column): Column =
    graft.functions.BpeTokenizer.bpe_tokens(text)

  /** Subword count of [[bpeTokens]]; empty/blank text counts 0. */
  def bpeTokenCount(text: Column): Column = size(bpeTokens(text))

  /** Per-doc top-k salient terms (keyword extraction): score =
    * tf / (df + 1) — term frequency penalized by corpus document frequency.
    * Deliberately division-only (no ln as in classic tf-idf): tf and df are
    * exact integers and a single IEEE division produces identical bits on
    * any engine, so the ranking is oracle-comparable; ln differs in ulps
    * across libm implementations and could flip ranks at ties.
    *
    * Scale: one shuffle for tf, one term-partitioned window for df, one
    * per-doc rank — three exchanges flat, NO join. (The earlier
    * formulation aggregated df separately and joined it back: a fourth
    * exchange pair at any scale where the term table outgrows broadcast,
    * and a recompute of the tf side. The window computes the same count on
    * rows that must be term-clustered anyway.) Ties resolve
    * (salience desc, term asc). */
  def topTerms(docs: DataFrame, k: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val tok = graft.ops.Par.fanOut(docs)
      .select(col(idCol).as("doc_id"),
        explode(split(trim(col(textCol)), " ")).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val wTerm = org.apache.spark.sql.expressions.Window.partitionBy("term")
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("salience").desc, col("term").asc)
    tf.withColumn("df", count(lit(1)).over(wTerm))
      .withColumn("salience",
        col("tf").cast("double") / (col("df") + lit(1)).cast("double"))
      .withColumn("rank", row_number().over(wDoc).cast("long"))
      .filter(col("rank") <= k)
      .select("doc_id", "term", "tf", "df", "salience", "rank")
  }

  /** Per-document top-k terms by tf-idf with the smoothed log idf
    * (idf = ln((N+1)/(df+1)) + 1, the sklearn smoothing — never negative,
    * never div0), plus the document's tf-idf L2 norm — the weighting
    * [[topTerms]]'s cheap tf/(df+1) salience approximates. N is the
    * non-empty corpus count, attached as a ONE-ROW broadcast join (never a
    * driver action in the plan).
    *
    * Shape: tf is one partial-agged shuffle on (doc, term); df rides a
    * window over term (second shuffle, term-hashed); the norm and the
    * per-doc top-k share the doc_id exchange. Scores are rounded to 6dp
    * BEFORE ranking and the rank order is total ((tfidf desc, term asc)),
    * so the cut is deterministic on any engine; the norm sums 6dp-rounded
    * squares as DECIMAL — order-free, bitwise. */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val nonEmpty = docs.filter(length(trim(col(textCol))) > 0)
    val tok = graft.ops.Par.fanOut(nonEmpty)
      .select(col(idCol).as("doc_id"),
        explode(split(trim(col(textCol)), "\\s+")).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val wTerm = org.apache.spark.sql.expressions.Window.partitionBy("term")
    val nDf = nonEmpty.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .withColumn("df", count(lit(1)).over(wTerm))
      .crossJoin(broadcast(nDf))
      .withColumn("tfidf", round(col("tf").cast("double") *
        (log((col("n_docs").cast("double") + lit(1.0)) /
             (col("df").cast("double") + lit(1.0))) + lit(1.0)), 6))
      .drop("n_docs")
    // the norm is a windowed aggregate over the SAME doc_id partitioning the
    // top-k rank uses — one exchange serves both; a groupBy+join formulation
    // would recompute the whole tf/df subtree on the second branch
    val wDocAll = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tfidf").desc, col("term").asc)
    scored
      .withColumn("doc_norm",
        sqrt(sum(round(col("tfidf") * col("tfidf"), 6)
          .cast(org.apache.spark.sql.types.DecimalType(27, 6))).over(wDocAll)
          .cast("double")))
      .withColumn("rank", row_number().over(wDoc).cast("int"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("tfidf"), col("doc_norm"), col("rank"))
  }

  /** Gopher-style repetition signals: the quality dimension length/stopword
    * ratios can't see — machine-generated and boilerplate text repeats
    * n-grams far above natural rates (Rae et al. 2021 §A1.1 filter family,
    * re-expressed token-based for the whitespace corpus).
    *
    * Per doc:
    *  - `top_2gram_frac`  = 2 * (count of the most frequent 2-gram) /
    *    n_tokens — the token share claimed by the single hottest bigram;
    *  - `dup_2gram_frac` / `dup_3gram_frac` = fraction of n-gram slots whose
    *    gram occurs more than once in the doc;
    *  - `repetition_keep` = 1 iff all three sit under Gopher-inspired caps
    *    (0.20 / 0.60 / 0.60).
    *
    * Shape: the statistic is purely doc-local, so NOTHING shuffles — one
    * narrow pass computes per-row gram multiplicities by sorting the gram
    * array and folding over runs (aggregate over array_sort: O(g log g) per
    * doc, embarrassingly parallel at any corpus size). The explode +
    * groupBy(doc, gram) formulation would pay two corpus-wide hash
    * exchanges and a second scan for the doc spine — for a per-row number.
    * Every fraction is ONE integer/integer IEEE division (no sums of
    * doubles), so the bits replay on any engine regardless of plan shape. */
  def repetitionSignals(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // (top, dup, tot) for token n-grams of size n, via a sorted-run fold:
    // top = max run length (hottest gram's multiplicity), dup = slots inside
    // runs longer than 1, tot = gram slots. The run in flight folds in at
    // finish; the empty gram set folds to all-zero.
    def gramRunStats(n: Int): Column = expr(
      s"""aggregate(
         |  array_sort(CASE WHEN size(_toks) >= $n
         |    THEN transform(sequence(0, size(_toks) - $n),
         |                   i -> concat_ws(' ', slice(_toks, i + 1, $n)))
         |    ELSE array() END),
         |  named_struct('prev', '', 'run', bigint(0), 'top', bigint(0),
         |               'dup', bigint(0), 'tot', bigint(0)),
         |  (s, g) -> IF(g = s.prev,
         |    named_struct('prev', g, 'run', s.run + 1, 'top', s.top,
         |                 'dup', s.dup, 'tot', s.tot + 1),
         |    named_struct('prev', g, 'run', bigint(1),
         |                 'top', greatest(s.top, s.run),
         |                 'dup', s.dup + IF(s.run > 1, s.run, bigint(0)),
         |                 'tot', s.tot + 1)),
         |  s -> named_struct('top', greatest(s.top, s.run),
         |                    'dup', s.dup + IF(s.run > 1, s.run, bigint(0)),
         |                    'tot', s.tot))""".stripMargin)
    def frac(num: Column, den: Column): Column =
      when(den > 0, num.cast("double") / den.cast("double")).otherwise(0.0)
    graft.ops.Par.fanOut(
      docs.select(col(idCol).as("doc_id"),
        split(trim(col(textCol)), " ").as("_toks")))
      .select(col("doc_id"), size(col("_toks")).cast("long").as("n_tokens"),
        gramRunStats(2).as("_g2"), gramRunStats(3).as("_g3"))
      .select(col("doc_id"), col("n_tokens"),
        frac(lit(2L) * col("_g2.top"), col("n_tokens")).as("top_2gram_frac"),
        frac(col("_g2.dup"), col("_g2.tot")).as("dup_2gram_frac"),
        frac(col("_g3.dup"), col("_g3.tot")).as("dup_3gram_frac"))
      .withColumn("repetition_keep",
        (col("top_2gram_frac") <= 0.2 &&
          col("dup_2gram_frac") <= 0.6 && col("dup_3gram_frac") <= 0.6).cast("int"))
  }

  /** Simple quality features (ratios in [0,1]). */
  def qualityFeatures(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("n_chars_actual", length(t))
      .withColumn("token_count", tokenCount(t))
      .withColumn("avg_token_len",
        when(tokenCount(t) === 0, 0.0)
          .otherwise(length(regexp_replace(trim(t), "\\s+", "")).cast("double") / tokenCount(t)))
      .withColumn("stopword_ratio",
        when(tokenCount(t) === 0, 0.0)
          .otherwise(size(expr(
            s"filter(split(trim($textCol), '\\\\s+'), w -> w IN ('the','a','and','of','to','in'))"))
            .cast("double") / tokenCount(t)))
      .withColumn("digit_ratio",
        when(length(t) === 0, 0.0)
          .otherwise(regexp_count(t, lit("[0-9]")).cast("double") / length(t)))
  }

  /** Quality score + keep flag with ordered overrides (the F1 masked-
    * assignment pattern applied to curation): score from features, then
    * unconditional drops for degenerate docs. */
  def qualityScore(docs: DataFrame, textCol: String = "text",
      minTokens: Int = 10, maxAvgTokenLen: Double = 12.0): DataFrame =
    qualityFeatures(docs, textCol)
      .withColumn("quality_score",
        (least(col("token_count").cast("double") / 100.0, lit(1.0)) * 0.4
          + (lit(1.0) - col("digit_ratio")) * 0.3
          + least(col("stopword_ratio") * lit(5.0), lit(1.0)) * 0.3))
      .withColumn("keep",
        when(col("token_count") < minTokens, 0)
          .when(col("avg_token_len") > maxAvgTokenLen, 0)
          .when(col("quality_score") >= 0.5, 1)
          .otherwise(0))

  /** CCNet-style LM quality scoring (Wenzek et al. 2019), self-trained: a
    * char-trigram language model is fit on the corpus itself and every doc
    * is scored by its add-1-smoothed log-probability — fluent text made of
    * corpus-typical trigrams scores high, junk (random bytes, wrong-language
    * spans, encoding damage) scores low. The production form swaps the
    * self-trained counts for a reference-corpus model behind the same join;
    * the plumbing is identical.
    *
    * Determinism: per-trigram log-probs are rounded to 6dp and summed as
    * DECIMAL — the sum is EXACT and order-independent (the same trick the
    * money surface uses), so 1/7/32-thread runs and an external replay all
    * produce identical bits; the only float steps are one IEEE division and
    * one ln per DISTINCT trigram, never a float reduction over a doc.
    *
    * Scale: the model table is bounded by |charset|^3 regardless of corpus
    * size — it BROADCASTS at 100 TB by construction. One explode pass emits
    * trigram slots, one bounded-key shuffle counts them, one broadcast join
    * scores, one per-doc aggregation collapses. */
  def lmQualityScore(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val tri = graft.ops.Par.fanOut(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("_t")))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN length(_t) >= 3
          |  THEN transform(sequence(1, length(_t) - 2), i -> substring(_t, i, 3))
          |  ELSE array() END""".stripMargin)).as("tg"))
    val counts = tri.groupBy("tg").agg(count(lit(1)).as("c"))
    val stats = counts.agg(sum(col("c")).as("n"), count(lit(1)).as("v"))
    val perDoc = tri
      .join(broadcast(counts), Seq("tg"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(log((col("c") + lit(1L)).cast("double") / (col("n") + col("v")).cast("double")), 6)
          .cast("decimal(18,6)").as("lp"))
      .groupBy("doc_id")
      .agg(sum(col("lp")).as("lp_sum"), count(lit(1)).as("n_trigrams"))
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("lp_sum").cast("double"), lit(0.0)).as("logprob"),
        when(coalesce(col("n_trigrams"), lit(0L)) > 0,
          col("lp_sum").cast("double") / col("n_trigrams").cast("double"))
          .otherwise(0.0).as("avg_logprob"))
  }

  /** PII scrubbing: replace email addresses, IPv4 literals, and long digit
    * runs (phone/account-number shaped) with typed placeholder tokens, and
    * count each class. One compiled regex pass per class per row — no
    * shuffle, no UDF; RE2-compatible patterns so external engines (and the
    * DuckDB oracle) replay the rewrite byte for byte. Order matters and is
    * fixed: emails first (they contain digits and dots), then IPv4, then
    * bare digit runs — each later pass sees the earlier pass's output. */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipv4 = "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"
    val longNum = "\\b\\d{7,}\\b"
    val t0 = col(textCol)
    val t1 = regexp_replace(t0, email, "<EMAIL>")
    val t2 = regexp_replace(t1, ipv4, "<IP>")
    val t3 = regexp_replace(t2, longNum, "<NUM>")
    docs
      .withColumn("n_emails", regexp_count(t0, lit(email)))
      .withColumn("n_ips", regexp_count(t1, lit(ipv4)))
      .withColumn("n_longnums", regexp_count(t2, lit(longNum)))
      .withColumn("text_redacted", t3)
  }

  /** Language-ID by stopword markers — a deterministic n-gram/stopword
    * heuristic with a fixed precedence order (zh by CJK presence first, then
    * the marker-count argmax, ties broken by the fixed language order). */
  def langId(text: Column): Column = {
    def hits(markers: String): Column = regexp_count(lower(text), lit(s"\\b($markers)\\b"))
    val en = hits("the|and|of|to|a")
    val de = hits("der|die|und|das|ist")
    val es = hits("el|la|los|que|es")
    val fr = hits("le|les|et|une|est")
    val zh = regexp_count(text, lit("[\\x{4e00}-\\x{9fff}]"))
    when(zh > 0, "zh")
      .when(en >= de && en >= es && en >= fr && en > 0, "en")
      .when(de >= es && de >= fr && de > 0, "de")
      .when(es >= fr && es > 0, "es")
      .when(fr > 0, "fr")
      .otherwise("und")
  }

  /** Document fingerprints: md5 of whitespace-normalized text (exact-dup
    * key robust to spacing) + the minimum shingle digest (a 1-hash MinHash —
    * cheap containment fingerprint). */
  def fingerprints(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .withColumn("_sh", Dedup.shingles(textCol))
      .select(
        col(idCol),
        md5(regexp_replace(lower(trim(col(textCol))), "\\s+", " ")).as("norm_fp"),
        expr("array_min(transform(_sh, s -> md5(s)))").as("min_shingle_fp"))

  /** Collocation mining: top-k term pairs by document-level pointwise mutual
    * information, `pmi = ln(co_docs * n_docs / (df_a * df_b))` — the signal
    * behind phrase detection and vocabulary merging in corpus pipelines.
    *
    * Scale shape: the per-doc DISTINCT term table shuffles once on
    * (doc_id, term); the df table is filtered to terms with `df >= minDf`
    * and broadcast (rare-term pairs are statistical noise AND the fan-out
    * bound — dropping them caps the per-doc self-join width), so pair
    * generation is a co-partitioned self-join on doc_id with map-side
    * combine on the pair counts. Nothing global until the final
    * TakeOrderedAndProject k-cut. All PMI arithmetic is exact-integer-valued
    * doubles (products < 2^53) rounded to 6dp, so the DuckDB oracle replays
    * it bitwise. */
  def pmiPairs(docs: DataFrame, minDf: Int = 5, minPair: Int = 3, k: Int = 50,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val nonEmpty = docs.filter(length(trim(col(textCol))) > 0)
    val docTerm = graft.ops.Par.fanOut(nonEmpty)
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(split(trim(col(textCol)), "\\s+"))).as("term"))
    val dfTab = docTerm.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val nDf = nonEmpty.agg(count(lit(1)).as("n_docs"))
    val frequent = docTerm.join(broadcast(dfTab), "term")
      .select(col("doc_id"), col("term"), col("df"))
    val pairs = frequent.as("a")
      .join(frequent.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.term") < col("b.term"))
      .groupBy(col("a.term").as("term_a"), col("b.term").as("term_b"))
      .agg(count(lit(1)).as("co_docs"),
        first(col("a.df")).as("df_a"), first(col("b.df")).as("df_b"))
      .filter(col("co_docs") >= minPair)
    pairs.crossJoin(broadcast(nDf))
      .withColumn("pmi", round(
        log(col("co_docs").cast("double") * col("n_docs").cast("double") /
          (col("df_a").cast("double") * col("df_b").cast("double"))), 6))
      .drop("n_docs")
      .orderBy(col("pmi").desc, col("term_a"), col("term_b"))
      .limit(k)
  }

  /** Vocabulary frequency spectrum (frequency-of-frequencies) with the
    * Good-Turing adjusted count per bin: gt_freq(f) = (f+1) * S(f+1) / S(f),
    * NULL where the next bin is empty (the classic estimator is undefined
    * there without smoothing). S(1)/N — read off the freq=1 row — is the
    * Good-Turing unseen-token mass, the number a tokenizer-vocab or
    * LM-coverage decision actually consumes.
    *
    * Scale shape: one term-shuffle (the same exchange every term stat
    * pays), then the spectrum aggregation — whose key domain is the set of
    * DISTINCT frequencies, O(sqrt(total_tokens)) by Heaps-style growth, so
    * the second shuffle and the +1 self-join are vanishingly small at any
    * corpus size. The product (f+1)*S(f+1) is an exact long; the single
    * division is one correctly-rounded IEEE op — bitwise on any engine. */
  def vocabularySpectrum(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val tok = graft.ops.Par.fanOut(docs)
      .select(explode(split(trim(col(textCol)), " ")).as("term"))
    val f = tok.groupBy("term").agg(count(lit(1)).as("freq"))
    val s = f.groupBy("freq").agg(count(lit(1)).as("n_types")).localCheckpoint()
    s.as("a")
      .join(s.select(col("freq").as("freq_next"), col("n_types").as("n_next")),
        col("freq") + 1 === col("freq_next"), "left")
      .select(col("freq"), col("n_types"),
        (((col("freq") + 1) * col("n_next")).cast("double")
          / col("n_types").cast("double")).as("gt_freq"))
  }

  /** Zipf rank–frequency slope: ordinary least squares over the log–log
    * rank/frequency curve, the one-number "is this corpus natural-language-
    * shaped" diagnostic (natural text sits near −1; machine-generated or
    * boilerplate-heavy corpora drift shallow). Points are SPECTRUM-level:
    * (ln rank_hi(f), ln f) per distinct frequency, where rank_hi(f) = #types
    * with frequency ≥ f — the exact rank of the last tied type, so ties
    * contribute one point instead of an arbitrary intra-tie order.
    *
    * Scale shape: one term shuffle (the same exchange every term stat pays),
    * then everything runs on the O(√tokens) spectrum — the descending
    * cumulative window and the regression rollup never see terms. The ln
    * values are 6dp-rounded before DECIMAL accumulation (products re-rounded
    * at 12dp — the x94/x95 discipline), so the sums are order-free and the
    * slope/intercept are each ONE final rounded double step — bitwise. */
  def zipfSlope(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val w = W.orderBy(col("freq").desc).rowsBetween(W.unboundedPreceding, W.currentRow)
    val tok = graft.ops.Par.fanOut(docs)
      .select(explode(split(trim(col(textCol)), " ")).as("term"))
    val s = tok.groupBy("term").agg(count(lit(1)).as("freq"))
      .groupBy("freq").agg(count(lit(1)).as("n_types"))
    val pts = s.withColumn("rank_hi", sum(col("n_types")).over(w))
      .select(round(log(col("rank_hi").cast("double")), 6).as("x"),
        round(log(col("freq").cast("double")), 6).as("y"))
    pts
      .agg(count(lit(1)).as("m"),
        sum(col("x").cast("decimal(27,6)")).as("sx"),
        sum(col("y").cast("decimal(27,6)")).as("sy"),
        sum(round(col("x") * col("y"), 12).cast("decimal(38,12)")).as("sxy"),
        sum(round(col("x") * col("x"), 12).cast("decimal(38,12)")).as("sxx"))
      .withColumn("md", col("m").cast("double"))
      .withColumn("sxd", col("sx").cast("double"))
      .withColumn("syd", col("sy").cast("double"))
      .withColumn("num", col("sxy").cast("double") * col("md")
        - col("sxd") * col("syd"))
      .withColumn("den", col("sxx").cast("double") * col("md")
        - col("sxd") * col("sxd"))
      .select(col("m").as("n_points"),
        when(col("den") === 0.0, lit(0.0))
          .otherwise(round(col("num") / col("den"), 6)).as("zipf_slope"),
        when(col("den") === 0.0, round(col("syd") / col("md"), 6))
          .otherwise(round((col("syd") - (col("num") / col("den")) * col("sxd"))
            / col("md"), 6)).as("intercept"))
  }

  /** Memorization-risk audit: every `ctxLen`-word context that occurs at
    * least `minOcc` times corpus-wide with EXACTLY ONE continuation — the
    * phrases a model trained on this corpus will reproduce verbatim, because
    * the data never shows it an alternative. Deduplication bounds but does
    * not eliminate these (boilerplate families and quotations survive
    * near-dup removal); this pass emits the actual drop/decontamination
    * list, not just a rate.
    *
    * Shape: one explode pass emits (context, next) slots — ctxLen+1-gram
    * windows, all built-in array ops, codegen'd — then two hash
    * aggregations: (context, next) occurrence counts, then the per-context
    * rollup (occurrences, distinct continuations). Linear in tokens with
    * map-side partials; the minOcc filter cuts before anything wide. The
    * single continuation falls out of min(next) under n_next = 1 — no
    * second pass. Exact integer counts — bitwise. */
  def memorizedContexts(docs: DataFrame, ctxLen: Int = 4, minOcc: Long = 3,
      textCol: String = "text"): DataFrame = {
    require(ctxLen >= 1, "a context needs at least one word")
    val grams = graft.ops.Par.fanOut(
        docs.filter(trim(col(textCol)) =!= "")
          .select(split(trim(col(textCol)), " ").as("w")))
      .filter(size(col("w")) >= ctxLen + 1)
      .select(explode(expr(
        s"""transform(sequence(1, size(w) - $ctxLen),
           |  i -> struct(concat_ws(' ', slice(w, i, $ctxLen)) AS ctx,
           |              element_at(w, i + $ctxLen) AS nxt))""".stripMargin)).as("g"))
      .select(col("g.ctx").as("ctx"), col("g.nxt").as("nxt"))
    val cn = grams.groupBy("ctx", "nxt").agg(count(lit(1)).as("c"))
    cn.groupBy("ctx")
      .agg(sum(col("c")).as("occ"), count(lit(1)).as("n_next"),
        min(col("nxt")).as("next_tok"))
      .filter(col("occ") >= minOcc && col("n_next") === 1)
      .select("ctx", "occ", "next_tok")
  }

  /** Conditional next-token entropy rate per context length 1..maxCtx: the
    * corpus predictability curve `H_n = Σ_ctx p(ctx) · H(next | ctx)` — the
    * information-theoretic datacard stat. A steeply falling curve means the
    * corpus is template-dominated (n-gram context nearly determines the next
    * token — the aggregate view of what [[memorizedContexts]] lists
    * instance-by-instance); a flat one means genuinely diverse text. Useful
    * as a per-release scalar to compare corpus builds.
    *
    * Shape: one explode pass emits (n, ctx, next) slots for all context
    * lengths at once (maxCtx-way constant fan-out), then two ctx-keyed hash
    * aggregations and a |contexts|-sized rollup — linear in tokens, output
    * is maxCtx rows. Determinism: the only float steps are one IEEE
    * division + one ln per distinct (ctx, next) and one product per
    * distinct ctx, each 6dp-rounded and summed as DECIMAL (the PSI/x81
    * discipline) — order-free, bitwise on any engine. */
  def entropyRate(docs: DataFrame, maxCtx: Int = 3,
      textCol: String = "text"): DataFrame = {
    require(maxCtx >= 1, "need at least unigram contexts")
    val dec = org.apache.spark.sql.types.DecimalType(27, 6)
    val grams = graft.ops.Par.fanOut(
        docs.filter(trim(col(textCol)) =!= "")
          .select(split(trim(col(textCol)), " ").as("w")))
      .select(explode(expr(
        s"""flatten(transform(sequence(1, $maxCtx), n ->
           |  CASE WHEN size(w) >= n + 1
           |    THEN transform(sequence(1, size(w) - n),
           |      i -> struct(n AS n, concat_ws(' ', slice(w, i, n)) AS ctx,
           |                  element_at(w, i + n) AS nxt))
           |    ELSE array() END))""".stripMargin)).as("g"))
      .select(col("g.n").as("n"), col("g.ctx").as("ctx"), col("g.nxt").as("nxt"))
    val cn = grams.groupBy("n", "ctx", "nxt").agg(count(lit(1)).as("c"))
    // H(next|ctx): sum of 6dp-rounded -(c/occ) ln(c/occ) terms, DECIMAL-exact
    val perCtx = cn
      .withColumn("occ", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("n", "ctx")))
      .withColumn("t", round(
        (col("c").cast("double") / col("occ").cast("double"))
          * log(col("occ").cast("double") / col("c").cast("double")), 6)
        .cast(dec))
      .groupBy("n", "ctx", "occ")
      .agg(sum(col("t")).cast("double").as("h_ctx"))
    val totals = perCtx.groupBy("n").agg(sum(col("occ")).as("slots"))
    perCtx.join(broadcast(totals), "n")
      .withColumn("contrib", round(
        col("h_ctx") * col("occ").cast("double") / col("slots").cast("double"), 6)
        .cast(dec))
      .groupBy("n", "slots")
      .agg(count(lit(1)).as("contexts"), sum(col("contrib")).cast("double").as("entropy_rate"))
      .select("n", "contexts", "slots", "entropy_rate")
  }

  /** Per-document bigram cross-entropy under the corpus's own add-one-
    * smoothed bigram model — the classic cheap LM quality score: documents
    * whose word transitions the rest of the corpus never makes (garbled
    * text, wrong-language spans, markup soup) surface at the top, template
    * boilerplate at the bottom. `cost(slot) = ln((c(ctx)+V) / (c(ctx,nxt)+1))`,
    * the add-one-smoothed negative log-likelihood; `xent` is the per-slot
    * mean.
    *
    * Shape: one explode pass emits bigram slots; the model is two hash
    * aggregations over those slots (pair counts, then context totals);
    * scoring joins each document's DISTINCT bigrams (not every slot) to the
    * model on the bigram key and multiplies by the in-doc multiplicity —
    * the join input is |distinct doc-bigrams|, not |tokens|. The vocabulary
    * size is one scalar `count()` (same driver-side pattern as q51's basket
    * total). Determinism: one IEEE division + one ln per distinct
    * (ctx, nxt), 6dp-rounded, times an exact integer multiplicity, summed
    * as DECIMAL; the final per-doc mean is one division then 6dp round —
    * bitwise on any engine. */
  /** One explode pass emitting (keep..., ctx, nxt) bigram slots. */
  private def bigramSlots(docs: DataFrame, textCol: String,
      keep: Seq[String]): DataFrame =
    graft.ops.Par.fanOut(
        docs.filter(trim(col(textCol)) =!= "")
          .select(keep.map(col) :+ split(trim(col(textCol)), " ").as("w"): _*))
      .filter(size(col("w")) >= 2)
      .select(keep.map(col) :+ explode(expr(
        """transform(sequence(1, size(w) - 1),
          |  i -> struct(element_at(w, i) AS ctx,
          |              element_at(w, i + 1) AS nxt))""".stripMargin)).as("g"): _*)
      .select(keep.map(col) :+ col("g.ctx").as("ctx") :+ col("g.nxt").as("nxt"): _*)

  /** The (ctx, nxt, cp) bigram count table [[bigramCrossEntropy]] trains —
    * exposed so a streaming scorer can stage it as a static model (context
    * totals and the vocab scalar both derive from it). */
  def bigramModel(docs: DataFrame, textCol: String = "text"): DataFrame =
    bigramSlots(docs, textCol, Nil)
      .groupBy("ctx", "nxt").agg(count(lit(1)).as("cp"))

  def bigramCrossEntropy(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // (9,6) not (27,6): the t·m product must stay inside the 38-digit cap
    // on every engine (ln of any count ratio is < 1000)
    val dec = org.apache.spark.sql.types.DecimalType(9, 6)
    val slots = bigramSlots(docs, textCol, Seq(idCol))
    val pairC = slots.groupBy("ctx", "nxt").agg(count(lit(1)).as("cp"))
    val ctxC = pairC.groupBy("ctx").agg(sum(col("cp")).as("cc"))
    // vocabulary as a broadcast scalar INSIDE the one DAG, derived from
    // pairC (distinct nxt of the pair table == distinct nxt of the slots,
    // and pairC's exchange is already in the plan twice, so runtime
    // exchange reuse makes this branch nearly free) — the previous eager
    // .count() was a separate action that re-ran the whole explode pass
    val vocabDf = pairC.select("nxt").distinct().agg(count(lit(1)).as("v"))
    val docPairs = slots.groupBy(col(idCol), col("ctx"), col("nxt"))
      .agg(count(lit(1)).as("m"))
    // the per-doc mean happens in exact integer MICRO-units with explicit
    // half-up integer division: a 6dp-decimal total over an integer slot
    // count lands the quotient exactly on a …5 boundary often enough that
    // round-after-divide is engine-dependent (observed at sf0.1); the
    // final /1e6 is one IEEE division by a constant — bitwise
    docPairs
      .join(pairC, Seq("ctx", "nxt"))
      .join(ctxC, Seq("ctx"))
      .crossJoin(broadcast(vocabDf))
      .withColumn("t", round(log(
        (col("cc") + col("v")).cast("double")
          / (col("cp") + 1L).cast("double")), 6).cast(dec))
      .withColumn("tmicro", (col("t") * lit(1000000L)).cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("m")).as("slots"),
        sum(col("tmicro") * col("m")).as("nmicro"))
      .select(col(idCol), col("slots"),
        (expr("(2 * nmicro + slots) div (2 * slots)").cast("double")
          / lit(1000000.0)).as("xent"))
  }

  /** Vocabulary growth curve (Heaps'-law census): cumulative distinct word
    * types vs cumulative tokens at ten checkpoints of the corpus in doc_id
    * order — the datacard curve that says whether a corpus is still adding
    * vocabulary or has gone repetitive (types ~ tokens^β; a β collapse
    * between releases means the new data is boilerplate).
    *
    * Shape: checkpoints are doc_id VALUE ranges (`(doc_id·10) div (max+1)`,
    * one scalar max — exact integer bucketing), NOT a rank — so there is no
    * global sort and no corpus-sized window anywhere. A term's first
    * appearance is `min(bucket)` per term (bucket is monotone in doc_id),
    * one term-keyed aggregation; tokens/docs per bucket are one doc-level
    * aggregation; the cumulative rollup is a window over the TEN-row bucket
    * table. All exact integers — bitwise. */
  def vocabularyGrowth(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val maxId = docs.agg(max(col(idCol)).as("m"))
    val bucketed = graft.ops.Par.fanOut(
        docs.filter(trim(col(textCol)) =!= "")
          .select(col(idCol), split(trim(col(textCol)), " ").as("ws")))
      .crossJoin(broadcast(maxId))
      .select(expr(s"($idCol * 10) div (m + 1)").as("bucket"), col("ws"))
    val perBucket = bucketed
      .groupBy("bucket")
      .agg(count(lit(1)).as("docs"), sum(size(col("ws"))).as("tokens"))
    val firstSeen = bucketed
      .select(col("bucket"), explode(col("ws")).as("term"))
      .groupBy("term").agg(min(col("bucket")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("new_types"))
    // 3-gram first appearances track the curve that actually saturates last
    // (type growth flattens long before phrase growth does)
    val firstShingle = bucketed
      .filter(size(col("ws")) >= 3)
      .select(col("bucket"), explode(expr(
        "transform(sequence(1, size(ws) - 2), i -> concat_ws(' ', slice(ws, i, 3)))"))
        .as("s"))
      .groupBy("s").agg(min(col("bucket")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("new_shingles"))
    perBucket.join(firstSeen, Seq("bucket"), "left")
      .join(firstShingle, Seq("bucket"), "left")
      .na.fill(0L, Seq("new_types", "new_shingles"))
      .select(col("bucket"),
        sum(col("docs")).over(w).as("cum_docs"),
        sum(col("tokens")).over(w).as("cum_tokens"),
        sum(col("new_types")).over(w).as("cum_types"),
        sum(col("new_shingles")).over(w).as("cum_shingles"))
  }

  /** Gini coefficient of token mass per source — the Lorenz-curve
    * concentration of the term-frequency distribution: 0 = every type
    * equally frequent, →1 = a handful of types carry all the mass. The
    * one-scalar diversity companion to [[vocabularySpectrum]]: a source
    * whose gini jumps between corpus builds has collapsed into boilerplate.
    *
    * Shape: one term aggregation per source, then everything happens on the
    * FREQUENCY SPECTRUM (freq level × type count — O(√tokens) rows, the x80
    * trick): within a tie block of `m` types at frequency `f` occupying
    * ranks `(r, r+m]`, the rank-weighted mass `Σ i·xᵢ` is
    * `f·(m·r + m(m+1)/2)` regardless of intra-block order, so the sort
    * that the textbook formula implies never materializes. Doubling to
    * `S2 = Σ f·(2·m·r + m(m+1))` keeps every step in exact BIGINTs; the
    * single division `(S2 − (n+1)·T) / (n·T)` happens once at the end —
    * bitwise on any engine. */
  def giniConcentration(docs: DataFrame, textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    val spectrum = graft.ops.Par.fanOut(
        docs.filter(trim(col(textCol)) =!= "")
          .select(col(sourceCol), explode(split(trim(col(textCol)), " ")).as("term")))
      .groupBy(col(sourceCol), col("term")).agg(count(lit(1)).as("freq"))
      .groupBy(col(sourceCol), col("freq")).agg(count(lit(1)).as("m"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(sourceCol).orderBy("freq")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    spectrum
      .withColumn("r", coalesce(sum(col("m")).over(w), lit(0L)))
      .groupBy(col(sourceCol))
      .agg(sum(col("m")).as("n_types"),
        sum(col("freq") * col("m")).as("total_tokens"),
        sum(col("freq") * (lit(2L) * col("m") * col("r")
          + col("m") * (col("m") + 1L))).as("s2"))
      .select(col(sourceCol), col("n_types"), col("total_tokens"),
        round((col("s2") - (col("n_types") + 1L) * col("total_tokens")).cast("double")
          / (col("n_types") * col("total_tokens")).cast("double"), 6).as("gini"))
  }
}
