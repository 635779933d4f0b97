package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines (north star,
  * BASELINE.json): tokenization, language-ID heuristic, quality scoring,
  * token-count estimators, rolling-hash fingerprints. All pure Column
  * expressions (codegen'd, no UDFs) => they run at scan speed and pipeline
  * into any downstream groupBy without extra stages.
  */
object TextOps {

  /** Broadcast gate for [[domainClassify]]'s weight table: vocabulary ×
    * #classes rows beyond this fall back to a shuffle join rather than
    * risk the driver (each row is a short token + label + count —
    * ~5M rows ≈ low hundreds of MB built, the usual broadcast comfort
    * ceiling at default driver sizes). */
  val BroadcastWeightRows: Long = 5000000L

  /** Whitespace tokenization of normalized text. `array_remove(.., "")`
    * rather than `filter(.., length > 0)`: identical result (split never
    * yields nulls, so dropping every "" is exactly the length filter), but
    * ArrayRemove has real codegen while HOF lambdas are ALWAYS interpreted
    * — and tokens() sits under every text/dedup query. */
  def tokens(text: Column): Column =
    array_remove(split(lower(trim(text)), "\\s+"), "")

  /** Adjacent token pairs ("a b") — the unit of n-gram LM count tables and
    * collocation statistics. `toks` must be a materialized column (a HOF
    * lambda duplicates a referenced sub-expression at tree-construction
    * time — see withShingles). Guarded for <2 tokens: Spark's
    * `sequence(1, 0)` would count DOWN, not return empty. */
  def bigrams(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))

  /** Sequence packing for training batches: assign documents to bins of
    * at most `tokenBudget` tokens, greedy first-fit in `orderKey` order —
    * the standard way variable-length documents become fixed-budget
    * training sequences. Distributed shape: `repartitionByRange(orderKey)`
    * + `sortWithinPartitions`, then a single greedy pass per partition;
    * bin ids are globally unique ((partitionId << 33) | localBin) and the
    * assignment is deterministic for a total `orderKey` (same contract as
    * any ordered operator here). Oversized docs (> budget) get a bin of
    * their own rather than being dropped silently.
    * Returns the input columns + `bin_id`. */
  def packSequences(df: org.apache.spark.sql.DataFrame, orderKey: Column,
                    tokenCount: Column, tokenBudget: Long): org.apache.spark.sql.DataFrame = {
    require(tokenBudget > 0, s"tokenBudget must be positive, got $tokenBudget")
    val spark = df.sparkSession
    val prepared = df.withColumn("__n_tok", tokenCount.cast("long"))
      .withColumn("__ok", orderKey)
      .repartitionByRange(col("__ok"))
      .sortWithinPartitions(col("__ok"))
    val schema = org.apache.spark.sql.types.StructType(prepared.schema.fields :+
      org.apache.spark.sql.types.StructField("bin_id",
        org.apache.spark.sql.types.LongType, nullable = false))
    val packed = prepared.rdd.mapPartitionsWithIndex { (pid, it) =>
      var localBin = 0L
      var used = 0L
      var first = true
      it.map { row =>
        val n = row.getAs[Long]("__n_tok")
        if (!first && used + n > tokenBudget) { localBin += 1; used = 0L }
        first = false
        used += n
        org.apache.spark.sql.Row.fromSeq(
          row.toSeq :+ ((pid.toLong << 33) | localBin))
      }
    }
    spark.createDataFrame(packed, schema)
      .drop("__n_tok", "__ok")
  }

  /** BPE-ish sub-token segmentation count: letter runs, digit runs, and
    * single punctuation marks each count as one token (the classic
    * pre-tokenizer regex shape). */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long")

  /** Crude chars/4 token estimate (the rule-of-thumb for English text). */
  def estTokensByChars(text: Column): Column =
    ceil(length(text) / lit(4.0)).cast("long")

  /** Language-marker stopword sets for the n-gram-free language-ID
    * heuristic. Deterministic, alphabetical tie-break on argmax. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist"),
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "los"),
    "fr" -> Seq("le", "la", "les", "et", "des", "est"),
    "zh" -> Seq("de", "le", "shi", "bu", "wo", "zai"))

  def markerHits(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(markers))).cast("long")

  /** Argmax over per-language marker scores, ties to the alphabetically
    * first language (same CASE cascade as the SQL oracle twin). */
  def predictedLang(scores: Seq[(String, Column)]): Column = {
    val ordered = scores.sortBy(_._1)
    ordered.foldLeft(lit(null).cast("string")) { case (acc, (lang, s)) =>
      // first (alphabetical) language whose score >= all others wins
      val isMax = ordered.map(_._2).map(o => s >= o).reduce(_ && _)
      when(acc.isNotNull, acc).when(isMax, lit(lang)).otherwise(acc)
    }
  }

  /** Heuristic quality signals: length, mean word length, stopword ratio,
    * digit/punctuation density. Per-row arithmetic only => deterministic. */
  def wordCount(text: Column): Column = size(tokens(text)).cast("long")

  def meanWordLen(text: Column): Column =
    length(regexp_replace(text, "\\s", "")).cast("double") /
      nullif(wordCount(text).cast("double"), lit(0.0))

  def stopwordRatio(text: Column): Column =
    markerHits(tokens(text), langMarkers.toMap.apply("en")).cast("double") /
      nullif(wordCount(text).cast("double"), lit(0.0))

  def digitRatio(text: Column): Column =
    regexp_count(text, lit("[0-9]")).cast("double") /
      nullif(length(text).cast("double"), lit(0.0))

  def punctRatio(text: Column): Column =
    regexp_count(text, lit("[.!?,;:]")).cast("double") /
      nullif(length(text).cast("double"), lit(0.0))

  /** Composite quality score in integer MICRO-units — one comparable
    * number per doc for gate / threshold-sweep / mixture consumers: the
    * mean of (stopword ratio, distinct-token ratio, mean-word-length/10
    * capped at 1), rounded ONCE at the end (the q_txt19 policy), so every
    * rollup over it is exact integer math. Empty text scores null.
    * The blend is a heuristic; the operator contract is determinism and
    * monotonicity in its inputs, both spec-asserted. */
  def compositeQualityMicro(text: Column): Column = {
    val toks = tokens(text)
    val nw = nullif(size(toks).cast("double"), lit(0.0))
    val sw = markerHits(toks, langMarkers.toMap.apply("en")).cast("double")
    val dw = size(array_distinct(toks)).cast("double")
    val cns = length(regexp_replace(text, "\\s", "")).cast("double")
    round((sw / nw + dw / nw + least(cns / nw, lit(10.0)) / lit(10.0)) /
        lit(3.0) * lit(1e6), 0)
      .cast("long")
  }

  /** Fixed-size character chunking with overlap — the context-window
    * preparation step of an LLM data pipeline: each document becomes
    * ceil((len - overlap) / stride) chunks of `chunkChars` chars starting
    * every `stride = chunkChars - overlap` chars. Pure expression =>
    * codegen'd and SQL-oracle-expressible. */
  def chunks(text: Column, chunkChars: Int, overlap: Int): Column = {
    require(overlap >= 0 && overlap < chunkChars)
    val stride = chunkChars - overlap
    val n = length(text)
    // starts: 1, 1+stride, ... while start <= max(len - overlap, 1)
    val starts = sequence(lit(1), greatest(n - overlap, lit(1)), lit(stride))
    transform(starts, s => substring(text, s, lit(chunkChars)))
  }

  /** Train/eval decontamination report — the overlap check every LLM data
    * pipeline runs before training: for each eval document, how many of its
    * distinct word n-gram shingles also occur anywhere in the train corpus.
    * Returns (idCol, n_shingles, n_shared, contamination) per eval doc with
    * >= shingleN tokens; `contamination` = n_shared / n_shingles.
    *
    * Scale shape: the train side collapses to DISTINCT shingle hashes (the
    * big reduction — corpus-size-independent output for bounded
    * vocabulary), then ONE hash-partitioned join on the 8-byte shingle
    * hash; no doc×doc comparison anywhere. At 100 TB the train shingle set
    * is a persisted table keyed by hash, and each eval batch joins against
    * it — the same incremental-index shape as the LSH band store. */
  def contaminationReport(train: org.apache.spark.sql.DataFrame,
                          eval: org.apache.spark.sql.DataFrame,
                          idCol: String, text: Column,
                          shingleN: Int = 3): org.apache.spark.sql.DataFrame = {
    val trainSh = NearDup.withShingles(
        train.select(text.as("__text")), col("__text"), shingleN)
      .select(explode(col("__sh")).as("__s"))
      .select(xxhash64(col("__s")).as("__h")).distinct()
    val evalSh = NearDup.withShingles(
        eval.select(col(idCol), text.as("__text")), col("__text"), shingleN)
      .select(col(idCol), explode(col("__sh")).as("__s"))
      .select(col(idCol), xxhash64(col("__s")).as("__h"))
    evalSh.join(trainSh.withColumn("__hit", lit(1L)), Seq("__h"), "left_outer")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_shared"))
      .withColumn("contamination",
        col("n_shared").cast("double") / col("n_shingles").cast("double"))
  }

  /** Gopher-style repetition signals per document — the repetition family
    * of quality filters (duplicate-word fraction, most-frequent-bigram
    * fraction): highly repetitive documents are low-quality training data.
    * Returns (idCol, n_words, dup_word_frac, top_bigram_frac) for docs
    * with >= 2 tokens. The bigram mode is computed as an exploded
    * aggregation (groupBy doc+bigram, then max) — a nested-HOF
    * count-within-array would fall out of codegen and re-scan the token
    * array per element. */
  def repetitionReport(docs: org.apache.spark.sql.DataFrame,
                       idCol: String, text: Column): org.apache.spark.sql.DataFrame = {
    val base = docs.select(col(idCol), tokens(text).as("__toks"))
      .where(size(col("__toks")) >= 2)
    val perDoc = base.select(col(idCol),
      size(col("__toks")).cast("long").as("n_words"),
      size(array_distinct(col("__toks"))).cast("long").as("__nd"))
    val bigrams = base.select(col(idCol),
      explode(transform(sequence(lit(1), size(col("__toks")) - 1), i =>
        concat_ws(" ", element_at(col("__toks"), i),
          element_at(col("__toks"), i + 1)))).as("__bg"))
    val top = bigrams.groupBy(col(idCol), col("__bg")).agg(count(lit(1)).as("__c"))
      .groupBy(idCol).agg(max(col("__c")).as("__top"), sum(col("__c")).as("__nbg"))
    perDoc.join(top, Seq(idCol))
      .select(col(idCol), col("n_words"),
        (lit(1.0) - col("__nd").cast("double") / col("n_words").cast("double"))
          .as("dup_word_frac"),
        (col("__top").cast("double") / col("__nbg").cast("double"))
          .as("top_bigram_frac"))
  }

  /** CCNet-style perplexity-proxy quality scoring: each document's average
    * surprisal (negative log-probability per token) under the corpus' own
    * add-one-smoothed unigram LM, built from the `lmDocFilter` slice (the
    * held-in split) and applied to EVERY document — wildly improbable token
    * streams (gibberish, boilerplate soup, wrong-language spill) score
    * high, fluent text scores low; filtering on the score is the classic
    * LM-quality gate run before training.
    *
    * Returns (idCol, n_tokens, nll_micro, avg_nll) for docs with >= 1
    * token. p(w) = (cnt(w)+1)/(N+V) with cnt from the LM slice (OOV => 0),
    * N = LM token count, V = LM vocab size. Cross-engine determinism: the
    * per-TERM surprisal is rounded ONCE to integer micro-nats
    * (round(ln((N+V)/(cnt+1))·1e6) — the q_txt14 transcendental-rounding
    * policy), then everything downstream is EXACT integer arithmetic:
    * nll_micro = Σ tf·surprisal is an order-independent BIGINT sum, and
    * avg_nll divides two exact integers (bitwise-identical in any engine).
    *
    * Scale shape: one corpus scan into a (doc, term, tf) aggregate
    * (materialized once — it feeds both the LM rollup and the scoring
    * join), a vocabulary-sized count table, ONE hash join on the term, and
    * a broadcast of the one-row (N, V) totals. No doc×doc, no
    * driver-side vocab; the LM table is exactly the persisted artifact a
    * production pipeline would reuse across scoring runs. */
  def surprisalScores(docs: org.apache.spark.sql.DataFrame, idCol: String,
                      text: Column, lmDocFilter: Column): org.apache.spark.sql.DataFrame = {
    val tf = docs.select(col(idCol), lmDocFilter.as("__lm"),
        explode(tokens(text)).as("__w"))
      .groupBy(col(idCol), col("__lm"), col("__w"))
      .agg(count(lit(1)).as("__tf"))
      .localCheckpoint() // feeds LM rollup + scoring join: one tokenize pass
    val lm = tf.where(col("__lm")).groupBy("__w").agg(sum("__tf").as("__cnt"))
    val totals = lm.agg(sum(col("__cnt")).as("__N"), count(lit(1)).as("__V"))
    tf.join(lm, Seq("__w"), "left_outer")
      .crossJoin(broadcast(totals))
      .withColumn("__s", round(log((col("__N") + col("__V")).cast("double") /
          (coalesce(col("__cnt"), lit(0L)) + lit(1L)).cast("double")) * lit(1e6), 0)
        .cast("long") * col("__tf"))
      .groupBy(col(idCol))
      .agg(sum(col("__tf")).cast("long").as("n_tokens"),
        sum(col("__s")).cast("long").as("nll_micro"))
      .withColumn("avg_nll",
        col("nll_micro").cast("double") / lit(1e6) / col("n_tokens").cast("double"))
  }

  /** Source-drift diagnostics: KL(source ‖ corpus) per source — how far
    * each source's unigram distribution sits from the corpus-wide mixture
    * (the data-recipe health check: a source whose KL jumps between
    * snapshots changed character; a high-KL source dominates its own
    * vocabulary). KL = (1/N_s)·Σ_w c_sw·ln(c_sw·N / (c_w·N_s)) — no
    * smoothing needed: the sum runs over the source's own observed words,
    * where c_sw ≥ 1 and the corpus count c_w ≥ c_sw > 0.
    *
    * Determinism: the ln argument is a quotient of two double PRODUCTS of
    * exact counts in fixed textual order (bitwise cross-engine), the
    * per-term value rounds ONCE to micro-nats, and the rollup is an exact
    * BIGINT sum (the [[surprisalScores]] policy). KL(s‖corpus) is exactly
    * 0 when a source's distribution equals the mixture.
    *
    * Scale shape: ONE tokenize pass into (source, term, count) —
    * materialized once; corpus totals derive from IT (no second corpus
    * scan): a vocab-sized rollup, a #sources-sized rollup, a one-row
    * grand total, then one hash join on the term. */
  def sourceKlDivergence(docs: org.apache.spark.sql.DataFrame,
                         sourceCol: String, text: Column): org.apache.spark.sql.DataFrame = {
    val sw = docs.select(col(sourceCol), explode(tokens(text)).as("__w"))
      .groupBy(col(sourceCol), col("__w"))
      .agg(count(lit(1)).as("__csw"))
      .localCheckpoint() // feeds the term, source, and grand-total rollups
    val cw = sw.groupBy("__w").agg(sum("__csw").as("__cw"))
    val ns = sw.groupBy(sourceCol).agg(sum("__csw").as("__ns"))
    val n = sw.agg(sum("__csw").as("__n"))
    sw.join(cw, Seq("__w"))
      .join(broadcast(ns), Seq(sourceCol))
      .crossJoin(broadcast(n))
      .withColumn("__t", round(log(
          (col("__csw").cast("double") * col("__n").cast("double")) /
          (col("__cw").cast("double") * col("__ns").cast("double"))) * lit(1e6), 0)
        .cast("long") * col("__csw"))
      .groupBy(col(sourceCol))
      .agg(max(col("__ns")).as("n_tokens"), sum(col("__t")).cast("long").as("kl_micro"))
      .withColumn("kl",
        col("kl_micro").cast("double") / lit(1e6) / col("n_tokens").cast("double"))
  }

  /** DSIR-style importance weighting (Xie et al., "Data Selection for
    * Language Models via Importance Resampling"): score every document by
    * the log-likelihood ratio between a TARGET-domain unigram LM (built
    * from the `targetFilter` slice — the domain you want more of) and the
    * raw-corpus unigram LM. Positive avg_llr ⇒ the doc looks more like the
    * target domain than like the corpus at large; resampling on the weight
    * shifts the training mixture toward the target without hand-written
    * rules. log w(doc) = Σ_w tf·(ln p_t(w) − ln p_r(w)) with both LMs
    * add-one smoothed over the SHARED corpus vocabulary V:
    * p_t = (c_t+1)/(N_t+V), p_r = (c_r+1)/(N_r+V).
    *
    * Determinism ([[surprisalScores]] policy): the ln argument is a
    * quotient of two double products of exact counts in fixed textual
    * order, the per-term ratio rounds ONCE to integer micro-nats, and the
    * doc rollup Σ tf·llr is an exact order-independent BIGINT sum.
    *
    * Scale shape: ONE tokenize pass into (doc, target?, term, tf) —
    * materialized once, feeding both vocab-sized LM rollups and the
    * scoring join; a one-row (N_t, N_r, V) broadcast; one hash join on
    * the term. No doc×doc, no driver-side vocab. */
  def importanceWeights(docs: org.apache.spark.sql.DataFrame, idCol: String,
                        text: Column, targetFilter: Column): org.apache.spark.sql.DataFrame = {
    val tf = docs.select(col(idCol), targetFilter.as("__t"),
        explode(tokens(text)).as("__w"))
      .groupBy(col(idCol), col("__t"), col("__w"))
      .agg(count(lit(1)).as("__tf"))
      .localCheckpoint() // feeds both LM rollups + the scoring join
    val raw = tf.groupBy("__w").agg(sum("__tf").as("__cr"))
    val tgt = tf.where(col("__t")).groupBy("__w").agg(sum("__tf").as("__ct"))
    val totals = raw.join(tgt, Seq("__w"), "left_outer")
      .agg(sum(col("__cr")).as("__nr"),
        sum(coalesce(col("__ct"), lit(0L))).as("__nt"),
        count(lit(1)).as("__v"))
    tf.join(raw, Seq("__w"))
      .join(tgt, Seq("__w"), "left_outer")
      .crossJoin(broadcast(totals))
      .withColumn("__s", round(log(
          ((coalesce(col("__ct"), lit(0L)) + lit(1L)).cast("double") *
            (col("__nr") + col("__v")).cast("double")) /
          ((col("__cr") + lit(1L)).cast("double") *
            (col("__nt") + col("__v")).cast("double"))) * lit(1e6), 0)
        .cast("long") * col("__tf"))
      .groupBy(col(idCol))
      .agg(sum(col("__tf")).cast("long").as("n_tokens"),
        sum(col("__s")).cast("long").as("llr_micro"))
      .withColumn("avg_llr",
        col("llr_micro").cast("double") / lit(1e6) / col("n_tokens").cast("double"))
  }

  /** Corpus-diversity report per group (source, language, …): type-token
    * ratio and distinct-bigram ratio — the standard distinct-n diversity
    * diagnostics. A source whose TTR collapses between snapshots has
    * started repeating itself (template spam, boilerplate floods); the
    * bigram ratio catches phrase-level rot that unigram TTR misses. All
    * outputs are exact counts or raw quotients of exact counts (bitwise
    * cross-engine; no rounding anywhere).
    *
    * Scale shape: the tokenized corpus materializes once and feeds both
    * n-gram rollups; output is #groups-sized. distinct-counts shuffle on
    * (group, gram) — the natural key, skew-bounded by the vocabulary. */
  def diversityReport(docs: org.apache.spark.sql.DataFrame,
                      groupCol: String, text: Column): org.apache.spark.sql.DataFrame = {
    val base = docs.select(col(groupCol), tokens(text).as("__toks"))
      .localCheckpoint() // one tokenize pass feeds both n-gram rollups
    val uni = base.select(col(groupCol), explode(col("__toks")).as("__w"))
      .groupBy(groupCol).agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("__w")).as("n_types"))
    val bi = base.select(col(groupCol), explode(bigrams(col("__toks"))).as("__bg"))
      .groupBy(groupCol).agg(count(lit(1)).as("n_bigrams"),
        countDistinct(col("__bg")).as("n_distinct_bigrams"))
    // left join + nullif-style guard: a group of 1-token docs has no
    // bigrams — report 0 counts and a null ratio, never a NaN
    uni.join(bi, Seq(groupCol), "left_outer")
      .select(col(groupCol), col("n_tokens"), col("n_types"),
        (col("n_types").cast("double") / col("n_tokens").cast("double")).as("ttr"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_distinct_bigrams"), lit(0L)).as("n_distinct_bigrams"),
        when(coalesce(col("n_bigrams"), lit(0L)) > 0,
          col("n_distinct_bigrams").cast("double") / col("n_bigrams").cast("double"))
          .as("distinct_bigram_ratio"))
  }

  /** Pairwise source-overlap matrix: distinct-shingle Jaccard between
    * every pair of sources — the redundancy map a data-recipe review reads
    * before weighting sources (two mirrors of the same crawl show up as a
    * near-1.0 cell; q_txt17 is the train/eval special case of this).
    *
    * Scale shape: per-source DISTINCT shingles first (corpus-size work,
    * source-count output rows per shingle), then a self-join on the
    * shingle — each shingle contributes at most |sources|² pairs, so the
    * intersection pass is bounded by vocabulary × sources², independent of
    * corpus row count. The matrix is emitted DENSE (zero-overlap pairs
    * included) so a disjoint pair is visible data, not an absent row.
    *
    * `maxShingleSources` (round 6): shingles present in more than this
    * many sources — boilerplate n-grams, the hot join keys that dominate
    * the Σ k² intersection cost at crawl scale — are dropped BEFORE both
    * the size pass and the self-join (`NearDup.dropCrowdedBuckets`, the
    * q_txt16 df-cap applied at source granularity), so the matrix becomes
    * "Jaccard over the non-boilerplate shingle vocabulary". Sizes and
    * intersections see the same capped universe — the ratio stays
    * internally consistent. The default sits far above any fixture source
    * count (the cap never binds at sf0.1); `capObs` reports dropped
    * buckets/rows when it does. */
  def sourceOverlapMatrix(docs: org.apache.spark.sql.DataFrame, groupCol: String,
                          text: Column, shingleN: Int = 3,
                          maxShingleSources: Int = NearDup.DefaultMaxBucketSize,
                          capObs: Option[org.apache.spark.sql.Observation] = None)
      : org.apache.spark.sql.DataFrame = {
    // Checkpoint BOTH stages: the distinct table feeds the cap's count
    // pass + anti-join (2 consumers), and the capped output feeds sizes +
    // both sides of the intersection self-join (3 consumers) — without
    // the second checkpoint the cap's agg + anti-join replan ~3x.
    // Shingles are hashed to 64-bit longs BEFORE the distinct (r16, guide
    // §2.3 "narrower types"): the distinct's shuffle, the cap's count
    // pass and the intersection self-join all key on an 8-byte long
    // instead of a ~20-30 byte string. Collision assumption: xxhash64 is
    // treated as injective on the distinct shingles. For N distinct
    // shingle strings the chance that ANY two share a hash is at most
    // N(N-1)/2^65 — 2.7e-8 at N = 1e6, 2.7e-4 at N = 1e8. A collision
    // would merge two shingles: a source's size drops by one and a shared
    // count can rise by one. Below that bound, per-source distinct sets
    // and shared counts are identical to the string formulation the
    // oracle runs (the exactJaccardPairs argument, applied to the
    // source-overlap matrix).
    val sh = NearDup.dropCrowdedBuckets(
      NearDup.withShingles(
          docs.select(col(groupCol), text.as("__txt")), col("__txt"), shingleN)
        .select(col(groupCol), explode(col("__sh")).as("__s0"))
        .select(col(groupCol), xxhash64(col("__s0")).as("__s"))
        .distinct()
        .localCheckpoint(),
      Seq("__s"), maxShingleSources, capObs)
      .localCheckpoint()
    // Size over the capped universe, but keep every source VISIBLE even if
    // the cap dropped its whole vocabulary (n=0 row, not an absent source —
    // the dense-matrix contract).
    val sources = docs.select(col(groupCol)).distinct()
    val sizes = sources.join(
        sh.groupBy(groupCol).agg(count(lit(1)).as("__n")), Seq(groupCol), "left_outer")
      .select(col(groupCol), coalesce(col("__n"), lit(0L)).as("n"))
    val inter = sh.select(col(groupCol).as("source_a"), col("__s"))
      .join(sh.select(col(groupCol).as("source_b"), col("__s")), Seq("__s"))
      .where(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("__shared"))
    val sa = sizes.select(col(groupCol).as("source_a"), col("n").as("n_a"))
    val sb = sizes.select(col(groupCol).as("source_b"), col("n").as("n_b"))
    sa.join(sb, col("source_a") < col("source_b"))
      .join(inter, Seq("source_a", "source_b"), "left_outer")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        coalesce(col("__shared"), lit(0L)).as("n_shared"),
        // null (not NaN) when the union is empty — possible only when the
        // cap dropped both sources' whole vocabularies
        when(col("n_a") + col("n_b") - coalesce(col("__shared"), lit(0L)) > 0,
          coalesce(col("__shared"), lit(0L)).cast("double") /
            (col("n_a") + col("n_b") - coalesce(col("__shared"), lit(0L))).cast("double"))
          .as("jaccard"))
  }

  /** Compression-ratio quality signal: deflate(text).length / raw bytes —
    * the classic cheap spam detector (boilerplate, template floods and
    * repeated n-grams compress far better than natural prose; used as a
    * gate in most public web-corpus recipes). Raw DEFLATE at a fixed
    * level with no header (no gzip mtime), so the byte count is
    * deterministic for a given JVM zlib — but engine-specific: rows-only
    * by design (no SQL twin can reproduce another engine's deflate).
    * A Scala UDF (one deflate per row is inherently per-row CPU — codegen
    * has nothing to fuse here); at 100 TB this runs where the scan runs
    * and costs what the bytes cost. */
  private val deflateLen = udf((s: String) => {
    if (s == null) 0L
    else {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.util.zip.DeflaterOutputStream(bos,
        new java.util.zip.Deflater(6, true))
      out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
      bos.size().toLong
    }
  })

  /** (raw utf8 bytes, deflated bytes, ratio) for each doc; empty text
    * reports ratio null rather than dividing by zero. */
  def compressionSignals(docs: org.apache.spark.sql.DataFrame, idCol: String,
                         text: Column): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol), octet_length(text).cast("long").as("n_bytes"),
        deflateLen(text).as("n_deflate"))
      .withColumn("ratio",
        when(col("n_bytes") > 0,
          col("n_deflate").cast("double") / col("n_bytes").cast("double")))

  /** PII scrubbing — the redaction pass a pre-training pipeline runs over
    * raw text: masks email addresses and phone-like number groups and
    * reports how many of each were found. Patterns are deliberately in the
    * RE2-compatible subset (no backrefs/lookaround) so the engine and the
    * SQL oracle twin apply byte-identical semantics. Pure expressions:
    * scrubbing runs at scan speed inside codegen. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "[0-9]{3}[-.][0-9]{3,4}([-.][0-9]{4})?"

  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, emailPattern, "<EMAIL>"),
      phonePattern, "<PHONE>")

  def piiCounts(text: Column): (Column, Column) =
    (regexp_count(text, lit(emailPattern)).cast("long"),
     regexp_count(text, lit(phonePattern)).cast("long"))

  /** Rolling polynomial (Karp-Rabin) fingerprint over the token stream:
    * fp = fold(tokens, 0, (acc, t) -> (acc*B + h(t)) mod M). Default
    * implementation is the codegen'd custom expression
    * (graft.functions.RollingPolynomialHash); [[rollingFingerprintHof]]
    * is the bit-identical HOF reference used for cross-checking.
    * Spark-only (no SQL oracle: DuckDB's hash() differs). */
  def rollingFingerprint(toks: Column): Column =
    graft.functions.RollingPolynomialHash(toks)

  /** HOF reference formulation of [[rollingFingerprint]] — interpreted
    * lambda, kept for the equivalence test. */
  def rollingFingerprintHof(toks: Column): Column = {
    val M = lit(2147483647L) // 2^31 - 1
    val B = lit(131L)
    aggregate(toks, lit(0L), (acc, t) => pmod(acc * B + pmod(xxhash64(t), M), M))
  }

  /** Integer token-voting domain classifier — the domain/source tagger a
    * curation pipeline trains on labeled slices and applies to the crawl
    * (route docs to per-domain quality gates, rebalance the mixture).
    * Deliberately NOT log-probability naive Bayes: ln() is not
    * cross-engine exact (the q_sample6 adjudication), so the class score
    * is the pure-integer multinomial count form
    *
    *   score(doc, c) = Σ_{token occurrences t in doc} trainCount(t, c)
    *
    * — argmax with (score desc, label asc) tie-break; a doc with no
    * trained token gets `unknownLabel`. Exact integers end-to-end =>
    * hash-exact against the SQL twin.
    *
    * Shape: one tokenize pass per side. Both sides pre-aggregate BEFORE
    * the term join: the weight table is vocabulary × #classes — USUALLY
    * the classic broadcastable dimension, but vocabulary is
    * corpus-dependent and unbounded, so the broadcast is SIZE-GATED
    * (ADVICE r7): the aggregated table is materialized and counted, the
    * hint applies only below `BroadcastWeightRows` (scoring then
    * shuffles nothing on the term key), and a noisy-vocabulary corpus
    * above it falls back to a plain join (AQE still broadcasts at
    * runtime if the bytes turn out small) instead of OOMing the driver.
    * The test side collapses to
    * (doc, term, tf) so multiplicity is ONE row, not one per occurrence.
    * The unavoidable fan-out is #distinct-(doc, term) × classes-sharing-
    * the-term, flowing straight into a map-side-combined (doc, class)
    * aggregation — keep the label space coarse (domains, not urls) or
    * pre-prune near-uniform terms at large class counts (measured: the
    * occurrence-level join form went superlinear past ~10^5 docs purely
    * on intermediate volume).
    *
    * Returns (idCol, actual, predicted) for every `test` row. */
  def domainClassify(train: org.apache.spark.sql.DataFrame,
                     test: org.apache.spark.sql.DataFrame,
                     idCol: String, textCol: String, labelCol: String,
                     unknownLabel: String = "unknown"): org.apache.spark.sql.DataFrame = {
    val weights = train
      .select(col(labelCol).as("__lab"), explode(tokens(col(textCol))).as("__t"))
      .groupBy("__t", "__lab").agg(count(lit(1)).as("__w"))
      .localCheckpoint() // counted for the gate, then joined — one build
    val weightsSide =
      if (weights.count() <= BroadcastWeightRows) broadcast(weights) else weights
    val testTf = test
      .select(col(idCol), explode(tokens(col(textCol))).as("__t"))
      .groupBy(col(idCol), col("__t")).agg(count(lit(1)).as("__tf"))
    val scores = testTf.join(weightsSide, Seq("__t"))
      .groupBy(col(idCol), col("__lab"))
      .agg(sum(col("__tf") * col("__w")).as("__score"))
    // arg-max as an aggregation, not a window: min of (-score, label) is
    // exactly (score desc, label asc) — partial-aggregated, no per-doc sort
    val pred = scores
      .groupBy(col(idCol))
      .agg(min(struct((-col("__score")).as("__ns"), col("__lab"))).as("__m"))
      .select(col(idCol), col("__m.__lab").as("__lab"))
    test.select(col(idCol), col(labelCol).as("actual"))
      .join(pred, Seq(idCol), "left_outer")
      .select(col(idCol), col("actual"),
        coalesce(col("__lab"), lit(unknownLabel)).as("predicted"))
  }
}
