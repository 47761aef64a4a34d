package graft.operators

import graft.functions.{TextFunctions => TF}
import graft.plans.{QualityExpressions, QualityRules}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators over a document table: language-ID, quality
  * scoring, token counting, fingerprinting. All per-row column
  * expressions — embarrassingly parallel, no shuffle, whole-stage
  * codegen'd end to end. At 100 TB these run at scan speed.
  */
object TextAnalysis {

  /** Quality/statistics profile per document. Ratios are deterministic
    * double arithmetic on exact integer counts (oracle-replicable). */
  def stats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TF.words(col(textCol))
    val nTokens = size(toks)
    val nChars = length(col(textCol))
    val stopwords = TF.markerCount(toks, TF.langMarkers.flatMap(_._2))
    docs.select(
      col(idCol),
      nChars.cast("long").as("n_chars"),
      nTokens.cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct_tokens"),
      // mean token length over the whitespace tokens
      (aggregate(toks, lit(0L), (acc, w) => acc + length(w)).cast("double") /
        nTokens.cast("double")).as("mean_token_len"),
      (stopwords.cast("double") / nTokens.cast("double")).as("stopword_ratio"),
      (size(array_distinct(toks)).cast("double") / nTokens.cast("double"))
        .as("type_token_ratio"))
  }

  /** Language-ID via stopword-marker counts (TF.langId). */
  def languageId(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), TF.langId(col(textCol)).as("detected_lang"))

  /** Token counts: whitespace tokens + BPE-ish pre-tokenizer count. */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      size(TF.words(col(textCol))).cast("long").as("ws_tokens"),
      TF.bpeishTokenCount(col(textCol)).cast("long").as("bpeish_tokens"))

  /** Per-document top-k term profile with corpus document frequency —
    * the building block of TF-IDF feature pipelines. Shuffles once on
    * (doc, term) and once on term; integer counts only (deterministic). */
  def termFrequency(docs: DataFrame, idCol: String, textCol: String,
                    topK: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol), explode(TF.words(col(textCol))).as("term"))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = toks.select(col(idCol), col("term")).distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("tf").desc, col("term"))
    tf.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
      .join(dfreq, "term")
      .select(col(idCol), col("term"), col("tf"), col("df"), col("rank"))
  }

  /** Gopher/RefinedWeb-style repetition quality signal: the duplicate
    * {2,3}-gram fraction per document (1 - distinct/total). Highly
    * repetitive documents (boilerplate, generated spam, scraped
    * navigation) score high and get filtered before training. Pure
    * per-row column arithmetic — no shuffle, no join; integer counts and
    * ONE double division keep it bit-exact against the oracle. */
  def repetition(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    def frac(d: org.apache.spark.sql.Column,
             n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(n > 0, lit(1.0) - d.cast("double") / n.cast("double")).otherwise(lit(0.0))
    docs.select(col(idCol), TF.words(col(textCol)).as("toks"))
      .withColumn("sh2", TF.shingles(col("toks"), 2))
      .withColumn("sh3", TF.shingles(col("toks"), 3))
      .select(col(idCol),
        size(col("sh2")).cast("long").as("n2"),
        size(array_distinct(col("sh2"))).cast("long").as("d2"),
        size(col("sh3")).cast("long").as("n3"),
        size(array_distinct(col("sh3"))).cast("long").as("d3"))
      .withColumn("dup2_frac", frac(col("d2"), col("n2")))
      .withColumn("dup3_frac", frac(col("d3"), col("n3")))
  }

  /** Corpus-level heavy hitters: exact top-k terms by count,
    * cross-checked against a COUNT-MIN SKETCH built over the same token
    * stream. The sketch is the 100 TB half of the operator: a fixed-size
    * (w×d counters) MERGEABLE summary built in one pass with map-side
    * combines — at corpus scale you keep only the sketch plus a candidate
    * heap and skip the exact aggregate entirely; here the exact aggregate
    * doubles as the oracle and the sketch's guarantees become testable
    * output columns:
    *  - `cms_never_under`: estimate >= true count (structural CMS
    *    guarantee — must ALWAYS hold);
    *  - `cms_within_envelope`: estimate <= true + eps·N (holds with
    *    probability 1-δ; deterministic for the fixed seed).
    * The driver touches exactly k result terms and one constant-size
    * sketch — never the token stream. */
  def heavyHitters(docs: DataFrame, textCol: String,
                   topK: Int = 20, eps: Double = 0.001,
                   confidence: Double = 0.99, seed: Int = 42): DataFrame = {
    val spark = docs.sparkSession
    val toks = docs.select(explode(TF.words(col(textCol))).as("term"))
    val top = toks.groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term")).limit(topK) // TakeOrdered, no full sort
    val cms = toks.stat.countMinSketch("term", eps, confidence, seed)
    val bound = (eps * cms.totalCount()).toLong
    val rows = top.collect().toSeq.map { r =>
      val term = r.getString(0)
      val n = r.getLong(1)
      val est = cms.estimateCount(term)
      (term, n, est >= n, est <= n + bound)
    }
    import spark.implicits._
    rows.toDF("term", "n", "cms_never_under", "cms_within_envelope")
      .orderBy(col("n").desc, col("term"))
  }

  /** Rolling-hash document fingerprint (64-bit). */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      TF.rollingFingerprint(col(textCol)).as("fingerprint"))

  /** Gopher/C4-style QUALITY-RULE FILTER: the per-document heuristic gate
    * a training-data pipeline runs before anything expensive. Each rule
    * is a column, so downstream can audit WHY a doc was dropped, and
    * `keep` is their conjunction:
    *  - word count within [minWords, maxWords];
    *  - mean word length within [minMeanLen, maxMeanLen];
    *  - at least one function word (stopword) — drops gibberish and
    *    wrong-language docs that langid alone would mislabel;
    *  - no single word dominating (> maxTopWordFrac of tokens);
    *  - duplicate 2-gram fraction under maxDupBigramFrac (boilerplate /
    *    generated spam).
    * Every signal is integer counts + one double division — bit-exact
    * against the oracle. The counts and `keep` come from ONE compiled
    * pass per doc ([[graft.plans.QualityCounts]]: tokenize, count,
    * bigram-dedup, judge), so the whole filter is one codegen'd
    * projection at scan speed. A downstream `.filter(col("keep"))`
    * pushed below the projection by substitution inlines that one
    * struct field, so a filtered pass costs two kernel calls per row
    * (`PlanSpec`). */
  def qualityFilter(docs: DataFrame, idCol: String, textCol: String,
                    minWords: Int = 20, maxWords: Int = 10000,
                    minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                    maxTopWordFrac: Double = 0.2,
                    maxDupBigramFrac: Double = 0.1,
                    carryCols: Seq[String] = Nil): DataFrame = {
    // one codegen'd pass per doc yields every rule column (QualityKernelSpec
    // keeps the declarative form as the reference). The struct sits
    // behind a PROJECT BOUNDARY: it is read once per rule column, and
    // CollapseProject does not inline an expensive alias consumed more
    // than once. `carryCols` ride through the pass so a caller can fuse
    // downstream per-row derivations (language id, the text itself) into
    // it instead of re-joining on id afterwards
    val keys = col(idCol) +: carryCols.map(col)
    docs.select(keys :+
        QualityExpressions.qualityCounts(lower(col(textCol)), TF.langMarkers.flatMap(_._2),
          QualityRules(minWords, maxWords, minMeanLen, maxMeanLen, maxTopWordFrac,
            maxDupBigramFrac)).as("__q"): _*)
      .select(keys :+ col("__q.*"): _*)
  }

  /** QUALITY-CLASSIFIER scoring — the model-based stage that follows the
    * rule gate in a modern corpus pipeline (fastText/logistic quality
    * classifiers in the C4/CCNet lineage). The model here is a LINEAR
    * scorer with FROZEN offline-trained weights over exactly the
    * [[qualityFilter]] features — the engine's job is the feature
    * extraction and the deterministic scoring pass, not the training:
    * swap the constant weights for a learned coefficient row and the
    * plan is unchanged (per-row expressions at scan speed, no shuffle).
    *
    * Determinism contract: every feature is rounded to 6 dp before the
    * dot product, terms are combined in one fixed left-associative
    * order, and the logit rounds to 6 dp before the threshold compare —
    * bit-stable cross-engine (the same discipline as unigramLogProb).
    * Output keeps the rule gate's `keep` beside the model's `pred_keep`
    * so downstream can audit rule/model disagreement. */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.0): DataFrame = {
    val f = qualityFilter(docs, idCol, textCol)
    val logit =
      lit(-1.0) +
        lit(0.45) * round(log(lit(1.0) + col("n_words").cast("double")), 6) +
        lit(1.2) * col("has_stopword").cast("double") -
        lit(3.5) * round(col("top_word_frac"), 6) -
        lit(4.0) * round(col("dup_bigram_frac"), 6) -
        lit(0.2) * round(abs(col("mean_word_len") - lit(5.0)), 6)
    f.select(col(idCol), col("n_words"), col("keep").as("rule_keep"),
        round(logit, 6).as("quality_logit"))
      .withColumn("pred_keep", col("quality_logit") >= threshold)
  }

  /** TF-IDF top terms per document — the feature-selection pass on top of
    * [[termFrequency]]. Score = tf · ln(N/df); N broadcasts as a 1-row
    * aggregate (never collected), df is one term-keyed aggregate, and the
    * per-doc top-k is a ranked window — three exchanges total, none
    * carrying raw text. The score is ROUNDED to 6 dp before ranking so
    * mathematically-equal scores from different (tf, df) pairs (e.g.
    * 2·ln4 = 1·ln16) order identically in any engine; ties break on the
    * term. */
  def tfidf(docs: DataFrame, idCol: String, textCol: String,
            topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol), explode(TF.words(col(textCol))).as("term"))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = toks.select(col(idCol), col("term")).distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(countDistinct(col(idCol)).as("n_docs"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("score"), col("rank"))
  }

  /** Unigram NEGATIVE-LOG-PROBABILITY quality score — the
    * perplexity-proxy filter of the CCNet/Gopher-family pipelines: score
    * each document by the mean surprisal of its tokens under the
    * corpus's OWN unigram distribution (a doc of globally-rare tokens
    * scores high = gibberish/boilerplate candidate; function-wordy
    * running text scores low). A full LM is a model artifact; the
    * unigram distribution is derivable from the corpus itself, so this
    * stays an engine operator with an exact oracle.
    *
    * Shape: one term-keyed aggregate (the TF-IDF shape), a 1-row total
    * broadcast, one term-keyed join back to the token stream, one per-doc
    * aggregate — nothing collects, the vocabulary join shuffles on term.
    * Determinism discipline: per-term surprisal is rounded to 6 dp and
    * cast to DECIMAL(18,6) BEFORE the per-doc sum — decimal addition is
    * exact and order-independent, so the cross-partition sum cannot
    * drift between engines (a double sum would be summation-order
    * dependent). */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol), explode(TF.words(col(textCol))).as("term"))
    val tf = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val tot = tf.agg(sum(col("cnt")).as("total"))
    val scored = tf.crossJoin(broadcast(tot))
      .withColumn("nlp",
        round(-log(col("cnt").cast("double") / col("total").cast("double")), 6)
          .cast("decimal(18,6)"))
      .select(col("term"), col("nlp"))
    toks.join(scored, "term")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("nlp")).as("__sum"))
      .select(col(idCol), col("n_tokens"),
        round(col("__sum").cast("double") / col("n_tokens").cast("double"), 6)
          .as("mean_neg_logprob"))
  }

  /** VOCABULARY COVERAGE curve: the top-k corpus vocabulary with each
    * term's rank and the cumulative fraction of the token stream the
    * vocabulary covers up to that rank — the truncation/OOV-rate curve a
    * tokenizer-vocabulary decision reads off ("a 32k vocab covers 99.2%
    * of tokens"). Term counts are one map-side-combined aggregate; the
    * top-k is TakeOrdered; the cumulative window runs over the k
    * SURVIVING rows only (bounded, single task) — never over the full
    * vocabulary. */
  def vocabulary(docs: DataFrame, textCol: String, topK: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs.select(explode(TF.words(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).cast("long").as("n"))
    val tot = counts.agg(sum(col("n")).cast("long").as("total"))
    val ord = Seq(col("n").desc, col("term"))
    // constant partition key on both windows: they run over the topK
    // shortlist (bounded), where a single partition is deliberate —
    // keying it keeps WindowExec's no-partition warning meaningful.
    // n*0 rather than lit(0): a foldable key is constant-folded out of
    // the window spec and the warning returns
    val zero = col("n") * 0
    val w = Window.partitionBy(zero).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts.orderBy(ord: _*).limit(topK)
      .crossJoin(broadcast(tot))
      .withColumn("rank",
        row_number().over(Window.partitionBy(zero).orderBy(ord: _*)))
      .withColumn("cum_coverage",
        round(sum(col("n")).over(w).cast("double") /
          col("total").cast("double"), 6))
      .select(col("term"), col("n"), col("rank"), col("cum_coverage"))
      .orderBy("rank")
  }

  /** BIGRAM surprisal — the 2-gram twin of [[unigramLogProb]]: per-doc
    * mean −ln P(w₂|w₁) under the corpus bigram MLE (P = c(w₁w₂)/c(w₁•),
    * prefix-conditional). Catches locally-incoherent text (shuffled or
    * templated word salad) that unigram frequency scoring cannot see.
    * Per-bigram surprisal rounds to DECIMAL(18,6) before the per-doc
    * sum — order-independent, cross-engine exact. Docs with < 2 tokens
    * have no bigrams and drop out (same contract as the oracle). */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // tokenize behind a PROJECT boundary: shingles() references its token
    // array once per element, and an inlined words(text) alias would
    // re-split the text per shingle position (O(tokens²) regex work —
    // measured 4 s of the query's 9 s at sf0.1; same trap documented on
    // qualityFilter)
    val grams = docs
      .select(col(idCol), TF.words(col(textCol)).as("__toks"))
      .select(col(idCol), explode(TF.shingles(col("__toks"), 2)).as("bg"))
    // the bigram count table is referenced three times downstream (its own
    // join, the prefix aggregate, the surprisal join) — without a
    // materialization each reference replays the corpus tokenize+explode
    // lineage (measured 4 corpus passes → 9.3 s at sf0.1). It is
    // VOCAB-scale (distinct bigrams), so the checkpoint is tiny
    val bc = Blocks.copyOut(grams.groupBy(col("bg")).agg(count(lit(1)).as("cnt")))
    // prefix counts: c(w1 •) = Σ over bigrams sharing the first token —
    // derived FROM the bigram counts (vocab-scale, not corpus-scale)
    val prefix = bc
      .withColumn("p1", substring_index(col("bg"), " ", 1))
      .groupBy(col("p1")).agg(sum(col("cnt")).as("pcnt"))
    val scored = bc.withColumn("p1", substring_index(col("bg"), " ", 1))
      .join(prefix, "p1")
      .withColumn("nlp",
        round(-log(col("cnt").cast("double") / col("pcnt").cast("double")), 6)
          .cast("decimal(18,6)"))
      .select(col("bg"), col("nlp"))
    grams.join(scored, "bg")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nlp")).as("__sum"))
      .select(col(idCol), col("n_bigrams"),
        round(col("__sum").cast("double") / col("n_bigrams").cast("double"), 6)
          .as("mean_bigram_surprisal"))
  }

  /** PERPLEXITY quality filter — the CCNet shape: a smoothed bigram LM
    * trained on a REFERENCE slice scores every document's mean
    * per-bigram surprisal, and high-perplexity (reference-unlike) docs
    * are gated out. Differs from [[bigramLogProb]] (self-corpus MLE
    * diagnostic) in the three ways that make it a quality FILTER:
    * the LM is trained on `ref` only, unseen events are smoothed
    * instead of undefined (interpolated absolute discounting with an
    * add-one unigram backoff, so every bigram has P > 0), and the
    * output carries a keep gate.
    *
    *   P(w2|w1) = max(c(w1 w2) − D, 0)/c(w1·) + D·k(w1)/c(w1·)·Pu(w2)
    *   Pu(w2)   = (c(w2) + 1)/(N + V)        (w1 unseen → P = Pu(w2))
    *
    * Scale shape: LM statistics are VOCAB-scale aggregates of the
    * reference (materialized once, copied out); scoring is one corpus
    * bigram pass joined against them. Determinism: probabilities are
    * rational double arithmetic in a FIXED operation order (identical
    * in any engine), each bigram's −ln rounds to 6 dp into
    * DECIMAL(18,6) — per-doc sums exact in any order (the
    * unigram/bigram-surprisal recipe). */
  def perplexityFilter(docs: DataFrame, ref: DataFrame, idCol: String,
                       textCol: String, discount: Double = 0.75,
                       threshold: Double = 8.0): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      "perplexityFilter: discount must be in (0,1)")
    val refBigrams = ref
      .select(TF.words(col(textCol)).as("__toks"))
      .select(explode(TF.shingles(col("__toks"), 2)).as("bg"))
    val bc = Blocks.copyOut(
      refBigrams.groupBy(col("bg")).agg(count(lit(1)).as("c12")))
    val uni = Blocks.copyOut(
      ref.select(explode(TF.words(col(textCol))).as("w2"))
        .groupBy("w2").agg(count(lit(1)).as("cu")))
    scoreAgainstLm(docs, idCol, textCol, bc, uni, discount, threshold)
  }

  /** Score `docs` against LM count tables `bc` (bg, c12) and `uni`
    * (w2, cu) — the arithmetic shared by the one-shot and maintained
    * forms (both hand the SAME count values, so scores are identical). */
  private def scoreAgainstLm(docs: DataFrame, idCol: String, textCol: String,
                             bc: DataFrame, uni: DataFrame,
                             discount: Double, threshold: Double): DataFrame = {
    val pref = bc.withColumn("w1", substring_index(col("bg"), " ", 1))
      .groupBy("w1").agg(sum(col("c12")).as("c1"), count(lit(1)).as("k1"))
    val nv = broadcast(uni.agg(sum(col("cu")).as("N"), count(lit(1)).as("V")))
    val grams = docs
      .select(col(idCol).as("doc_id"), TF.words(col(textCol)).as("__toks"))
      .select(col("doc_id"), explode(TF.shingles(col("__toks"), 2)).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
    val scored = grams
      .join(bc, Seq("bg"), "left")
      .join(pref, Seq("w1"), "left")
      .join(uni, Seq("w2"), "left")
      .crossJoin(nv)
      // pu projected ONCE so both branches read the identical value
      .withColumn("pu",
        (coalesce(col("cu"), lit(0L)).cast("double") + lit(1.0)) /
          (col("N") + col("V")).cast("double"))
      .withColumn("p", when(col("c1").isNull, col("pu"))
        .otherwise(
          greatest(coalesce(col("c12"), lit(0L)).cast("double") -
            lit(discount), lit(0.0)) / col("c1").cast("double") +
            lit(discount) * col("k1").cast("double") /
              col("c1").cast("double") * col("pu")))
      .withColumn("nlp", round(-log(col("p")), 6).cast("decimal(18,6)"))
    val perDoc = scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nlp")).as("__s"))
      .withColumn("mean_nlp",
        round(col("__s").cast("double") / col("n_bigrams").cast("double"), 6))
    // docs with fewer than 2 tokens score no bigram: pinned to
    // (0, 0.0, keep=false) so the gate is deterministic, never null
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("mean_nlp"), lit(0.0)).as("mean_neg_logprob"),
        (col("n_bigrams").isNotNull &&
          col("mean_nlp") <= lit(threshold)).as("keep"))
  }

  // ---- INCREMENTAL reference-LM maintenance ------------------------------
  // [[perplexityFilter]]'s LM statistics are pure counts — additive
  // across disjoint reference batches and mergeable in any order — so
  // the reference model is maintainable exactly like the BM25/CMS/
  // substring indexes: per batch, commit the batch's bigram and unigram
  // count deltas as transactional epochs; reading the LM is a SUM over
  // committed epochs (fold- and replay-invariant). Scoring with the
  // accumulated LM is bit-identical to training on the union corpus.

  private def lmBigramRoot(root: String) = s"$root/bigrams"
  private def lmUnigramRoot(root: String) = s"$root/unigrams"

  /** Commit one reference batch's LM count deltas at `epochId`
    * (exactly-once; a replay is a no-op). */
  def commitLmBatch(ref: DataFrame, textCol: String, lmRoot: String,
                    epochId: Long): Unit = {
    val bg = ref.select(TF.words(col(textCol)).as("__toks"))
      .select(explode(TF.shingles(col("__toks"), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c12"))
    graft.sources.TransactionalLake.commitEpoch(bg, lmBigramRoot(lmRoot),
      epochId, partitionCols = Nil)
    val uni = ref.select(explode(TF.words(col(textCol))).as("w2"))
      .groupBy("w2").agg(count(lit(1)).as("cu"))
    graft.sources.TransactionalLake.commitEpoch(uni, lmUnigramRoot(lmRoot),
      epochId, partitionCols = Nil)
  }

  /** Fold aged LM epochs — counts re-aggregate after any fold. */
  def foldLm(spark: org.apache.spark.sql.SparkSession, lmRoot: String,
             upTo: Long): (Int, Int) =
    (graft.sources.TransactionalLake.foldCommittedEpochs(spark,
      lmBigramRoot(lmRoot), upTo, partitionCols = Nil),
      graft.sources.TransactionalLake.foldCommittedEpochs(spark,
        lmUnigramRoot(lmRoot), upTo, partitionCols = Nil))

  /** [[perplexityFilter]] served from the MAINTAINED LM: identical
    * arithmetic, with the reference statistics summed over committed
    * epochs instead of recomputed from reference text. */
  def perplexityFilterFromLm(docs: DataFrame, idCol: String,
                             textCol: String, lmRoot: String,
                             discount: Double = 0.75,
                             threshold: Double = 8.0): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      "perplexityFilterFromLm: discount must be in (0,1)")
    val spark = docs.sparkSession
    val bc = Blocks.copyOut(
      graft.sources.TransactionalLake.readCommitted(spark, lmBigramRoot(lmRoot))
        .groupBy("bg").agg(sum(col("c12")).as("c12")))
    val uni = Blocks.copyOut(
      graft.sources.TransactionalLake.readCommitted(spark, lmUnigramRoot(lmRoot))
        .groupBy("w2").agg(sum(col("cu")).as("cu")))
    scoreAgainstLm(docs, idCol, textCol, bc, uni, discount, threshold)
  }

  /** Per-source DUPLICATION REPORT — the curation dashboard over
    * [[Dedup.longestDupSubstrings]]: for each source, how many docs
    * carry a cross-doc verbatim repeat ≥ L, the longest one, and the
    * repeat-token mass as a fraction of the source's tokens — the
    * number a curation run thresholds to decide which sources need
    * aggressive span-level dedup before training. One substring pass +
    * one source-keyed aggregate; ratios are exact-integer divisions
    * rounded to 6 dp (engine-stable). */
  def duplicationReport(docs: DataFrame, idCol: String, textCol: String,
                        sourceCol: String, minWords: Int = 8): DataFrame = {
    val dups = Dedup.longestDupSubstrings(docs, idCol, textCol, minWords)
    val base = docs.select(col(idCol).as("doc_id"),
      col(sourceCol).as("source"),
      size(TF.words(col(textCol))).cast("long").as("n_tokens"))
    base.join(dups, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(col("dup_len")).as("n_dup_docs"),
        coalesce(max(col("dup_len")), lit(0L)).as("max_dup_len"),
        round(coalesce(sum(col("dup_len")), lit(0L)).cast("double") /
          sum(col("n_tokens")).cast("double"), 6).as("dup_token_frac"))
  }

  /** Training-SEQUENCE PACKING: assign each document a position in a
    * stream of fixed-token-budget training sequences — the step between
    * a clean corpus and a batched pre-training run. Contiguous packing
    * by deterministic order (docs may straddle a boundary; the
    * downstream batcher splits at `seq_offset`), computed as an
    * EXCLUSIVE running token sum per shard:
    * `seq_id = cum_before div budget`, `offset = cum_before mod budget`.
    *
    * Scale design: packing is per-SHARD (`idCol % nShards`), so the
    * window sort never sees more than one shard per task — a single
    * global ordered window would serialize the corpus through one
    * partition. Shards pack independently (each shard is its own
    * sequence stream); at 100 TB pick nShards ≈ the write parallelism
    * you want for the packed output. Requires a numeric `idCol`;
    * deterministic end to end (integer counts, integer division). */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    tokensPerSeq: Int = 512, nShards: Int = 8,
                    extraKeys: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // `extraKeys` pack independent strata (e.g. train/val/test splits)
    // in ONE window pass: partitioning by (keys..., shard) is row-for-row
    // identical to running the packer once per stratum — cum_before only
    // ever sums same-partition rows — but a caller unioning per-stratum
    // calls re-evaluates the input subtree and shuffles once per stratum
    // (measured 3x on the flagship pipelines' 3-way split)
    val parts = extraKeys.map(col) :+ col("shard")
    val w = Window.partitionBy(parts: _*).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(extraKeys.map(col) ++ Seq(col(idCol),
        (col(idCol) % nShards).as("shard"),
        size(TF.words(col(textCol))).cast("long").as("n_tokens")): _*)
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("seq_id", expr(s"cum_before DIV $tokensPerSeq"))
      .withColumn("seq_offset", col("cum_before") % tokensPerSeq)
      .drop("cum_before")
  }

  /** Retrieval-style document CHUNKING — the RAG/embedding preprocessing
    * split: fixed word windows of `chunkWords` with `overlapWords` of
    * context carried between neighbors. Chunk count is the closed form
    * (1 when len <= chunk, else ceil((len-chunk)/step)+1 with
    * step = chunk-overlap), so the generator is a per-row
    * sequence+explode — scan-speed, no shuffle, no UDF; empty docs
    * produce no chunks and the final chunk may be shorter. At 100 TB
    * chunking is a projection: it composes with any downstream
    * (embedding, indexing, packing) without materializing the corpus
    * twice. */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
            chunkWords: Int = 64, overlapWords: Int = 16): DataFrame = {
    require(overlapWords < chunkWords,
      s"overlap ($overlapWords) must be smaller than the chunk ($chunkWords)")
    val step = chunkWords - overlapWords
    val base = docs.select(col(idCol), TF.words(col(textCol)).as("ws"))
      .withColumn("len", size(col("ws")).cast("long"))
      .filter(col("len") > 0)
      .withColumn("nc", when(col("len") <= chunkWords, lit(1L))
        .otherwise(ceil((col("len") - chunkWords).cast("double") / step)
          .cast("long") + 1L))
    base.select(col(idCol), col("ws"), col("len"),
        explode(sequence(lit(0L), col("nc") - 1)).as("chunk_idx"))
      .withColumn("start_word", col("chunk_idx") * step)
      .withColumn("n_words",
        least(lit(chunkWords.toLong), col("len") - col("start_word")))
      .select(col(idCol), col("chunk_idx"), col("start_word"), col("n_words"),
        array_join(slice(col("ws"), (col("start_word") + 1).cast("int"),
          col("n_words").cast("int")), " ").as("chunk_text"))
  }

  /** TRAINER-FACING LOSS MASKS over packed sequences — the artifact a
    * training job actually consumes: for every `(shard, seq_id)` of the
    * [[packSequences]] layout, a '0'/'1' character per token position
    * ('0' = no loss: the token sits inside a corpus-duplicated k-gram
    * span, the Lee-et-al. masking [[Dedup.maskRepeatedSpans]] applies at
    * span level), plus token/masked totals. Masking at the LOSS instead
    * of deleting text keeps document structure and sequence packing
    * stable while the optimizer never rewards memorized boilerplate.
    *
    * Scale shape: the coverage pass is the span-dedup one (token-scale,
    * 8-byte gram-key shuffle, df≥2 gating); placement is arithmetic on
    * the packing offsets (global = doc_start + pos; seq = div, slot =
    * mod — a doc spanning a sequence boundary contributes to both); the
    * output aggregate groups by (shard, seq) — ~n_tokens/tokensPerSeq
    * rows, each bounded by `tokensPerSeq` characters. */
  def packedLossMasks(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 8, minOccurrences: Int = 2,
                      tokensPerSeq: Int = 512, nShards: Int = 8): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
      TF.words(col(textCol)).as("ws"))
    val kgrams = base.select(col("doc_id"), col("ws"),
        explode(when(size(col("ws")) >= k,
          sequence(lit(0), size(col("ws")) - k))
          .otherwise(array().cast("array<int>"))).as("p"))
      .select(col("doc_id"), col("p"),
        xxhash64(array_join(slice(col("ws"), col("p") + 1, lit(k)), " "))
          .as("gkey"))
    val dup = kgrams.groupBy("gkey").count()
      .filter(col("count") >= minOccurrences).select("gkey")
    val covered = kgrams.join(dup, Seq("gkey"))
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + (k - 1))).as("pos"))
      .distinct()
    val packed = packSequences(docs, idCol, textCol, tokensPerSeq, nShards)
      .select(col(idCol).as("doc_id"), col("shard"),
        (col("seq_id") * tokensPerSeq + col("seq_offset")).as("doc_start"))
    val tokens = base.select(col("doc_id"),
      posexplode(col("ws")).as(Seq("pos", "word")))
    tokens.join(packed, "doc_id")
      .join(covered.withColumn("cv", lit(1)), Seq("doc_id", "pos"), "left")
      .withColumn("g", col("doc_start") + col("pos"))
      .withColumn("seq_id", expr(s"g DIV $tokensPerSeq"))
      .withColumn("pos_in_seq", col("g") % tokensPerSeq)
      .withColumn("m", when(col("cv").isNull, lit("1")).otherwise(lit("0")))
      .groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("m") === "0", 1L).otherwise(0L)).as("n_masked"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos_in_seq"), col("m")))),
          s => s.getField("m")), "").as("loss_mask"))
  }

  /** TRAINING-SHARD MANIFEST — the operational artifact a training job
    * reads instead of listing data files: per shard of a
    * [[packSequences]] output, the document/sequence/token totals, the
    * id range, and an order-insensitive integrity checksum (bit_xor of
    * a per-row key fold — commutative, so partition order and merge
    * order cannot change it). One metadata-scale aggregate; at 100 TB
    * the manifest is what makes resumable/verifiable training runs
    * possible without re-listing the lake. */
  def shardManifest(packed: DataFrame, idCol: String): DataFrame =
    packed.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("seq_id")).as("n_sequences"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col(idCol)).as("min_doc_id"),
        max(col(idCol)).as("max_doc_id"),
        expr(s"bit_xor($idCol + 131 * n_tokens)").as("content_checksum"))

  /** CORPUS COMPOSITION DRIFT — the per-source mix report a training-data
    * operation watches across ingest epochs: for every (epoch, source)
    * cell, document/token counts, the source's share of that epoch, the
    * share movement vs the previous epoch, and the epoch's total
    * variation distance (TVD = ½·Σ|Δshare|) from its predecessor — the
    * alarm number for "the crawl mix shifted".
    *
    * Shape at scale: ONE corpus aggregate (map-side combined on
    * (epoch, source)); everything after runs on the aggregate, which is
    * |sources|×|epochs| — metadata-scale. The report is densified over
    * the full source×epoch spine so a source that disappears still shows
    * a (share → 0) movement instead of silently dropping out. Shares are
    * rounded to 6 dp and carried as DECIMAL(18,6) through the delta/TVD
    * arithmetic — exact and order-independent, so the cross-partition
    * window sums cannot drift between engines. */
  def compositionDrift(docs: DataFrame, idCol: String, textCol: String,
                       sourceCol: String, nEpochs: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nEpochs >= 2, "compositionDrift: need at least 2 epochs to drift")
    val base = docs.select(col(sourceCol).as("source"),
      (col(idCol) % nEpochs).cast("int").as("epoch"),
      size(TF.words(col(textCol))).cast("long").as("n_toks"))
    val agg = base.groupBy("epoch", "source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_toks")).cast("long").as("n_tokens"))
    val spine = agg.select("source").distinct()
      .crossJoin(docs.sparkSession.range(nEpochs)
        .select(col("id").cast("int").as("epoch")))
    val dense = spine.join(agg, Seq("epoch", "source"), "left")
      .na.fill(0L, Seq("n_docs", "n_tokens"))
    val totals = dense.groupBy("epoch")
      .agg(sum(col("n_docs")).as("tot_docs"), sum(col("n_tokens")).as("tot_toks"))
    val shares = dense.join(broadcast(totals), "epoch")
      .withColumn("doc_share_dec",
        round(col("n_docs").cast("double") / col("tot_docs").cast("double"), 6)
          .cast("decimal(18,6)"))
      .withColumn("token_share_dec",
        round(col("n_tokens").cast("double") / col("tot_toks").cast("double"), 6)
          .cast("decimal(18,6)"))
    val wLag = Window.partitionBy(col("source")).orderBy(col("epoch"))
    val wEpoch = Window.partitionBy(col("epoch"))
    shares
      .withColumn("prev_dec", lag(col("doc_share_dec"), 1).over(wLag))
      .withColumn("delta_dec", col("doc_share_dec") - col("prev_dec"))
      .withColumn("epoch_tvd",
        round(sum(abs(col("delta_dec"))).over(wEpoch).cast("double") / 2.0, 6))
      .select(col("epoch"), col("source"), col("n_docs"), col("n_tokens"),
        col("doc_share_dec").cast("double").as("doc_share"),
        col("token_share_dec").cast("double").as("token_share"),
        col("prev_dec").cast("double").as("prev_doc_share"),
        col("delta_dec").cast("double").as("share_delta"),
        col("epoch_tvd"))
  }

  /** PII detection + redaction: emails, IPv4 addresses, and NANP-style
    * phone numbers found by regex, counted per type, then replaced with
    * typed placeholder tokens ([EMAIL]/[IP]/[PHONE]). The patterns are
    * deliberately in the common subset of Java regex and RE2 (no
    * lookaround), so the oracle applies the identical expressions.
    * Per-row codegen'd expressions — scan speed; the redacted text is
    * returned alongside a rolling-hash fingerprint so callers (and the
    * oracle gate) can byte-verify the replacement without shipping the
    * corpus anywhere. */
  def piiRedact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val phone = "\\+1-\\d{3}-\\d{4}"
    def count(c: org.apache.spark.sql.Column,
              re: String): org.apache.spark.sql.Column =
      size(regexp_extract_all(c, lit(re), lit(0))).cast("long")
    val t = col(textCol)
    val redacted = regexp_replace(
      regexp_replace(regexp_replace(t, email, "[EMAIL]"), ip, "[IP]"),
      phone, "[PHONE]")
    docs.select(col(idCol),
      count(t, email).as("n_emails"),
      count(t, ip).as("n_ips"),
      count(t, phone).as("n_phones"),
      TF.rollingFingerprint(redacted).as("redacted_fingerprint"))
  }

  /** Windowed PMI co-occurrence — the word-association statistic behind
    * embedding-prep pipelines (GloVe/word2vec co-occurrence matrices).
    * Pairs are generated PER ROW from the token array (a higher-order
    * `transform` over a forward window of `window` tokens, symmetrized by
    * lexicographic least/greatest) — there is NO positional self-join, so
    * the corpus never joins against itself; the exploded pair stream is
    * O(tokens × window) and both count aggregates are map-side combined.
    * The unigram join keys on term (AQE broadcasts it when the vocab is
    * small; at web-corpus vocab sizes it is a plain shuffle join on the
    * vocab, not the corpus). PMI = ln((p(a,b)) / (p(a)·p(b))), computed
    * in a fixed association order and rounded to 6 dp for cross-engine
    * determinism. */
  def pmiCooccurrence(docs: DataFrame, idCol: String, textCol: String,
                      window: Int = 4, minCount: Long = 5): DataFrame = {
    val toks = docs.select(TF.words(col(textCol)).as("toks"))
    // per-row pair structs: token i × tokens (i+1 .. i+window)
    val pairs = toks.select(explode(flatten(transform(col("toks"), (t, i) =>
      transform(slice(col("toks"), i + lit(2), lit(window)), u =>
        struct(least(t, u).as("a"), greatest(t, u).as("b")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val pairCounts = pairs.groupBy("a", "b")
      .agg(count(lit(1)).cast("long").as("n_pair"))
    val uni = toks.select(explode(col("toks")).as("term"))
      .groupBy("term").agg(count(lit(1)).cast("long").as("n_term"))
    // 1-row totals, broadcast back (metadata-scale)
    val totals = pairCounts.agg(sum(col("n_pair")).cast("long").as("t_pairs"))
      .crossJoin(uni.agg(sum(col("n_term")).cast("long").as("t_uni")))
    val ua = uni.select(col("term").as("a"), col("n_term").as("n_a"))
    val ub = uni.select(col("term").as("b"), col("n_term").as("n_b"))
    pairCounts.filter(col("n_pair") >= minCount)
      .join(ua, "a").join(ub, "b")
      .crossJoin(broadcast(totals))
      .select(col("a"), col("b"), col("n_pair"), col("n_a"), col("n_b"),
        round(log((col("n_pair").cast("double") / col("t_pairs").cast("double")) /
          ((col("n_a").cast("double") / col("t_uni").cast("double")) *
            (col("n_b").cast("double") / col("t_uni").cast("double")))), 6)
          .as("pmi"))
      .orderBy("a", "b")
  }

  /** BM25 top-k retrieval — the inverted-index query shape over the
    * corpus (Robertson/Okapi, Lucene's +1 idf form). The plan is the one
    * a 100 TB retrieval pass needs:
    *  - the postings shuffle carries ONLY tokens matching the query terms
    *    (the filter sits inside the generator input, so the exploded
    *    stream is O(matched tokens), not O(corpus tokens));
    *  - corpus stats (N, Σdl) are one 1-row aggregate broadcast back;
    *  - per-term document frequency is |queryTerms| rows, broadcast;
    *  - the final top-k is TakeOrderedAndProject — no global sort.
    * Determinism: each per-(doc,term) contribution is rounded to 6 dp and
    * cast DECIMAL(18,6) before the per-doc sum, so the sum is exact in
    * any order and the ranking is bit-stable cross-engine. */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String], topK: Int = 10,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25: queryTerms must be non-empty")
    val terms = queryTerms.map(_.toLowerCase).distinct
    val toks = docs.select(col(idCol),
      TF.words(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"),
        size(col("__toks")).cast("long").as("dl"))
    // 1-row corpus stats; joined back via broadcast (metadata-scale)
    val stats = toks.agg(count(lit(1)).cast("long").as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    // postings: explode only the matching tokens, then map-side-combined
    // count per (doc, term) — the only corpus-wide shuffle in the plan
    val posting = toks
      .select(col(idCol), col("dl"),
        explode(filter(col("__toks"), t => t.isInCollection(terms))).as("term"))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"))
    bm25Rank(posting, stats, idCol, idCol, topK, k1, b)
  }

  /** The BM25 ranker shared by [[bm25]] and [[TextIndex.bm25FromIndex]]:
    * `posting` holds one (`idCol`, dl, term, tf) row per matching
    * (doc, term), `stats` the 1-row corpus (n_docs, sum_dl). Per-term df,
    * Lucene's +1 idf, then each per-(doc, term) contribution rounded to
    * 6 dp and cast DECIMAL(18,6) so the per-doc sum is exact in any order;
    * the top-k is TakeOrderedAndProject. Output (`outId`, doc_len,
    * n_terms_matched, score), best first, id ascending on ties. */
  private[operators] def bm25Rank(posting: DataFrame, stats: DataFrame,
                                  idCol: String, outId: String, topK: Int,
                                  k1: Double, b: Double): DataFrame = {
    val dfreq = posting.groupBy(col("term"))
      .agg(count(lit(1)).cast("long").as("df"))
    val scored = posting
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("idf",
        log((col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)) + lit(1.0)))
      .withColumn("contrib",
        round(col("idf") * (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0) - lit(b) +
              lit(b) * col("dl").cast("double") / col("avgdl"))), 6)
          .cast("decimal(18,6)"))
    scored.groupBy(col(idCol), col("dl"))
      .agg(sum(col("contrib")).as("__score_x"),
        count(lit(1)).cast("long").as("n_terms_matched"))
      .orderBy(col("__score_x").desc, col(idCol))
      .limit(topK)
      .select(col(idCol).as(outId), col("dl").as("doc_len"),
        col("n_terms_matched"), col("__score_x").cast("double").as("score"))
      // re-assert the output order over the projected columns (the 6-dp
      // double collides only if two distinct decimal sums round together;
      // the id tie-break keeps the order total either way)
      .orderBy(col("score").desc, col(outId))
  }

  /** URL CANONICALIZATION — the unification step before URL-keyed corpus
    * dedup (the C4/CommonCrawl prep step upstream of
    * [[Dedup.exactByHostKey]]): syntactically different URLs that name
    * the same resource collapse to one canonical string. Rules, applied
    * as one pure column-expression pipeline (whole-stage-codegen'd, no
    * UDF, no shuffle):
    *   1. drop the fragment (`#...` — client-side only),
    *   2. lowercase scheme and authority (host names are
    *      case-insensitive; paths are NOT touched),
    *   3. strip a leading `www.` and the scheme's default port
    *      (`:80` http / `:443` https),
    *   4. strip trailing `/` runs from the path (`/p/1/` ≡ `/p/1`),
    *   5. drop tracking params (`utm_*`, `gclid`, `fbclid`, `ref`) and
    *      BYTE-SORT the survivors (param order is transport noise).
    * Inputs without a `scheme://` prefix pass through steps 1/4/5 with
    * an empty scheme/authority — garbage stays stable, never null. */
  def urlCanonicalize(df: DataFrame, urlCol: String,
                      out: String = "url_canon"): DataFrame = {
    val (scheme, host, path, qs) = urlParts(col(urlCol))
    df.withColumn(out, concat(
      when(scheme === "", lit("")).otherwise(concat(scheme, lit("://"))),
      host, path,
      when(qs === "", lit("")).otherwise(concat(lit("?"), qs))))
  }

  /** The normalized host of a URL — the blocklist/dedup key (same rules
    * as [[urlCanonicalize]]: lowercase, `www.` and default port
    * stripped). */
  def urlHost(url: Column): Column = urlParts(url)._2

  /** BOILERPLATE-PREFIX REPORT — the CCNet/RefinedWeb-style shared-
    * navigation cut: within each group (host, source, template id…),
    * documents that OPEN with the same k words are carrying group
    * boilerplate (nav bars, cookie banners, headers), not content —
    * exact and near dedup both miss them when the bodies differ. One
    * row per (group, prefix) shared by ≥ `minDocs` docs, with the
    * multiplicity and a spot-check doc id. Curation acts on the report
    * (strip the prefix, or down-weight the group).
    *
    * Docs with fewer than k words are excluded — a 1-word doc "sharing"
    * its whole text with another is length noise, not boilerplate.
    *
    * Scale shape: one projection (first-k-words, scan-side) + one hash
    * aggregate on (group, prefix) with map-side partials; output is
    * bounded by the number of SHARED prefixes, metadata-scale on any
    * real corpus. */
  def boilerplatePrefixes(docs: DataFrame, idCol: String, textCol: String,
                          groupCol: String, k: Int = 3,
                          minDocs: Long = 2L): DataFrame = {
    require(k >= 1 && minDocs >= 2,
      "boilerplatePrefixes: need k >= 1 and minDocs >= 2 (a prefix " +
        "shared by one doc is just that doc)")
    val toks = TF.words(col(textCol))
    docs.select(col(groupCol).as("grp"), col(idCol).as("__id"),
        when(size(toks) >= k, concat_ws(" ", slice(toks, 1, k)))
          .as("prefix"))
      .filter(col("prefix").isNotNull)
      .groupBy(col("grp"), col("prefix"))
      .agg(count(lit(1)).as("n_docs"), min(col("__id")).as("min_doc_id"))
      .filter(col("n_docs") >= minDocs)
  }

  /** N-GRAM NOVELTY — per-document originality score: the fraction of
    * a doc's distinct word k-shingles that appear NOWHERE else in the
    * corpus (corpus df = 1). High novelty marks original prose worth
    * upweighting in a training mix; near-zero novelty marks template/
    * boilerplate documents whose every shingle is shared — the
    * corpus-level complement of the per-doc repetition score
    * ([[repetitionScore]] sees within-doc copying, this sees
    * across-doc commonness).
    *
    * Scale shape: the df=1 cut folds into ONE vocab-scale aggregate —
    * a df-1 shingle has exactly one owner, so `min(id)` IS that owner
    * and the postings never join back against the corpus: explode →
    * groupBy(shingle) with map-side partials → filter df=1 →
    * groupBy(owner) → one small left join onto per-doc counts. No
    * corpus-sized shuffle beyond the shingle aggregate every df-based
    * operator already pays. */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 3): DataFrame = {
    val sets = docs.select(col(idCol).as("id"),
        TF.shingleSet(col(textCol), k).as("sh"))
      .withColumn("n_shingles", size(col("sh")))
      .filter(col("n_shingles") > 0)
    val novel = sets.select(col("id"), explode(col("sh")).as("shingle"))
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"), min(col("id")).as("id"))
      .filter(col("df") === 1)
      .groupBy(col("id")).agg(count(lit(1)).as("n_novel"))
    sets.select(col("id").as(idCol), col("n_shingles").cast("long").as("n_shingles"))
      .join(novel.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_shingles").cast("double"))
  }

  /** (scheme, host, path, sorted-query) under the canonicalization
    * rules; every output is non-null for non-null input (no-match
    * regexp_extract is `''`, so garbage degrades, never nulls). */
  private def urlParts(url: Column): (Column, Column, Column, Column) = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    // strip userinfo (everything up to the LAST `@` in the authority —
    // the defensive parse) BEFORE www./port normalization: otherwise
    // `https://anything@blocked.example.com/` yields host
    // `anything@blocked.example.com` and sails past a blocklist entry
    // for `blocked.example.com` — the classic host-blocklist bypass
    val auth = regexp_replace(regexp_replace(
      lower(regexp_extract(rest, "^([^/?]*)", 1)), "^.*@", ""), "^www\\.", "")
    val host = when(scheme === "http", regexp_replace(auth, ":80$", ""))
      .when(scheme === "https", regexp_replace(auth, ":443$", ""))
      .otherwise(auth)
    val pathq = regexp_replace(rest, "^[^/?]*", "")
    val path = regexp_replace(regexp_extract(pathq, "^([^?]*)", 1), "/+$", "")
    val query = regexp_extract(pathq, "\\?(.*)$", 1)
    val params = filter(split(query, "&"), p =>
      p =!= "" && !p.rlike("^(utm_[^=]*|gclid|fbclid|ref)="))
    (scheme, host, path, array_join(array_sort(params), "&"))
  }
}
