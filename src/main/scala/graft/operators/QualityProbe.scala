package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** TRAINED quality probe — distills the rule-based quality gate
  * ([[TextAnalysis.qualityFilter]]) into a LINEAR scorer by running
  * full-batch least-squares gradient descent ON THE ENGINE, the
  * standard corpus-curation move (train a cheap classifier on a
  * labeled/heuristic signal, then score everything with one pass):
  * CCNet's fastText quality filter, GPT-3's WebText-vs-CommonCrawl LR
  * classifier, and the reference's quality gates all reduce to exactly
  * this shape. The rule gate gives each doc a 0/1 label; the probe
  * learns weights over the SAME bounded features and emits a
  * continuous score — unlike the rule, it ranks borderline documents
  * and transfers to corpora where the hand thresholds misfire.
  *
  * Training is a distributed full-batch loop: per iteration ONE
  * aggregate over the (checkpointed, per-doc) feature frame computes
  * the 6 gradient sums; the weight update is 6 scalars on the driver —
  * metadata-scale, the same justification as [[Graph.pageRank]]'s node
  * count. At 100 TB the feature frame is one narrow row per document
  * (the corpus-scale tokenize pass runs ONCE, at the checkpoint), and
  * each iteration is a map-side-partial aggregate of 6 decimal sums.
  *
  * DETERMINISM (the [[Graph.pageRank]] recipe): features round to
  * 6 dp; per-doc gradient terms round to 9 dp and sum as
  * DECIMAL(28,9) — exact in any aggregation order; each weight
  * re-rounds to 9 dp after the update. Every iteration's weight vector
  * is therefore bit-identical across partitionings, retries, and
  * engines — the DuckDB oracle replays the identical arithmetic as
  * unrolled CTEs and the gated output hash-matches.
  *
  * Features (all bounded, so lr=0.1 sits inside the 2/λmax stability
  * bound of the least-squares Hessian): intercept, log-length/10,
  * top-word fraction, duplicate-bigram fraction, |mean word len − 5|/10,
  * has-stopword. Label: the rule gate's keep flag. */
object QualityProbe {

  val DefaultIterations = 5
  val DefaultLr = 0.1

  private def round9(v: Double): Double =
    java.math.BigDecimal.valueOf(v)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue

  /** The per-doc feature/label frame `(doc_id, x1..x5, y)` — LAZY plan;
    * callers materialize once (copy-out) before the GD loop. */
  private def featureFrameRaw(docs: DataFrame, idCol: String,
                              textCol: String): DataFrame = {
    val m = TextAnalysis.qualityFilter(docs, idCol, textCol)
    m.select(col(idCol).as("doc_id"),
      (round(log(lit(1.0) + col("n_words").cast("double")), 6) / lit(10.0))
        .as("x1"),
      round(col("top_word_frac"), 6).as("x2"),
      round(col("dup_bigram_frac"), 6).as("x3"),
      (round(abs(col("mean_word_len") - lit(5.0)), 6) / lit(10.0)).as("x4"),
      col("has_stopword").cast("double").as("x5"),
      col("keep").cast("double").as("y"))
  }

  /** [[featureFrameRaw]] returned FILE-BACKED (eager copy-out) — the
    * corpus-scale tokenize pass runs exactly once. */
  private def featureFrame(docs: DataFrame, idCol: String,
                           textCol: String): DataFrame =
    Blocks.copyOut(featureFrameRaw(docs, idCol, textCol))

  /** Linear prediction under weights `w`, rounded to 9 dp — the term
    * order is FIXED (left-assoc chain) so the double arithmetic is
    * bit-identical to the oracle's rendition. */
  private def predict(w: Array[Double], prec: Int): Column =
    round(lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
      lit(w(3)) * col("x3") + lit(w(4)) * col("x4") + lit(w(5)) * col("x5"),
      prec)

  /** Train the probe: `iterations` rounds of exact-decimal full-batch
    * gradient descent from w=0. Internal — exposed for the spec's
    * hand-replay assertion. */
  private[graft] def trainWeights(feats: DataFrame, iterations: Int,
                                  lr: Double): Array[Double] = {
    require(iterations >= 1, "qualityProbe: iterations must be >= 1")
    require(lr > 0.0 && lr < 0.167,
      "qualityProbe: lr outside the GD stability bound for unit features")
    val n = feats.count()
    require(n > 0, "qualityProbe: empty corpus")
    val scale = lr * 2.0
    var w = Array.fill(6)(0.0)
    val dec = "decimal(28,9)"
    for (_ <- 1 to iterations) {
      val r = (col("y") - predict(w, 9)).as("r")
      val g = feats.select(col("x1"), col("x2"), col("x3"), col("x4"),
          col("x5"), r)
        .agg(
          sum(round(col("r"), 9).cast(dec)).as("g0"),
          sum(round(col("x1") * col("r"), 9).cast(dec)).as("g1"),
          sum(round(col("x2") * col("r"), 9).cast(dec)).as("g2"),
          sum(round(col("x3") * col("r"), 9).cast(dec)).as("g3"),
          sum(round(col("x4") * col("r"), 9).cast(dec)).as("g4"),
          sum(round(col("x5") * col("r"), 9).cast(dec)).as("g5"))
        .head()
      w = Array.tabulate(6) { j =>
        // a null gradient sum means every row's feature was null (the
        // sum skipped them all) — a corpus-contract violation that must
        // surface as a diagnosis, not a bare NullPointerException
        val gd = g.getDecimal(j)
        require(gd != null,
          s"qualityProbe: gradient sum g$j is NULL — every document's " +
            "feature/residual is null; the feature frame violates the " +
            "non-null contract")
        round9(w(j) + scale * gd.doubleValue / n)
      }
    }
    w
  }

  /** Train on the corpus, then score every document with the learned
    * weights: `(doc_id, rule_keep, probe_score, probe_keep)`. EAGER
    * contract: the feature pass and the training loop run here; the
    * returned frame is file-backed (reads the checkpointed features). */
  def trainAndScore(docs: DataFrame, idCol: String, textCol: String,
                    iterations: Int = DefaultIterations,
                    lr: Double = DefaultLr): DataFrame = {
    val feats = featureFrame(docs, idCol, textCol)
    val w = trainWeights(feats, iterations, lr)
    feats.select(col("doc_id"),
      (col("y") === 1.0).as("rule_keep"),
      predict(w, 6).as("probe_score"))
      .withColumn("probe_keep", col("probe_score") >= 0.5)
  }

  /** HELD-OUT-LABEL probe — the transfer form of [[trainAndScore]]: the
    * label comes from an EXTERNAL `labels` frame (`doc_id`, `y` 0/1) —
    * an expensive upstream signal (a perplexity-LM gate, a labeled
    * reference slice, an annotation table) — never from the rule gate's
    * own features→label loop. Training sees only rows where `holdout`
    * is false; the returned frame scores exactly the held-out rows:
    * `(doc_id, label_keep, rule_keep, probe_score, probe_keep)`. This
    * is the CCNet/GPT-3 curation shape: distill an expensive signal
    * into a cheap linear scorer, validated on documents the training
    * never saw. Same decimal-deterministic GD as [[trainAndScore]] —
    * the DuckDB oracle replays the split, the label join, and every
    * iteration bit for bit.
    *
    * Scale shape: ONE corpus tokenize pass (materialized), one
    * broadcast-friendly label equi-join, then the per-iteration
    * 6-decimal-sum aggregate over the train split — O(corpus) once +
    * O(train) per iteration, nothing driver-bound but the 6 scalars. */
  def trainAndScoreHoldout(docs: DataFrame, idCol: String, textCol: String,
                           labels: DataFrame, holdout: Column,
                           iterations: Int = DefaultIterations,
                           lr: Double = DefaultLr): DataFrame = {
    val joined = Blocks.copyOut(
      featureFrameRaw(docs, idCol, textCol)
        .withColumnRenamed("y", "y_rule")
        .join(labels.select(col("doc_id"),
          col("y").cast("double").as("y")), "doc_id"))
    val w = trainWeights(joined.filter(!holdout), iterations, lr)
    joined.filter(holdout).select(col("doc_id"),
      (col("y") === 1.0).as("label_keep"),
      (col("y_rule") === 1.0).as("rule_keep"),
      predict(w, 6).as("probe_score"))
      .withColumn("probe_keep", col("probe_score") >= 0.5)
  }
}
