package graft.operators

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling/splitting for training-data pipelines.
  *
  * Splits are keyed on a CONTENT hash, not a random number: the same
  * document always lands in the same split (reproducible across runs,
  * engines, and re-shards), and byte-identical duplicates can never
  * straddle train/test (the classic leakage bug that random splits
  * invite). Per-row expression — scan-speed at any scale, no RNG state.
  */
object Sampling {

  /** Bucket in [0, buckets) from the modular rolling content hash. */
  def contentBucket(textCol: Column, buckets: Int = 100): Column =
    pmod(TF.rollingFingerprint(textCol), lit(buckets.toLong))

  /** train/val/test label from content-hash buckets; `trainPct`+`valPct`
    * out of 100, remainder = test. */
  def contentSplit(textCol: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    val b = contentBucket(textCol, 100)
    when(b < trainPct, lit("train"))
      .when(b < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
  }

  /** Domain-MIXTURE sampling: down-sample each stratum (source/domain)
    * so the output approaches the target mixture `weights` (relative,
    * un-normalized) by DELETION ONLY — no stratum is up-sampled, so the
    * binding stratum (smallest n_s/w_s) keeps everything and every other
    * stratum keeps the per-mille prefix of its content-hash buckets.
    * This is the training-mixture rebalance step (e.g. The Pile / Dolma
    * style domain weights) made reproducible: selection is a pure
    * function of (content, stratum counts), stable across runs, engines
    * and re-sharding, and duplicates can never land on different sides.
    *
    * Cost model: one tiny count aggregate (|strata| rows, broadcast
    * back) + a scan-speed filter — the data itself never shuffles. At
    * 100 TB the counts come from the same pass or partition metadata.
    * Keeps per-stratum rate = floor(1000·w_s·K/n_s)/1000 with
    * K = min_s(n_s/w_s); per-mille granularity bounds the mixture error
    * at 0.1% of each stratum. Output carries the applied per-mille so
    * the decision is auditable. */
  def mixtureSample(df: DataFrame, strataCol: String, textCol: String,
                    weights: Map[String, Double],
                    defaultWeight: Double = 1.0): DataFrame = {
    val wt = weights.foldLeft(lit(defaultWeight)) { case (acc, (s, w)) =>
      when(col(strataCol) === s, lit(w)).otherwise(acc)
    }
    downsampleToWeights(df, strataCol, textCol, wt)
  }

  /** TOKEN-BUDGET mixture: keep, per stratum, the deterministic
    * content-hash-ordered prefix of documents whose CUMULATIVE
    * whitespace-token count stays under that stratum's budget — the
    * training-mix primitive when the recipe is "N tokens of source X",
    * not "p% of its documents" (token budgets are how real mixes are
    * specified; doc-rate sampling over-represents long-doc sources).
    * A document is kept iff the tokens BEFORE it (md5(text), id order —
    * content-keyed, so re-shards and engines agree; id breaks hash
    * ties) are under budget, so each stratum overshoots by at most one
    * document. Strata absent from `budgets` are DROPPED (a mix is an
    * explicit allowlist). One scan + one per-stratum running-sum window
    * — shuffle keyed on the stratum, scan-speed otherwise. */
  def tokenBudgetSample(df: DataFrame, idCol: String, strataCol: String,
                        textCol: String,
                        budgets: Map[String, Long]): DataFrame = {
    require(budgets.nonEmpty, "tokenBudgetSample: budgets must be non-empty")
    val toks = filter(split(lower(col(textCol)), " "), x => length(x) > 0)
    val budget = budgets.foldLeft(lit(null).cast("long")) {
      case (acc, (s, b)) => when(col(strataCol) === s, lit(b)).otherwise(acc)
    }
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col("__h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // NULL text carries no tokens and no hash order — dropped outright
    // (size(split(NULL)) is -1 in Spark: left in, each null row would
    // DECREMENT the running sum and silently extend the stratum budget)
    df.filter(col(textCol).isNotNull)
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("__h", md5(col(textCol)))
      .withColumn("__budget", budget)
      .filter(col("__budget").isNotNull)
      .withColumn("__cum_before",
        sum(col("n_tokens")).over(w) - col("n_tokens"))
      .filter(col("__cum_before") < col("__budget"))
      .drop("__h", "__budget", "__cum_before")
  }

  /** QUALITY-FIRST token budget — the production curation chain
    * (train a quality scorer, rank, spend the budget on the best):
    * [[tokenBudgetSample]]'s per-stratum running-sum cut, but ordered
    * by the TRAINED probe's score ([[QualityProbe.trainAndScore]] —
    * descending, id tiebreak) instead of the neutral content hash, so
    * each stratum's token budget goes to its highest-quality documents.
    * Same budget contract: kept iff the tokens BEFORE it are under
    * budget (≤ 1 doc overshoot); strata without a budget are dropped.
    * Scale shape: the probe adds one feature pass + per-iteration
    * scalar aggregates; the cut stays one stratum-keyed window. The
    * probe's 6-dp score is engine-stable, so the ordering (and the
    * oracle) reproduce exactly. */
  def probeBudgetSample(docs: DataFrame, idCol: String, strataCol: String,
                        textCol: String,
                        budgets: Map[String, Long]): DataFrame = {
    require(budgets.nonEmpty, "probeBudgetSample: budgets must be non-empty")
    val scored = QualityProbe.trainAndScore(docs, idCol, textCol)
      .select(col("doc_id").as("__pid"), col("probe_score"))
    val toks = filter(split(lower(col(textCol)), " "), x => length(x) > 0)
    val budget = budgets.foldLeft(lit(null).cast("long")) {
      case (acc, (s, b)) => when(col(strataCol) === s, lit(b)).otherwise(acc)
    }
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col("probe_score").desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.filter(col(textCol).isNotNull)
      .withColumn("n_tokens", size(toks).cast("long"))
      .join(scored, col(idCol) === col("__pid"))
      .withColumn("__budget", budget)
      .filter(col("__budget").isNotNull)
      .withColumn("__cum_before",
        sum(col("n_tokens")).over(w) - col("n_tokens"))
      .filter(col("__cum_before") < col("__budget"))
      .select(col(idCol), col(strataCol), col("probe_score"), col("n_tokens"))
  }

  /** TEMPERATURE sampling: rebalance strata toward relative weight
    * n_s^alpha (alpha in (0,1) flattens the natural distribution, the
    * multilingual/multi-domain "temperature" trick — alpha=1 is identity,
    * alpha=0 is uniform). Same deletion-only machinery as
    * [[mixtureSample]]: with alpha<1 the SMALLEST stratum binds and
    * keeps everything; a stratum m× larger keeps ~m^(alpha-1) of itself.
    * The weight is derived from the stratum's own observed count —
    * round(n^alpha, 6dp) so the oracle's pow reproduces it bit-stable. */
  def temperatureSample(df: DataFrame, strataCol: String, textCol: String,
                        alpha: Double): DataFrame =
    downsampleToWeights(df, strataCol, textCol,
      round(pow(col("n").cast("double"), lit(alpha)), 6))

  /** Hashed word-bigram feature buckets in [0, buckets) — the DSIR
    * feature map (Xie et al. 2023: importance resampling over hashed
    * n-gram features). OCCURRENCES, not the distinct set: the importance
    * model is a bag-of-buckets multinomial. Same modular polynomial
    * char hash as [[contentBucket]], so any engine replays it.
    *
    * Routed through the codegen'd single-pass expression
    * ([[graft.plans.HashedShingleBuckets]]); the declarative form —
    * `transform(TF.shingles(TF.words(text), 2), bg =>
    * pmod(TF.rollingFingerprint(bg), buckets))` — documents the exact
    * semantics the expression (and the DuckDB oracle) reproduces. The
    * nested interpreted lambdas made `explode` over this column
    * re-evaluate the whole chain per output row (measured 28× on the
    * importance-model count pass). */
  def bigramBuckets(textCol: Column, buckets: Int): Column =
    graft.plans.ShingleExpressions.hashedShingleBuckets(textCol, 2, buckets)

  /** DSIR-style IMPORTANCE SCORING: rank raw documents by how much more
    * likely their hashed-bigram features are under a TARGET domain's
    * bucket distribution than under the raw corpus's — the data-selection
    * step that tilts a 100 TB crawl toward a quality/target domain
    * without training a model. `isTarget` marks the in-domain rows
    * (e.g. `col("source") === "wiki"`); both multinomials use add-one
    * smoothing over the `buckets`-sized feature space, and a document's
    * score is the MEAN per-occurrence log-likelihood ratio (length-
    * normalized so long docs aren't favored), rounded to 6 dp.
    * `keep = score > 0` (more target-like than raw-average).
    *
    * Cost model (the 100 TB shape): one O(tokens) explode feeding a
    * `buckets`-key count aggregate (map-side partials collapse it to
    * ~buckets rows per partition), a `buckets`-row collect — the MODEL,
    * a few KB, the same metadata-scale pattern as the PQ codebooks —
    * and one scan-speed scoring pass with the model inlined as an array
    * literal: per-row sequential fold, no join, no shuffle, no UDF.
    * Docs with < 2 tokens have no features: score 0.0, keep = false.
    *
    * DETERMINISM: bucket counts are exact integers; the per-doc fold
    * adds the model's doubles in document order (both engines run the
    * identical sequential `aggregate`/`list_reduce`); ties cannot
    * straddle the rounded 6 dp boundary because the pre-round spacing
    * of IEEE sums of ~1e-1-magnitude logs is ~1e-15. */
  def importanceScores(df: DataFrame, idCol: String, textCol: String,
                       isTarget: Column, buckets: Int = 256): DataFrame = {
    require(buckets > 0 && buckets <= (1 << 20),
      "importanceScores: buckets must be in (0, 2^20]")
    val withB = df.select(col(idCol), isTarget.as("is_t"),
      bigramBuckets(col(textCol), buckets).as("bks"))
    val counts = withB.select(col("is_t"), explode(col("bks")).as("b"))
      .groupBy("b").agg(
        count(lit(1)).as("n_raw"),
        count(when(col("is_t"), 1)).as("n_t"))
      .collect()
    val nRaw = new Array[Long](buckets)
    val nT = new Array[Long](buckets)
    counts.foreach { r =>
      val b = r.getInt(0); nRaw(b) = r.getLong(1); nT(b) = r.getLong(2)
    }
    val totRaw = nRaw.sum.toDouble + buckets
    val totT = nT.sum.toDouble + buckets
    val logRatio: Seq[Double] = (0 until buckets).map(b =>
      math.log((nT(b) + 1.0) / totT) - math.log((nRaw(b) + 1.0) / totRaw))
    val model = typedLit(logRatio)
    val folded = aggregate(col("bks"), lit(0.0),
      (acc, b) => acc + element_at(model, b + lit(1)))
    withB.select(col(idCol),
        when(size(col("bks")) === 0, lit(0.0))
          .otherwise(round(folded / size(col("bks")).cast("double"), 6))
          .as("score"))
      .withColumn("keep", col("score") > 0.0)
  }

  /** Shared deletion-only rebalance core: `wtExpr` (evaluated over the
    * per-stratum count frame, `n` = stratum size) sets each stratum's
    * relative target; keep rate_s = floor(1000·w_s·K/n_s)/1000 with
    * K = min_s(n_s/w_s), applied as a content-hash per-mille prefix
    * filter — one |strata|-row aggregate broadcast back, zero data
    * shuffle. */
  private def downsampleToWeights(df: DataFrame, strataCol: String,
                                  textCol: String, wtExpr: Column): DataFrame = {
    val counts = df.groupBy(strataCol).agg(count(lit(1)).as("n"))
      .withColumn("wt", wtExpr)
    val kk = counts.agg(min(col("n").cast("double") / col("wt")).as("kk"))
    val permille = counts.crossJoin(broadcast(kk))
      .select(col(strataCol),
        least(floor(col("wt") * col("kk") * lit(1000.0) / col("n").cast("double"))
          .cast("long"), lit(1000L)).as("keep_permille"))
    df.join(broadcast(permille), Seq(strataCol))
      .filter(contentBucket(col(textCol), 1000) < col("keep_permille"))
  }
}
