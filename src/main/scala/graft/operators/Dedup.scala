package graft.operators

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.plans.{SetExpressions, SketchExpressions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline surface: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design (the whole point of each variant):
  *  - exact: one hash-aggregate shuffle on the dedup key. At 100 TB the
  *    map-side partial aggregation collapses duplicates before the
  *    exchange, so the shuffle carries ~|distinct| rows.
  *  - minhash/simhash: O(n) signature computation + a self-join that only
  *    touches LSH-bucket collisions — never the O(n²) pair space. The
  *    band/bucket join shuffles on (band, signature), and exact
  *    verification runs only on candidates.
  *  - ngram-jaccard: exact semantics, but candidate generation via a
  *    shared-shingle join (a pair with Jaccard ≥ t shares ≥ 1 shingle), so
  *    it is still join-shaped, not cross-join-shaped. Hot shingles are
  *    capped (stop-shingle cut) to bound skew — the standard trick for
  *    web-scale exact-verify dedup.
  *  - embedding: pairwise cosine restricted by a cheap blocking key when
  *    requested; the exact all-pairs form is for oracle-scale data and
  *    recall baselines.
  */
object Dedup {

  /** Exact dedup: one representative (min id) + multiplicity per key. */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** HOST/URL-keyed exact dedup — the first pass of a web-corpus dedup
    * recipe (the CCNet/RefinedWeb-style cheap cut before any banded
    * near-dup pass): normalize the text (NFC, strip control/format
    * chars, collapse whitespace — graft.plans.NormalizeExpressions) and
    * dedup EXACTLY within each host on the normalized content. One
    * representative (min id) + multiplicity per (host, content) key.
    *
    * Scale shape: the host rides the dedup key, so the hash aggregate
    * co-partitions by host for free and map-side partial aggregation
    * collapses same-host mirrors before the exchange — the shuffle
    * carries ~|distinct (host, content)| rows, and a single hot host
    * spreads over the content half of the key instead of hot-spotting
    * one partition. Cross-host near-dups are the banded passes' job. */
  def exactByHostKey(df: DataFrame, idCol: String, hostCol: String,
                     textCol: String): DataFrame =
    df.select(col(idCol), col(hostCol).as("host"),
        TF.normalizeText(col(textCol)).as("norm"))
      .groupBy(col("host"), col("norm"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col("host"), col(idCol), col("n_copies"))

  /** Near-dup CLUSTER QUALITY REPORT — the curation reporting surface
    * over [[canonicalize]]'s output: the cluster-size distribution (how
    * much of the corpus is duplicated, at what multiplicity) with the
    * representative-selection policy made auditable (canonical = the
    * component min; each size bucket carries its smallest canonical id
    * as a spot-check handle). Two metadata-scale hash aggregates over
    * the (id → canonical) map — nothing corpus-sized. */
  def clusterReport(canonicalMap: DataFrame): DataFrame =
    canonicalMap.groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        min(col("canonical_id")).as("min_canonical_id"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .select("cluster_size", "n_clusters", "n_docs", "min_canonical_id")

  /** Shingle sets per doc: (id, shingles array, size). */
  private[graft] def withShingleSets(docs: DataFrame, idCol: String, textCol: String,
                                     k: Int): DataFrame =
    docs.select(col(idCol),
      TF.shingleSet(col(textCol), k).as("sh"))
      .withColumn("sh_n", size(col("sh")))
      .filter(col("sh_n") > 0)

  /** The shingle-set frame `(idCol, sh, sh_n)` as ONE eager local
    * checkpoint enrolled in the caller's [[Blocks.scope]] — the leaf the
    * PPJoin plan reads on its postings side and on both exact-verify
    * sides. Materialized once, so the per-row shingle pass runs once per
    * call instead of once per consumer (at 100 TB: two redundant
    * full-corpus scans). A checkpoint rather than `persist`: its
    * `LogicalRDD` leaf is the same RDD in every subtree, so AQE reuses
    * the identical prefix-side and verify-side exchanges built over it
    * (`ReusedExchange` in the executed plan), where the
    * `InMemoryRelation` of a persisted frame left both sides to run in
    * full. */
  private def shingleSetLeaf(docs: DataFrame, idCol: String, textCol: String,
                             k: Int): DataFrame =
    Blocks.scoped(withShingleSets(docs, idCol, textCol, k).localCheckpoint(true))

  /** Exact n-gram (word k-shingle) Jaccard near-dup pairs, candidate
    * generation by shared shingle. Emits (id_a, id_b, jaccard) for
    * jaccard >= threshold, id_a < id_b. Exact: a pair at threshold > 0
    * must share a shingle, so the shingle join loses nothing.
    *
    * The shingle sets are one checkpointed leaf ([[shingleSetLeaf]])
    * shared by the postings branch and both verify sides. The SMALL
    * verified pair set is copied out of the block manager (disk
    * checkpoint) and every block this call materialized is released
    * before it returns, so the returned frame is file-backed and pins
    * zero executor storage (BlockRetentionSpec).
    *
    * EAGER contract: this call MATERIALIZES at call time (the leaf
    * checkpoints and the copy-out jobs run here, not at the caller's
    * first action); the returned frame is already file-backed — callers
    * must not re-persist or re-checkpoint it. [[canonicalize]] does not
    * go through here: it collects the verified pairs once instead of
    * copying them out. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, threshold: Double = 0.8,
                        stopShingleFraction: Double = 0.05,
                        maxDensePairs: Long = 10000000L): DataFrame =
    // the release scope frees the blocks this call materialized (the
    // shingle-set leaf and the candidate generator's dfreq): ONLY this
    // thread's enrollments are touched, so a concurrent streaming
    // micro-batch's checkpoints are safe
    Blocks.scope {
      Blocks.copyOut(
        ngramJaccardPairsFromSets(shingleSetLeaf(docs, idCol, textCol, k),
          idCol, threshold, stopShingleFraction, maxDensePairs))
    }

  /** ⌈t·n⌉ guarded against float round-up (0.8·35 = 28.000…004 must not
    * become 29 — a too-large bound would shrink a prefix below what the
    * lemma needs). Rounding DOWN by ε only lengthens prefixes / widens
    * the length filter — always safe. */
  private def ceilT(t: Double, n: Column): Column =
    ceil(n * t - lit(1e-9)).cast("int")

  /** The verified-pair plan of [[ngramJaccardPairs]], lazy, over an
    * already-materialized shingle-set frame `(idCol, sh, sh_n)` — the
    * [[shingleSetLeaf]] its three consumers (postings + both exact-verify
    * sides) share. */
  private[operators] def ngramJaccardPairsFromSets(
      sets: DataFrame, idCol: String, threshold: Double,
      stopShingleFraction: Double = 0.05,
      maxDensePairs: Long = 10000000L): DataFrame = {
    val candidates = ngramJaccardCandidates(sets, idCol, threshold,
      stopShingleFraction, maxDensePairs)
    verifyPairs(candidates, sets, idCol, threshold)
  }

  /** DEDUP-POLICY THRESHOLD SWEEP — the dup-rate curve a corpus owner
    * reads before PICKING a near-dup threshold: for each candidate
    * threshold, how many qualifying pairs exist and how many documents
    * participate in at least one. Choosing a policy by running the full
    * near-dup join once per candidate threshold is the naive shape; at
    * 100 TB each run re-pays the corpus-scale shingle pass, the postings
    * aggregate, and the candidate join. This sweep pays them ONCE:
    * candidates are generated at the LOOSEST threshold (the PPJoin
    * prefix at t_min is a superset of every prefix at t ≥ t_min, so
    * recall is exact for the whole sweep), each candidate pair is
    * verified to its exact Jaccard once, and the per-threshold rollup is
    * metadata-scale work over the verified pair set (pairs × |sweep|
    * rows). Thresholds with zero qualifying pairs still get a row
    * (n_pairs = 0) — a sweep that silently dropped the strict end would
    * read as "no data", not "no dups".
    *
    * Output: (threshold, n_pairs, n_dup_docs, n_docs) per sweep point,
    * ordered by threshold — n_docs rides along so the dup-doc fraction
    * is a consumer-side division, not a stored rounded double.
    * Same eager/file-backed contract as [[ngramJaccardPairs]]. */
  def thresholdSweep(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 3,
                     thresholds: Seq[Double] = Seq(0.7, 0.8, 0.9),
                     stopShingleFraction: Double = 0.05,
                     maxDensePairs: Long = 10000000L): DataFrame = {
    require(thresholds.nonEmpty, "thresholdSweep: empty threshold sweep")
    require(thresholds.forall(t => t > 0.0 && t <= 1.0),
      "thresholdSweep: thresholds must be in (0, 1]")
    val spark = docs.sparkSession
    import spark.implicits._
    val pairs = Blocks.scope {
      Blocks.copyOut(
        ngramJaccardPairsFromSets(shingleSetLeaf(docs, idCol, textCol, k),
          idCol, thresholds.min, stopShingleFraction, maxDensePairs))
    }
    // everything below is arithmetic over the SMALL verified pair set —
    // and stays PAIR-SCALE regardless of sweep width: both rollups are
    // single-pass CONDITIONAL aggregations (one per-threshold sum each),
    // never a pairs × |sweep| expansion (the earlier crossJoin shape
    // materialized that product twice — pair counts AND exploded doc
    // rows — which belied the metadata-scale contract for wide sweeps)
    sweepRollup(pairs, col("jaccard"),
      explode(array(col("id_a"), col("id_b"))), "n_dup_docs",
      thresholds, docs)
  }

  /** Shared per-threshold rollup for the sweep family: one conditional
    * aggregation over the verified pairs (n_pairs per threshold) and one
    * over the per-doc best score (participating docs per threshold — a
    * doc participates at t iff its BEST pair ≥ t, so one doc-grain max
    * pass replaces any per-threshold explode+distinct), then the corpus
    * count broadcast alongside. Pair-scale regardless of sweep width —
    * never a pairs × |sweep| expansion. */
  private def sweepRollup(pairs: DataFrame, score: Column, docSide: Column,
                          docCountName: String, thresholds: Seq[Double],
                          docs: DataFrame): DataFrame = {
    val tS = thresholds.sorted
    def sweepCounts(src: DataFrame, v: Column): DataFrame = {
      val aggs = tS.zipWithIndex.map { case (t, i) =>
        coalesce(sum(when(v >= t, 1L)), lit(0L)).as(s"c$i") }
      src.agg(aggs.head, aggs.tail: _*)
        .selectExpr(s"stack(${tS.size}, " +
          tS.zipWithIndex.map { case (t, i) =>
            s"CAST($t AS DOUBLE), c$i" }.mkString(", ") +
          ") as (threshold, n)")
    }
    val pairCounts = sweepCounts(pairs, score)
      .withColumnRenamed("n", "n_pairs")
    val docBest = pairs
      .select(docSide.as("doc"), score.as("__s"))
      .groupBy("doc").agg(max(col("__s")).as("bs"))
    val docCounts = sweepCounts(docBest, col("bs"))
      .withColumnRenamed("n", docCountName)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    pairCounts.join(docCounts, Seq("threshold"))
      .crossJoin(broadcast(nDocs))
      .select(col("threshold"), col("n_pairs"), col(docCountName),
        col("n_docs"))
      .orderBy(col("threshold"))
  }

  /** CONTAINMENT-policy threshold sweep — [[thresholdSweep]]'s ordered
    * twin over [[containmentPairs]] semantics (|A∩B| / |A| ≥ t: the
    * quote-expansion shape Jaccard under-scores). Same one-candidate-pass
    * argument: the a-side prefix at t_min (length n − ⌈t_min·n⌉ + 1) is a
    * SUPERSET of every prefix at t ≥ t_min, so candidates generated once
    * at the loosest threshold have exact recall for the whole sweep; each
    * candidate's containment is verified once and the per-threshold
    * rollup is a conditional aggregation. `n_contained_docs` counts docs
    * participating as the CONTAINED (a) side. */
  def containmentSweep(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 3,
                       thresholds: Seq[Double] = Seq(0.7, 0.8, 0.9)): DataFrame = {
    require(thresholds.nonEmpty, "containmentSweep: empty threshold sweep")
    require(thresholds.forall(t => t > 0.0 && t <= 1.0),
      "containmentSweep: thresholds must be in (0, 1]")
    val pairs = containmentPairs(docs, idCol, textCol, k, thresholds.min)
    sweepRollup(pairs, col("containment"), col("id_a"),
      "n_contained_docs", thresholds, docs)
  }

  /** WEIGHTED-Jaccard threshold sweep over [[weightedJaccardPairs]]
    * semantics (multiset Σmin/Σmax — catches the repetition padding set
    * Jaccard scores ~1). Candidate generation there is threshold-FREE
    * (the df ≥ 2 postings self-join; the threshold only gates the final
    * filter), so one verified pass at t_min covers the sweep exactly;
    * the rollup is the shared conditional aggregation. */
  def weightedJaccardSweep(docs: DataFrame, idCol: String, textCol: String,
                           k: Int = 3,
                           thresholds: Seq[Double] = Seq(0.7, 0.8, 0.9),
                           maxCandidatePairs: Long = 10000000L): DataFrame = {
    require(thresholds.nonEmpty, "weightedJaccardSweep: empty threshold sweep")
    require(thresholds.forall(t => t > 0.0 && t <= 1.0),
      "weightedJaccardSweep: thresholds must be in (0, 1]")
    val pairs = weightedJaccardPairs(docs, idCol, textCol, k,
      thresholds.min, maxCandidatePairs)
    sweepRollup(pairs, col("jaccard"),
      explode(array(col("id_a"), col("id_b"))), "n_dup_docs",
      thresholds, docs)
  }

  /** Candidate (id_a, id_b) pairs of the stop-shingle-aware PPJoin+
    * self-join — factored out so the blocking-budget spec can AUDIT the
    * fan-out blocking actually produces (candidates ≪ all-pairs),
    * mirroring `EntityResolution.fuzzyJoin`'s candidate sink.
    *
    * Blocking design (exact at every threshold — candidates only bound
    * cost, verification decides membership):
    *  - STOP-SHINGLE cut, SCALE-INVARIANT: shingles whose df exceeds
    *    `stopShingleFraction` of the corpus are COMMON and excluded from
    *    candidate generation. A fixed absolute df cap is scale-variant:
    *    growing the corpus N× grows every df N× while staying under the
    *    cap, so per-shingle join fan-out grows N² — measured quadratic
    *    at the ×8 synth corpus before this rewrite. With a fractional
    *    cut the classification is invariant under corpus growth, and the
    *    number of common shingles is bounded by avgShingles/fraction
    *    regardless of corpus size.
    *  - Per doc, u = its common-shingle count; a qualifying partner must
    *    still produce ρ = ⌈t·n⌉ − u overlap among RARE shingles. Docs
    *    with ρ ≥ 1 keep a rare-shingle PREFIX of length m − ρ + 1 (m =
    *    rare count), ordered by ascending df — the PPJoin lemma puts a
    *    shared rare shingle of any qualifying pair inside both prefixes.
    *    Docs with ρ ≤ 0 ("dense": could match on stop-shingles alone)
    *    are cross-checked pairwise behind the fail-loud `maxDensePairs`
    *    budget; their rare prefixes stay in play (clamped ρ = 1 ⇒ full
    *    rare set), so dense×non-dense pairs are caught by the prefix
    *    join (the non-dense side has ρ ≥ 1 ⇒ witness in both prefixes).
    *  - df=1 postings drop before the per-doc rank (they can never be
    *    shared): survivors only move EARLIER in the order, and m / the
    *    prefix bound use the full rare count, so every original-prefix
    *    shingle is still kept — exactness survives, and on long-tail
    *    corpora the singleton shingles are the bulk of the postings.
    *  - Candidate join applies the symmetric PPJoin LENGTH filter
    *    (min(n) ≥ ⌈t·max(n)⌉) and the PPJoin+ POSITIONAL filter: a match
    *    at rare ranks (rn_a, rn_b) bounds the rare overlap by
    *    min(m−rn)+1; below max(ρ_a, ρ_b) the match cannot witness a
    *    qualifying pair. Exact: the pair's FIRST shared rare shingle has
    *    every shared shingle at-or-after it on both sides, so that
    *    match's bound ≥ true rare overlap ≥ ρ — the pair always survives
    *    via its first witness. (Ranks are computed after the df=1 cut,
    *    which only shrinks rn — the bound gets looser, never unsound.)
    *
    * 100 TB shape: one postings aggregate (shingle-vocab-scale), one
    * rank shuffle on id, a candidate join whose per-shingle fan-out is
    * df² only for df ≤ fraction·N prefix survivors, and a dense cross
    * that REFUSES (raise_error inside the plan) past the budget instead
    * of running a silent quadratic.
    *
    * Everything — the corpus count behind the fractional cut, the dense
    * budget check — lives in ONE lazy plan: the corpus count and the
    * dense count ride broadcast single-row aggregates, and the budget
    * refusal is a raise_error branch on the dense rows. No driver-side
    * action runs here, so the postings aggregate is evaluated once (AQE
    * exchange reuse shares it between the prefix join and the dense
    * branch) instead of once per auxiliary count — measured ~2× on the
    * gated sf0.1 entry vs the count-then-plan form. */
  private[graft] def ngramJaccardCandidates(
      sets: DataFrame, idCol: String, threshold: Double,
      stopShingleFraction: Double = 0.05,
      maxDensePairs: Long = 10000000L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "ngramJaccard: threshold must be in (0, 1]")
    require(stopShingleFraction > 0.0 && stopShingleFraction <= 1.0,
      "ngramJaccard: stopShingleFraction must be in (0, 1]")
    // corpus size for the fractional cut, as a broadcast scalar inside
    // the plan (a driver-side count() would be an extra job per call)
    val nDocsRow = broadcast(sets.agg(count(lit(1)).as("n_docs")))
    val postings = sets.select(col(idCol).as("id"), col("sh_n").as("n"),
      explode(col("sh")).as("shingle"))
    // dfreq is VOCAB-scale (df>=2 shingles only) and consumed by four
    // subtrees (the prefix-join enrichment, the dense broadcast, the
    // dense budget count, and the dense cross) — the broadcast subtrees
    // are separate AQE jobs that do NOT share the shuffle exchange, so
    // without materialization each re-runs the postings aggregate
    // (measured: 8 concurrent ~1.3 s broadcast-build jobs). One eager
    // localCheckpoint pins it, enrolled with the caller's thread-confined
    // release scope (Blocks.scope in ngramJaccardPairs) so its blocks are
    // freed when the copied-out result exists.
    val dfreq = Blocks.scoped(
      postings.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2)
        .crossJoin(nDocsRow)
        .withColumn("is_common", col("df") > greatest(lit(2L),
          ceil(lit(stopShingleFraction) * col("n_docs")).cast("long")))
        .drop("n_docs")
        .localCheckpoint(true))
    val byId = Window.partitionBy(col("id"))
    // u rides a window over the SAME id partition the rank needs — no
    // extra shuffle; df=1 postings (inner-join losses) count into m via
    // n − u, never via surviving row count
    val enriched = postings.join(dfreq, "shingle")
      .withColumn("u", sum(when(col("is_common"), 1).otherwise(0)).over(byId))
      .withColumn("rho_raw", ceilT(threshold, col("n")) - col("u"))
      .withColumn("m", col("n") - col("u"))
    val rare = enriched.filter(!col("is_common"))
      .withColumn("rn", row_number().over(
        byId.orderBy(col("df"), col("shingle"))))
    val prefix = rare
      .filter(col("rn") <= col("m") - greatest(lit(1), col("rho_raw")) + 1)
      .select(col("id"), col("n"), col("shingle"), col("rn"), col("m"),
        greatest(lit(1), col("rho_raw")).as("rho"))

    val lenOk = least(col("n_a"), col("n_b")) >=
      ceilT(threshold, greatest(col("n_a"), col("n_b")))
    val positionalOk = least(col("m_a") - col("rn_a"),
      col("m_b") - col("rn_b")) + 1 >= greatest(col("rho_a"), col("rho_b"))
    val pl = prefix.select(col("id").as("id_a"), col("n").as("n_a"),
      col("shingle"), col("rn").as("rn_a"), col("m").as("m_a"),
      col("rho").as("rho_a"))
    val pr = prefix.select(col("id").as("id_b"), col("n").as("n_b"),
      col("shingle"), col("rn").as("rn_b"), col("m").as("m_b"),
      col("rho").as("rho_b"))
    // identical subplans both shuffling on `shingle` over the one
    // checkpointed shingle-set leaf — AQE reuses the exchange
    // (ReusedExchange), so the window pipeline evaluates once, not twice.
    // Over a persisted leaf (InMemoryRelation) it did not: both sides ran
    val candPrefix = pl.join(pr, Seq("shingle"))
      .filter(col("id_a") < col("id_b") && lenOk && positionalOk)
      .select("id_a", "id_b")

    // dense docs (could match on stop-shingles alone): u ≥ ⌈t·n⌉ needs
    // only the COMMON postings, and the common-shingle set is bounded by
    // avgShingles/fraction rows at ANY corpus size — so this is a cheap
    // broadcast-semi-join aggregate over the cached sets, NOT another
    // run of the window pipeline. Empty on natural corpora at near-dup
    // thresholds (a dense doc is ≥ t stop-shingles by mass), so the
    // common case pays one light count job and skips the checkpoint.
    val dense = postings
      .join(broadcast(dfreq.filter(col("is_common")).select("shingle")),
        "shingle")
      .groupBy("id", "n").agg(count(lit(1)).as("u"))
      .filter(ceilT(threshold, col("n")) <= col("u"))
      .select(col("id"), col("n"))
    // Budget refusal INSIDE the plan: each dense row is checked against
    // the broadcast dense count before it may join — past the budget the
    // job fails with the message below instead of running a silent
    // quadratic. An empty dense set never evaluates the check (no rows),
    // which is exactly right: 0 docs cross to 0 pairs.
    val denseCount = broadcast(dense.agg(count(lit(1)).as("n_dense")))
    val budgetOk = col("n_dense") * (col("n_dense") - 1) / 2 <= maxDensePairs
    val denseChecked = dense.crossJoin(denseCount)
      .filter(when(budgetOk, lit(true)).otherwise(raise_error(concat(
        lit("ngramJaccard: dense-record cross of "), col("n_dense"),
        lit(s" docs exceeds maxDensePairs=$maxDensePairs — raise the " +
          "threshold, lower stopShingleFraction, or raise the budget " +
          "explicitly")))))
      .select(col("id"), col("n"))
    val candDense = denseChecked
      .select(col("id").as("id_a"), col("n").as("n_a"))
      .join(broadcast(
        denseChecked.select(col("id").as("id_b"), col("n").as("n_b"))),
        col("id_a") < col("id_b") && lenOk)
      .select("id_a", "id_b")

    candPrefix.unionByName(candDense).distinct()
  }

  /** Connected components over near-dup pairs → cluster labels: each node
    * gets the MIN id reachable in its component, as `(id, label)` over
    * `nodes` ∪ edge endpoints.
    *
    * Small graphs (long ids, at most `driverMaxEdges` distinct edges) are
    * labeled on the driver: ONE bounded `limit(driverMaxEdges + 1)`
    * collect of the distinct edges, union-find, and the endpoint labels
    * returned as a local relation beside the isolated nodes — the steady
    * state of the incremental callers (contracted label graphs are
    * O(batch pairs), a few hundred edges per maintenance epoch), where
    * the loop below is pure fixed overhead. Lazy: the returned frame
    * re-reads `nodes` and holds no blocks.
    *
    * Past the bound (or for non-long ids) the distributed loop runs:
    * each round does (a) one hop of min-label propagation over edges and
    * (b) a POINTER-DOUBLING shortcut (jump to the label's own label),
    * which halves the remaining chain depth — convergence in
    * O(log diameter) rounds, the same round-complexity family as
    * large-star/small-star. The driver loop only checks a changed-count
    * per round (no data collect). Its result is copied out to a reliable
    * checkpoint and holds no blocks either (BlockRetentionSpec).
    *
    * Throws IllegalStateException if the loop hits `maxIter` while labels
    * are still changing — a silent early exit would keep multiple
    * "canonical" ids for one component and leave duplicates in the
    * output with no error. With doubling, maxIter=10 covers any
    * diameter up to ~2^10; real dedup clusters converge in 2-3 rounds. */
  def connectedComponents(pairs: DataFrame, nodes: DataFrame,
                          idCol: String, maxIter: Int = 10,
                          driverMaxEdges: Long = 100000L): DataFrame =
    driverComponents(pairs.select(col("id_a"), col("id_b")).distinct(),
        driverMaxEdges) match {
      case Some((ids, labels)) =>
        val spark = pairs.sparkSession
        import scala.jdk.CollectionConverters._
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("label",
            org.apache.spark.sql.types.LongType, nullable = false)))
        val endpointLabels = spark.createDataFrame(
          ids.indices.map(i =>
            org.apache.spark.sql.Row(ids(i), labels(i)): org.apache.spark.sql.Row)
            .asJava, schema)
        // isolated nodes (no edge) are their own canonical; endpoint
        // labels ride a local relation, so the anti-join broadcasts
        nodes.select(col(idCol).cast("long").as("id")).distinct()
          .join(endpointLabels.select(col("id")), Seq("id"), "left_anti")
          .select(col("id"), col("id").as("label"))
          .unionByName(endpointLabels)
      case None => componentsLoop(pairs, nodes, idCol, maxIter)
    }

  /** Union-find on the driver over at most `driverMaxEdges` rows of
    * `edges (id_a, id_b)`: the sorted endpoint ids and, index for index,
    * their component-min labels. ONE bounded collect
    * (`limit(driverMaxEdges + 1)`); None when the ids are not longs or
    * the edges exceed the bound. Union roots always keep the component
    * MIN, so the labels equal [[componentsLoop]]'s. */
  private def driverComponents(edges: DataFrame,
                               driverMaxEdges: Long): Option[(Array[Long], Array[Long])] =
    if (edges.schema("id_a").dataType != org.apache.spark.sql.types.LongType) None
    else {
      val es = edges.limit(math.min(driverMaxEdges + 1, Int.MaxValue.toLong).toInt)
        .collect()
      if (es.length > driverMaxEdges) None
      else {
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) {
            val n = parent(c); parent(c) = r; c = n
          }
          r
        }
        es.foreach { e =>
          val (ra, rb) = (find(e.getLong(0)), find(e.getLong(1)))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val ids = es.flatMap(e => Array(e.getLong(0), e.getLong(1))).distinct.sorted
        Some((ids, ids.map(find)))
      }
    }

  /** The distributed min-label loop of [[connectedComponents]]. */
  private def componentsLoop(pairs: DataFrame, nodes: DataFrame, idCol: String,
                             maxIter: Int): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct().persist()
    // Label universe = nodes ∪ edge endpoints: an endpoint missing from
    // `nodes` must still relay labels (and appear in the output) — the
    // per-round convergence join keys on this universe, so an id outside
    // it would silently drop and could SPLIT a component.
    var labels = nodes.select(col(idCol).as("id"))
      .unionAll(edges.select(col("src").as("id")))
      .distinct()
      .select(col("id"), col("id").as("label")).persist()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val prev = labels.select(col("id"), col("label"))
      val oneHop = prev.join(edges, col("id") === col("src"))
        .select(col("dst").as("id"), col("label"))
        .unionAll(prev)
        .groupBy("id").agg(min(col("label")).as("label"))
      // shortcut: label ← label(label). Labels are always node ids, so the
      // self-join hits; left+coalesce guards the root (label = own id).
      // localCheckpoint truncates lineage: the self-join references the
      // round's plan twice, so without truncation the logical plan doubles
      // every round (exponential planning/OOM). On a real cluster swap in
      // checkpoint(dir) for executor-loss resilience.
      val byId = oneHop.select(col("id").as("pid"), col("label").as("plabel"))
      // the changed flag is stamped INSIDE the checkpointed plan: the
      // convergence check then reads the materialized blocks directly —
      // one job per round, not a checkpoint job plus a compare-join job
      val doubled = oneHop.join(byId, col("label") === col("pid"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("plabel"), col("label"))).as("label"))
        .join(prev.select(col("id"), col("label").as("old")), "id")
        .select(col("id"), col("label"), (col("label") =!= col("old")).as("chg"))
        .localCheckpoint(true)
      changed = doubled.filter(col("chg")).count()
      Blocks.release(labels)
      labels = doubled
      iter += 1
    }
    edges.unpersist()
    if (changed > 0) {
      Blocks.release(labels)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($changed labels still changing) — raise maxIter")
    }
    // Copy the final labels OUT of the block manager (reliable disk
    // checkpoint) and free the last round's blocks: the returned frame
    // must pin ZERO executor storage — repeated canonicalize passes in
    // one long-lived session would otherwise grow storage memory
    // monotonically (no caller can free an eager localCheckpoint without
    // destroying the result it was handed). Labels cover only the
    // edge-touched subgraph, so the copied artifact is dup-cluster-sized,
    // not corpus-sized. Pinned by BlockRetentionSpec.
    val out = Blocks.copyOut(labels.select(col("id"), col("label")))
    Blocks.release(labels)
    out
  }

  /** The actual corpus dedup: every doc labeled with the canonical
    * (minimum) id of its near-dup cluster; docs with no near-dup are
    * their own canonical. Filtering `id = canonical_id` keeps one
    * representative per cluster.
    *
    * EAGER contract: the pairs are computed at call time, over one
    * [[shingleSetLeaf]] checkpoint, and (for long ids) collected ONCE by
    * a bounded `limit(driverMaxEdges + 1)` collect; union-find labels
    * them on the driver and the labels ride into the plan as literals
    * (the sorted endpoint ids and their labels), looked up per doc by a
    * binary-search kernel. The returned frame is a scan of `docs` plus
    * one projection: no join, no pair files, and no blocks — every block
    * the call materialized is released before it returns. Above the
    * bound (or for non-long ids) the pairs are copied out and the
    * distributed connected-components loop labels them, as in
    * [[connectedComponents]]; the result is then file-backed. */
  def canonicalize(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, threshold: Double = 0.8): DataFrame =
    canonicalizeBounded(docs, idCol, textCol, k, threshold, driverMaxEdges = 100000L)

  /** [[canonicalize]] with the driver union-find bound exposed, so specs
    * can drive the distributed path on a small corpus. */
  private[graft] def canonicalizeBounded(docs: DataFrame, idCol: String,
                                         textCol: String, k: Int, threshold: Double,
                                         driverMaxEdges: Long): DataFrame =
    Blocks.scope {
      val pairs = ngramJaccardPairsFromSets(shingleSetLeaf(docs, idCol, textCol, k),
        idCol, threshold)
      driverComponents(pairs.select("id_a", "id_b"), driverMaxEdges) match {
        case Some((ids, labels)) =>
          docs.select(col(idCol), SetExpressions.sortedLookup(col(idCol),
            ids, labels).as("canonical_id"))
        case None =>
          val filed = Blocks.copyOut(pairs)
          // CC only over the TOUCHED subgraph (nodes with >= 1 near-dup
          // edge): O(rounds x dup-docs), not O(rounds x corpus).
          // Untouched docs become their own canonical via the left join
          // below (the small label set broadcasts).
          val touched = filed.select(col("id_a").as("id"))
            .unionAll(filed.select(col("id_b").as("id"))).distinct()
          val labels = componentsLoop(filed, touched, "id", maxIter = 10)
            .withColumnRenamed("id", idCol)
          docs.select(col(idCol))
            .join(labels, Seq(idCol), "left")
            .select(col(idCol),
              coalesce(col("label"), col(idCol)).as("canonical_id"))
      }
    }

  /** INCREMENTAL canonicalization — maintain the canonical-id map from a
    * batch pair stream instead of re-running [[canonicalize]] over the
    * lake: `prevMap` is the persisted (id → canonical_id) map of
    * everything ingested so far, `newDocs` an arriving batch, `newPairs`
    * its near-dup pairs against the accumulated corpus (the
    * [[incrementalNearDupPairs]] / StreamingDedup pair-log output). The
    * returned map is what one-shot [[canonicalize]] over the union would
    * produce — folding batches converges to the batch semantics. Gated by
    * the driver's `dedup_canonical_incremental` entry (3-batch fold vs
    * the one-shot recursive-closure oracle); fold/re-delivery/guard
    * behavior in CanonicalDedupSpec; the streaming deployment is
    * `StreamingDedup.maintainCanonical` (delta epochs over the committed
    * pair log, exactly-once across crash replay — StreamingDedupSpec).
    *
    * Scale shape (the `pipe_keyed_view` contract — O(changes + touched),
    * never O(corpus) shuffles): the batch's pairs are CONTRACTED onto
    * current canonical labels (each previous canonical id is already the
    * min of its component, so CC only runs on the tiny touched-label
    * graph), and the map update is ONE corpus-map scan with a BROADCAST
    * remap join (old label → merged root) plus one map-side-filtered
    * scan to fetch the batch-relevant prior entries — no shuffle ever
    * touches the full map. Re-delivered doc ids keep their existing
    * entries; self-pairs and already-merged pairs contract away. A pair
    * endpoint in neither `prevMap` nor `newDocs` fails loud (it would
    * silently split a component): the caller's pair stream references an
    * id that was never ingested. */
  def canonicalizeIncremental(prevMap: DataFrame, newDocs: DataFrame,
                              newPairs: DataFrame, idCol: String): DataFrame = {
    val (newEntries, rootMap) =
      incrementalCanonicalParts(prevMap, newDocs, newPairs, idCol)
    // the map update: one scan, broadcast remap, no shuffle
    prevMap.unionByName(newEntries)
      .join(broadcast(rootMap), col("canonical_id") === col("old_label"), "left")
      .select(col(idCol),
        coalesce(col("new_label"), col("canonical_id")).as("canonical_id"))
  }

  /** The DELTA form of [[canonicalizeIncremental]]: only the rows whose
    * canonical id is new or CHANGED this batch — the O(changes) artifact
    * a deployment persists per epoch (latest-entry-wins fold of the
    * deltas ≡ the full map; `StreamingDedup.canonicalMap` is that view).
    * The full-map form scans and rewrites the whole map per batch — fine
    * for a returned view, wrong for a per-epoch commit at 100 TB. */
  def canonicalizeIncrementalDelta(prevMap: DataFrame, newDocs: DataFrame,
                                   newPairs: DataFrame, idCol: String): DataFrame = {
    val (newEntries, rootMap) =
      incrementalCanonicalParts(prevMap, newDocs, newPairs, idCol)
    val newRemapped = newEntries
      .join(broadcast(rootMap), col("canonical_id") === col("old_label"), "left")
      .select(col(idCol),
        coalesce(col("new_label"), col("canonical_id")).as("canonical_id"))
    // prior entries whose label merged away: ONE map-side broadcast-
    // filtered scan of the persisted map (rootMap is touched-label-sized)
    val changedPrev = prevMap
      .join(broadcast(rootMap), col("canonical_id") === col("old_label"))
      .filter(col("new_label") =!= col("canonical_id"))
      .select(col(idCol), col("new_label").as("canonical_id"))
    newRemapped.unionByName(changedPrev)
  }

  /** Shared core of the incremental canonicalization forms: the batch's
    * brand-new (id → id) entries plus the broadcast-sized remap of merged
    * component labels (old label → merged root). */
  private def incrementalCanonicalParts(prevMap: DataFrame, newDocs: DataFrame,
                                        newPairs: DataFrame,
                                        idCol: String): (DataFrame, DataFrame) = {
    // ids this batch needs prior state for: its own ids (re-delivery
    // check) + its pair endpoints (label lookup) — metadata-small
    val newIds = newDocs.select(col(idCol)).distinct()
    val endpoints = newPairs.select(col("id_a").as(idCol))
      .unionAll(newPairs.select(col("id_b").as(idCol))).distinct()
    val wanted = newIds.unionAll(endpoints).distinct()
    // ONE map-side-filtered scan of the persisted map fetches every
    // prior entry the batch can touch; copied out so the consumers
    // below read the tiny artifact, not the corpus map
    val hits = Blocks.copyOut(
      prevMap.join(broadcast(wanted), Seq(idCol), "left_semi"))
    val newEntries = newIds.join(hits, Seq(idCol), "left_anti")
      .select(col(idCol), col(idCol).as("canonical_id"))
    // endpoint → CURRENT label (component contraction): a previous
    // canonical id is the min of its component, so CC below merges
    // whole components by their representatives. An UNLABELED endpoint
    // (in neither prevMap nor newDocs) fails loud instead of silently
    // dropping the pair and splitting its component — same fail-loud
    // style as incrementalNearDupPairs' banding guard.
    val lbl = hits.unionByName(newEntries)
      .select(col(idCol).as("eid"), col("canonical_id").as("elabel"))
    def labeledOrFail(c: Column, id: Column): Column =
      coalesce(c, raise_error(concat(
        lit("canonicalizeIncremental: pair endpoint "), id.cast("string"),
        lit(" is in neither prevMap nor newDocs — pairs must only reference ingested ids"))))
    val labelPairs = newPairs
      .join(broadcast(lbl.select(col("eid").as("id_a"), col("elabel").as("la"))),
        Seq("id_a"), "left")
      .join(broadcast(lbl.select(col("eid").as("id_b"), col("elabel").as("lb"))),
        Seq("id_b"), "left")
      .select(least(labeledOrFail(col("la"), col("id_a")),
          labeledOrFail(col("lb"), col("id_b"))).as("id_a"),
        greatest(labeledOrFail(col("la"), col("id_a")),
          labeledOrFail(col("lb"), col("id_b"))).as("id_b"))
      .filter(col("id_a") =!= col("id_b")).distinct()
    val touched = labelPairs.select(col("id_a").as("id"))
      .unionAll(labelPairs.select(col("id_b").as("id"))).distinct()
    // CC over the contracted label graph only — O(touched components);
    // returns (id = old label, label = merged root), copied out
    val rootMap = connectedComponents(labelPairs, touched, "id")
      .select(col("id").as("old_label"), col("label").as("new_label"))
    (newEntries, rootMap)
  }

  /** Exact-Jaccard verification of candidate pairs (shared by the exact
    * prefix-filter path and the MinHash LSH path). */
  private def verifyPairs(candidates: DataFrame, sets: DataFrame,
                          idCol: String, threshold: Double): DataFrame = {
    val a = sets.select(col(idCol).as("id_a"), col("sh").as("sh_a"))
    val b = sets.select(col(idCol).as("id_b"), col("sh").as("sh_b"))
    candidates.join(a, "id_a").join(b, "id_b")
      .withColumn("jaccard", TF.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** CONTAINMENT near-superset pairs — the ASYMMETRIC complement of
    * [[ngramJaccardPairs]]: ordered pairs (a, b), a ≠ b, where
    * C(a, b) = |Sₐ ∩ S_b| / |Sₐ| ≥ `threshold` over word k-shingles.
    * Jaccard misses the quote-expansion shape (a short page fully
    * quoted inside a long one scores J = nₐ/n_b, arbitrarily low, but
    * C = 1): crawl dedup wants "a is mostly inside b" as its own
    * signal, and C(a,b) ≥ J(a,b) always, so this catches strictly more
    * than the symmetric join at equal threshold.
    *
    * Blocking is the containment prefix filter, exact at every
    * threshold: C ≥ t ⟹ overlap ≥ ⌈t·nₐ⌉ ⟹ at most nₐ − ⌈t·nₐ⌉ of
    * a's shingles miss b, so among a's (nₐ − ⌈t·nₐ⌉ + 1) RAREST
    * shingles (one global df order) at least one is in b — and b keeps
    * ALL its shingles as postings (the contained side cannot cut b's
    * tail: b's size never bounds the overlap requirement). The length
    * filter n_b ≥ ⌈t·nₐ⌉ (overlap ≤ n_b) cuts pairs no b could
    * satisfy. Candidates verify EXACTLY — blocking affects cost,
    * never results.
    *
    * 100 TB shape: one shingle-df aggregate (vocab-scale), one
    * prefix×postings join whose per-shingle fan-out is dfprefixₐ·df —
    * the a-side prefix prefers RARE shingles, so ubiquitous shingles
    * enter only through docs made almost entirely of them (the same
    * corpora where no sub-quadratic exact containment join exists),
    * and one verify join over the candidate set. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 3, threshold: Double = 0.8): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "containmentPairs: threshold must be in (0, 1]")
    val sets = withShingleSets(docs, idCol, textCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val postings = sets.select(col(idCol).as("id"), col("sh_n").as("n"),
        explode(col("sh")).as("shingle"))
      val dfreq = postings.groupBy("shingle").agg(count(lit(1)).as("df"))
      val byId = Window.partitionBy(col("id"))
      val ranked = postings.join(dfreq, "shingle")
        .withColumn("rn", row_number().over(
          byId.orderBy(col("df"), col("shingle"))))
      val need = ceilT(threshold, col("n")) // ⌈t·nₐ⌉, float-guarded
      // prefix cut: rnₐ ≤ nₐ − ⌈t·nₐ⌉ + 1. (A PPJoin-style POSITIONAL
      // filter would prune further, but needs the b-side match position
      // too — the b side here keeps ALL its postings unranked, so the
      // candidate join has no b-position to bound with; rephrasing the
      // same inequality per-row adds nothing and earlier revisions
      // mistakenly carried it as a second filter.)
      val prefixA = ranked
        .filter(col("rn") <= col("n") - need + 1)
        .select(col("id").as("id_a"), col("n").as("n_a"), col("shingle"))
      val fullB = postings
        .select(col("id").as("id_b"), col("n").as("n_b"), col("shingle"))
      val candidates = prefixA.join(fullB, Seq("shingle"))
        .filter(col("id_a") =!= col("id_b") &&
          col("n_b") >= ceilT(threshold, col("n_a")))
        .select("id_a", "id_b").distinct()
      val a = sets.select(col(idCol).as("id_a"), col("sh").as("sh_a"),
        col("sh_n").as("n_a"))
      val b = sets.select(col(idCol).as("id_b"), col("sh").as("sh_b"))
      Blocks.copyOut(
        candidates.join(a, "id_a").join(b, "id_b")
          .withColumn("containment",
            size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
              col("n_a").cast("double"))
          .filter(col("containment") >= threshold)
          .select(col("id_a"), col("id_b"), col("containment")))
    } finally { sets.unpersist(blocking = true); () }
  }

  /** Banded MinHash index rows for a document set:
    * (id, band, bucket, bands, rows_per_band) — the PERSISTED artifact of
    * incremental dedup. Build once over the corpus, store as a table
    * (cluster/bucket it by (band, bucket)), append each ingested batch's
    * rows. One codegen'd signature pass per row, no shuffle.
    *
    * The banding PARAMETERS ride along as constant columns (RLE/dict
    * pages at rest — effectively free): buckets hash signature SLICES, so
    * an index built with different (bands, rowsPerBand) produces random
    * collisions and near-dups silently vanish. Embedding the parameters
    * lets every consumer verify them regardless of how the index was
    * sorted, clustered, or partitioned when persisted. */
  def minhashBandIndex(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 3, bands: Int = 16,
                       rowsPerBand: Int = 4): DataFrame =
    bandIndexFromSets(withShingleSets(docs, idCol, textCol, k), idCol,
      bands, rowsPerBand)

  /** [[minhashBandIndex]] over an already-computed shingle-set frame —
    * lets a caller that also needs the sets (e.g. exact verification)
    * materialize them once and share the corpus scan. */
  private def bandIndexFromSets(sets: DataFrame, idCol: String,
                                bands: Int, rowsPerBand: Int): DataFrame =
    sets
      .select(col(idCol),
        SketchExpressions.minhashSignature(col("sh"), bands * rowsPerBand).as("sig"))
      .select(col(idCol).as("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => hash(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)), b))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
      .withColumn("bands", lit(bands))
      .withColumn("rows_per_band", lit(rowsPerBand))

  /** MinHash + banded LSH near-dup: candidates from band-bucket collisions,
    * then EXACT Jaccard verification — the output semantics are therefore
    * identical to [[ngramJaccardPairs]] (LSH only prunes the pair space).
    * bands×rowsPerBand = nHashes; P(miss | jaccard=s) = (1-s^r)^b.
    * Same EAGER contract as [[ngramJaccardPairs]]: materializes at call
    * time and returns a file-backed frame — don't re-persist it. */
  def minhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          k: Int = 3, threshold: Double = 0.8,
                          bands: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    // one materialized corpus scan shared by the band index and both
    // exact-verify sides (same shape as [[ngramJaccardPairs]]; the
    // signature pass reads the cached sets, not the corpus)
    val sets = withShingleSets(docs, idCol, textCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val banded = bandIndexFromSets(sets, idCol, bands, rowsPerBand)
      val l = banded.select(col("id").as("id_a"), col("band"), col("bucket"))
      val r = banded.select(col("id").as("id_b"), col("band"), col("bucket"))
      val candidates = l.join(r, Seq("band", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      Blocks.copyOut(verifyPairs(candidates, sets, idCol, threshold))
    } finally { sets.unpersist(blocking = true); () }
  }

  /** INCREMENTAL near-dup: pairs involving at least one NEW document,
    * against an already-indexed corpus — THE streaming-ingest dedup
    * shape (dedupe the incoming crawl batch against everything already
    * held). Corpus-internal pairs are NEVER recomputed; per batch the
    * corpus costs are (a) the band-bucket join against its PRECOMPUTED
    * [[minhashBandIndex]] (collisions only) and (b) ONE narrow scan to
    * fetch candidate documents for exact verification, pruned MAP-SIDE
    * by a broadcast of the candidate ids (with the lake clustered on the
    * id — `Lake.writeValid(sortCols)` — the scan also row-group-skips).
    * Output contract: [[minhashNearDupPairs]] over new ∪ corpus,
    * restricted to pairs with a new side. */
  def incrementalNearDupPairs(newDocs: DataFrame, corpusDocs: DataFrame,
                              corpusIndex: DataFrame, idCol: String,
                              textCol: String, k: Int = 3,
                              threshold: Double = 0.8, bands: Int = 16,
                              rowsPerBand: Int = 4,
                              newIndex: Option[DataFrame] = None): DataFrame = {
    // Guard against a corpus index built with DIFFERENT banding: buckets
    // hash signature slices, so mismatched (bands, rowsPerBand) makes
    // collisions random and near-dups silently vanish. Current indexes
    // carry their build parameters as constant columns — verify BOTH
    // against what this call expects, over every distinct combination
    // present (a distinct over two RLE-constant columns is a
    // metadata-cheap columnar scan, and it is order-independent: a
    // persisted index clustered by (band, bucket) — the recommended
    // layout — validates exactly like a fresh one; a row-order limit()
    // sample would spuriously reject it).
    val fields = corpusIndex.schema.fieldNames.toSet
    require(fields.contains("bands") && fields.contains("rows_per_band"),
      "corpusIndex lacks its build parameters (the bands and rows_per_band " +
        "columns) — rebuild it with minhashBandIndex")
    corpusIndex.select(col("bands"), col("rows_per_band")).distinct().collect()
      .foreach { r =>
        require(r.getInt(0) == bands && r.getInt(1) == rowsPerBand,
          s"corpusIndex banding mismatch: index built with (bands=${r.getInt(0)}, " +
            s"rowsPerBand=${r.getInt(1)}), this call expects (bands=$bands, " +
            s"rowsPerBand=$rowsPerBand) — rebuild the index or pass the " +
            "parameters it was built with")
      }
    // the new batch is small by construction (one ingest batch); loops
    // over many batches build each index once and pass it via `newIndex`
    val newIdx = newIndex.getOrElse(
      minhashBandIndex(newDocs, idCol, textCol, k, bands, rowsPerBand))
    val l = newIdx.select(col("id").as("id_a"), col("band"), col("bucket"))
    val rCorpus = corpusIndex.select(col("id").as("id_b"), col("band"), col("bucket"))
    val rNew = newIdx.select(col("id").as("id_b"), col("band"), col("bucket"))
    val newCorpus = l.join(rCorpus, Seq("band", "bucket"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      // a re-delivered doc present on BOTH sides collides with itself —
      // a self-pair is never a near-dup PAIR (the contract is id_a < id_b)
      .filter(col("id_a") =!= col("id_b"))
    val newNew = l.join(rNew, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    // candidate id pairs are batch-collision-scale (small) and consumed
    // THREE times (the candIds broadcast subtree and both sides of the
    // verify join) — materialized once so the band-collision joins over
    // the corpus index run once, not per consumer
    val candidates = Blocks.copyOut(
      newCorpus.unionAll(newNew).distinct())
    // fetch ONLY candidate docs for verification: the broadcast semi-join
    // filters the corpus scan map-side before any shuffle or shingling,
    // and the candidate shingle sets are materialized ONCE (copied out of
    // the block manager — a small set) so the two verification branches
    // don't re-scan and the returned frame pins no executor storage
    val candIds = candidates.select(col("id_a").as("cand_id"))
      .unionAll(candidates.select(col("id_b").as("cand_id"))).distinct()
    val candDocs = newDocs.unionByName(corpusDocs)
      .join(broadcast(candIds), col(idCol) === col("cand_id"), "left_semi")
      // re-delivery tolerance: a doc on both sides must verify as ONE row
      .dropDuplicates(idCol)
    val candSets = Blocks.copyOut(withShingleSets(candDocs, idCol, textCol, k))
    verifyPairs(candidates, candSets, idCol, threshold)
  }

  /** 64-bit SimHash over word shingles: per-bit majority vote, one
    * codegen'd pass per row (graft.plans.SimHash64) — no explode, no
    * shuffle, no per-bit aggregations. */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 2): DataFrame =
    withShingleSets(docs, idCol, textCol, k)
      .select(col(idCol), SketchExpressions.simhash64(col("sh")).as("simhash"))

  /** SimHash near-dup: pairs with Hamming distance <= maxHamming. Banding:
    * split 64 bits into (maxHamming+1) chunks covering ALL bits — a pair
    * within the radius must agree exactly on >= 1 chunk (pigeonhole), so
    * the join is bucket-shaped, never O(n²); within the radius it is
    * EXACT (asserted against brute-force Hamming in DedupSimilaritySpec).
    *
    * Radius/chunk-width is THE scale knob and the default must serve the
    * 100 TB regime: maxHamming=3 → 4 chunks × 16 bits → up to 2^16
    * distinct values per chunk, so bucket occupancy stays ~n/65536 and
    * the collision join is sparse at web-corpus sizes. A wide radius
    * (e.g. 12 → 13 chunks of 4–5 bits → ≤32 values per chunk) makes each
    * bucket hold ~n/32 of the corpus — effectively quadratic — and is
    * only appropriate for SMALL corpora of SHORT documents, where the
    * per-bit majority margins are tight and near-dups land 8–12 bits
    * apart. Long documents (real training corpora) put near-dups within
    * 1–3 bits, which is what the default serves. */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          k: Int = 2, maxHamming: Int = 3): DataFrame =
    simhashPairsFromSigs(simhashSignatures(docs, idCol, textCol, k),
      idCol, maxHamming)

  /** The half of [[simhashNearDupPairs]] DOWNSTREAM of the hash family:
    * banded candidate generation + exact Hamming filter over an existing
    * (id, simhash) frame. Split out so the signatures can be persisted
    * and the pair set verified EXACTLY over the persisted codes by an
    * external engine (the banding is pigeonhole-exact within the radius,
    * so the result equals the brute-force Hamming-radius pair set). */
  def simhashPairsFromSigs(sigs: DataFrame, idCol: String,
                           maxHamming: Int = 3): DataFrame = {
    val chunks = maxHamming + 1
    val base = 64 / chunks
    val extra = 64 % chunks
    // chunk c covers [offset, offset+width): first `extra` chunks one wider
    val widths = (0 until chunks).map(c => if (c < extra) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    val banded = sigs.select(col(idCol).as("id"), col("simhash"),
      posexplode(array((0 until chunks).map(c =>
        shiftrightunsigned(col("simhash"), offsets(c))
          .bitwiseAND(lit((1L << widths(c)) - 1))): _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "key")
    val l = banded.select(col("id").as("id_a"), col("simhash").as("sig_a"), col("chunk"), col("key"))
    val r = banded.select(col("id").as("id_b"), col("simhash").as("sig_b"), col("chunk"), col("key"))
    l.join(r, Seq("chunk", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming) // filter BEFORE the distinct
      .distinct()                           // shuffle — candidates, not fanout
  }

  /** Embedding-cosine near-dup pairs via LSH blocking — the 100 TB path:
    * bucket both sides with random-hyperplane LSH (multi-probe on one bit
    * flip), compare only within buckets, verify with the exact cosine.
    * Same output contract as [[embeddingNearDupPairs]] minus LSH misses
    * (recall measured in DedupSimilaritySpec).
    *
    * `candidateSink`: verification mode — the hash-dependent HALF of the
    * operator (the distinct LSH candidate id pairs) is persisted to the
    * given parquet path and the exact half (cosine + threshold) is
    * recomputed from the READ-BACK artifact, so an external engine can
    * verify the scoring over precisely the pairs the buckets produced.
    * The production path (`None`) carries vectors through the bucket
    * join and never re-joins the corpus. */
  def embeddingNearDupPairsLsh(embeddings: DataFrame, idCol: String,
                               vecCol: String, threshold: Double,
                               nBits: Int = 6, probeHamming: Int = 2,
                               seed: Long = 42L,
                               candidateSink: Option[String] = None): DataFrame = {
    val withNorm = embeddings.select(col(idCol),
      VF.toDouble(col(vecCol)).as("e"))
      .withColumn("nrm", VF.norm(col("e")))
      .withColumn("bucket0", VF.lshBucket(col("e"), nBits, seed))
    val masks: Seq[Long] = (0 until nBits).toSet.subsets()
      .filter(ss => ss.size <= probeHamming)
      .map(ss => ss.foldLeft(0L)((m, b) => m | (1L << b))).toSeq.sorted
    val a = withNorm.select(col(idCol).as("id_a"), col("e").as("e_a"),
      col("nrm").as("n_a"),
      explode(array(masks.map(m => col("bucket0").bitwiseXOR(lit(m))): _*)).as("bucket"))
    val b = withNorm.select(col(idCol).as("id_b"), col("e").as("e_b"),
      col("nrm").as("n_b"), col("bucket0").as("bucket"))
    val joined = a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
    candidateSink match {
      case None =>
        joined
          .select(col("id_a"), col("id_b"),
            VF.cosineWithNorms(col("e_a"), col("e_b"), col("n_a"), col("n_b")).as("cosine"))
          .distinct()
          .filter(col("cosine") >= threshold)
      case Some(path) =>
        joined.select(col("id_a"), col("id_b")).distinct()
          .coalesce(1).write.mode("overwrite").parquet(path)
        val cands = embeddings.sparkSession.read.parquet(path)
        val n = embeddings.select(col(idCol).as("nid"),
          VF.toDouble(col(vecCol)).as("ne"))
          .withColumn("nnrm", VF.norm(col("ne")))
        cands
          .join(n.select(col("nid").as("id_a"), col("ne").as("e_a"),
            col("nnrm").as("n_a")), "id_a")
          .join(n.select(col("nid").as("id_b"), col("ne").as("e_b"),
            col("nnrm").as("n_b")), "id_b")
          .select(col("id_a"), col("id_b"),
            VF.cosineWithNorms(col("e_a"), col("e_b"), col("n_a"), col("n_b")).as("cosine"))
          .filter(col("cosine") >= threshold)
    }
  }

  /** Benchmark DECONTAMINATION: flag training documents that share any
    * word k-gram with an evaluation/benchmark document — the standard
    * train-set hygiene pass before LLM training (published recipes use
    * k≈8–13 word n-grams; reference semantics: any overlap → the train
    * doc is contaminated and gets dropped or audited).
    *
    * Shape: distinct-shingle postings on both sides, one equi-join on
    * the n-gram, one aggregate per train doc. The eval side is a
    * benchmark suite — thousands of docs, not billions — so its postings
    * BROADCAST (`broadcastEval = Some(true)`): the 100 TB train corpus is
    * never shuffled, each task filters its own split against the
    * in-memory eval n-gram map. With a large eval side it degrades to a
    * bucketed shuffle join on the n-gram — still never all-pairs.
    * By default (`None`) the path is AUTO-SELECTED from one cheap count
    * over the eval postings (the train corpus is untouched): above
    * ~20 M postings a forced broadcast would court the driver-OOM /
    * 8 GB-broadcast cliff, so it falls back to the shuffle join instead
    * of failing.
    *
    * Returns one row per CONTAMINATED train doc: the distinct shared
    * n-gram count and how many eval docs it collides with. */
  def decontaminate(train: DataFrame, evalSet: DataFrame, idCol: String,
                    textCol: String, k: Int = 8,
                    broadcastEval: Option[Boolean] = None): DataFrame = {
    def postings(df: DataFrame, as: String): DataFrame =
      df.select(col(idCol).as(as),
        explode(TF.shingleSet(col(textCol), k)).as("g"))
    val ev = postings(evalSet, "eval_id")
    // ~20M rows of (long id, ~8-word string) ≈ low-single-GB in the hash
    // relation — comfortably inside the broadcast cap with headroom
    val useBroadcast = broadcastEval.getOrElse(
      ev.agg(count(lit(1))).head().getLong(0) <= 20L * 1000 * 1000)
    postings(train, "train_id")
      .join(if (useBroadcast) broadcast(ev) else ev, "g")
      .groupBy(col("train_id"))
      .agg(countDistinct(col("g")).as("n_shared_ngrams"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
  }

  /** FUZZY eval-set decontamination — MinHash-banded DOC-level
    * similarity between the training corpus and the eval suite, the
    * complement of the exact-k-gram passes ([[decontaminate]] /
    * [[decontaminateFraction]]): a paraphrased or partially-rewritten
    * eval item shares few exact 8-grams with its training-set leak but
    * keeps high 3-shingle Jaccard, and this catches it at banded-LSH
    * cost. Candidates come ONLY from cross-set band-bucket collisions
    * (never the |train|×|eval| product); each candidate is then
    * EXACT-verified, so the output is identical to the exact cross-set
    * Jaccard join at the same threshold minus LSH misses
    * (P(miss | s) = (1-s^r)^b — the default b=32, r=2 reads ≤ 1e-4 at
    * s = 0.5; the sf-scale oracle IS the exact join, so the gate also
    * certifies zero misses at test scale). Output:
    * `(train_id, eval_id, jaccard)`, one row per contaminated pair.
    *
    * Scale shape: two codegen'd signature passes (one per side, no
    * shuffle), a band-bucket equi-join whose shuffle keys are 8-byte
    * hashes, and an exact-verify join fetching only candidate rows'
    * shingle sets. The eval side is suite-sized (thousands of docs) —
    * its band index and sets broadcast; the train corpus never
    * re-shuffles on anything wider than the collision keys. */
  def decontaminateFuzzy(train: DataFrame, evalSet: DataFrame,
                         idCol: String, textCol: String, k: Int = 3,
                         threshold: Double = 0.5, bands: Int = 32,
                         rowsPerBand: Int = 2): DataFrame = {
    val tSets = withShingleSets(train, idCol, textCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val eSets = withShingleSets(evalSet, idCol, textCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val tIdx = bandIndexFromSets(tSets, idCol, bands, rowsPerBand)
        .select(col("id").as("train_id"), col("band"), col("bucket"))
      val eIdx = bandIndexFromSets(eSets, idCol, bands, rowsPerBand)
        .select(col("id").as("eval_id"), col("band"), col("bucket"))
      val candidates = tIdx.join(broadcast(eIdx), Seq("band", "bucket"))
        .select("train_id", "eval_id").distinct()
      Blocks.copyOut(candidates
        .join(tSets.select(col(idCol).as("train_id"), col("sh").as("sh_t")),
          "train_id")
        .join(broadcast(eSets.select(col(idCol).as("eval_id"),
          col("sh").as("sh_e"))), "eval_id")
        .withColumn("jaccard", TF.jaccard(col("sh_t"), col("sh_e")))
        .filter(col("jaccard") >= threshold)
        .select("train_id", "eval_id", "jaccard"))
    } finally {
      tSets.unpersist(blocking = true)
      eSets.unpersist(blocking = true)
      ()
    }
  }

  /** THRESHOLD-fraction decontamination — the published-recipe variant
    * of [[decontaminate]] (Llama/GPT-3-style): instead of flagging on
    * ANY shared n-gram, score each train doc by the FRACTION of its
    * distinct k-grams that appear anywhere in the eval suite, and flag
    * at `tau`. Any-overlap is too aggressive for short boilerplate-ish
    * n-grams; the fraction keeps docs with incidental collisions while
    * catching verbatim inclusions. Returns every train doc with >= 1
    * shared gram — (n_grams, n_shared_ngrams, shared_frac, flagged) —
    * so the caller can audit near-threshold docs, not just the drops.
    *
    * Scale shape: identical to [[decontaminate]] — distinct eval grams
    * broadcast (auto-selected vs shuffle at ~20 M postings), the train
    * corpus never shuffles, per-doc gram counts ride the postings rows
    * (the shingle set is computed once per row and carried through the
    * explode — no second corpus scan). */
  def decontaminateFraction(train: DataFrame, evalSet: DataFrame,
                            idCol: String, textCol: String, k: Int = 8,
                            tau: Double = 0.2,
                            broadcastEval: Option[Boolean] = None): DataFrame = {
    val ev = evalSet.select(
      explode(TF.shingleSet(col(textCol), k)).as("g")).distinct()
    val useBroadcast = broadcastEval.getOrElse(
      ev.agg(count(lit(1))).head().getLong(0) <= 20L * 1000 * 1000)
    val tr = train.select(col(idCol).as("train_id"),
        TF.shingleSet(col(textCol), k).as("sh"))
      .withColumn("n_grams", size(col("sh")).cast("long"))
      .filter(col("n_grams") > 0)
      .select(col("train_id"), col("n_grams"), explode(col("sh")).as("g"))
    tr.join(if (useBroadcast) broadcast(ev) else ev, "g")
      .groupBy(col("train_id"), col("n_grams"))
      .agg(countDistinct(col("g")).as("n_shared_ngrams"))
      .withColumn("shared_frac",
        col("n_shared_ngrams").cast("double") / col("n_grams").cast("double"))
      .withColumn("flagged", col("shared_frac") >= tau)
      .select("train_id", "n_grams", "n_shared_ngrams", "shared_frac", "flagged")
  }

  /** Embedding-cosine near-dup pairs (exact all-pairs form — the recall
    * baseline; the ANN paths for scale are [[embeddingNearDupPairsLsh]]
    * and Similarity.lshTopK/ivfTopK). */
  /** Repeated-span MASKING — word-granularity ExactSubstr dedup (the
    * Lee et al. 2022 "Deduplicating Training Data" operator, which the
    * reference has no analog for): every token position covered by a
    * word k-gram occurring >= `minOccurrences` times ACROSS THE CORPUS
    * (within-doc repeats count) is removed, and the survivors reassemble
    * in order. Unlike document-level dedup this de-boilerplates — shared
    * headers/footers/license blocks vanish while unique prose stays.
    *
    * Scale shape: k-gram occurrence counting is ONE hash-aggregate
    * shuffle keyed on an 8-byte xxhash64 of the gram (map-side partial
    * collapse; the string itself never shuffles — at 2^40 grams the
    * expected count-merging collisions are a ~2^-25 fraction, each worth
    * one spuriously-masked span); cover expansion and reassembly shuffle
    * on (doc, pos) and doc — all O(corpus tokens), never O(n²). The
    * sf-scale oracle groups by the gram STRING (no collisions at test
    * scale), so the gate also certifies the hash keying loses nothing. */
  def maskRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 8, minOccurrences: Int = 2): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), TF.words(col(textCol)).as("ws"))
    // one row per k-gram occurrence: (doc_id, start pos, 64-bit gram key)
    val kgrams = base.select(col("doc_id"), col("ws"),
        explode(when(size(col("ws")) >= k, sequence(lit(0), size(col("ws")) - k))
          .otherwise(array().cast("array<int>"))).as("p"))
      .select(col("doc_id"), col("p"),
        xxhash64(array_join(slice(col("ws"), col("p") + 1, lit(k)), " ")).as("gkey"))
    val dup = kgrams.groupBy("gkey").count()
      .filter(col("count") >= minOccurrences).select("gkey")
    // positions covered by any duplicated gram (distinct per doc)
    val covered = kgrams.join(dup, Seq("gkey"))
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + (k - 1))).as("pos"))
      .distinct()
    val tokens = base.select(col("doc_id"),
      posexplode(col("ws")).as(Seq("pos", "word")))
    val kept = tokens.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("word")))),
            s => s.getField("word")), " ").as("clean_text"))
    base.select(col("doc_id"), size(col("ws")).cast("long").as("n_words"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        (col("n_words") - coalesce(col("n_kept"), lit(0L))).cast("long").as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** LONGEST CROSS-DOC DUPLICATED SUBSTRING per document — the
    * suffix-array dedup diagnostic (Lee et al. 2021: remove any
    * substring of length ≥ L appearing more than once in the corpus):
    * for each doc, the length and start of its longest word-substring
    * that appears verbatim in ANOTHER doc, considering only substrings
    * of at least `minWords` words. Complements [[maskRepeatedSpans]]
    * (which removes the fixed-k-gram COVERAGE) by recovering the
    * maximal repeat itself — the artifact a curation pipeline reports
    * and thresholds on.
    *
    * Suffix-array-free construction, exact for every repeat ≥ L: a
    * duplicated substring a[p..p+m) = b[q..q+m) (m ≥ L) is precisely a
    * run of m−L+1 CONSECUTIVE aligned L-gram matches on the pair's
    * diagonal p−q, so anchoring on L-gram occurrences and merging
    * consecutive anchors per (doc pair, diagonal) — gaps-and-islands
    * over anchor positions — yields every maximal repeat with
    * len = run + L − 1. This replaces the classic partition-local
    * suffix sort + fingerprint merge with three declarative steps the
    * optimizer can place: one L-gram posting pass, one self-join on the
    * gram key restricted to duplicated grams, one window+aggregate.
    *
    * 100 TB shape: the posting pass is token-scale (the 8-byte xxhash64
    * gram key shuffles, the gram string does not — same compact-key
    * contract as [[dedupLines]], certified by the string-keyed oracle);
    * df=1 grams — the overwhelming bulk of any natural corpus — never
    * reach the join; the anchor join's fan-out Σ df·(df−1) is
    * budget-checked IN-PLAN (broadcast 1-row aggregate + `raise_error`,
    * surfacing as an execution-time SparkException whose message
    * contains "maxAnchorPairs") before a boilerplate-heavy corpus can
    * run a silent quadratic. Raising `minWords` shrinks df
    * monotonically. Output: (doc_id, dup_len, dup_start), longest repeat
    * per doc (ties → smallest start), docs with no repeat ≥ L absent.
    *
    * EAGER contract (like [[ngramJaccardPairs]]): the token-scale gram
    * pass is persisted and evaluated ONCE here — its three consumers
    * (the dup-gram aggregate feeding the budget broadcast, and both
    * sides of the anchor self-join) would otherwise each re-run the
    * tokenize+gram scan over the whole corpus. The anchor set (dup-gram
    * occurrences only, budget-bounded) is copied out of the block
    * manager, every corpus-scale block is released before returning,
    * and the in-plan budget refusal therefore surfaces AT CALL TIME. */
  def longestDupSubstrings(docs: DataFrame, idCol: String, textCol: String,
                           minWords: Int = 8,
                           maxAnchorPairs: Long = 10000000L): DataFrame = {
    require(minWords >= 1, "longestDupSubstrings: minWords must be >= 1")
    val L = minWords
    val base = docs.select(col(idCol).as("doc_id"),
      TF.words(col(textCol)).as("ws"))
    val kgramsPlan = base.select(col("doc_id"), col("ws"),
        explode(when(size(col("ws")) >= L, sequence(lit(0), size(col("ws")) - L))
          .otherwise(array().cast("array<int>"))).as("p"))
      .select(col("doc_id"), col("p"),
        xxhash64(array_join(slice(col("ws"), col("p") + 1, lit(L)), " "))
          .as("gkey"))
    val kgrams = kgramsPlan
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val anchors =
      try Blocks.scope {
        // vocab-scale (duplicated grams only); localCheckpoint so the
        // budget broadcast and the key join don't re-aggregate
        val dupStats = Blocks.scoped(
          kgrams.groupBy("gkey").agg(count(lit(1)).as("cnt"))
            .filter(col("cnt") >= 2)
            .localCheckpoint(true))
        val pairBudget = broadcast(dupStats.agg(
          coalesce(sum(col("cnt") * (col("cnt") - 1)), lit(0L)).as("n_pairs")))
        val dupKeys = dupStats.select(col("gkey")).crossJoin(pairBudget)
          .filter(when(col("n_pairs") <= maxAnchorPairs, lit(true))
            .otherwise(raise_error(concat(
              lit("longestDupSubstrings: anchor join of "), col("n_pairs"),
              lit(s" gram-occurrence pairs exceeds maxAnchorPairs=" +
                s"$maxAnchorPairs — raise minWords or the budget")))))
          .select("gkey")
        // file-backed: both self-join sides below read these files, and
        // the corpus-scale kgrams persist can be dropped immediately
        Blocks.copyOut(kgrams.join(dupKeys, Seq("gkey")))
      } finally { kgrams.unpersist(blocking = true); () }
    val m = anchors.select(col("gkey"), col("doc_id").as("id_a"),
        col("p").as("pa"))
      .join(anchors.select(col("gkey"), col("doc_id").as("id_b"),
        col("p").as("pb")), Seq("gkey"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"), col("pa"),
        (col("pa") - col("pb")).as("diag"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_a"), col("id_b"), col("diag")).orderBy(col("pa"))
    val runs = m
      .withColumn("isl", col("pa") - row_number().over(w))
      .groupBy("id_a", "id_b", "diag", "isl")
      .agg(count(lit(1)).as("c"), min(col("pa")).as("start"))
      .select(col("id_a"), (col("c") + (L - 1)).cast("long").as("len"),
        col("start").cast("long").as("start"))
    runs.groupBy(col("id_a"))
      .agg(max(struct(col("len"), (-col("start")).as("ns"))).as("best"))
      .select(col("id_a").as("doc_id"),
        col("best.len").as("dup_len"),
        (-col("best.ns")).cast("long").as("dup_start"))
  }

  /** WEIGHTED (multiset) Jaccard near-dup pairs — tf-weighted shingle
    * bags instead of shingle sets: J_w(A,B) = Σ_s min(a_s,b_s) /
    * Σ_s max(a_s,b_s). The measure the SET Jaccard family misses:
    * boilerplate-stuffed or repetition-heavy docs share the same
    * shingle TYPES as their source (set J ≈ 1) while their
    * occurrence profiles differ — and conversely a doc padded with
    * 100 copies of one line keeps set J high against the original
    * while J_w collapses. For integer weights this is the classic
    * replicated-element weighted Jaccard, computed EXACTLY:
    * Σ max = |A| + |B| − Σ min, so one postings self-join on shared
    * types (min(a,b) summed per pair) plus per-doc totals gives the
    * exact score — no hash family, no estimate.
    *
    * Scale shape: postings are (8-byte xxhash64 type key, id, tf) —
    * the string never shuffles (the string-keyed oracle certifies the
    * compact key); df=1 types never join; the Σ df·(df−1) pair fan-out
    * refuses IN-PLAN past `maxCandidatePairs` (a J_w ≥ t > 0 pair
    * shares ≥ 1 type, so the df≥2 join loses nothing). */
  def weightedJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                           k: Int = 3, threshold: Double = 0.8,
                           maxCandidatePairs: Long = 10000000L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "weightedJaccardPairs: threshold must be in (0, 1]")
    // the bag frame feeds four subtrees (totals, dfreq, both self-join
    // sides) — persist the corpus tokenize+group pass ONCE (the
    // ngramJaccardPairs/dfreq lesson); the small pair result is copied
    // out and every corpus-scale block released before returning.
    // EAGER contract: materializes at call time; the budget refusal
    // surfaces here, and the returned frame is file-backed.
    val bags = docs
      .select(col(idCol).as("id"), TF.words(col(textCol)).as("__toks"))
      .select(col("id"), explode(TF.shingles(col("__toks"), k)).as("sh"))
      .groupBy(col("id"), xxhash64(col("sh")).as("skey"))
      .agg(count(lit(1)).as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try Blocks.scope {
      val totals = bags.groupBy("id").agg(sum(col("w")).as("tot"))
      // vocab-scale, two consumers (budget broadcast + gate key join)
      val dfreq = Blocks.scoped(
        bags.groupBy("skey").agg(count(lit(1)).as("df"))
          .filter(col("df") >= 2)
          .localCheckpoint(true))
      val budget = broadcast(dfreq.agg(
        coalesce(sum(col("df") * (col("df") - 1)), lit(0L)).as("n_pairs")))
      val gate = dfreq.select(col("skey")).crossJoin(budget)
        .filter(when(col("n_pairs") <= maxCandidatePairs, lit(true))
          .otherwise(raise_error(concat(
            lit("weightedJaccardPairs: type join of "), col("n_pairs"),
            lit(s" posting pairs exceeds maxCandidatePairs=" +
              s"$maxCandidatePairs — raise k or the budget")))))
        .select("skey")
      val shared = bags.join(gate, Seq("skey"))
      val inter = shared.select(col("skey"), col("id").as("id_a"),
          col("w").as("wa"))
        .join(shared.select(col("skey"), col("id").as("id_b"),
          col("w").as("wb")), Seq("skey"))
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(sum(least(col("wa"), col("wb"))).as("inter"))
      Blocks.copyOut(inter
        .join(totals.select(col("id").as("id_a"), col("tot").as("ta")), "id_a")
        .join(totals.select(col("id").as("id_b"), col("tot").as("tb")), "id_b")
        .withColumn("jaccard", round(col("inter").cast("double") /
          (col("ta") + col("tb") - col("inter")).cast("double"), 6))
        .filter(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard"))
    } finally { bags.unpersist(blocking = true); () }
  }

  // ---- INCREMENTAL substring-dedup index ---------------------------------
  // [[longestDupSubstrings]] as a maintained artifact: gram postings
  // accumulate per ingest batch in a transactional lake (the same epoch/
  // fold/replay machinery as the BM25 and near-dup indexes), and each
  // batch updates a per-doc best-repeat state. Correctness hinges on one
  // fact: every cross-doc aligned anchor pair {a, b} has a LATER side,
  // and joining the later batch's grams against the whole index computes
  // that pair's complete diagonal anchor set exactly once — emitting the
  // run to BOTH docs makes the per-doc max over committed deltas equal
  // the one-shot answer on the union. Best-deltas are additive and
  // order-independent (max-merge), so folds and crash replays keep the
  // read identical.

  private def sgramsRoot(indexRoot: String) = s"$indexRoot/grams"
  private def sbestRoot(indexRoot: String) = s"$indexRoot/best"
  private def sdfRoot(indexRoot: String) = s"$indexRoot/df"

  /** Gram-key hash buckets for the postings lake — the batch⋈index join
    * is co-partitioned on this at scale. */
  val SubstringGramBuckets = 16

  /** Commit one document batch into the substring index at `epochId`:
    * write the batch's L-gram postings epoch, join them against the
    * WHOLE committed index (budget-guarded in-plan, like the one-shot),
    * run-merge the new anchor diagonals, and commit the resulting
    * per-doc best-repeat delta. Exactly-once: all commits are keyed on
    * `epochId` and a replay of any is a no-op.
    *
    * Batch contract: each `doc_id` is ingested in EXACTLY ONE epoch
    * (the streaming integration's micro-batches satisfy this by
    * construction). Re-delivering a doc_id in a *different* epoch would
    * duplicate its gram rows in the committed index — duplicate `pa` on
    * a diagonal shifts the gaps-and-islands row_number and silently
    * corrupts run lengths. Same-epoch replays are safe (the commit is a
    * no-op).
    *
    * Corpus document-frequency is MAINTAINED, not recomputed: each
    * epoch commits a vocab-scale `(gkey, cnt)` delta (the batch's
    * occurrence counts — additive, like the perplexity LM's counts), so
    * the df≥2 gate reads Σ-epochs-vocab instead of re-aggregating the
    * token-scale gram index every batch; per-batch maintenance input is
    * bounded by vocab + batch regardless of corpus age. The anchor join
    * itself remains the standard O(index) gram-key shuffle. */
  def commitSubstringBatch(docs: DataFrame, idCol: String, textCol: String,
                           indexRoot: String, epochId: Long,
                           minWords: Int = 8,
                           maxAnchorPairs: Long = 10000000L,
                           nBuckets: Int = SubstringGramBuckets): Unit = {
    require(minWords >= 1, "commitSubstringBatch: minWords must be >= 1")
    val L = minWords
    val spark = docs.sparkSession
    // fully-committed batch (all three lakes): a crash replay is a
    // TOTAL no-op — no re-tokenize, no anchor join, no reads. This also
    // makes replays against an OFFBOARDED tenant's scrubbed index safe:
    // TenantArtifacts.purgeTenant keeps the commit markers precisely so
    // a replayed batch can neither resurrect data nor crash on the
    // scrubbed (manifest-listed, dir-gone) lakes.
    if (graft.sources.TransactionalLake.isCommitted(spark, sgramsRoot(indexRoot), epochId) &&
      graft.sources.TransactionalLake.isCommitted(spark, sdfRoot(indexRoot), epochId) &&
      graft.sources.TransactionalLake.isCommitted(spark, sbestRoot(indexRoot), epochId)) return
    val grams = docs.select(col(idCol).as("doc"),
        TF.words(col(textCol)).as("ws"))
      .select(col("doc"), col("ws"),
        explode(when(size(col("ws")) >= L, sequence(lit(0), size(col("ws")) - L))
          .otherwise(array().cast("array<int>"))).as("p"))
      .select(col("doc"), col("p"),
        xxhash64(array_join(slice(col("ws"), col("p") + 1, lit(L)), " "))
          .as("gkey"))
      .withColumn("gb", pmod(col("gkey"), lit(nBuckets.toLong)))
    graft.sources.TransactionalLake.commitEpoch(grams, sgramsRoot(indexRoot), epochId,
      partitionCols = Seq("gb"))
    // both join sides read the COMMITTED files (the epoch just written
    // included) — nothing in this pass recomputes the tokenize scan
    val allG = graft.sources.TransactionalLake.readCommitted(spark, sgramsRoot(indexRoot))
      .select(col("doc"), col("p"), col("gkey"),
        col("epoch").cast("long").as("epoch"))
    val newG = allG.filter(col("epoch") === epochId).select("doc", "p", "gkey")
    val all = allG.select("doc", "p", "gkey")
    // per-epoch df delta: the batch's occurrence count per gram key,
    // computed from the just-committed (file-backed) batch epoch — no
    // re-tokenize — and committed to the vocab-scale df lake. Replay of
    // this epoch is a no-op like the other two commits.
    graft.sources.TransactionalLake.commitEpoch(
      newG.groupBy("gkey").agg(count(lit(1)).as("cnt")),
      sdfRoot(indexRoot), epochId, partitionCols = Nil)
    // corpus-df >= 2 keys only (a corpus-unique gram cannot anchor a
    // cross-doc repeat); the batch-df x corpus-df product upper-bounds
    // the anchor join and refuses IN-PLAN past the budget
    Blocks.scope {
      // corpus df from the MAINTAINED artifact (vocab-scale merge of
      // additive per-epoch counts, including this epoch's) — not an
      // O(index) re-aggregation of the gram postings
      val dfLake = graft.sources.TransactionalLake.readCommitted(
        spark, sdfRoot(indexRoot))
      val dfA = dfLake.groupBy("gkey").agg(sum(col("cnt")).as("na"))
        .filter(col("na") >= 2)
      // the batch's own counts re-read from its committed df delta
      val dfN = dfLake.filter(col("epoch").cast("long") === epochId)
        .select(col("gkey"), col("cnt").as("nn"))
      // materialized ONCE per batch: the budget broadcast and the gate
      // key-join would otherwise each re-run both df reads (the dfreq
      // lesson)
      val shared = Blocks.scoped(dfN.join(dfA, "gkey").localCheckpoint(true))
      val budget = broadcast(shared.agg(
        coalesce(sum(col("nn") * col("na")), lit(0L)).as("n_pairs")))
      val gate = shared.select(col("gkey")).crossJoin(budget)
        .filter(when(col("n_pairs") <= maxAnchorPairs, lit(true))
          .otherwise(raise_error(concat(
            lit("commitSubstringBatch: anchor join of "), col("n_pairs"),
            lit(s" gram-occurrence pairs exceeds maxAnchorPairs=" +
              s"$maxAnchorPairs — raise minWords or the budget")))))
        .select("gkey")
      val m = newG.join(gate, Seq("gkey"))
        .select(col("gkey"), col("doc").as("id_a"), col("p").as("pa"))
        .join(all.select(col("gkey"), col("doc").as("id_b"), col("p").as("pb")),
          Seq("gkey"))
        .filter(col("id_a") =!= col("id_b"))
        .select(col("id_a"), col("id_b"), col("pa"), col("pb"),
          (col("pa") - col("pb")).as("diag"))
      val w = Window.partitionBy(col("id_a"), col("id_b"), col("diag"))
        .orderBy(col("pa"))
      // anchor-run-scale (budget-bounded); materialized because BOTH
      // union sides below read it
      val runs = Blocks.scoped(m
        .withColumn("isl", col("pa") - row_number().over(w))
        .groupBy("id_a", "id_b", "diag", "isl")
        .agg(count(lit(1)).as("c"), min(col("pa")).as("sa"),
          min(col("pb")).as("sb"))
        .localCheckpoint(true))
      // each run updates BOTH sides' best (their starts differ by the
      // diagonal); both-new pairs are computed in both orders, which the
      // max-merge absorbs
      val updates = runs.select(col("id_a").as("doc_id"),
          (col("c") + (L - 1)).cast("long").as("len"),
          col("sa").cast("long").as("start"))
        .unionByName(runs.select(col("id_b").as("doc_id"),
          (col("c") + (L - 1)).cast("long").as("len"),
          col("sb").cast("long").as("start")))
      val bestDelta = updates.groupBy("doc_id")
        .agg(max(struct(col("len"), (-col("start")).as("ns"))).as("b"))
        .select(col("doc_id"), col("b.len").as("dup_len"),
          (-col("b.ns")).cast("long").as("dup_start"))
      graft.sources.TransactionalLake.commitEpoch(bestDelta,
        sbestRoot(indexRoot), epochId, partitionCols = Nil)
    }
  }

  /** The maintained answer: per doc, the longest cross-doc repeat over
    * every committed batch — max-merge of the best-deltas, identical to
    * [[longestDupSubstrings]] on the union corpus. */
  def longestDupSubstringsFromIndex(spark: org.apache.spark.sql.SparkSession,
                                    indexRoot: String): DataFrame =
    graft.sources.TransactionalLake.readCommitted(spark, sbestRoot(indexRoot))
      .groupBy("doc_id")
      .agg(max(struct(col("dup_len").as("len"),
        (-col("dup_start")).as("ns"))).as("b"))
      .select(col("doc_id"), col("b.len").as("dup_len"),
        (-col("b.ns")).cast("long").as("dup_start"))

  /** Fold aged index epochs (postings + best-deltas + df counts) —
    * bin-packed retention with unchanged reads, same as the BM25 index.
    * The df rows are additive (reads Σ over epochs), so file-level
    * folding is semantics-preserving. */
  def foldSubstringIndex(spark: org.apache.spark.sql.SparkSession,
                         indexRoot: String, upTo: Long,
                         nBuckets: Int = SubstringGramBuckets): (Int, Int) = {
    graft.sources.TransactionalLake.foldCommittedEpochs(spark,
      sdfRoot(indexRoot), upTo, partitionCols = Nil)
    (graft.sources.TransactionalLake.foldCommittedEpochs(spark, sgramsRoot(indexRoot),
      upTo, partitionCols = Seq("gb")),
      graft.sources.TransactionalLake.foldCommittedEpochs(spark, sbestRoot(indexRoot),
        upTo, partitionCols = Nil))
  }

  /** LINE-level exact dedup — the C4/RefinedWeb curation pass between
    * whole-document dedup and span masking: a line (delimiter-separated
    * unit) duplicated ANYWHERE in the corpus survives only at its first
    * occurrence (lowest (doc_id, position)); every later copy is removed
    * and the survivors reassemble in order. This is what strips repeated
    * boilerplate lines (nav bars, cookie banners, license headers) while
    * whole-document hashes miss them. Blank lines (trim-empty) are
    * exempt — they are structure, not content, and dedup'ing them would
    * mangle every multi-paragraph doc after the first.
    *
    * Scale shape: first-occurrence election is ONE min-aggregate keyed
    * on xxhash64(line) (map-side partial min; the 8-byte key shuffles,
    * the line string does not) + one equi-join back on the same key, and
    * reassembly shuffles on doc — all O(corpus lines), never O(n²). A
    * key collision (~2^-25 fraction at 2^40 lines) merges two line
    * groups and can drop one innocent line; the sf-scale oracle keys on
    * the line STRING, so the gate also certifies the compact key. */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
                 delim: String = "\n"): DataFrame = {
    val quoted = java.util.regex.Pattern.quote(delim)
    val base = docs.select(col(idCol).as("doc_id"),
      split(col(textCol), quoted).as("ls"))
    val lines = base.select(col("doc_id"),
        posexplode(col("ls")).as(Seq("pos", "line")))
      .withColumn("blank", trim(col("line")) === "")
      .withColumn("lkey", xxhash64(col("line")))
    val winners = lines.filter(!col("blank")).groupBy("lkey")
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
    val kept = lines.join(winners, Seq("lkey"), "left")
      .filter(col("blank") ||
        (col("w.doc_id") === col("doc_id") && col("w.pos") === col("pos")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line")), delim).as("clean_text"))
    base.select(col("doc_id"), size(col("ls")).cast("long").as("n_lines"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).cast("long").as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup by CLUSTER-BLOCKED
    * cosine — assign every embedding to its nearest centroid
    * (the IVF assignment pass, a per-row kernel), then WITHIN each cell
    * drop every item that has a lower-id neighbor at cosine >= `tau`.
    * Returns the DROP LIST (vec_id, cell, max_cos_prior).
    *
    * Scale shape: the all-pairs O(n²) collapses to Σ_cells O(|cell|²) —
    * the SemDeDup contract. Pick nCells ≈ n / target-cell-size at 100 TB
    * (the paper uses ~100k clusters for billions of rows) and feed
    * refined centroids ([[Similarity.ivfCentroidsRefined]]) for tighter,
    * more balanced cells; pairs co-shuffle once on the cell key and the
    * per-cell join is a local sort-merge within the partition. A pair
    * above tau that straddles two cells is missed — the documented
    * approximation the paper accepts (raise nProbe-style recall by
    * lowering nCells or re-running on cell borders if it matters). */
  def semanticDedup(embeddings: DataFrame, idCol: String, vecCol: String,
                    nCells: Int = 16, tau: Double = 0.4,
                    centroids: Option[DataFrame] = None): DataFrame = {
    val cents = centroids.getOrElse(
      Similarity.seedCentroids(embeddings, idCol, vecCol, nCells))
    val assigned = Similarity.assignedNormed(cents, embeddings, idCol, vecCol)
    val a = assigned.select(col("cell"), col("c_id").as("id_a"),
      col("c_e").as("e_a"), col("c_nrm").as("nrm_a"))
    val b = assigned.select(col("cell"), col("c_id").as("id_b"),
      col("c_e").as("e_b"), col("c_nrm").as("nrm_b"))
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        VF.cosineWithNorms(col("e_a"), col("e_b"), col("nrm_a"), col("nrm_b")))
      .groupBy(col("id_b").as("vec_id"), col("cell"))
      .agg(max(col("cos")).as("max_cos_prior"))
      .filter(col("max_cos_prior") >= tau)
  }

  def embeddingNearDupPairs(embeddings: DataFrame, idCol: String,
                            vecCol: String, threshold: Double): DataFrame = {
    val withNorm = embeddings.select(col(idCol),
      VF.toDouble(col(vecCol)).as("e"))
      .withColumn("nrm", VF.norm(col("e")))
    val a = withNorm.select(col(idCol).as("id_a"), col("e").as("e_a"), col("nrm").as("n_a"))
    val b = withNorm.select(col(idCol).as("id_b"), col("e").as("e_b"), col("nrm").as("n_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", VF.cosineWithNorms(col("e_a"), col("e_b"), col("n_a"), col("n_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }
}
