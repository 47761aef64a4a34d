package graft.streaming

import graft.operators.Dedup
import graft.sources.{MaintenanceExec, TransactionalLake}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** STREAMING incremental near-dup dedup — the deployment integration of
  * `Dedup.incrementalNearDupPairs` (which `dedup_incremental_fold`
  * models as a batch loop): every arriving micro-batch of documents is
  * deduped against everything ingested before it, and three persistent,
  * transactionally-committed artifacts accumulate per epoch:
  *
  * {{{
  *   root/corpus/...   the raw documents          (epoch-committed)
  *   root/index/...    their MinHash band index   (epoch-committed)
  *   root/pairs/...    the near-dup pair log      (epoch-committed)
  * }}}
  *
  * Per batch, the existing corpus is touched ONLY through its
  * precomputed band index (collision join) plus the broadcast-pruned
  * candidate fetch — never re-shingled, never re-signed; the batch's
  * own index is computed once and becomes the next epoch's increment.
  * At 100 TB-of-corpus this is the crawl-ingest shape: per-batch cost
  * scales with the batch and its collisions, not the corpus.
  *
  * EXACTLY-ONCE: every stream here runs through [[EpochSink]], whose
  * replay rule keeps each artifact epoch-committed once and each
  * pre-batch read free of the batch's own epoch, so the pair log never
  * duplicates. The union of the committed pair-log epochs equals the
  * ONE-SHOT near-dup pairs of the full corpus (every pair has a
  * later-arriving side; set equality is batching-independent) — which
  * is exactly what the driver gate's plain-SQL oracle checks.
  */
object StreamingDedup {

  def corpusRoot(root: String): String = s"$root/corpus"
  def indexRoot(root: String): String = s"$root/index"
  def pairsRoot(root: String): String = s"$root/pairs"

  /** Start the dedup stage over a streaming `docs` frame carrying
    * (`idCol`, `textCol`). */
  def start(docs: DataFrame, idCol: String, textCol: String, root: String,
            checkpoint: String, trigger: Trigger, k: Int = 3,
            threshold: Double = 0.8, bands: Int = 16,
            rowsPerBand: Int = 4): StreamingQuery =
    EpochSink.start(docs, checkpoint, trigger) { ep =>
      val batch = ep.batch
      // micro-delta mode for the whole batch body: at lake-scale session
      // settings each dedup sub-step is scheduler-dispatch-bound
      MaintenanceExec.sizedByBatch(batch,
          Seq(corpusRoot(root), indexRoot(root), pairsRoot(root))) {
        val batchIndex = Dedup.minhashBandIndex(batch, idCol, textCol,
          k, bands, rowsPerBand)
        val emptyIndex = Dedup.minhashBandIndex(batch.filter(lit(false)),
          idCol, textCol, k, bands, rowsPerBand)
        val pairs = Dedup.incrementalNearDupPairs(
          batch,
          ep.prior(corpusRoot(root)).getOrElse(batch.filter(lit(false))),
          ep.prior(indexRoot(root)).getOrElse(emptyIndex),
          idCol, textCol, k, threshold, bands, rowsPerBand,
          newIndex = Some(batchIndex))
        // the pair log LAST: it is the consumer-visible commit
        ep.commit(corpusRoot(root), batch)
        ep.commit(indexRoot(root), batchIndex)
        ep.commit(pairsRoot(root), pairs)
      }
    }

  /** The accumulated near-dup pair log (exactly-once across replays). */
  def pairLog(spark: org.apache.spark.sql.SparkSession, root: String): DataFrame =
    TransactionalLake.readCommitted(spark, pairsRoot(root)).drop("epoch")

  def canonicalRoot(root: String): String = s"$root/canonical"

  /** POST-COMMIT canonical-map maintenance — the incremental path that
    * keeps "which doc is the canonical representative" current WITHOUT
    * re-canonicalizing the corpus: every committed pair-log epoch not yet
    * applied advances the persisted (id → canonical_id) map by a
    * [[Dedup.canonicalizeIncrementalDelta]] — per epoch that is
    * O(batch + touched components) work and an O(changes)-row delta
    * commit, never an O(corpus) rewrite. Run after a stream run or at
    * maintenance cadence (like [[foldAged]]); never concurrently with
    * itself.
    *
    * EXACTLY-ONCE: each delta commits through the idempotent
    * [[TransactionalLake]] epoch protocol under `root/canonical`, keyed
    * by the SAME epoch id as the pair-log epoch it consumes; an epoch's
    * inputs (prior map state, the epoch's corpus slice and pairs) are
    * all reads of already-committed artifacts below it, so a crash
    * mid-maintenance resumes by skipping the committed prefix and a
    * re-delivered pair epoch contracts to an empty delta
    * (StreamingDedupSpec). Returns the epoch ids applied this call. */
  def maintainCanonical(spark: org.apache.spark.sql.SparkSession, root: String,
                        idCol: String): Seq[Long] = {
    val croot = canonicalRoot(root)
    val done = TransactionalLake.allEpochs(spark, croot).toSet
    val todo = TransactionalLake.allEpochs(spark, pairsRoot(root)).filterNot(done)
    // each epoch's delta maintenance reads: the pair/corpus rows of THIS
    // epoch (partition-pruned) + the whole canonical map (the as-of
    // window) — size its shuffles to that footprint (micro-delta mode:
    // a per-epoch map advance is scheduler-dispatch-bound at lake-scale
    // settings; a map outgrowing the budget keeps them untouched)
    def epochFootprint(e: Long): Long =
      TransactionalLake.changeFootprintBytes(spark, pairsRoot(root), e - 1, e) +
        TransactionalLake.changeFootprintBytes(spark, corpusRoot(root), e - 1, e) +
        TransactionalLake.changeFootprintBytes(spark, croot, -1L, Long.MaxValue)
    todo.foreach { e =>
      MaintenanceExec.sizedByBytes(spark, epochFootprint(e)) {
      val newDocs = TransactionalLake.readCommitted(spark, corpusRoot(root))
        .filter(col("epoch").cast("long") === e).select(col(idCol))
      val pairs = TransactionalLake.readCommitted(spark, pairsRoot(root))
        .filter(col("epoch").cast("long") === e).drop("epoch")
      // prior map state = latest-wins over the delta epochs BELOW this
      // one (so a resumed maintenance pass sees exactly the state the
      // first attempt saw); before any canonical epoch exists the prior
      // map is empty
      val anyPrior = TransactionalLake.allEpochs(spark, croot).exists(_ < e)
      val prev =
        if (anyPrior) latestAsOf(spark, croot, idCol, e - 1)
        else newDocs.select(col(idCol), col(idCol).as("canonical_id"))
          .filter(lit(false))
      val delta = Dedup.canonicalizeIncrementalDelta(prev, newDocs, pairs, idCol)
      TransactionalLake.commitEpoch(delta, croot, e, Nil)
      }
    }
    todo
  }

  /** The maintained (id → canonical_id) map: latest-entry-wins over the
    * committed delta epochs. Docs with no near-dup carry their own id.
    * The read is one window shuffle keyed on the id — the O(corpus-map)
    * cost lives HERE (a view consumers pay when they ask), never in the
    * per-epoch maintenance write path. */
  def canonicalMap(spark: org.apache.spark.sql.SparkSession,
                   root: String, idCol: String): DataFrame =
    latestAsOf(spark, canonicalRoot(root), idCol, Long.MaxValue)

  /** Latest-entry-wins per `keyCol` over the committed epochs up to
    * `epoch` of the delta lake at `lakeRoot`: the as-of read of the
    * canonical map and of the graph-metric state. */
  private def latestAsOf(spark: org.apache.spark.sql.SparkSession,
                         lakeRoot: String, keyCol: String,
                         epoch: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("epoch").cast("long").desc)
    TransactionalLake.readCommitted(spark, lakeRoot)
      .filter(col("epoch").cast("long") <= epoch)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn", "epoch")
  }

  def quarantineRoot(root: String): String = s"$root/quarantine"

  /** STREAMING DECONTAMINATION — the ingest-time twin of
    * `Dedup.decontaminate`: every arriving micro-batch is checked for
    * word-k-gram overlap against a STATIC benchmark/eval set, and the
    * flagged doc ids accumulate in a transactionally-committed
    * quarantine log (training jobs anti-join against it). Flagging is
    * per-doc against fixed eval postings — no cross-epoch state — and
    * its one commit rides [[EpochSink]]'s replay rule; the committed union
    * equals the one-shot batch decontamination of everything ingested
    * (the driver gate's oracle). The eval postings broadcast per batch:
    * per-batch cost scales with the batch, never the corpus. */
  def startDecontaminate(docs: DataFrame, evalSet: DataFrame, idCol: String,
                         textCol: String, root: String, checkpoint: String,
                         trigger: Trigger, k: Int = 8): StreamingQuery =
    EpochSink.start(docs, checkpoint, trigger) { ep =>
      // eval suite is static and broadcast-sized by construction here;
      // pinning the path skips decontaminate's auto-select count job
      // that would otherwise run once per micro-batch
      ep.commit(quarantineRoot(root), Dedup.decontaminate(ep.batch, evalSet,
        idCol, textCol, k, broadcastEval = Some(true)))
    }

  /** The accumulated quarantine log (exactly-once across replays). */
  def quarantineLog(spark: org.apache.spark.sql.SparkSession,
                    root: String): DataFrame =
    TransactionalLake.readCommitted(spark, quarantineRoot(root)).drop("epoch")

  def fuzzyQuarantineRoot(root: String): String = s"$root/quarantine_fuzzy"

  /** STREAMING FUZZY decontamination — the paraphrase-catching twin of
    * [[startDecontaminate]]: every micro-batch runs the MinHash-banded
    * cross-set pass ([[Dedup.decontaminateFuzzy]]) against the static
    * eval suite and commits the verified `(train_id, eval_id, jaccard)`
    * pairs under the batch epoch. Each train doc arrives in exactly one
    * batch and candidates always pair a batch doc with an eval doc, so
    * the accumulated log equals the one-shot fuzzy pass over everything
    * ingested — exactly-once across crash replays via [[EpochSink]].
    * Per-batch cost: one batch-scale signature pass plus the suite-scale
    * (broadcast) eval side — never a corpus re-scan. */
  def startDecontaminateFuzzy(docs: DataFrame, evalSet: DataFrame,
                              idCol: String, textCol: String, root: String,
                              checkpoint: String, trigger: Trigger,
                              k: Int = 3, threshold: Double = 0.5,
                              bands: Int = 32,
                              rowsPerBand: Int = 2): StreamingQuery =
    EpochSink.start(docs, checkpoint, trigger) { ep =>
      ep.commit(fuzzyQuarantineRoot(root), Dedup.decontaminateFuzzy(ep.batch,
        evalSet, idCol, textCol, k, threshold, bands, rowsPerBand))
    }

  /** The accumulated fuzzy quarantine log (exactly-once across
    * replays). */
  def fuzzyQuarantineLog(spark: org.apache.spark.sql.SparkSession,
                         root: String): DataFrame =
    TransactionalLake.readCommitted(spark, fuzzyQuarantineRoot(root))
      .drop("epoch")

  /** STREAMING substring-dedup index maintenance: every micro-batch
    * advances the gram-postings lake and the per-doc best-repeat state
    * through [[Dedup.commitSubstringBatch]], which keeps its own three
    * epoch commits: its later commits read the first, so its reads
    * INCLUDE the batch's own, already-committed gram epoch (the one
    * exception to [[EpochSink]]'s prior-state rule). A crash-replayed
    * batch recomputes from the identical committed state, and the served
    * answer stays exactly the one-shot
    * [[Dedup.longestDupSubstrings]] of everything ingested. Micro-delta
    * execution sizing, like the near-dup stream: per-batch cost scales
    * with the batch and its gram collisions, never the corpus scan. */
  def startSubstringIndex(docs: DataFrame, idCol: String, textCol: String,
                          root: String, checkpoint: String, trigger: Trigger,
                          minWords: Int = 8,
                          maxAnchorPairs: Long = 10000000L): StreamingQuery =
    EpochSink.start(docs, checkpoint, trigger) { ep =>
      MaintenanceExec.sizedByBatch(ep.batch, Seq(root)) {
        Dedup.commitSubstringBatch(ep.batch, idCol, textCol, root, ep.id,
          minWords, maxAnchorPairs)
      }
    }

  def graphMetricsRoot(root: String): String = s"$root/graphmetrics"

  /** POST-COMMIT incremental GRAPH-METRIC maintenance — the graph twin
    * of [[maintainCanonical]]: every committed pair-log epoch not yet
    * applied advances maintained per-node (degree, tri_count) by a
    * [[graft.operators.Graph.incrementalTrianglesDelta]] — per epoch
    * that is O(batch edges · avg degree) work and an O(touched
    * nodes)-row delta commit, never a re-enumeration of the pair
    * graph. Same exactly-once shape: deltas commit under the SAME
    * epoch id as the pair epoch they consume, inputs are
    * already-committed artifacts strictly below it, a re-delivered
    * epoch is skipped by the committed-set check. Returns the epoch
    * ids applied this call. */
  def maintainGraphMetrics(spark: org.apache.spark.sql.SparkSession,
                           root: String): Seq[Long] = {
    import org.apache.spark.sql.functions.{greatest, least}
    val groot = graphMetricsRoot(root)
    val done = TransactionalLake.allEpochs(spark, groot).toSet
    val todo = TransactionalLake.allEpochs(spark, pairsRoot(root)).filterNot(done)
    var applied = done
    todo.foreach { e =>
      val pairsAll = TransactionalLake.readCommitted(spark, pairsRoot(root))
      val batch = pairsAll.filter(col("epoch").cast("long") === e)
        .select(col("id_a"), col("id_b"))
      val prevEdges = pairsAll.filter(col("epoch").cast("long") < e)
        .select(least(col("id_a"), col("id_b")).as("u"),
          greatest(col("id_a"), col("id_b")).as("v"))
        .distinct()
      // derivable from the entry scan + this call's own progress — no
      // per-epoch re-listing of the metric lake (listings are the
      // expensive op on object stores)
      val anyPrior = applied.exists(_ < e)
      val prevState =
        if (anyPrior) latestAsOf(spark, groot, "id", e - 1)
        else batch.select(col("id_a").as("id"))
          .withColumn("degree", lit(0L)).withColumn("tri_count", lit(0L))
          .filter(lit(false))
      val delta = graft.operators.Graph.incrementalTrianglesDelta(
        prevState, prevEdges, batch, "id_a", "id_b")
      TransactionalLake.commitEpoch(delta, groot, e, Nil)
      applied = applied + e
    }
    todo
  }

  /** The maintained per-node (id, degree, tri_count): latest-entry-wins
    * over the committed delta epochs — the O(state) read consumers pay
    * when they ask, never the per-epoch maintenance write path (same
    * contract as [[canonicalMap]]). */
  def graphMetricState(spark: org.apache.spark.sql.SparkSession,
                       root: String): DataFrame =
    latestAsOf(spark, graphMetricsRoot(root), "id", Long.MaxValue)

  /** Retention for the stage's artifact lakes — they gain one epoch per
    * micro-batch forever otherwise: fold all but the newest `keepLast`
    * epochs of corpus, index, pair log, and (when the decontamination
    * stage ran) the quarantine log into their consolidated generations
    * (views unchanged, replay of a folded epoch stays a no-op — same
    * protocol as the event lake). Returns epochs folded per artifact
    * (corpus, index, pairs, quarantine); an artifact that never existed
    * folds 0. Run at maintenance cadence, e.g.
    * `Maintenance.scheduleEpochFold`-style, never concurrently with
    * itself. Returns a named [[FoldedEpochs]] so adding a future
    * artifact lake extends the result instead of breaking every caller
    * destructuring a tuple shape. */
  def foldAged(spark: org.apache.spark.sql.SparkSession, root: String,
               keepLast: Int): FoldedEpochs =
    FoldedEpochs(
      graft.sources.Maintenance.foldAged(spark, corpusRoot(root), keepLast, Nil),
      graft.sources.Maintenance.foldAged(spark, indexRoot(root), keepLast, Nil),
      graft.sources.Maintenance.foldAged(spark, pairsRoot(root), keepLast, Nil),
      graft.sources.Maintenance.foldAged(spark, quarantineRoot(root), keepLast, Nil),
      // the canonical-delta lake folds too (latest-wins is epoch-keyed
      // and a fold preserves per-row epoch values, so the map view and
      // maintainCanonical's done-set both survive retention)
      graft.sources.Maintenance.foldAged(spark, canonicalRoot(root), keepLast, Nil))
}

/** Epochs folded per streaming-dedup artifact lake by
  * [[StreamingDedup.foldAged]]. */
case class FoldedEpochs(corpus: Int, index: Int, pairs: Int, quarantine: Int,
                        canonical: Int = 0)
