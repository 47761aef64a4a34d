package graft.streaming

import graft.operators.Similarity
import graft.sources.TransactionalLake
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** STREAMING ANN ingest — the similarity twin of [[StreamingDedup]]: every
  * arriving micro-batch of embeddings is assigned against the deployment's
  * CURRENT centroid generation and appended to a persistent, transactional
  * IVF index. Three artifacts accumulate per epoch:
  *
  * {{{
  *   root/corpus/...     the raw vectors                  (epoch-committed)
  *   root/centroids/...  centroid GENERATIONS             (epoch-committed)
  *   root/index/...      (id, cell, gen) assignments      (epoch-committed)
  * }}}
  *
  * The FIRST batch seeds the centroid generation (its first `nCells`
  * vectors by id — no future knowledge, the deployment-realistic choice);
  * subsequent batches assign against the committed generation, so
  * per-batch cost is O(batch × nCells) — the corpus is never rescanned at
  * ingest. Search joins the accumulated index through
  * [[Similarity.ivfTopKPreassigned]], whose completeness guard fails fast
  * if any corpus row is missing an assignment (a stale index can shrink
  * the search space silently otherwise).
  *
  * EXACTLY-ONCE: the stream runs through [[EpochSink]], so all three
  * artifacts are epoch-committed once and a crash-replayed epoch resolves
  * the same pre-batch generation (its own epoch excluded) and the same
  * assignments. The index commits LAST — it is the consumer-visible
  * commit point.
  *
  * PERIODIC CENTROID REFINEMENT ([[refineAndReindex]]) is the maintenance
  * half: Lloyd-refine over the committed corpus, re-assign EVERYTHING, and
  * commit both as a NEW GENERATION. Assignments commit before the centroid
  * generation flips, so a reader resolves either the old generation with
  * its complete old assignments or the new one with its complete new
  * assignments — never a mix (assignments carry their generation id, and
  * search filters on the resolved generation). Generation epoch ids live
  * at `GenBase`+ so they can never collide with (and silently suppress) a
  * stream epoch's commit. Single-writer: run at maintenance cadence, not
  * concurrently with the ingest stream (a batch racing the flip would
  * leave its new ids unassigned in the new generation — the completeness
  * guard turns that into a loud failure, not wrong results).
  */
object StreamingSimilarity {

  def corpusRoot(root: String): String = s"$root/corpus"
  def indexRoot(root: String): String = s"$root/index"
  def centroidsRoot(root: String): String = s"$root/centroids"
  def deletesRoot(root: String): String = s"$root/deletes"

  /** Maintenance-generation epoch ids start here — far above any stream
    * epoch id (micro-batch epochs count from 0). */
  val GenBase = 1000000000L

  /** Start the ANN-ingest stage over a streaming embeddings frame
    * carrying (`idCol`, `vecCol`). */
  def start(embs: DataFrame, idCol: String, vecCol: String, root: String,
            checkpoint: String, trigger: Trigger,
            nCells: Int = 16): StreamingQuery =
    EpochSink.start(embs, checkpoint, trigger) { ep =>
      val batch = ep.batch
      // pre-batch generation: every committed one but THIS epoch's (a
      // replayed first epoch re-seeds the centroids it committed)
      val gens = TransactionalLake.allEpochs(batch.sparkSession, centroidsRoot(root))
        .filter(_ != ep.id)
      val (gen, cents) =
        if (gens.isEmpty)
          (ep.id, Similarity.seedCentroids(batch, idCol, vecCol, nCells))
        else
          (gens.max, centroidGeneration(batch.sparkSession, root, gens.max))
      val assignments = Similarity.ivfAssignments(cents, batch, idCol, vecCol)
        .withColumn("gen", lit(gen))
      ep.commit(corpusRoot(root), batch.select(col(idCol), col(vecCol)))
      if (gens.isEmpty) ep.commit(centroidsRoot(root), cents)
      // index LAST: the consumer-visible commit
      ep.commit(indexRoot(root), assignments)
    }

  /** One committed centroid generation (tiny: nCells rows). */
  def centroidGeneration(spark: SparkSession, root: String, gen: Long): DataFrame =
    TransactionalLake.readCommitted(spark, centroidsRoot(root))
      .filter(col("epoch") === gen.toString).drop("epoch")

  /** The generation searches resolve: the newest committed one. */
  def currentGeneration(spark: SparkSession, root: String): Long = {
    val gens = TransactionalLake.committedEpochs(spark, centroidsRoot(root))
    require(gens.nonEmpty, s"no centroid generation committed under $root")
    gens.max
  }

  /** DELETION: tombstone-commit ids to remove from the index — a purged
    * tenant's vectors, a re-canonicalized doc's stale embedding. Rides
    * the same idempotent-epoch protocol as every other artifact (a
    * crash-replayed delete epoch is a no-op), takes effect IMMEDIATELY
    * on every committed read ([[committedCorpus]]/[[assignmentIndex]]
    * subtract the tombstone set before search — a deleted id can never
    * surface in top-k, even mid-maintenance), and COMPACTS AWAY
    * physically at the next [[refineAndReindex]] (the new generation is
    * built from the already-filtered corpus, so tombstones never
    * accumulate into the assignment path's working set; the corpus
    * lake's dead rows go at fold/retention like any other superseded
    * data). The tombstone set is id-scale metadata, shuffled as an
    * anti-join side — never collected. */
  def commitDeletes(spark: SparkSession, root: String, ids: DataFrame,
                    idCol: String, epochId: Long): Unit =
    TransactionalLake.commitEpoch(ids.select(col(idCol).as("id")).distinct(),
      deletesRoot(root), epochId, Nil)

  /** The committed tombstone set (empty frame when none committed). */
  private def deletedIds(spark: SparkSession, root: String): Option[DataFrame] =
    if (TransactionalLake.committedEpochs(spark, deletesRoot(root)).isEmpty)
      None
    else Some(TransactionalLake.readCommitted(spark, deletesRoot(root))
      .select(col("id")).distinct())

  private def minusDeleted(spark: SparkSession, root: String, df: DataFrame,
                           onCol: String): DataFrame =
    deletedIds(spark, root).fold(df)(del =>
      df.join(del.select(col("id").as(onCol)), Seq(onCol), "left_anti"))

  /** All committed vectors (exactly-once across replays), tombstoned
    * deletions excluded (`idCol` names the corpus id column the
    * tombstones key on). */
  def committedCorpus(spark: SparkSession, root: String,
                      idCol: String = "id"): DataFrame =
    minusDeleted(spark, root,
      TransactionalLake.readCommitted(spark, corpusRoot(root)).drop("epoch"),
      onCol = idCol)

  /** The accumulated (id, cell) index for one generation, tombstoned
    * deletions excluded. Within a generation every id maps to ONE cell
    * (same centroids ⇒ same argmin), so the dedup only collapses
    * replay-identical rows. */
  def assignmentIndex(spark: SparkSession, root: String, gen: Long): DataFrame =
    minusDeleted(spark, root,
      TransactionalLake.readCommitted(spark, indexRoot(root)).drop("epoch")
        .filter(col("gen") === gen).select(col("id"), col("cell"))
        .dropDuplicates(Seq("id", "cell")),
      onCol = "id")

  /** Search the committed index: newest generation's centroids +
    * assignments + the committed corpus, through the completeness-guarded
    * preassigned IVF path. */
  def searchCommitted(spark: SparkSession, root: String, probes: DataFrame,
                      idCol: String, vecCol: String, k: Int,
                      nProbe: Int = 3): DataFrame = {
    val g = currentGeneration(spark, root)
    Similarity.ivfTopKPreassigned(
      centroidGeneration(spark, root, g),
      assignmentIndex(spark, root, g),
      committedCorpus(spark, root, idCol), probes, idCol, vecCol, k, nProbe)
  }

  /** Periodic centroid refinement + full re-assignment as a NEW
    * generation (see object doc for the commit-order consistency
    * argument). Returns the new generation id. */
  def refineAndReindex(spark: SparkSession, root: String, idCol: String,
                       vecCol: String, nCells: Int = 16,
                       iters: Int = 2): Long = {
    // built from the TOMBSTONE-FILTERED corpus: the new generation is
    // the physical compaction point for deletions
    val corpus = committedCorpus(spark, root, idCol)
    val cents = Similarity.ivfCentroidsRefined(corpus, idCol, vecCol, nCells, iters)
    val gens = TransactionalLake.committedEpochs(spark, centroidsRoot(root))
    val gen = math.max(GenBase, gens.max + 1L)
    val assignments = Similarity.ivfAssignments(cents, corpus, idCol, vecCol)
      .withColumn("gen", lit(gen))
    // assignments FIRST: the generation becomes visible only when the
    // centroid commit lands, and by then its re-assignment is durable
    TransactionalLake.commitEpoch(assignments, indexRoot(root), gen, Nil)
    TransactionalLake.commitEpoch(cents, centroidsRoot(root), gen, Nil)
    gen
  }
}
