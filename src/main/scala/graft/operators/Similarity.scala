package graft.operators

import graft.functions.{VectorFunctions => VF}
import graft.plans.{IvfPqExpressions => K}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, InterpretedOrdering, Literal, SortOrder}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`ArrayType(FloatType)`).
  *
  * Two paths, as the north-star requires:
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    Probes are broadcast (they are few); the corpus streams through
  *    executors once; per-probe top-k via window rank. No shuffle of the
  *    corpus beyond the final rank exchange of candidate rows.
  *  - [[lshTopK]]: the 100-TB path — random-hyperplane LSH buckets both
  *    sides, the join only compares vectors in colliding buckets
  *    (multi-probe: the probe also visits all 1-bit-flip neighbor buckets
  *    to recover boundary losses). Corpus bucketing is a narrow map; the
  *    join shuffles on bucket id, i.e. O(n/2^bits) candidates per probe.
  */
object Similarity {

  private def withNormed(df: DataFrame, idCol: String, vecCol: String,
                         as: String): DataFrame =
    df.select(col(idCol).as(s"${as}_id"), VF.toDouble(col(vecCol)).as(s"${as}_e"))
      .withColumn(s"${as}_nrm", VF.norm(col(s"${as}_e")))

  /** Exact cosine top-k for each probe vector. Deterministic: rank by
    * (cosine desc, corpus id asc). */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val c = withNormed(corpus, idCol, vecCol, "c")
    val p = withNormed(probes, idCol, vecCol, "p")
    val scored = c.crossJoin(broadcast(p))
      .filter(col("p_id") =!= col("c_id"))
      .withColumn("cosine",
        VF.cosineWithNorms(col("p_e"), col("c_e"), col("p_nrm"), col("c_nrm")))
    val w = Window.partitionBy(col("p_id"))
      .orderBy(col("cosine").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("p_id").as("probe_id"), col("c_id").as("neighbor_id"),
        col("cosine"), col("rank"))
  }

  /** CONTRASTIVE HARD-NEGATIVE MINING — the training-pair sampler for
    * embedding/reranker training: for each anchor (probe), the k most
    * similar corpus vectors that are NOT near-duplicates of it. The
    * `posThreshold` cut excludes candidates at cosine ≥ threshold —
    * those are (near-)positives, and keeping them in the negative set
    * is the classic false-negative poisoning failure of contrastive
    * batches. What remains at the top of the ranking is exactly the
    * "hard" band: similar enough to be informative, distinct enough to
    * be true negatives.
    *
    * Exact form (this method): one corpus stream against broadcast
    * anchors, filter, per-anchor window top-k — the same shape and
    * determinism contract as [[bruteForceTopK]] (rank by cosine desc,
    * id asc). At 100 TB compose with an ANN tier instead: any
    * `*TopK` method in this file with `k + expected positives`
    * headroom, then apply the same `cosine < posThreshold` cut and
    * re-rank — the cut is a post-filter, so every index tier already
    * supports it unchanged. */
  def hardNegatives(corpus: DataFrame, probes: DataFrame, idCol: String,
                    vecCol: String, k: Int,
                    posThreshold: Double): DataFrame = {
    require(posThreshold > -1.0 && posThreshold <= 1.0,
      "hardNegatives: posThreshold must be a cosine in (-1, 1]")
    val c = withNormed(corpus, idCol, vecCol, "c")
    val p = withNormed(probes, idCol, vecCol, "p")
    val scored = c.crossJoin(broadcast(p))
      .filter(col("p_id") =!= col("c_id"))
      .withColumn("cosine",
        VF.cosineWithNorms(col("p_e"), col("c_e"), col("p_nrm"), col("c_nrm")))
      .filter(col("cosine") < posThreshold)
    val w = Window.partitionBy(col("p_id"))
      .orderBy(col("cosine").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("p_id").as("probe_id"), col("c_id").as("neighbor_id"),
        col("cosine"), col("rank"))
  }

  /** LSH-bucketed approximate top-k. Multi-probe: each probe also searches
    * buckets within `probeHamming` bit flips of its own, recovering
    * boundary-split neighbors. (nBits, probeHamming) sets the scanned
    * corpus fraction ≈ Σ_{i≤h} C(nBits,i)/2^nBits — the recall/cost knob;
    * on structureless (near-orthogonal random) embeddings recall is
    * proportional to that fraction, on clustered real embeddings it is
    * far better.
    *
    * `nProbes > 0` enables QUERY-DIRECTED probing: flipping bit b costs
    * the probe's margin to hyperplane b (|projection_b|), a mask costs the
    * sum over its flipped bits, and only the `nProbes` cheapest masks are
    * probed — the buckets most likely to hold boundary-split neighbors.
    * At scale this is the knob that matters: the scanned corpus fraction
    * drops from Σ C(nBits,i)/2^nBits to nProbes/2^nBits at near-equal
    * recall, and the margin ranking runs on the PROBE side only (few
    * rows; the corpus is never touched). `nProbes <= 0` probes every
    * mask within the radius (the exhaustive-enumeration form).
    *
    * `candidateSink`: verification mode — the distinct (probe, candidate)
    * id pairs the probed buckets produced (the hash-dependent half) are
    * persisted to the given parquet path, and the exact half (cosine
    * scoring + ranking) recomputed from the READ-BACK artifact so an
    * external engine can verify it over precisely those pairs. The
    * re-join against the corpus broadcasts the candidate ids (they are
    * probe-bounded: ≤ probes × probed-bucket occupancy); the production
    * path (`None`) carries vectors through the bucket join instead. */
  def lshTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
              vecCol: String, k: Int, nBits: Int = 6, probeHamming: Int = 2,
              nTables: Int = 1, seed: Long = 42L, nProbes: Int = 0,
              candidateSink: Option[String] = None): DataFrame = {
    // OR-amplification: nTables independent hash tables; a neighbor is a
    // candidate if it collides (within probeHamming flips) in ANY table.
    // Miss probability decays as miss_one^nTables at ~linear cost.
    // The table id is part of the join key, so all tables ride ONE join.
    val cTables = (0 until nTables).map { t =>
      withNormed(corpus, idCol, vecCol, "c")
        .withColumn("table", lit(t))
        .withColumn("bucket", VF.lshBucket(col("c_e"), nBits, seed + t))
    }.reduce(_ unionAll _)
    val masks: Seq[Long] = (0 until nBits).toSet.subsets()
      .filter(s => s.size <= probeHamming)
      .map(s => s.foldLeft(0L)((m, b) => m | (1L << b))).toSeq.sorted
    val pTables = (0 until nTables).map { t =>
      val base = withNormed(probes, idCol, vecCol, "p")
        .withColumn("table", lit(t))
      if (nProbes <= 0)
        base
          .withColumn("bucket0", VF.lshBucket(col("p_e"), nBits, seed + t))
          .withColumn("bucket",
            explode(array(masks.map(m => col("bucket0").bitwiseXOR(lit(m))): _*)))
      else {
        // rank masks by summed flip margin; array_sort on (cost, mask)
        // structs orders by cost with the mask id as the deterministic
        // tiebreak. Probe-side-only work: an interpreted HOF over a
        // handful of rows, never the corpus. bucket0 is the SIGN-PACK of
        // the same projections (invariant pinned in VectorSpec), so the
        // vector is hashed once, not once per expression.
        val rankedMasks = masks.map { m =>
          val bits = (0 until nBits).filter(b => (m & (1L << b)) != 0L)
          val cost = bits.map(b => abs(element_at(col("proj"), b + 1)))
            .reduceOption(_ + _).getOrElse(lit(0.0))
          struct(cost.as("cost"), lit(m).as("m"))
        }
        val signPack = (0 until nBits).map(b =>
          when(element_at(col("proj"), b + 1) >= 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _)
        base
          .withColumn("proj", VF.lshProjections(col("p_e"), nBits, seed + t))
          .withColumn("bucket0", signPack)
          .withColumn("sel", slice(array_sort(array(rankedMasks: _*)), 1, nProbes))
          .withColumn("bucket",
            explode(transform(col("sel"), x => col("bucket0").bitwiseXOR(x.getField("m")))))
          .drop("proj", "sel")
      }
    }.reduce(_ unionAll _)
    val collided = cTables.join(broadcast(pTables), Seq("table", "bucket"))
      .filter(col("p_id") =!= col("c_id"))
    val scored = candidateSink match {
      case None =>
        collided
          .select(col("p_id"), col("c_id"), col("p_e"), col("c_e"),
            col("p_nrm"), col("c_nrm"))
          .distinct() // a pair may collide in several tables — score once
          .withColumn("cosine",
            VF.cosineWithNorms(col("p_e"), col("c_e"), col("p_nrm"), col("c_nrm")))
      case Some(path) =>
        collided.select(col("p_id"), col("c_id")).distinct()
          .coalesce(1).write.mode("overwrite").parquet(path)
        val cands = corpus.sparkSession.read.parquet(path)
        broadcast(cands)
          .join(withNormed(probes, idCol, vecCol, "p"), "p_id")
          .join(withNormed(corpus, idCol, vecCol, "c"), "c_id")
          .withColumn("cosine",
            VF.cosineWithNorms(col("p_e"), col("c_e"), col("p_nrm"), col("c_nrm")))
    }
    val w = Window.partitionBy(col("p_id"))
      .orderBy(col("cosine").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("p_id").as("probe_id"), col("c_id").as("neighbor_id"),
        col("cosine"), col("rank"))
  }

  /** Lloyd-refined IVF centroids: start from the deterministic seed
    * (first `nCells` vectors by id, one ordered collect) and run `iters`
    * k-means rounds. Each round is ONE aggregate collected to the
    * driver: assign every corpus vector to its max-cosine centroid
    * ([[assignedNormed]], a narrow projection), take the per-(cell, pos)
    * `avg` of the members' elements, and collect those nCells × dim
    * means — centroids are metadata-scale, like the probed-cell collect
    * of [[ivfTopKCellPartitioned]]. A cell that lost all members keeps
    * its old centroid. Every generation, the returned one included, is a
    * local relation, so nothing is checkpointed, released or copied out,
    * and the result pins zero executor storage (BlockRetentionSpec).
    * Float means depend on the partial-aggregation order, so refined
    * centroids are spec-pinned Spark-vs-Spark, not oracle-gated. Balanced
    * cells = bounded per-probe scan cost at 100 TB; on clustered real
    * embeddings this also concentrates neighbors into fewer probed cells. */
  def ivfCentroidsRefined(corpus: DataFrame, idCol: String, vecCol: String,
                          nCells: Int = 16, iters: Int = 2): DataFrame = {
    val seeds = corpus.select(col(idCol).as("cent_id"), VF.toDouble(col(vecCol)).as("cent_e"))
      .orderBy(col("cent_id")).limit(nCells)
    def generation(rows: Seq[Row]): DataFrame =
      corpus.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), seeds.schema)
        .withColumn("cent_nrm", VF.norm(col("cent_e")))
    var gen = seeds.collect().toSeq
    (1 to iters).foreach { _ =>
      // the ONE assignment implementation (assignedNormed) serves k-means,
      // search, and the stored index — the tiebreak can never drift apart
      val means = assignedNormed(generation(gen), corpus, idCol, vecCol)
        .select(col("cell"), posexplode(col("c_e")))
        .groupBy(col("cell"), col("pos")).agg(avg(col("col")).as("m"))
        .collect().groupBy(_.get(0))
        .map { case (cell, ms) => cell -> ms.sortBy(_.getInt(1)).map(_.get(2)).toSeq }
      gen = gen.map(r => means.get(r.get(0)).fold(r)(m => Row(r.get(0), m)))
    }
    generation(gen)
  }

  /** Deterministic seed centroids: the first `nCells` corpus vectors by
    * id, normed into (cent_id, cent_e, cent_nrm) — the caller-visible
    * half of the IVF index lifecycle (build assignments against these,
    * persist both, periodically regenerate via [[ivfCentroidsRefined]]). */
  def seedCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                    nCells: Int = 16): DataFrame =
    withNormed(corpus.orderBy(col(idCol)).limit(nCells), idCol, vecCol, "cent")

  /** Corpus→cell assignments for a centroid set: (id, cell) — the
    * PERSISTED artifact of the IVF index lifecycle (build once per
    * centroid generation, store next to the embeddings — ideally
    * cluster/partition the lake by `cell` so each probe's scan
    * row-group-skips to its cells). A narrow projection (the
    * nearest_centroid kernel against the collected centroids): the
    * corpus never shuffles for assignment. */
  def ivfAssignments(cents: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String): DataFrame =
    assignedNormed(cents, corpus, idCol, vecCol)
      .select(col("c_id").as("id"), col("cell"))

  /** Cell assignment carrying the normed vectors: (c_id, c_e, c_nrm,
    * cell). The corpus never shuffles for assignment: the centroid
    * generation is collected to the driver (one small job, none for a
    * local relation) and each row's cell is a per-row kernel call, so the
    * plan is one projection over the corpus scan, with no join, window or
    * exchange. */
  private[operators] def assignedNormed(cents: DataFrame, corpus: DataFrame,
                                        idCol: String, vecCol: String): DataFrame =
    withCell(withNormed(corpus, idCol, vecCol, "c"), col("c_e"), col("c_nrm"), cents)

  /** `df` plus a `cell` column: the `cent_id` of each row's max-cosine
    * centroid in `cents` (cosine desc, then lowest cent_id; a null vector
    * takes the lowest cent_id), computed by the nearest_centroid kernel
    * against the generation collected as ONE literal
    * array<struct<cent_id, cent_e, cent_nrm>> sorted by cent_id — the
    * same metadata-scale collect as the probed cells of
    * [[ivfTopKCellPartitioned]]. No centroids, no rows. */
  private def withCell(df: DataFrame, e: Column, nrm: Column, cents: DataFrame): DataFrame = {
    val c = cents.select(col("cent_id"), col("cent_e").cast("array<double>"),
      col("cent_nrm").cast("double"))
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(c.schema)
    val byId = new InterpretedOrdering(Seq(
      SortOrder(BoundReference(0, c.schema.head.dataType, nullable = true), Ascending)))
    val rows = c.collect().map(r => toCatalyst(r).asInstanceOf[InternalRow]).sorted(byId)
    val arr = ColumnBridge.column(
      Literal(new GenericArrayData(rows.toArray[Any]), ArrayType(c.schema)))
    val out = df.withColumn("cell",
      arr.getItem(K.nearestCentroid(e, nrm, arr)).getField("cent_id"))
    if (rows.isEmpty) out.filter(lit(false)) else out
  }

  /** IVF top-k against a PREASSIGNED corpus: the per-query assignment
    * pass (corpus × centroids argmin — the dominant per-query cost of
    * [[ivfTopKWith]]) is replaced by a join with the stored
    * [[ivfAssignments]] index. Same output, amortized build.
    *
    * COMPLETENESS CONTRACT: the inner index join silently EXCLUDES any
    * corpus row missing from `assignments` — a stale index (docs appended
    * after the build) would shrink the search space with no error. The
    * default guard detects the first unindexed id (an id-only anti-join
    * probe, one cheap job) and fails fast; incremental deployments append
    * per-batch [[ivfAssignments]] to the index instead (the
    * `sim_topk_ivf_incremental` lifecycle). Pass `requireComplete=false`
    * only to knowingly search the indexed subset. */
  def ivfTopKPreassigned(cents: DataFrame, assignments: DataFrame,
                         corpus: DataFrame, probes: DataFrame, idCol: String,
                         vecCol: String, k: Int, nProbe: Int = 3,
                         requireComplete: Boolean = true): DataFrame = {
    if (requireComplete) {
      val missing = corpus.select(col(idCol).as("c_id"))
        .join(assignments.select(col("id").as("c_id")), Seq("c_id"), "left_anti")
        .limit(1).count()
      require(missing == 0L,
        "assignment index is stale: corpus rows are missing from it and would be " +
          "silently excluded from search — append ivfAssignments for the new rows " +
          "(or rebuild), or pass requireComplete=false to search the indexed subset")
    }
    val c = withNormed(corpus, idCol, vecCol, "c")
      .join(assignments.select(col("id").as("c_id"), col("cell")), Seq("c_id"))
    ivfSearch(cents, c, probes, idCol, vecCol, k, nProbe)
  }

  /** IVF-flat ANN top-k with CALLER-SUPPLIED centroids (see
    * [[ivfCentroidsRefined]] for the k-means path). */
  def ivfTopKWith(cents: DataFrame, corpus: DataFrame, probes: DataFrame,
                  idCol: String, vecCol: String, k: Int, nProbe: Int = 3): DataFrame =
    ivfSearch(cents, assignedNormed(cents, corpus, idCol, vecCol),
      probes, idCol, vecCol, k, nProbe)

  /** Shared IVF search half: probe-side nProbe cell selection + the
    * cell-keyed candidate join + exact rerank. `c` carries
    * (c_id, c_e, c_nrm, cell). */
  /** Probe-side cell routing: each probe's nProbe nearest centroids
    * (cosine desc, centroid-id tiebreak) → (p_id, p_e, p_nrm, cell). */
  private[graft] def probeCells(cents: DataFrame, probes: DataFrame, idCol: String,
                                vecCol: String, nProbe: Int): DataFrame = {
    val probeW = Window.partitionBy(col("p_id"))
      .orderBy(col("cent_cos").desc, col("cent_id"))
    withNormed(probes, idCol, vecCol, "p")
      .crossJoin(broadcast(cents))
      .withColumn("cent_cos",
        VF.cosineWithNorms(col("p_e"), col("cent_e"), col("p_nrm"), col("cent_nrm")))
      .withColumn("cent_rank", row_number().over(probeW))
      .filter(col("cent_rank") <= nProbe)
      .select(col("p_id"), col("p_e"), col("p_nrm"), col("cent_id").as("cell"))
  }

  private def ivfSearch(cents: DataFrame, c: DataFrame, probes: DataFrame,
                        idCol: String, vecCol: String, k: Int,
                        nProbe: Int): DataFrame = {
    val p = probeCells(cents, probes, idCol, vecCol, nProbe)
    val scored = c.join(broadcast(p), Seq("cell"))
      .filter(col("p_id") =!= col("c_id"))
      .withColumn("cosine",
        VF.cosineWithNorms(col("p_e"), col("c_e"), col("p_nrm"), col("c_nrm")))
    val w = Window.partitionBy(col("p_id"))
      .orderBy(col("cosine").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("p_id").as("probe_id"), col("c_id").as("neighbor_id"),
        col("cosine"), col("rank"))
  }

  /** IVF-flat ANN with the deterministic seed centroids (first nCells by
    * id) — the oracle-able default; pass [[ivfCentroidsRefined]] output
    * to [[ivfTopKWith]] for the k-means-refined variant. */
  def ivfTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
              vecCol: String, k: Int, nCells: Int = 16, nProbe: Int = 3): DataFrame =
    ivfTopKWith(seedCentroids(corpus, idCol, vecCol, nCells),
      corpus, probes, idCol, vecCol, k, nProbe)

  /** TWO-LEVEL IVF (coarse → fine): the hierarchical routing that keeps
    * centroid argmin tractable when flat IVF's cell count explodes — at
    * 100 TB a √n-cell flat index means millions of centroids per
    * probe-routing argmin and an unbroadcastable centroid table, while
    * two levels of √(cells) each keep BOTH levels broadcast-sized
    * (route cost O(nCoarse + nProbeCoarse·nFinePerCell) per probe).
    * Candidate fetch then keys on the composite (coarse, fine) cell —
    * strictly finer partitions than either level alone, so the scanned
    * fraction drops multiplicatively.
    *
    * Deterministic end to end (the oracle replays it): coarse centroids
    * are the first `nCoarse` vectors by id; each coarse cell's fine
    * centroids are its first `nFinePerCell` members by id; every argmin
    * tiebreaks (cosine desc, centroid id asc). A probe routes to its
    * `nProbeCoarse` best coarse cells, then its `nProbeFine` best fine
    * cells among those cells' fine centroids, and candidates rerank
    * exactly. */
  def ivfTwoLevelTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
                      vecCol: String, k: Int, nCoarse: Int = 4,
                      nFinePerCell: Int = 4, nProbeCoarse: Int = 2,
                      nProbeFine: Int = 3): DataFrame = {
    val coarse = seedCentroids(corpus, idCol, vecCol, nCoarse)
    val cAssign = assignedNormed(coarse, corpus, idCol, vecCol)
    // fine centroids: each coarse cell's first members by id (seeded,
    // like the flat index — deterministic and oracle-replayable)
    val fineCents = cAssign
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cell")).orderBy(col("c_id"))))
      .filter(col("rn") <= nFinePerCell)
      .select(col("cell").as("f_coarse"), col("c_id").as("f_id"),
        col("c_e").as("f_e"), col("c_nrm").as("f_nrm"))
    // corpus → fine cell within its own coarse cell (broadcast argmin;
    // the corpus still never shuffles for assignment)
    val fAssign = cAssign
      .join(broadcast(fineCents), col("cell") === col("f_coarse"))
      .withColumn("f_cos",
        VF.cosineWithNorms(col("c_e"), col("f_e"), col("c_nrm"), col("f_nrm")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("c_id"))
          .orderBy(col("f_cos").desc, col("f_id"))))
      .filter(col("rn") === 1)
      .select(col("c_id"), col("c_e"), col("c_nrm"), col("cell"),
        col("f_id").as("fine"))
    // probe routing: coarse cells first, then fine cells among them
    val pc = probeCells(coarse, probes, idCol, vecCol, nProbeCoarse)
    val pf = pc.join(broadcast(fineCents), col("cell") === col("f_coarse"))
      .withColumn("f_cos",
        VF.cosineWithNorms(col("p_e"), col("f_e"), col("p_nrm"), col("f_nrm")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("p_id"))
          .orderBy(col("f_cos").desc, col("f_id"))))
      .filter(col("rn") <= nProbeFine)
      .select(col("p_id"), col("p_e"), col("p_nrm"), col("cell"),
        col("f_id").as("fine"))
    val scored = fAssign.join(broadcast(pf), Seq("cell", "fine"))
      .filter(col("p_id") =!= col("c_id"))
      .withColumn("cosine",
        VF.cosineWithNorms(col("p_e"), col("c_e"), col("p_nrm"), col("c_nrm")))
    val w = Window.partitionBy(col("p_id"))
      .orderBy(col("cosine").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("p_id").as("probe_id"), col("c_id").as("neighbor_id"),
        col("cosine"), col("rank"))
  }

  /** Persist the corpus PARTITIONED BY IVF CELL — the vector analog of
    * `Lake.writeValid(sortCols)` clustering: with one directory per
    * cell, a probe's candidate fetch prunes to its nProbe cells at the
    * FILE-LISTING level instead of scanning the whole corpus (the
    * at-rest layout the stored-assignment index only approximates). A
    * build-once artifact of the index lifecycle: rewrite it when the
    * centroid generation is regenerated. nCells ≈ √n keeps the
    * directory count in the same range as a tenant×hour event lake.
    * One argmin pass over the corpus (the same assignment kernel as
    * [[ivfAssignments]] — the tiebreak can never drift) and one
    * partitioned write; the corpus shuffles once, on `cell`, which ALSO
    * bin-packs each cell's rows together. */
  def writeCellPartitioned(cents: DataFrame, corpus: DataFrame, idCol: String,
                           vecCol: String, path: String): Unit = {
    val n = corpus.sparkSession.sessionState.conf.numShufflePartitions
    val normed = corpus
      .withColumn("__e", VF.toDouble(col(vecCol)))
      .withColumn("__n", VF.norm(col("__e")))
    withCell(normed, col("__e"), col("__n"), cents)
      .drop("__e", "__n")
      .repartition(n, col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
  }

  /** IVF top-k over a [[writeCellPartitioned]] lake: the probe side picks
    * its cells first (tiny — broadcast-argmin over the probes), the
    * DISTINCT probed-cell set (≤ nCells values, metadata-scale) becomes a
    * static partition filter on the lake scan, and only those
    * directories are listed/read — the candidate fetch cost is
    * O(probed cells), not O(corpus), before any join runs. Output is
    * identical to [[ivfTopKWith]] on the same centroids (the cell
    * routing is the same deterministic argmin). */
  def ivfTopKCellPartitioned(spark: org.apache.spark.sql.SparkSession,
                             path: String, cents: DataFrame, probes: DataFrame,
                             idCol: String, vecCol: String, k: Int,
                             nProbe: Int = 3): DataFrame = {
    val probeW = Window.partitionBy(col("p_id"))
      .orderBy(col("cent_cos").desc, col("cent_id"))
    val p = withNormed(probes, idCol, vecCol, "p")
      .crossJoin(broadcast(cents))
      .withColumn("cent_cos",
        VF.cosineWithNorms(col("p_e"), col("cent_e"), col("p_nrm"), col("cent_nrm")))
      .withColumn("cent_rank", row_number().over(probeW))
      .filter(col("cent_rank") <= nProbe)
      .select(col("p_id"), col("p_e"), col("p_nrm"), col("cent_id").as("cell"))
    // the probed-cell set: bounded by nCells (≈ √n) — metadata-scale,
    // like the centroid rows themselves
    val probedCells = p.select(col("cell")).distinct()
      .collect().map(_.getLong(0).toString)
    val corpus = spark.read.parquet(path)
      .filter(col("cell").isin(probedCells.toSeq: _*)) // partition-pruned listing
    // normed candidate side carrying the partition value back as the
    // long join key (partition columns read as strings by design)
    val cJoin = corpus
      .withColumn("c_id", col(idCol))
      .withColumn("c_e", VF.toDouble(col(vecCol)))
      .withColumn("c_nrm", VF.norm(col("c_e")))
      .select(col("c_id"), col("c_e"), col("c_nrm"), col("cell").cast("long").as("cell"))
    val scored = cJoin.join(broadcast(p), Seq("cell"))
      .filter(col("p_id") =!= col("c_id"))
      .withColumn("cosine",
        VF.cosineWithNorms(col("p_e"), col("c_e"), col("p_nrm"), col("c_nrm")))
    val w = Window.partitionBy(col("p_id"))
      .orderBy(col("cosine").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("p_id").as("probe_id"), col("c_id").as("neighbor_id"),
        col("cosine"), col("rank"))
  }

  /** PRODUCT-QUANTIZATION codebooks: the vector space split into `nSub`
    * contiguous sub-vectors, each with its own `nCodes`-entry codebook —
    * here seeded deterministically from the lowest-id corpus vectors
    * (the same build-once seed discipline as [[seedCentroids]];
    * [[pqCodebooksRefined]] Lloyd-refines per sub-space). One row, a
    * local relation: `cb` = the nSub·nCodes code vectors ordered by
    * (sub, code), plus the geometry, broadcastable to every
    * encoder/searcher. */
  def pqCodebooks(embeddings: DataFrame, idCol: String, vecCol: String,
                  nSub: Int = 8, nCodes: Int = 16): DataFrame =
    codebookFrame(embeddings.sparkSession,
      pqSeedBooks(embeddings, idCol, vecCol, nSub, nCodes), nSub, nCodes)

  /** The seed codebook entries, (sub, code)-major, from ONE ordered
    * collect of the `nCodes` lowest-id vectors. The geometry is checked
    * on those rows, on the driver: a dim count not divisible by nSub
    * would misalign every sub-vector slice, and fewer than nCodes seed
    * rows would leave `cb` short while n_codes still claims nCodes. */
  private def pqSeedBooks(embeddings: DataFrame, idCol: String, vecCol: String,
                          nSub: Int, nCodes: Int): Seq[Seq[Any]] = {
    val seeds = embeddings.select(col(idCol).as("sid"), VF.toDouble(col(vecCol)).as("e"))
      .orderBy(col("sid")).limit(nCodes).collect()
      .map(r => if (r.isNullAt(1)) Seq.empty[Any] else r.getSeq[Any](1))
    require(seeds.length == nCodes,
      s"PQ needs >= $nCodes corpus vectors to seed codebooks, found ${seeds.length}")
    val (dlo, dhi) = (seeds.map(_.length).min, seeds.map(_.length).max)
    require(dlo == dhi && dlo % nSub == 0,
      s"embedding dims $dlo..$dhi must be uniform and divisible by nSub=$nSub")
    val ds = dlo / nSub
    for (s <- 0 until nSub; e <- seeds.toSeq) yield e.slice(s * ds, (s + 1) * ds)
  }

  private def codebookFrame(spark: SparkSession, cb: Seq[Seq[Any]], nSub: Int,
                            nCodes: Int): DataFrame =
    spark.createDataFrame(java.util.List.of(Row(cb, nSub, nCodes)), StructType(Seq(
      StructField("cb", ArrayType(ArrayType(DoubleType))),
      StructField("n_sub", IntegerType, nullable = false),
      StructField("n_codes", IntegerType, nullable = false))))

  /** PQ-ENCODE the corpus: each vector becomes `nSub` code ids, its
    * nearest codebook entry per sub-space (squared L2 as one sequential
    * fold, ties to the lowest code). 64 floats → 8 small ints here (a
    * production lake packs them into nSub bytes — 32× smaller than
    * float32). Encoding is the pq_encode kernel, one generated call per
    * row against the broadcast codebooks: the corpus streams once,
    * nothing shuffles. A vector whose dimension differs from the
    * codebooks', a null vector or a null element fails the query with
    * the dimensions named (an interpreted `zip_with` form encoded those
    * silently as code 0). */
  def pqEncode(embeddings: DataFrame, idCol: String, vecCol: String,
               codebooks: DataFrame): DataFrame =
    embeddings.crossJoin(broadcast(codebooks))
      .select(col(idCol), K.pqEncode(VF.toDouble(col(vecCol)), col("cb"), col("n_sub"),
        col("n_codes")).as("codes"))

  /** Lloyd-refined PQ codebooks: per sub-space k-means over the encode
    * assignments. Seeds come from [[pqCodebooks]]' one ordered collect;
    * each round encodes the corpus against the current books (the ONE
    * encode kernel serves refinement and search, so tiebreaks can never
    * drift apart), takes the per-(sub, code, pos) `avg` of the assigned
    * elements as one aggregate collected to the driver, and replaces
    * every code with that mean (codes with no members keep their
    * previous entry). Books are metadata-scale and every generation is a
    * local relation, so nothing is checkpointed or copied out. Float
    * means are summation-order dependent, so refinement (like IVF's) is
    * spec-pinned Spark-vs-Spark rather than oracle-gated; total
    * distortion is non-increasing by Lloyd's argument. */
  def pqCodebooksRefined(embeddings: DataFrame, idCol: String, vecCol: String,
                         nSub: Int = 8, nCodes: Int = 16,
                         iters: Int = 2): DataFrame = {
    val spark = embeddings.sparkSession
    var books = pqSeedBooks(embeddings, idCol, vecCol, nSub, nCodes)
    val ds = books.head.length
    (1 to iters).foreach { _ =>
      // the books ride as a literal (no broadcast job); encode in its own
      // projection, as an expression beside a generator would be
      // evaluated once per exploded element
      val cb = ColumnBridge.column(Literal.create(books, ArrayType(ArrayType(DoubleType))))
      val means = embeddings.select(VF.toDouble(col(vecCol)).as("e"))
        .select(col("e"), K.pqEncode(col("e"), cb, lit(nSub), lit(nCodes)).as("codes"))
        .select(posexplode(col("e")).as(Seq("i", "x")), col("codes"))
        .withColumn("sub", (col("i") / ds).cast("int"))
        .groupBy(col("sub"), element_at(col("codes"), col("sub") + 1).as("code"),
          (col("i") % ds).as("pos"))
        .agg(avg(col("x")).as("m"))
        .collect().groupBy(r => r.getInt(0) * nCodes + r.getInt(1))
        .map { case (k, ms) => k -> ms.sortBy(_.getInt(2)).map(_.get(3)).toSeq }
      books = books.indices.map(k => means.getOrElse(k, books(k)))
    }
    codebookFrame(spark, books, nSub, nCodes)
  }

  /** Reconstruct (decode) PQ-encoded vectors: each row's codes replaced
    * by their codebook entries, concatenated — the lossy inverse of
    * [[pqEncode]], used to measure distortion. */
  def pqDecode(codes: DataFrame, idCol: String, codebooks: DataFrame): DataFrame =
    codes.crossJoin(broadcast(codebooks))
      .select(col(idCol),
        flatten(transform(sequence(lit(0), size(col("codes")) - 1),
          s => element_at(col("cb"),
            s * col("n_codes") + element_at(col("codes"), s + 1) + 1))).as("decoded"))

  /** Per-probe ADC lookup table: (sub, code) squared distances flattened
    * sub-major (same layout as `cb`) → (p_id, n_codes, ptab); the
    * pq_dist_table kernel, with pq_encode's geometry checks. */
  private def pqProbeTable(probes: DataFrame, idCol: String, vecCol: String,
                           codebooks: DataFrame): DataFrame =
    probes.crossJoin(broadcast(codebooks))
      .select(col(idCol).as("p_id"), col("n_codes"),
        K.pqDistTable(VF.toDouble(col(vecCol)), col("cb"), col("n_sub"),
          col("n_codes")).as("ptab"))

  /** ADC fold: the corpus row's approximate squared distance to a probe
    * — one sequential lookup-sum over its codes (the adc_dist kernel). */
  private def adcDist: Column = K.adcDist(col("codes"), col("ptab"), col("n_codes"))

  private def adcRank(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("p_id"))
      .orderBy(col("adc_dist").asc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("p_id").as("probe_id"), col("c_id").as("neighbor_id"),
        col("adc_dist"), col("rank"))
  }

  /** Asymmetric PQ top-k (ADC): per probe, a LOOKUP TABLE of
    * probe-subvector↔code squared distances is computed once
    * (nSub·nCodes doubles); each corpus row's approximate distance is
    * then ONE sequential fold over its codes into that table — no
    * vector arithmetic on the corpus side at query time. Probes (and
    * their tables) broadcast; the encoded corpus streams once; per-probe
    * top-k via window rank (distance asc, id tiebreak). The 100 TB
    * composition is [[ivfPqTopK]]: prune cells first, ADC-scan the
    * survivors. */
  def pqTopK(codes: DataFrame, probes: DataFrame, idCol: String,
             vecCol: String, codebooks: DataFrame, k: Int): DataFrame =
    adcRank(codes.select(col(idCol).as("c_id"), col("codes"))
      .crossJoin(broadcast(pqProbeTable(probes, idCol, vecCol, codebooks)))
      .filter(col("p_id") =!= col("c_id"))
      .withColumn("adc_dist", adcDist), k)

  /** k-NN GRAPH via IVF cell blocking — every vector's top-k neighbors
    * within its own centroid cell, the building block for graph-based
    * curation (dedup clustering, connectivity analysis, label
    * propagation). Same blocking contract as [[graft.operators.Dedup.semanticDedup]]:
    * the all-pairs O(n²) collapses to Σ_cells O(|cell|²); a true
    * neighbor in another cell is missed (raise recall by lowering
    * nCells or passing refined centroids). Pairs co-shuffle once on the
    * cell key; per-id top-k is a WindowGroupLimit (partial per
    * partition, no global sort). */
  def knnGraphIvf(embeddings: DataFrame, idCol: String, vecCol: String,
                  k: Int, nCells: Int = 16,
                  centroids: Option[DataFrame] = None): DataFrame = {
    val cents = centroids.getOrElse(seedCentroids(embeddings, idCol, vecCol, nCells))
    val assigned = assignedNormed(cents, embeddings, idCol, vecCol)
    val a = assigned.select(col("cell"), col("c_id").as("vec_id"),
      col("c_e").as("e_a"), col("c_nrm").as("nrm_a"))
    val b = assigned.select(col("cell"), col("c_id").as("neighbor_id"),
      col("c_e").as("e_b"), col("c_nrm").as("nrm_b"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    a.join(b, Seq("cell"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        VF.cosineWithNorms(col("e_a"), col("e_b"), col("nrm_a"), col("nrm_b")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("neighbor_id"), col("cell"), col("cosine"), col("rank"))
  }

  /** DIVERSITY sampling — per-semantic-cell quota: assign every vector
    * to its nearest centroid, keep at most `cap` per cell (deterministic
    * id order; pass a precomputed ordering column via the id if quality-
    * ranked selection is wanted). Flattens semantic redundancy the way
    * temperature sampling flattens source redundancy — the cluster-quota
    * step of SemDeDup-style curation pipelines. One per-row kernel
    * assignment + one WindowGroupLimit; nothing all-pairs. */
  def diversitySample(embeddings: DataFrame, idCol: String, vecCol: String,
                      cap: Int, nCells: Int = 16,
                      centroids: Option[DataFrame] = None): DataFrame = {
    val cents = centroids.getOrElse(seedCentroids(embeddings, idCol, vecCol, nCells))
    val w = Window.partitionBy(col("cell")).orderBy(col("c_id"))
    assignedNormed(cents, embeddings, idCol, vecCol)
      .withColumn("cell_rank", row_number().over(w))
      .filter(col("cell_rank") <= cap)
      .select(col("c_id").as(idCol), col("cell"), col("cell_rank"))
  }

  /** PQ shortlist → EXACT re-rank — the standard production recall fix
    * for quantized search: ADC ranks a `shortlist`-deep candidate set per
    * probe entirely in the compressed domain (no corpus vectors touched),
    * then ONLY those probes×shortlist survivors fetch their exact vectors
    * for a true-cosine re-rank to top-k. Exact arithmetic cost is
    * O(probes · shortlist · dim) instead of O(corpus · dim); the fetch is
    * an id-equi-join against the corpus (at 100 TB: a broadcast of the
    * shortlist ids against the vector lake, reading only the vec column).
    * Recall(k) equals exact search whenever the true top-k survive the
    * ADC shortlist — the shortlist depth is the recall/cost knob. */
  def pqTopKReranked(codes: DataFrame, corpus: DataFrame, probes: DataFrame,
                     idCol: String, vecCol: String, codebooks: DataFrame,
                     k: Int, shortlist: Int = 50): DataFrame =
    exactRerank(
      pqTopK(codes, probes, idCol, vecCol, codebooks, shortlist)
        .select(col("probe_id"), col("neighbor_id")),
      corpus, probes, idCol, vecCol, k)

  /** Exact-cosine re-rank of a (probe_id, neighbor_id) shortlist: only
    * the survivors fetch their true vectors — shared tail of every
    * quantized-shortlist → exact-rerank composition. */
  private def exactRerank(short: DataFrame, corpus: DataFrame,
                          probes: DataFrame, idCol: String, vecCol: String,
                          k: Int): DataFrame = {
    val c = withNormed(corpus, idCol, vecCol, "c")
    val p = withNormed(probes, idCol, vecCol, "p")
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    short.join(c, short("neighbor_id") === c("c_id"))
      .join(broadcast(p), short("probe_id") === p("p_id"))
      .withColumn("cosine",
        VF.cosineWithNorms(col("p_e"), col("c_e"), col("p_nrm"), col("c_nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** IVF→PQ→EXACT-RERANK — the full production billion-scale recipe:
    * IVF prunes to nProbe cells, ADC ranks the survivors entirely in
    * the compressed domain to a `shortlist`, and only probes×shortlist
    * rows fetch true vectors for the exact top-k. Fixes IVF-PQ's recall
    * ceiling (ADC's coarse codes cap it regardless of nProbe — the
    * measured flat ~0.23 curve in target/ann_recall.json) at the cost
    * of one id-equi-join against the vector lake; shortlist depth is
    * the recall/cost knob exactly as in [[pqTopKReranked]]. */
  def ivfPqTopKReranked(cents: DataFrame, assignments: DataFrame,
                        codes: DataFrame, corpus: DataFrame,
                        probes: DataFrame, idCol: String, vecCol: String,
                        codebooks: DataFrame, k: Int, nProbe: Int = 3,
                        shortlist: Int = 50): DataFrame =
    exactRerank(
      ivfPqTopK(cents, assignments, codes, probes, idCol, vecCol,
        codebooks, shortlist, nProbe)
        .select(col("probe_id"), col("neighbor_id")),
      corpus, probes, idCol, vecCol, k)

  /** IVF→PQ — the canonical billion-scale ANN composition: the IVF
    * assignment index PRUNES the corpus to each probe's nProbe cells,
    * and PQ's ADC fold RANKS the survivors — at query time the corpus
    * side touches only (cell, codes) pairs: no vectors, no exact
    * arithmetic, O(corpus/nCells · nProbe) lookups per probe. Both
    * halves are the already-verified operators; this composes their
    * routing and scoring unchanged, so the whole path stays
    * deterministic and oracle-checkable. */
  def ivfPqTopK(cents: DataFrame, assignments: DataFrame, codes: DataFrame,
                probes: DataFrame, idCol: String, vecCol: String,
                codebooks: DataFrame, k: Int, nProbe: Int = 3): DataFrame = {
    val p = probeCells(cents, probes, idCol, vecCol, nProbe)
      .select(col("p_id"), col("cell"))
      .join(pqProbeTable(probes, idCol, vecCol, codebooks), Seq("p_id"))
    adcRank(codes.select(col(idCol).as("c_id"), col("codes"))
      .join(assignments.select(col("id").as("c_id"), col("cell")), Seq("c_id"))
      .join(broadcast(p), Seq("cell"))
      .filter(col("p_id") =!= col("c_id"))
      .withColumn("adc_dist", adcDist), k)
  }

  /** Per-dimension quantization BOUNDS for scalar quantization: one row,
    * two arrays (`mns`, `mxs`), each element the corpus-wide min/max of
    * that dimension. One posexplode + one tiny aggregate; the result
    * broadcasts (it is 2×dim doubles). Exact element picks — no float
    * arithmetic — so the bounds are bit-identical in any engine. */
  def scalarQuantizeBounds(embeddings: DataFrame, vecCol: String): DataFrame = {
    val dims = embeddings
      .select(posexplode(VF.toDouble(col(vecCol))).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    dims.agg(
      transform(array_sort(collect_list(struct(col("pos"), col("mn")))),
        s => s.getField("mn")).as("mns"),
      transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
        s => s.getField("mx")).as("mxs"))
  }

  /** SCALAR QUANTIZATION (SQ8) of an embedding column: each dimension
    * mapped to an 8-bit code `floor((x-mn)/(mx-mn)·255 + 0.5)` against
    * the corpus-wide per-dim bounds — the embedding-lake COMPRESSION
    * lever (4× smaller than float32; at 100 TB of vectors, the
    * difference between fitting in cache tiers or not). Codes are kept
    * as an int array column here (a production lake would pack them
    * into a binary column); `dequantize` reverses the map for search.
    * Every step is IEEE +,·,/ and floor — exact in any engine, so the
    * whole compression pipeline is oracle-checkable bit-for-bit. */
  def scalarQuantize(embeddings: DataFrame, idCol: String, vecCol: String,
                     bounds: DataFrame): DataFrame =
    embeddings.crossJoin(broadcast(bounds))
      .select(col(idCol),
        zip_with(VF.toDouble(col(vecCol)),
          zip_with(col("mns"), col("mxs"), (a, b) => struct(a.as("mn"), b.as("mx"))),
          (x, mm) => when(mm.getField("mx") === mm.getField("mn"), 0)
            .otherwise(floor((x - mm.getField("mn"))
              / (mm.getField("mx") - mm.getField("mn")) * 255.0 + 0.5))
            .cast("int")).as("code"))

  /** Asymmetric SQ search: the corpus is DEQUANTIZED from its 8-bit
    * codes (`mn + code/255·(mx-mn)`), probes stay full precision — the
    * standard quality/size trade for compressed vector search. Same
    * plan shape as [[bruteForceTopK]] (probes broadcast, corpus streams
    * once, per-probe window rank); only the corpus representation
    * changed. Recall vs. the uncompressed baseline is pinned in
    * DedupSimilaritySpec. */
  def sqTopK(codes: DataFrame, probes: DataFrame, idCol: String,
             vecCol: String, bounds: DataFrame, k: Int): DataFrame = {
    // dequantize, then delegate: only the corpus REPRESENTATION differs
    // from the uncompressed exact search — one scoring implementation,
    // one tiebreak, forever in sync
    val dequantized = codes.crossJoin(broadcast(bounds))
      .select(col(idCol),
        zip_with(col("code"),
          zip_with(col("mns"), col("mxs"), (a, b) => struct(a.as("mn"), b.as("mx"))),
          (q, mm) => mm.getField("mn")
            + q.cast("double") / 255.0 * (mm.getField("mx") - mm.getField("mn")))
          .as(vecCol))
    bruteForceTopK(dequantized, probes, idCol, vecCol, k)
  }

  /** CROSS-ENCODER-style reranking over an ANN shortlist — the second
    * stage of two-stage retrieval: a cheap retriever (ANN) produces k
    * candidates per probe, then an expensive pairwise model rescores only
    * those k·|probes| pairs. The model here is a deterministic STUB
    * (cosine damped by the probe/candidate label gap — full-precision
    * sequential-fold arithmetic so the oracle replicates it exactly);
    * what is REAL, and what a production model drops into unchanged, is
    * the inference plumbing:
    *  - candidates stream through `mapPartitions` and are scored in
    *    fixed-size BATCHES (`grouped(batchSize)`) — the scorer is invoked
    *    once per batch, the shape a model session / native runtime needs
    *    to amortize per-call overhead (identical to the multimodal codec
    *    pattern);
    *  - the batch call takes a columnar-ish Seq of (p_vec, c_vec,
    *    label_gap) and returns one score per input, order-preserving;
    *  - everything upstream (shortlist generation) and downstream
    *    (per-probe rank, top-k cut) stays declarative Catalyst.
    * Scale: the reranker touches k·|probes| rows — shortlist-scale, never
    * corpus-scale; batches are per-partition so nothing collects.
    *
    * Input contract: (probe_id, neighbor_id, ann_rank, p_e, c_e,
    * label_gap) with the vectors as array<double>. Output: shortlist
    * reranked to `topK` by (ce_score desc, neighbor_id). */
  def crossEncoderRerank(shortlist: DataFrame, batchSize: Int = 8,
                         topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("probe_id", LongType),
      StructField("neighbor_id", LongType),
      StructField("ann_rank", IntegerType),
      StructField("ce_score", DoubleType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    // the stub "model": one invocation scores a whole batch. Cosine via
    // left-to-right fold (≡ list_reduce) over doubles, damped by the
    // label gap, rounded exactly as Spark/DuckDB round() does.
    def scoreBatch(batch: Seq[(Array[Double], Array[Double], Double)]): Seq[Double] =
      batch.map { case (p, c, gap) =>
        var dot = 0.0; var np = 0.0; var nc = 0.0; var i = 0
        while (i < p.length) {
          dot += p(i) * c(i); np += p(i) * p(i); nc += c(i) * c(i); i += 1
        }
        val cos = dot / (math.sqrt(np) * math.sqrt(nc))
        BigDecimal(cos / (1.0 + gap))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    val scored = shortlist.select(col("probe_id").cast("long"),
        col("neighbor_id").cast("long"), col("ann_rank").cast("int"),
        col("p_e"), col("c_e"), col("label_gap").cast("double"))
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          val inputs = batch.map(r => (r.getSeq[Double](3).toArray,
            r.getSeq[Double](4).toArray, r.getDouble(5)))
          batch.zip(scoreBatch(inputs)).map { case (r, s) =>
            Row(r.getLong(0), r.getLong(1), r.getInt(2), s) }
        }
      }(enc)
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("ce_score").desc, col("neighbor_id"))
    scored.withColumn("ce_rank", row_number().over(w))
      .filter(col("ce_rank") <= topK)
  }
}
