package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** FILE-LEVEL ZONE MAPS: a per-file (min, max, count) statistics index
  * over a sort/range-clustered parquet layout, and range reads that
  * prune at the FILE-LISTING level against it — the data-skipping layer
  * between partition pruning (directory-level, [[graft.sources.Lake]])
  * and parquet row-group stats (intra-file, only consulted after the
  * file is opened). Delta/Iceberg keep exactly this index in their
  * metadata layer; here it is an explicit, queryable artifact.
  *
  * Effectiveness is a LAYOUT property: after
  * `repartitionByRange(sortCol)` (or [[ZOrder.zOrdered]] for
  * multi-column), file ranges are near-disjoint and a selective range
  * predicate prunes to O(matching files). On a hash-scattered layout
  * every file straddles the predicate and nothing prunes — the index is
  * honest about that (it just returns every file).
  *
  * Scale shape: stats build is ONE scan with a per-file map-side
  * aggregate (|files| output rows, no wide shuffle); the index is
  * metadata-scale (rows = files), so the planning read + driver file
  * list is in the same audited class as the IVF probed-cell collect —
  * bounded by the file count of one table, never by rows. */
object ZoneMap {

  /** Fail-loud ceiling on the per-file rows a scan-planning read pulls
    * to the driver (same budget discipline as the pair-join
    * `maxCandidatePairs`). The file count is BOUNDED BY THE COMPACTION
    * INVARIANT — `Lake.compact` / `TransactionalLake.foldCommittedEpochs`
    * bin-pack to `targetRecordsPerFile`, so files ≈ rows / target and a
    * million stat rows means compaction has not run for a very long
    * time. Planning reads `limit(cap + 1)` so an over-budget index
    * refuses BEFORE materializing on the driver, never after.
    * Deployment-tunable via `-Dgraft.maxPlannedFiles=N` (also how the
    * refusal path is spec-covered without building a million files). */
  def MaxPlannedFiles: Int =
    sys.props.get("graft.maxPlannedFiles").map(_.toInt).getOrElse(1000000)
  private[operators] def plannerBudgetMsg: String =
    s"zone-map planning would collect more than $MaxPlannedFiles per-file " +
      "stat rows to the driver — the lake's compaction/fold maintenance " +
      "is overdue (files should be ~rows/targetRecordsPerFile); compact " +
      "before planning scans against this index"

  /** One (file, min_v, max_v, n) row per parquet file under `path`.
    * Persist next to the table and refresh per ingest batch (append-only
    * layouts only ever ADD rows here — a new file's stats row is
    * computed from that file alone). Over a
    * [[graft.sources.TransactionalLake]] the per-epoch, per-fold and
    * tenant-purge maintenance is [[graft.sources.FileIndexLake]]'s, with
    * `buildStats(spark, _, statCol)` as its builder. */
  def buildStats(spark: SparkSession, path: String, statCol: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(statCol)).as("min_v"), max(col(statCol)).as("max_v"),
        count(lit(1)).as("n"))

  /** MULTI-COLUMN stats: one (file, min_<c>, max_<c>…, n) row per parquet
    * file under `path`, for box pruning over a Z-ordered layout
    * ([[ZOrder.zOrdered]]) — a linear sort gives near-disjoint envelopes
    * on ONE column; the Morton layout keeps BOTH columns' envelopes tight
    * at once, so [[prunedBoxRead]] skips files on either dimension. Same
    * single map-side-aggregated scan as [[buildStats]]. */
  def buildStatsMulti(spark: SparkSession, path: String,
                      statCols: Seq[String]): DataFrame = {
    require(statCols.nonEmpty, "zone-map stats need at least one column")
    val aggs = statCols.flatMap(c => Seq(min(col(c)).as(s"min_$c"),
      max(col(c)).as(s"max_$c"))) :+ count(lit(1)).as("n")
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** BOX read `AND_i (lo_i <= col_i <= hi_i)` planned against a
    * [[buildStatsMulti]] index: a file survives only if EVERY
    * dimension's [min, max] envelope intersects that dimension's range —
    * the payoff of a Z-ordered layout, where a selective box prunes on
    * both dimensions simultaneously (a linearly-sorted layout prunes on
    * the sort column only; the other dimension's envelopes straddle
    * everything). Exact for the same reason the 1-D read is: pruning
    * only narrows the listing (a NULL envelope means all-NULL values,
    * which can never satisfy a BETWEEN), and the exact predicate
    * re-filters inside the survivors. `requirePruned` fails loud when
    * the layout skipped nothing. */
  def prunedBoxRead(spark: SparkSession, stats: DataFrame,
                    box: Seq[(String, Long, Long)],
                    requirePruned: Boolean = false): DataFrame = {
    require(box.nonEmpty, "zone-map box read needs at least one dimension")
    // cast envelopes to long here rather than assuming the stat columns'
    // width — an int-typed source column yields int min/max in the stats
    // and a raw getLong would throw an unnamed ClassCastException
    val cols = Seq(col("file")) ++
      box.flatMap { case (c, _, _) =>
        Seq(col(s"min_$c").cast("long"), col(s"max_$c").cast("long")) }
    val all = stats.select(cols: _*).limit(MaxPlannedFiles + 1).collect()
    require(all.length <= MaxPlannedFiles, plannerBudgetMsg)
    require(all.nonEmpty,
      "zone-map stats index is empty — nothing has been indexed; run " +
        "buildStatsMulti before planning box reads against it")
    val keep = all.filter { r =>
      box.zipWithIndex.forall { case ((_, lo, hi), i) =>
        !r.isNullAt(2 * i + 1) && !r.isNullAt(2 * i + 2) &&
          r.getLong(2 * i + 2) >= lo && r.getLong(2 * i + 1) <= hi
      }
    }.map(_.getString(0))
    if (requirePruned)
      require(keep.length < all.length,
        s"zone-map box pruning eliminated nothing (${all.length} files all " +
          s"intersect the box on every dimension) — the layout is not " +
          s"clustered on (${box.map(_._1).mkString(", ")}); zOrder the " +
          "table first")
    FileListing.readSurvivors(spark, keep.toSeq, all.head.getString(0),
      box.map { case (c, lo, hi) => col(c).between(lo, hi) }.reduce(_ && _))
  }

  /** Files whose [min, max] envelope intersects [lo, hi], plus the
    * total file count — the listing step of [[prunedRangeRead]],
    * factored for [[ComposedScan]]'s index intersection. */
  private[graft] def candidateFilesRange(stats: DataFrame, lo: Long,
                                             hi: Long): (Array[String], Long) = {
    val all = stats.select(col("file"), col("min_v"), col("max_v"))
      .limit(MaxPlannedFiles + 1).collect()
    require(all.length <= MaxPlannedFiles, plannerBudgetMsg)
    require(all.nonEmpty,
      "zone-map stats index is empty — nothing has been indexed; run " +
        "buildStats before planning range reads against it")
    // a null [min, max] envelope means the file's stat column is all
    // NULL: no row there can satisfy `statCol BETWEEN lo AND hi`
    // (comparisons with NULL never hold), so pruning it is exact
    (all.filter(r => !r.isNullAt(1) && !r.isNullAt(2) &&
        r.getLong(2) >= lo && r.getLong(1) <= hi)
      .map(_.getString(0)), all.length.toLong)
  }

  /** Range read `lo <= statCol <= hi` planned against the stats index:
    * only files whose [min, max] envelope intersects the range are
    * LISTED, then the exact predicate re-filters inside them (zone maps
    * prune envelopes, they never answer predicates). `requirePruned`
    * fails loud if the layout gave no pruning — the misconfiguration
    * this index exists to surface. */
  def prunedRangeRead(spark: SparkSession, stats: DataFrame, statCol: String,
                      lo: Long, hi: Long,
                      requirePruned: Boolean = false): DataFrame = {
    val (keep, nAll) = candidateFilesRange(stats, lo, hi)
    if (requirePruned)
      require(keep.length < nAll,
        s"zone-map pruning eliminated nothing ($nAll files all " +
          "intersect the range) — the layout is not range-clustered on " +
          s"'$statCol'; repartitionByRange/zOrder the table first")
    FileListing.readSurvivors(spark, keep.toSeq,
      stats.select(col("file")).head.getString(0), col(statCol).between(lo, hi))
  }
}
