package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTAL MATERIALIZED VIEW over a transactional lake — the
  * consumer side of [[TransactionalLake.changesBetween]]: a persisted
  * count/sum aggregate that each refresh advances by folding in ONLY the
  * epochs committed since its cursor. Refresh cost is O(new changes) +
  * O(|view|), never O(lake) — the property that makes a 100 TB lake's
  * dashboards affordable at a 60 s trigger cadence.
  *
  * Layout:
  * {{{
  *   viewRoot/state_v<cursor>/part-*.parquet   (grouped partials)
  *   viewRoot/_cursor/<cursor>                  (markers; readers take max)
  * }}}
  * Refresh protocol (same versioned-marker shape as the lake's fold
  * view — readers take the HIGHEST marker, so commit is one file
  * creation and every crash window leaves the previous view intact):
  *  1. cursor = highest marker (highest applied epoch);
  *  2. aggregate the change feed in `(cursor, head]`, union with the
  *     current state, re-aggregate (both inputs are |view|-sized);
  *  3. write `state_v<head>` (a crashed attempt's orphan is overwritten
  *     by the next refresh — the target is a deterministic function of
  *     the head epoch);
  *  4. COMMIT by creating the `_cursor/<head>` marker (temp + rename);
  *  5. cleanup superseded markers + state dirs (crash here is harmless).
  * A replayed/concurrent refresh of the same head rewrites the same
  * state and re-points the same pointer — idempotent. Totals are summed
  * as DECIMAL(18,2) partials, so the stored state is exact and
  * refresh-order-independent (1 refresh of 3 epochs ≡ 3 refreshes of 1).
  *
  * Scope: [[refresh]] covers ADDITIVE aggregates over append-only epochs
  * (count/sum — the mergeable-partial family). A merge lake's
  * upserts/deletes are not additive deltas (applying them needs each
  * key's prior value); [[refreshMerged]] maintains those views by
  * recomputing exactly the GROUPS touched by
  * [[TransactionalLake.changesBetween]] keys. */
object MaterializedView {

  private def fs(spark: SparkSession, path: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  private def stateDir(root: String, cursor: Long) = s"$root/state_v$cursor"
  private def cursorDir(root: String) = new Path(s"$root/_cursor")

  /** Highest epoch folded into the committed view state; -1 = empty. */
  def cursor(spark: SparkSession, root: String): Long = {
    val f = fs(spark, root)
    if (!f.exists(cursorDir(root))) -1L
    else f.listStatus(cursorDir(root)).map(_.getPath.getName)
      .filter(_.forall(_.isDigit)).map(_.toLong)
      .foldLeft(-1L)(math.max)
  }

  /** The committed view: one row per group with `cnt` and exact `total`
    * (DECIMAL partials). Reading costs O(|view|). */
  def read(spark: SparkSession, root: String): DataFrame = {
    val c = cursor(spark, root)
    require(c >= 0, s"no committed view state under $root")
    spark.read.parquet(stateDir(root, c))
  }

  /** Advance the view over `lakeRoot` to the lake's newest committed
    * epoch. Returns the new cursor (unchanged if nothing new). */
  def refresh(spark: SparkSession, lakeRoot: String, viewRoot: String,
              groupCols: Seq[String], valueCol: String): Long = {
    require(groupCols.nonEmpty, "refresh: groupCols must be non-empty")
    val cur = cursor(spark, viewRoot)
    val epochs = TransactionalLake.committedEpochs(spark, lakeRoot) ++
      TransactionalLake.foldView(spark, lakeRoot).map(_._2.flatMap(_._2))
        .getOrElse(Seq.empty)
    if (epochs.isEmpty) return cur
    val head = epochs.max
    if (head <= cur) return cur // nothing new — refresh is a no-op
    // additive refresh reads delta epochs + prior state only; size its
    // shuffles (and drop AQE's per-stage dispatch) to that footprint
    MaintenanceExec.sizedByBytes(spark,
      TransactionalLake.changeFootprintBytes(spark, lakeRoot, cur, head) +
        (if (cur >= 0)
          MaintenanceExec.dirFootprintBytes(spark, stateDir(viewRoot, cur))
        else 0L)) {
    val gcols = groupCols.map(col)
    val delta = TransactionalLake.changesBetween(spark, lakeRoot, cur, head)
      .groupBy(gcols: _*)
      .agg(count(lit(1)).cast("long").as("cnt"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("decimal(28,2)")
          .as("total"))
    val state =
      if (cur < 0) delta
      else read(spark, viewRoot).unionByName(delta)
        .groupBy(gcols: _*)
        .agg(sum(col("cnt")).cast("long").as("cnt"),
          sum(col("total")).cast("decimal(28,2)").as("total"))
    commitState(spark, viewRoot, state, head, cur)
    }
  }

  /** Aggregate view over a MERGE lake (upserts + delete tombstones) —
    * the non-additive twin of [[refresh]], implementing the recompute-
    * touched-groups pattern its scope note prescribes: a merge change
    * is not an additive delta (applying it needs each key's prior
    * value), so each refresh RECOMPUTES exactly the groups the changed
    * keys touch — in their NEW placement (the delta's upsert rows) and
    * their OLD one (the prior resolved placement of every changed key,
    * so a key that moves groups or is tombstoned shrinks the group it
    * left) — and carries every untouched group's row forward verbatim.
    *
    * Refresh cost is O(changes) + O(history of keys in touched groups)
    * + O(|view|), never O(lake): the delta and the prior placement of
    * its keys come from the epoch-pruned CDC feed and one key-semi-join
    * against the as-of history; the head-state recompute then resolves
    * ONLY keys owning at least one version in a touched group (at 100 TB,
    * bucket the lake by `keyCols` so these semi-joins are co-located
    * scans). Correctness does not depend on the touched set being small —
    * only cost does. Same crash/replay/cursor contract as [[refresh]];
    * compaction below the cursor fails loud via
    * [[TransactionalLake.changesBetween]]'s horizon check.
    *
    * Incremental ≡ recompute: each refresh rebuilds touched groups from
    * the RESOLVED head view itself (not from deltas), so N refreshes
    * converge to the one-shot groupBy over [[TransactionalLake.readMerged]]
    * regardless of batching (MaterializedViewSpec: group-move, tombstone,
    * fold equivalence; gated by `pipe_merged_view`). */
  def refreshMerged(spark: SparkSession, lakeRoot: String, viewRoot: String,
                    keyCols: Seq[String], groupCols: Seq[String],
                    valueCol: String): Long = {
    require(keyCols.nonEmpty, "refreshMerged: keyCols must be non-empty")
    require(groupCols.nonEmpty, "refreshMerged: groupCols must be non-empty")
    require(groupCols.intersect(keyCols).isEmpty,
      "refreshMerged: groupCols must be disjoint from keyCols")
    val T = TransactionalLake
    val cur = cursor(spark, viewRoot)
    val epochs = T.committedEpochs(spark, lakeRoot) ++
      T.foldView(spark, lakeRoot).map(_._2.flatMap(_._2)).getOrElse(Seq.empty)
    if (epochs.isEmpty) return cur
    val head = epochs.max
    if (head <= cur) return cur
    // refreshMerged recomputes touched groups from the FULL as-of
    // history (readCommittedAsOf scans every epoch <= head), so the
    // micro-delta bound is the whole lake's footprint + prior state —
    // a big lake correctly keeps lake-scale settings even for a tiny
    // delta ((-1, head] = every live epoch and fold generation)
    MaintenanceExec.sizedByBytes(spark,
      T.changeFootprintBytes(spark, lakeRoot, -1L, head) +
        (if (cur >= 0)
          MaintenanceExec.dirFootprintBytes(spark, stateDir(viewRoot, cur))
        else 0L)) {
    val gcols = groupCols.map(col)
    val kcols = keyCols.map(col)
    val delta = T.changesBetween(spark, lakeRoot, cur, head)
    // groups needing recompute: where the changed keys LAND (upsert rows)
    // plus where they CAME FROM (their resolved placement as of the
    // cursor — covers group moves and tombstones). Both are O(changes).
    val newGroups = delta.filter(col(T.OpCol) === "u").select(gcols: _*).distinct()
    val oldGroups =
      if (cur < 0) newGroups.limit(0)
      else {
        val changedKeys = delta.select(kcols: _*).distinct()
        resolveAsOf(spark, lakeRoot, keyCols, cur)
          .join(broadcast(changedKeys), keyCols, "left_semi")
          .select(gcols: _*).distinct()
      }
    val touched = graft.operators.Blocks.copyOut(
      newGroups.unionByName(oldGroups).distinct())
    // recompute the touched groups from the resolved HEAD state: resolve
    // only keys with >= 1 version in a touched group (a superset of the
    // keys whose winner lands there), then keep winners in touched groups
    val hist = T.readCommittedAsOf(spark, lakeRoot, head)
    val candKeys = hist.filter(col(T.OpCol) === "u")
      .join(broadcast(touched), groupCols, "left_semi")
      .select(kcols: _*).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(kcols: _*).orderBy(col("epoch").cast("long").desc)
    val winners = hist.join(candKeys, keyCols, "left_semi")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(T.OpCol) === "u")
      .join(broadcast(touched), groupCols, "left_semi")
    val recomputed = winners.groupBy(gcols: _*)
      .agg(count(lit(1)).cast("long").as("cnt"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("decimal(28,2)")
          .as("total"))
    val state =
      if (cur < 0) recomputed
      else read(spark, viewRoot)
        .join(broadcast(touched), groupCols, "left_anti")
        .unionByName(recomputed)
    commitState(spark, viewRoot, state, head, cur)
    }
  }

  /** Per-key winning upsert rows resolved over epochs <= `epoch`. */
  private def resolveAsOf(spark: SparkSession, lakeRoot: String,
                          keyCols: Seq[String], epoch: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col("epoch").cast("long").desc)
    TransactionalLake.readCommittedAsOf(spark, lakeRoot, epoch)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(TransactionalLake.OpCol) === "u")
      .drop("__rn")
  }

  /** Shared versioned-marker commit: write `state_v<head>`, point the
    * cursor marker at it, drop the superseded generation. */
  private def commitState(spark: SparkSession, viewRoot: String,
                          state: DataFrame, head: Long, cur: Long): Long = {
    state.write.mode("overwrite").parquet(stateDir(viewRoot, head))
    val f = fs(spark, viewRoot)
    f.mkdirs(cursorDir(viewRoot))
    val tmp = new Path(s"${cursorDir(viewRoot)}/.tmp-$head")
    val fin = new Path(s"${cursorDir(viewRoot)}/$head")
    val out = f.create(tmp, true)
    try out.write(head.toString.getBytes("UTF-8")) finally out.close()
    if (!f.rename(tmp, fin) && !f.exists(fin))
      throw new java.io.IOException(s"view cursor commit failed for $viewRoot")
    if (cur >= 0) { // cleanup — crash here leaves garbage, never wrong reads
      f.delete(new Path(s"${cursorDir(viewRoot)}/$cur"), false)
      f.delete(new Path(stateDir(viewRoot, cur)), true)
    }
    head
  }
}
