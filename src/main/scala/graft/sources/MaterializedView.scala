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
  * Scope: ADDITIVE aggregates over append-only epochs (count/sum — the
  * mergeable-partial family). A merge lake's upserts/deletes are not
  * additive deltas (applying them needs each key's prior value); views
  * over a merge lake are [[KeyedView]]'s, whose key index supplies it. */
object MaterializedView {

  private def fs(spark: SparkSession, path: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  private[sources] def stateDir(root: String, cursor: Long) =
    s"$root/state_v$cursor"
  private def cursorDir(root: String) = s"$root/_cursor"

  /** Highest epoch folded into the committed view state; -1 = empty. The
    * one reader of `_cursor/` markers, for this view and [[KeyedView]]. */
  def cursor(spark: SparkSession, root: String): Long = {
    val f = fs(spark, root)
    val dir = new Path(cursorDir(root))
    if (!f.exists(dir)) -1L
    else f.listStatus(dir).map(_.getPath.getName)
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
    val head = TransactionalLake.headEpoch(spark, lakeRoot)
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
    state.write.mode("overwrite").parquet(stateDir(viewRoot, head))
    commitCursor(spark, viewRoot, head, cur)
    }
  }

  /** Versioned-marker commit shared by the views over a transactional
    * lake: with `state_v<head>` (and any view-owned side data) written,
    * publish the `_cursor/<head>` marker, then drop the superseded marker
    * and state dir (a crash there leaves garbage, never wrong reads).
    * Returns `head`. */
  private[sources] def commitCursor(spark: SparkSession, viewRoot: String,
                                    head: Long, cur: Long): Long = {
    TransactionalLake.publishMarker(spark, cursorDir(viewRoot), head,
      head.toString, head.toString)
    if (cur >= 0) {
      val f = fs(spark, viewRoot)
      f.delete(new Path(s"${cursorDir(viewRoot)}/$cur"), false)
      f.delete(new Path(stateDir(viewRoot, cur)), true)
    }
    head
  }
}
