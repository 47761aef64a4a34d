package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The maintenance lifecycle of a PER-FILE index (one row per data file,
  * keyed by the file's `input_file_name()` in a `file` column — the
  * zone-map stats and bloom index of [[graft.operators.ZoneMap]] /
  * [[graft.operators.BloomIndex]]) over a [[TransactionalLake]]-backed
  * table. The index is a pure function of the files it describes, so the
  * lifecycle is independent of WHAT is indexed: every function takes the
  * per-file builder as `build` (a data dir → one row per file under it).
  *
  * Layout:
  * {{{
  *   indexRoot/data/epoch=<e>/…, indexRoot/_manifest/<e>   (an epoch lake:
  *       the index rows of data epoch e, committed under the SAME id)
  *   indexRoot/gen/v=<g>/…  +  _SUCCESS                     (the index of
  *       data fold generation g, written by [[refold]])
  * }}}
  *
  * Staleness fails loud, never silently: a retention fold deletes the
  * files that folded epochs' rows name, and [[readFoldAware]] refuses a
  * lake whose live generation was never re-indexed. Pruning reads only
  * ever narrow a listing, so a stale row can name a missing file but
  * never hide a live one. */
object FileIndexLake {

  private def genDir(indexRoot: String, g: Long) = s"$indexRoot/gen/v=$g"
  private def indexed(spark: SparkSession, dir: String): Boolean =
    TransactionalLake.fs(spark, dir).exists(new Path(s"$dir/_SUCCESS"))

  /** The data lake's live, non-empty fold generations. */
  private def liveGens(spark: SparkSession, lakeRoot: String): Seq[Long] =
    TransactionalLake.foldView(spark, lakeRoot).map(_._2).getOrElse(Seq.empty)
      .filter(_._2.nonEmpty).map(_._1)

  /** Every `gen/v=<g>` dir present under `indexRoot`. */
  private def genDirs(spark: SparkSession, indexRoot: String): Seq[Path] = {
    val f = TransactionalLake.fs(spark, indexRoot)
    val root = new Path(s"$indexRoot/gen")
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).map(_.getPath).filter(_.getName.startsWith("v=")).toSeq
  }

  /** INCREMENTAL maintenance: index data epoch `epoch` from THAT EPOCH'S
    * files alone — O(batch), never O(lake) — and commit the rows under
    * the same epoch id, inheriting the data lake's idempotent replay (a
    * replayed pass finds the epoch committed and builds nothing).
    * Run it post-commit, like the canonical-map and keyed-view hooks. */
  def append(spark: SparkSession, lakeRoot: String, indexRoot: String,
             epoch: Long)(build: String => DataFrame): Unit =
    if (!TransactionalLake.isCommitted(spark, indexRoot, epoch))
      TransactionalLake.commitEpoch(
        build(TransactionalLake.epochDir(lakeRoot, epoch)), indexRoot, epoch,
        partitionCols = Nil)

  /** The accumulated index across all committed epochs (the bookkeeping
    * `epoch` column dropped — consumers key on `file`). */
  def read(spark: SparkSession, indexRoot: String): DataFrame =
    TransactionalLake.readCommitted(spark, indexRoot).drop("epoch")

  /** FOLD maintenance: a retention fold
    * ([[TransactionalLake.foldCommittedEpochs]]) rewrites aged epochs
    * into a generation dir and deletes their files. Index exactly the
    * live generations that lack an index — one scan per new generation,
    * O(fresh), the bound the fold itself paid — and drop the index dirs
    * of generations a later merge-fold absorbed. Idempotent: a
    * generation's write is an overwrite whose `_SUCCESS` marker makes a
    * replayed pass a no-op and a crashed one re-run. Returns the number
    * of generations indexed by this call. */
  def refold(spark: SparkSession, lakeRoot: String, indexRoot: String)(
      build: String => DataFrame): Int = {
    val gens = liveGens(spark, lakeRoot)
    val fresh = gens.filterNot(g => indexed(spark, genDir(indexRoot, g)))
    fresh.foreach { g =>
      build(TransactionalLake.foldGenDir(lakeRoot, g))
        .write.mode("overwrite").parquet(genDir(indexRoot, g))
    }
    val live = gens.map(g => s"v=$g").toSet
    val f = TransactionalLake.fs(spark, indexRoot)
    genDirs(spark, indexRoot).filterNot(p => live(p.getName))
      .foreach(f.delete(_, true))
    fresh.size
  }

  /** OFFBOARDING CASCADE: drop every index row whose file lives under
    * `tenant`'s partition subtree. The index is SHARED across tenants
    * (keyed by file path, not tenant-partitioned), so this is a
    * row-level rewrite of the committed epochs and of every generation
    * dir — metadata-scale, per-file rows only. Run it AFTER the data
    * lake's [[TransactionalLake.purgeTenant]]. Returns the number of
    * dirs rewritten; a replayed purge rewrites none. */
  def purgeTenant(spark: SparkSession, indexRoot: String, tenant: String): Int = {
    val pred = col("file").contains(s"/tenant=$tenant/")
    TransactionalLake.purgeRowsWhere(spark, indexRoot, pred) +
      genDirs(spark, indexRoot)
        .count(p => TransactionalLake.purgeRowsInDir(spark, p.toString, pred))
  }

  /** The index of a lake that has been through retention folds: the rows
    * of LIVE epochs (a folded epoch's rows name deleted files) plus the
    * per-generation index [[refold]] maintains. Fails loud if a fold
    * happened but its generation was never re-indexed. */
  def readFoldAware(spark: SparkSession, lakeRoot: String,
                    indexRoot: String): DataFrame = {
    val folded = TransactionalLake.foldState(spark, lakeRoot).map(_._2)
      .getOrElse(Seq.empty)
    val liveEpochs = TransactionalLake.readCommitted(spark, indexRoot)
      .filter(!col("epoch").cast("long").isin(folded.map(Long.box): _*))
      .drop("epoch")
    val dirs = liveGens(spark, lakeRoot).map { g =>
      val d = genDir(indexRoot, g)
      require(indexed(spark, d),
        s"file index $indexRoot is missing fold generation $g of $lakeRoot " +
          "— run FileIndexLake.refold after every foldCommittedEpochs")
      d
    }
    if (dirs.isEmpty) liveEpochs
    else liveEpochs.unionByName(spark.read.parquet(dirs: _*))
  }
}
