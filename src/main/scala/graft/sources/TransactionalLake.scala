package graft.sources

import graft.model.Schemas
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Transactional (manifest-committed) lake sink: EXACTLY-ONCE streaming
  * delivery without read-side dedup — the architectural upgrade over the
  * at-least-once `foreachBatch` append path (`StreamingIngest.start`,
  * whose read-side recipe is gated by `pipe_streaming_exactly_once`).
  *
  * Layout:
  * {{{
  *   root/data/epoch=<id>/tenant=<t>/year=.../part-*.parquet
  *   root/_manifest/<id>                (committed-epoch marker)
  * }}}
  *
  * Protocol per epoch (the classic idempotent-epoch commit):
  *  1. Manifest entry already present → the epoch COMMITTED before a
  *     crash → skip entirely (replay after a post-commit failure is a
  *     no-op).
  *  2. Write the epoch's rows OVERWRITING the epoch's own directory —
  *     the target is a deterministic function of the epoch id, so a
  *     replay after a mid-write crash rewrites the same files instead of
  *     appending duplicates.
  *  3. Publish `_manifest/<id>` atomically (temp file + rename).
  * Readers list the manifest and read ONLY committed epoch directories:
  * however far an uncommitted write got, it is invisible. Epoch commit
  * is therefore atomic from any reader's point of view.
  *
  * Scale notes: the manifest is one tiny file per epoch (one rename per
  * trigger, no data-scale work); the epoch directory keeps the normal
  * Hive partition layout UNDER it, so tenant/time pruning still reaches
  * the file listing (`epoch` is just an extra leading partition column).
  * On object stores, rename is copy+delete but still single-object — the
  * marker either exists or does not; there is no partial-commit state.
  *
  * RETENTION ([[foldCommittedEpochs]]): at a 60 s trigger the manifest
  * gains ~1,440 epoch directories per day forever — after months,
  * per-query listing cost and manifest size grow without bound. Epochs
  * that age out of the replay window are therefore FOLDED into
  * consolidated, bin-packed generations, SIZE-TIERED (LSM-style) so a
  * routine fold rewrites only the newly aged epochs:
  * {{{
  *   root/data_folded/gen=<g>/epoch=<e>/tenant=.../part-*.parquet
  *   root/_fold/gen-<v>     (VIEW file: one `<g>:<epochIds>` line per
  *                           live generation; readers take the highest v)
  *   root/_folded/<id>      (replay marker for a folded epoch)
  * }}}
  * Fold protocol (single-writer maintenance op, atomic for readers):
  *  1. Stage a NEW generation from the newly aged epochs, `epoch` kept
  *     as the leading partition column (rows keep their identity;
  *     pruning still works), re-binned to `targetRecordsPerFile` — the
  *     `Lake.compact` treatment. Cost O(fresh). Only when the live
  *     generation count would exceed `maxGenerations` are the existing
  *     generations absorbed too (cost O(lake), amortized to every
  *     `maxGenerations`-th fold).
  *  2. Create `_folded/<id>` markers — from the instant the fold can
  *     become visible, a replayed epoch must stay a no-op even after its
  *     manifest entry is cleaned up ([[isCommitted]] checks both).
  *  3. COMMIT: publish the `_fold/gen-<v>` view file by atomic
  *     temp+rename of a NEW file. Readers take the HIGHEST view and
  *     exclude its epoch ids from the live-manifest listing, so one file
  *     creation flips the whole read view — no loss window, no duplicate
  *     window.
  *  4. Cleanup (crash here is harmless, never wrong): folded epochs'
  *     manifest entries + live dirs, absorbed generation dirs,
  *     superseded view files. The absorbed-generation delete can race an
  *     in-flight reader that already planned against it (same
  *     transient-listing semantics as a crawler re-crawl) — run folds at
  *     maintenance cadence.
  * A crash between 1 and 3 leaves an unreferenced stage the next fold
  * attempt overwrites (same view number is recomputed); a crash between
  * 2 and 3 additionally leaves markers whose epochs are still
  * manifest-listed — readers unchanged, replay still a no-op.
  */
object TransactionalLake {

  private[sources] def fs(spark: SparkSession, path: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  private def manifestDir(root: String) = s"$root/_manifest"
  private[sources] def epochDir(root: String, epochId: Long) =
    s"$root/data/epoch=$epochId"
  private def foldPointerDir(root: String) = s"$root/_fold"
  private def foldedMarkerDir(root: String) = s"$root/_folded"
  private[sources] def foldGenDir(root: String, gen: Long) =
    s"$root/data_folded/gen=$gen"

  /** True iff `epochId` has been committed — directly (manifest entry) or
    * via a fold (its rows live in the consolidated generation; the
    * `_folded` marker keeps replay a no-op forever). */
  def isCommitted(spark: SparkSession, root: String, epochId: Long): Boolean = {
    val f = fs(spark, root)
    f.exists(new Path(s"${manifestDir(root)}/$epochId")) ||
      f.exists(new Path(s"${foldedMarkerDir(root)}/$epochId"))
  }

  /** Write + commit one epoch (idempotent — see the protocol above) in
    * one write. `df` must already carry `partitionCols` (default: the
    * standard event-lake layout; pass Nil for an unpartitioned epoch
    * payload — e.g. a dedup index or pair log). Returns false, having
    * written nothing, for an epoch that is already committed. */
  def commitEpoch(df: DataFrame, root: String, epochId: Long,
                  partitionCols: Seq[String] = Schemas.partitionCols): Boolean = {
    val spark = df.sparkSession
    if (isCommitted(spark, root, epochId)) return false // replayed post-commit epoch
    val target = epochDir(root, epochId)
    val n = spark.sessionState.conf.numShufflePartitions
    val distributed =
      if (partitionCols.isEmpty) df
      else df.repartition(n, partitionCols.map(col): _*)
    distributed
      .write.mode("overwrite") // replayed MID-WRITE epoch rewrites, never appends
      .partitionBy(partitionCols: _*)
      .parquet(target)
    val fin = publishMarker(spark, manifestDir(root), epochId,
      epochId.toString, target)
    // commit-time schema hint: this process is the only writer of this
    // epoch dir, so the read-side schema of the live view is derivable
    // without a footer-inference job — data columns (partition cols are
    // dir names, not file columns; inference marks everything nullable)
    // followed by the partition columns, epoch outermost, all strings
    // (partition type inference is disabled engine-wide). The key
    // carries the manifest entry's mtime (it exists — just renamed), so
    // a root deleted and re-created by ANOTHER process at the same
    // epoch ids misses the hint and falls back to footer inference
    // instead of silently reading with a stale schema.
    if (epochSchemaHints.size > 4096) epochSchemaHints.clear()
    epochSchemaHints.put(
      s"$root|$epochId|${fs(spark, root).getFileStatus(fin).getModificationTime}",
      org.apache.spark.sql.types.StructType(
        df.schema.fields.filterNot(fd => partitionCols.contains(fd.name))
          .map(_.copy(nullable = true)) ++
        ("epoch" +: partitionCols).map(c =>
          org.apache.spark.sql.types.StructField(c,
            org.apache.spark.sql.types.StringType))))
    true
  }
  private val epochSchemaHints = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  /** Atomically publish marker `dir/<name>` holding `content`: write the
    * `.tmp-<id>` sibling, then rename it in. The rename is the commit; a
    * rename that fails but finds the marker present lost to an identical
    * replayed publish. A crash leaves only the temp file, which
    * [[vacuum]] sweeps once aged. Returns the marker's path. */
  private[sources] def publishMarker(spark: SparkSession, dir: String,
                                     id: Long, name: String,
                                     content: String): Path = {
    val f = fs(spark, dir)
    f.mkdirs(new Path(dir))
    val tmp = new Path(s"$dir/.tmp-$id")
    val fin = new Path(s"$dir/$name")
    val out = f.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    if (!f.rename(tmp, fin) && !f.exists(fin))
      throw new java.io.IOException(s"marker commit failed for $fin")
    fin
  }

  /** Upper bound on the on-disk bytes holding change rows in
    * `(fromExclusive, toInclusive]` — the live epoch dirs in range plus
    * every fold generation containing at least one in-range epoch (a
    * generation mixes epochs, so its full size bounds from above).
    * Pure file metadata (no Spark job): what
    * [[MaintenanceExec.sizedByBytes]] sizes maintenance shuffles with.
    * A missing dir counts 0 (racing cleanup reads as "small", and the
    * subsequent data read resolves the truth). */
  def changeFootprintBytes(spark: SparkSession, root: String,
                           fromExclusive: Long, toInclusive: Long): Long = {
    def inRange(e: Long) = e > fromExclusive && e <= toInclusive
    val live = committedEpochs(spark, root).filter(inRange)
      .map(e => dirBytes(spark, epochDir(root, e))).sum
    val gens = foldView(spark, root).map(_._2).getOrElse(Seq.empty)
      .filter(_._2.exists(inRange))
      .map { case (g, _) => dirBytes(spark, foldGenDir(root, g)) }.sum
    live + gens
  }

  /** On-disk bytes under `d` — 0 when absent or racing a cleanup.
    * One definition lives in [[MaintenanceExec.dirFootprintBytes]]. */
  private def dirBytes(spark: SparkSession, d: String): Long =
    MaintenanceExec.dirFootprintBytes(spark, d)

  /** Committed epoch ids, ascending. */
  def committedEpochs(spark: SparkSession, root: String): Seq[Long] =
    manifestEntries(spark, root).map(_._1)

  /** Every committed epoch id, live or folded, ascending and distinct. */
  def allEpochs(spark: SparkSession, root: String): Seq[Long] =
    (committedEpochs(spark, root) ++
      foldState(spark, root).map(_._2).getOrElse(Seq.empty)).distinct.sorted

  /** Highest committed epoch, live or folded; -1 = nothing committed. */
  private[sources] def headEpoch(spark: SparkSession, root: String): Long =
    (-1L +: allEpochs(spark, root)).max

  /** Committed `(epochId, manifest-entry mtime)` pairs, ascending by id —
    * the mtime keys the epoch-schema hints (a re-created root's entries
    * carry new mtimes, so stale hints can never match). */
  private def manifestEntries(spark: SparkSession,
                              root: String): Seq[(Long, Long)] = {
    val dir = new Path(manifestDir(root))
    val f = fs(spark, root)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir)
      .filterNot(_.getPath.getName.startsWith("."))
      .map(s => (s.getPath.getName.toLong, s.getModificationTime))
      .sortBy(_._1).toSeq
  }

  /** Current fold VIEW: the view number plus the live generations it
    * references — each generation a (data-dir id, sorted epoch ids) pair.
    * Readers take the HIGHEST view file — pointer files are never mutated
    * in place, so this is race-free. View file format: one line per
    * generation, `<genId>:<epochId,epochId,...>`, plus '#' metadata lines
    * (the compaction horizon). */
  def foldView(spark: SparkSession, root: String): Option[(Long, Seq[(Long, Seq[Long])])] =
    viewFile(spark, root).map { case (v, content) =>
      val gens = content.split("\n").toSeq.map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { line =>
          require(line.contains(':'), s"fold view gen-$v of $root holds " +
            s"'$line', not a '<genId>:<epochIds>' generation line")
          val Array(g, es) = line.split(":", 2): @unchecked
          (g.trim.toLong,
            es.split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq.sorted)
        }.sortBy(_._1)
      (v, gens)
    }

  /** Number and raw content of the highest fold-view file, if any. */
  private def viewFile(spark: SparkSession, root: String): Option[(Long, String)] = {
    val dir = new Path(foldPointerDir(root))
    val f = fs(spark, root)
    if (!f.exists(dir)) return None
    val views = f.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("gen-")).map(_.stripPrefix("gen-").toLong)
    if (views.isEmpty) return None
    val in = f.open(new Path(s"${foldPointerDir(root)}/gen-${views.max}"))
    try Some((views.max, scala.io.Source.fromInputStream(in, "UTF-8").mkString))
    finally in.close()
  }

  /** The MERGE-COMPACTION HORIZON: the highest epoch id whose change
    * history has been resolved away by [[compactMerged]]; -1 = never
    * compacted. Below the horizon, per-epoch change rows no longer exist
    * — [[changesBetween]] and [[readCommittedAsOf]] refuse those reads
    * instead of silently returning incomplete history. Carried as a
    * `#compact:<epoch>` metadata line inside the fold-view file, so it
    * flips atomically with the data view and survives later folds. */
  def compactionHorizon(spark: SparkSession, root: String): Long =
    viewFile(spark, root).flatMap {
      _._2.split("\n").map(_.trim).find(_.startsWith("#compact:"))
        .map(_.stripPrefix("#compact:").trim.toLong)
    }.getOrElse(-1L)

  /** Write + atomically publish fold-view file `v` (see the object
    * scaladoc): one `<genId>:<epochIds>` line per live generation plus,
    * when a compaction horizon exists, its `#compact:` metadata line. */
  private def commitViewFile(spark: SparkSession, root: String, v: Long,
                             view: Seq[(Long, Seq[Long])],
                             horizon: Long): Unit = {
    val lines = view.map { case (g, es) => s"$g:${es.mkString(",")}" } ++
      (if (horizon >= 0) Seq(s"#compact:$horizon") else Nil)
    publishMarker(spark, foldPointerDir(root), v, s"gen-$v",
      lines.mkString("\n"))
    val f = fs(spark, root)
    // superseded view files — crash here is harmless, never wrong
    f.listStatus(new Path(foldPointerDir(root))).map(_.getPath)
      .filter(p => p.getName.startsWith("gen-") &&
        p.getName.stripPrefix("gen-").toLong < v)
      .foreach(p => f.delete(p, false))
  }

  /** Current fold view number and ALL folded epoch ids (flattened across
    * the live generations), if any fold has ever committed. */
  def foldState(spark: SparkSession, root: String): Option[(Long, Seq[Long])] =
    foldView(spark, root).map { case (v, gens) =>
      (v, gens.flatMap(_._2).sorted)
    }

  /** All committed rows — the consolidated fold generation (if any) plus
    * every live committed epoch dir NOT superseded by it. A half-written
    * epoch or an uncommitted fold stage is invisible. `basePath` keeps
    * every partition column (epoch included) in the schema and prunable;
    * a fold preserves per-row epoch values, so the view is identical
    * before and after folding. */
  // DRIVER-SIDE SCHEMA CACHE for committed reads: epoch dirs and fold
  // generations are immutable once their manifest/view entry exists, so
  // the parquet footer-inference JOB (one driver dispatch per uncached
  // read, 0.02-0.04 s + a scheduling gap — paid by EVERY incremental-
  // view refresh and index-maintenance pass) is redundant after the
  // first read of a given layout. Cache keys carry the manifest/view
  // entries' names AND mtimes, so a root deleted and re-created with a
  // different schema (tests, bench fixtures), a new commit, or a new
  // fold generation re-infers instead of reusing a stale schema — the
  // local-mode analog of a table format serving its schema from
  // metadata instead of sniffing data-file footers. Bounded.
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()
  private def cachedRead(spark: SparkSession, key: String, basePath: String,
                         dirs: Seq[String]): DataFrame = {
    val reader = spark.read.option("basePath", basePath)
    val hit = schemaCache.get(key)
    if (hit != null) reader.schema(hit).parquet(dirs: _*)
    else {
      val df = reader.parquet(dirs: _*)
      if (schemaCache.size > 512) schemaCache.clear()
      schemaCache.put(key, df.schema)
      df
    }
  }
  private def dirFingerprint(spark: SparkSession, root: String,
                             dir: String): String = {
    val f = fs(spark, root)
    val p = new Path(dir)
    if (!f.exists(p)) ""
    else f.listStatus(p)
      .map(s => s.getPath.getName + "@" + s.getModificationTime)
      .sorted.mkString(";")
  }

  def readCommitted(spark: SparkSession, root: String): DataFrame = {
    val gens = foldView(spark, root).map(_._2).getOrElse(Seq.empty)
      .filter(_._2.nonEmpty)
    val folded = gens.flatMap(_._2).toSet
    val liveEntries = manifestEntries(spark, root)
      .filterNot { case (e, _) => folded(e) }
    val live = liveEntries.map(_._1)
    val reads =
      gens.map { case (g, _) =>
        // fold-pointer files are never mutated in place: their listing
        // fingerprint pins exactly which generation layout this is
        cachedRead(spark,
          s"$root|gen=$g|${dirFingerprint(spark, root, foldPointerDir(root))}",
          foldGenDir(root, g), Seq(foldGenDir(root, g)))
      } ++
      (if (live.nonEmpty) {
        // fast path: every live epoch was committed by this process with
        // the same schema — read with the commit-time hint, no job. A
        // restart, an evolved epoch, or a mixed-schema window falls back
        // to the fingerprint-cached inference below.
        val hints = liveEntries.map { case (e, mt) =>
          epochSchemaHints.get(s"$root|$e|$mt") }
        val hinted =
          if (hints.forall(_ != null) && hints.distinct.size == 1)
            Some(spark.read.schema(hints.head)
              .option("basePath", s"$root/data")
              .parquet(live.map(epochDir(root, _)): _*))
          else None
        Seq(hinted.getOrElse(cachedRead(spark,
          s"$root|live=${live.mkString(",")}" +
            s"|${dirFingerprint(spark, root, manifestDir(root))}",
          s"$root/data", live.map(epochDir(root, _)))))
      } else Nil)
    require(reads.nonEmpty, s"no committed epochs under $root")
    reads.reduce(_ unionByName _)
  }

  /** TIME TRAVEL: the committed view AS OF `epoch` — rows from every
    * committed epoch with id <= the given one. Falls out of the layout
    * for free: `epoch` is a partition column in both the live dirs and
    * the folded generations (a fold preserves per-row epoch values), so
    * an as-of read keeps working after retention folds and prunes at
    * the file-listing level. Epochs committed after `epoch` are simply
    * not listed/filtered — a reproducible snapshot for audits, replays,
    * and training-run provenance ("exactly the corpus as of epoch N"). */
  def readCommittedAsOf(spark: SparkSession, root: String,
                        epoch: Long): DataFrame = {
    val horizon = compactionHorizon(spark, root)
    require(epoch >= horizon,
      s"readCommittedAsOf($epoch): snapshots below the compaction " +
        s"horizon ($horizon) were resolved away by compactMerged")
    readCommitted(spark, root)
      .filter(col("epoch").cast("long") <= epoch)
  }

  /** VACUUM: reclaim debris the crash-tolerant protocols deliberately
    * leave behind (every crash window above says "cleanup later is
    * harmless" — this is that cleanup, safe to run at any maintenance
    * cadence):
    *
    *  1. UNCOMMITTED live epoch dirs (no manifest entry, no `_folded`
    *     marker) older than `olderThanMs` — a crashed [[commitEpoch]]'s
    *     data write. The age horizon is the safety rule (same as Delta
    *     VACUUM's retention): a concurrent writer's epoch dir exists
    *     before its manifest entry does, so only aged dirs are debris.
    *  2. Leftover LIVE dirs + manifest entries of epochs the published
    *     fold view already superseded — a fold/compaction that crashed
    *     in its cleanup step. No horizon needed: the view file is
    *     published, so readers already exclude these ids.
    *  3. UNREFERENCED `data_folded/gen=` dirs older than the horizon —
    *     a fold that crashed before publishing its view (its stage is
    *     recomputed under the same id next attempt; an *aged* stage
    *     means no retry is in flight), or an absorbed generation whose
    *     delete crashed.
    *  4. Aged `.tmp-*` files under `_manifest`/`_fold` (crashed atomic
    *     publishes) and superseded `_fold/gen-*` pointer files.
    *
    * `_folded` replay markers are NEVER removed — they are what keeps a
    * replayed epoch a no-op forever, and they cost one empty file each.
    * Committed state is untouched by construction: every rule requires
    * either "not reachable from the manifest/view" or "superseded by
    * the published view". Single-writer maintenance op, like fold.
    * Returns the number of paths removed. */
  def vacuum(spark: SparkSession, root: String,
             olderThanMs: Long = 86400000L): Int = {
    val f = fs(spark, root)
    val now = System.currentTimeMillis()
    var removed = 0
    def rm(p: Path, recursive: Boolean): Unit =
      if (f.exists(p) && f.delete(p, recursive)) removed += 1
    def aged(st: org.apache.hadoop.fs.FileStatus): Boolean =
      now - st.getModificationTime >= olderThanMs
    val view = foldView(spark, root)
    val folded = view.map(_._2.flatMap(_._2)).getOrElse(Seq.empty).toSet
    val liveGens = view.map(_._2.map(_._1)).getOrElse(Seq.empty).toSet
    val dataDir = new Path(s"$root/data")
    if (f.exists(dataDir)) f.listStatus(dataDir).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("epoch=")) {
        val e = name.stripPrefix("epoch=").toLong
        if (folded(e)) rm(st.getPath, recursive = true) // rule 2
        else if (!isCommitted(spark, root, e) && aged(st))
          rm(st.getPath, recursive = true) // rule 1
      }
    }
    folded.foreach { e => // rule 2: manifest entries of folded epochs
      rm(new Path(s"${manifestDir(root)}/$e"), recursive = false)
    }
    val genRoot = new Path(s"$root/data_folded")
    if (f.exists(genRoot)) f.listStatus(genRoot).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("gen=") &&
        !liveGens(name.stripPrefix("gen=").toLong) && aged(st))
        rm(st.getPath, recursive = true) // rule 3
    }
    Seq(manifestDir(root), foldPointerDir(root)).foreach { d =>
      val p = new Path(d)
      if (f.exists(p)) f.listStatus(p).foreach { st =>
        if (st.getPath.getName.startsWith(".tmp-") && aged(st))
          rm(st.getPath, recursive = false) // rule 4
      }
    }
    view.foreach { case (v, _) => // rule 4: superseded pointer files
      val p = new Path(foldPointerDir(root))
      if (f.exists(p)) f.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("gen-") && n.stripPrefix("gen-").toLong < v)
          rm(st.getPath, recursive = false)
      }
    }
    removed
  }

  /** Tenant OFFBOARDING across the transactional lake — the epoch-aware
    * twin of [[Lake.purgeTenant]]: deletes the tenant's partition subtree
    * from EVERY live committed epoch directory and EVERY fold
    * generation, so the tenant is gone from the entire committed history,
    * not just the newest view. Commit/fold markers are untouched, which
    * is what makes the purge replay-stable:
    *  - a crash-replayed COMMITTED epoch stays a no-op ([[isCommitted]]
    *    still true) — the purged tenant cannot resurrect from replay;
    *  - a later [[foldCommittedEpochs]] stages from the purged live dirs,
    *    carrying the purge into the consolidated generation.
    * Requires the tenant-partitioned layout (`tenant` in partitionCols);
    * single-writer maintenance — never run concurrently with a fold of
    * the same root. Returns the number of epoch/generation subtrees
    * removed. */
  def purgeTenant(spark: SparkSession, root: String, tenant: String): Int = {
    val f = fs(spark, root)
    var removed = 0
    def drop(p: Path): Unit = if (f.exists(p)) { f.delete(p, true); removed += 1 }
    committedEpochs(spark, root).foreach { e =>
      drop(new Path(s"${epochDir(root, e)}/tenant=$tenant"))
    }
    foldView(spark, root).map(_._2).getOrElse(Seq.empty).foreach { case (g, _) =>
      val gd = new Path(foldGenDir(root, g))
      if (f.exists(gd))
        f.listStatus(gd).filter(_.isDirectory).foreach { ep =>
          drop(new Path(ep.getPath, s"tenant=$tenant"))
        }
    }
    removed
  }

  /** ROW-LEVEL purge: rewrite every live committed epoch dir and every
    * fold generation WITHOUT the rows matching `pred` — the cascade
    * path for shared per-FILE artifacts that key tenant data in a data
    * COLUMN instead of a partition dir (zone-map / bloom stats rows
    * carry the indexed file's path; a lake purge leaves them naming
    * deleted tenant files). Cost O(artifact), which for stats lakes is
    * metadata-scale — per-file rows, never corpus rows.
    *
    * Crash-safe, single-writer, idempotent: each subtree is rewritten
    * to a `.purge_tmp` sibling, the original deleted, the tmp renamed
    * in. A crash between delete and rename is repaired by the re-run
    * (tmp present + original missing → rename completes); a crash
    * earlier just re-rewrites. Commit markers and the fold view are
    * untouched — replay/no-op semantics are unchanged. Dirs where the
    * predicate matches nothing are SKIPPED byte-identical (probe before
    * rewrite — r15 verdict #5), so the cost is O(dirs touched), not
    * O(all epochs). Returns the number of subtrees rewritten. */
  def purgeRowsWhere(spark: SparkSession, root: String,
                     pred: org.apache.spark.sql.Column): Int = {
    var rewritten = 0
    committedEpochs(spark, root).foreach { e =>
      if (purgeRowsInDir(spark, epochDir(root, e), pred,
          epochPartitioned = false)) rewritten += 1
    }
    foldView(spark, root).map(_._2).getOrElse(Seq.empty).foreach {
      case (g, _) =>
        if (purgeRowsInDir(spark, foldGenDir(root, g), pred,
            epochPartitioned = true)) rewritten += 1
    }
    rewritten
  }

  /** One-directory unit of [[purgeRowsWhere]] — shared so plain dirs
    * living OUTSIDE a transactional root (the refold generations of
    * [[FileIndexLake]]) cascade with the same tmp/delete/rename crash
    * protocol. Live epoch dirs are flat (stats/index lakes commit with
    * partitionCols = Nil); fold generations keep `epoch` as their one
    * partition level and are rewritten preserving it. Deeper hive
    * layouts (tenant-partitioned DATA lakes) are out of scope — those
    * purge by subtree ([[purgeTenant]]), not by row. Returns true iff
    * the dir was rewritten (false = absent, or no row matched). */
  private[graft] def purgeRowsInDir(spark: SparkSession, dir: String,
                                    pred: org.apache.spark.sql.Column,
                                    epochPartitioned: Boolean = false): Boolean = {
    val f = fs(spark, dir)
    val orig = new Path(dir)
    val tmp = new Path(dir + ".purge_tmp")
    if (f.exists(orig)) {
      require(f.listStatus(orig).forall(s => !s.isDirectory ||
        (epochPartitioned && s.getPath.getName.startsWith("epoch="))),
        s"purgeRowsInDir: $dir carries unexpected partition levels; " +
          "row-level purge supports flat (or epoch-partitioned fold) " +
          "payloads only")
      val src =
        if (epochPartitioned)
          spark.read.option("basePath", dir).parquet(dir)
        else spark.read.parquet(dir)
      // SKIP-UNTOUCHED-DIRS (r15 verdict #5): a dir where the predicate
      // matches nothing keeps its files byte-identical — no rewrite, no
      // mtime churn. At deployment scale a tenant purge then pays
      // O(dirs touched), not O(all epochs) read-filter-rewrite. The
      // probe is one limit-1 job over a metadata-scale dir. A stale
      // `.purge_tmp` from an interrupted run under a DIFFERENT predicate
      // is dropped here rather than renamed over intact data.
      if (src.filter(pred).isEmpty) {
        if (f.exists(tmp)) f.delete(tmp, true)
        return false
      }
      val survivors = src.filter(!pred)
      if (epochPartitioned && survivors.isEmpty) {
        // EMPTY-RESULT RESCUE (r15 ADVICE, medium): partitionBy on an
        // empty frame writes a dir with only _SUCCESS — no epoch=
        // subdirs, no parquet footers — and every later schema-inferring
        // read of the shared artifact fails for ALL tenants. Write the
        // empty result non-partitioned instead: one schema-bearing
        // (zero-row) parquet file, `epoch` kept as a data column with
        // the same string type a basePath read derives, so fold-aware
        // readers keep working and the dir stays self-describing.
        survivors.write.mode("overwrite").parquet(tmp.toString)
      } else {
        val out = survivors.write.mode("overwrite")
        (if (epochPartitioned) out.partitionBy("epoch") else out)
          .parquet(tmp.toString)
      }
      f.delete(orig, true)
      ()
    }
    if (f.exists(tmp)) {
      if (!f.rename(tmp, orig) && !f.exists(orig))
        throw new java.io.IOException(s"purgeRowsInDir: rename failed for $dir")
      true
    } else false
  }

  /** Fold every committed epoch with id <= `upTo` into the consolidated,
    * bin-packed fold area — the retention pass that keeps manifest size
    * and per-query listing cost bounded on a long-lived lake. Idempotent
    * and crash-safe (see the protocol in the object scaladoc); replay of
    * a folded epoch remains a no-op forever. Single-writer: run from the
    * maintenance schedule, not concurrently with itself.
    *
    * BIN-PACKING POLICY (size-tiered, LSM-style): the aged epochs are
    * rewritten into a NEW small generation — cost O(fresh), not O(lake).
    * Only when the live generation count would exceed `maxGenerations`
    * does the fold MERGE everything into one generation — so the
    * full-lake rewrite is amortized to every `maxGenerations`-th fold,
    * and the read view never unions more than `maxGenerations` fold
    * directories plus the live epochs. `maxGenerations = 1` restores the
    * rewrite-everything-per-fold behavior.
    * Returns the number of NEWLY folded epochs (0 = nothing aged out). */
  def foldCommittedEpochs(spark: SparkSession, root: String, upTo: Long,
                          targetRecordsPerFile: Long = 5000000L,
                          partitionCols: Seq[String] = Schemas.partitionCols,
                          maxGenerations: Int = 4,
                          rangeClusterCols: Seq[String] = Nil): Int = {
    require(maxGenerations >= 1, "maxGenerations must be >= 1")
    val f = fs(spark, root)
    val cur = foldView(spark, root)
    val gens = cur.map(_._2).getOrElse(Seq.empty).filter(_._2.nonEmpty)
    val prevIds = gens.flatMap(_._2)
    val fresh = committedEpochs(spark, root)
      .filterNot(prevIds.toSet).filter(_ <= upTo)
    if (fresh.isEmpty) return 0
    // the fold reads exactly the fresh epochs + absorbed generations;
    // size its re-bin shuffle (and drop per-stage AQE dispatch) to that
    // footprint — a micro-batch retention fold is dispatch-bound
    val foldInput = fresh.map(e => dirBytes(spark, epochDir(root, e))).sum +
      (if (gens.size + 1 > maxGenerations)
        gens.map { case (g, _) => dirBytes(spark, foldGenDir(root, g)) }.sum
      else 0L)
    MaintenanceExec.sizedByBytes(spark, foldInput) {
    val v = cur.map(_._1).getOrElse(0L) + 1L
    val stage = foldGenDir(root, v) // the new generation's data dir id = the view number (unique)
    val freshDf = spark.read.option("basePath", s"$root/data")
      .parquet(fresh.map(epochDir(root, _)): _*)
    val merge = gens.size + 1 > maxGenerations
    // generations the new view keeps as-is vs. folds into the staged dir
    val (kept, absorbed) = if (merge) (Seq.empty, gens) else (gens, Seq.empty)
    val stageDf = (absorbed.map { case (g, _) =>
      spark.read.option("basePath", foldGenDir(root, g))
        .parquet(foldGenDir(root, g))
    } :+ freshDf).reduce(_ unionByName _)
    // 1. stage the new generation: epoch kept as the leading partition
    //    column, re-binned (explicit partition count — AQE would coalesce
    //    a cols-only repartition to one serial writer task).
    //    `rangeClusterCols`: the fold is THE moment to (re)establish data
    //    clustering — range-binning on (epoch, cols) gives the rewritten
    //    generation near-disjoint per-file envelopes on the cluster
    //    columns, so file-level zone maps and row-group stats keep
    //    pruning AFTER retention rewrites (a hash re-bin scatters every
    //    file across the full value range and silently disables both).
    val partCols = "epoch" +: partitionCols
    val n = spark.sessionState.conf.numShufflePartitions
    val binned =
      if (rangeClusterCols.isEmpty) stageDf.repartition(n, partCols.map(col): _*)
      else stageDf
        .repartitionByRange(n, (partCols ++ rangeClusterCols).map(col): _*)
        .sortWithinPartitions((partCols ++ rangeClusterCols).map(col): _*)
    binned
      .write.mode("overwrite") // an orphaned stage from a crashed attempt is rewritten
      .option("maxRecordsPerFile", targetRecordsPerFile)
      .partitionBy(partCols: _*)
      .parquet(stage)
    // 2. replay markers BEFORE the pointer swap
    f.mkdirs(new Path(foldedMarkerDir(root)))
    fresh.foreach(e =>
      f.create(new Path(s"${foldedMarkerDir(root)}/$e"), true).close())
    // 3. COMMIT: a NEW view file, temp + atomic rename (any existing
    //    compaction horizon is carried forward unchanged)
    val view = kept :+ ((v, (absorbed.flatMap(_._2) ++ fresh).sorted))
    commitViewFile(spark, root, v, view, compactionHorizon(spark, root))
    // 4. cleanup — crash here leaves garbage, never wrong results
    fresh.foreach { e =>
      f.delete(new Path(s"${manifestDir(root)}/$e"), false)
      f.delete(new Path(epochDir(root, e)), true)
    }
    absorbed.foreach { case (g, _) => f.delete(new Path(foldGenDir(root, g)), true) }
    fresh.size
    }
  }

  // ------------------------------------------------------------------
  // Row-level MERGE (upsert / delete) — merge-on-read over the epoch log
  // ------------------------------------------------------------------

  /** Change-operation column carried inside merge epochs: `"u"` = upsert
    * (insert-or-replace by key), `"d"` = delete tombstone. */
  val OpCol = "_op"

  /** Commit one MERGE epoch: `upserts` (full payload rows) replace any
    * earlier version of their key; `deletes` (key-only rows) tombstone
    * theirs. This is the lakehouse merge-on-read pattern (Hudi MOR /
    * Delta CDF shape): a merge is an O(changes) APPEND of a change epoch
    * — the base data is never rewritten — and key resolution happens at
    * read time ([[readMerged]]). Inherits [[commitEpoch]]'s idempotent
    * crash-replay contract, so upserts/deletes are exactly-once under
    * replay.
    *
    * Within one epoch a key must be claimed by at most ONE change row —
    * a key in both `upserts` and `deletes` (or twice in `upserts`) has no
    * defined winner, so `validate = true` (default) fails fast; the check
    * is one O(changes) aggregate, disable it only for pre-deduplicated
    * change feeds. */
  def mergeCommit(upserts: DataFrame, deletes: DataFrame, root: String,
                  epochId: Long, keyCols: Seq[String],
                  validate: Boolean = true): Unit = {
    require(keyCols.nonEmpty, "mergeCommit: keyCols must be non-empty")
    val changes = upserts.withColumn(OpCol, org.apache.spark.sql.functions.lit("u"))
      .unionByName(
        deletes.select(keyCols.map(col): _*)
          .withColumn(OpCol, org.apache.spark.sql.functions.lit("d")),
        allowMissingColumns = true)
    if (validate) {
      val dup = changes.groupBy(keyCols.map(col): _*)
        .count().filter(col("count") > 1).limit(1).collect() // fail-fast probe: at most 1 row to the driver
      require(dup.isEmpty,
        s"mergeCommit: epoch $epochId claims a key more than once " +
          s"(first offender: ${dup.headOption.map(_.toString).getOrElse("")})")
    }
    commitEpoch(changes, root, epochId, partitionCols = Nil)
  }

  /** The RESOLVED view of a merge lake: for every key, the change row
    * from the highest committed epoch wins; tombstoned keys disappear.
    * One shuffle on the key columns + a rank-1 window (planned as
    * `WindowGroupLimit`, so per-key work is the running-max of a single
    * row, not a sort of the full history) — the standard merge-on-read
    * cost. Retention folds preserve per-row `epoch` values, so the
    * resolution survives [[foldCommittedEpochs]] unchanged. */
  def readMerged(spark: SparkSession, root: String,
                 keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "readMerged: keyCols must be non-empty")
    latestWins(readCommitted(spark, root), keyCols).drop(OpCol, "epoch")
  }

  /** Per key, the change row from the highest epoch; a winning tombstone
    * vanishes. The one merge-resolution rule of this lake. */
  private def latestWins(changes: DataFrame, keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("epoch").cast("long").desc)
    changes
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(OpCol) === "u")
      .drop("__rn")
  }

  /** MERGED view AS OF `epoch`: latest-wins resolution over only the
    * change history committed at or below `epoch` — the merge-lake twin
    * of [[readCommittedAsOf]] (same free partition pruning on the
    * `epoch` column, same post-fold stability, same refusal below the
    * compaction horizon). A reproducible keyed snapshot: "the table
    * exactly as consumers saw it after epoch N". */
  def readMergedAsOf(spark: SparkSession, root: String, keyCols: Seq[String],
                     epoch: Long): DataFrame = {
    require(keyCols.nonEmpty, "readMergedAsOf: keyCols must be non-empty")
    latestWins(readCommittedAsOf(spark, root, epoch), keyCols)
      .drop(OpCol, "epoch")
  }

  /** SNAPSHOT DIFF (reconciliation audit): keyed full-outer compare of
    * two snapshots of the same schema — one row per key whose state
    * differs, as `change_type` ∈ {added, removed, changed} with the full
    * `before`/`after` row structs (NULL on the absent side). The
    * validation tool for replication targets, restored backups, and
    * as-of provenance claims ("v2 minus v1 is exactly these rows");
    * [[changesBetween]] stays the O(changes) feed for incremental
    * consumers — this is the O(snapshots) audit you run when you can't
    * trust the feed, as ONE co-shuffled full-outer join on the key
    * (both sides exchange once; unchanged keys are dropped before
    * anything widens). Null-safe struct equality, so rows with null
    * data fields diff correctly. */
  def diffSnapshots(a: DataFrame, b: DataFrame, keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{lit, not, struct, when}
    require(keyCols.nonEmpty, "diffSnapshots: keyCols must be non-empty")
    require(a.columns.sameElements(b.columns),
      s"diffSnapshots: schemas differ: ${a.columns.mkString(",")} vs " +
        b.columns.mkString(","))
    val dataCols = a.columns.filterNot(keyCols.contains).toSeq
    require(dataCols.nonEmpty, "diffSnapshots: no non-key columns to compare")
    def packed(df: DataFrame, as: String): DataFrame =
      df.select(keyCols.map(col) :+ struct(dataCols.map(col): _*).as(as): _*)
    // keys join NULL-SAFELY (<=>): a row keyed on NULL must meet its
    // counterpart and diff as unchanged/changed, not surface as a
    // spurious removed+added pair inflating the audit
    val l = packed(a, "before").as("l")
    val r = packed(b, "after").as("r")
    val on = keyCols.map(k => col(s"l.$k") <=> col(s"r.$k")).reduce(_ && _)
    l.join(r, on, "full_outer")
      .select(keyCols.map(k =>
        when(col("l.before").isNotNull, col(s"l.$k"))
          .otherwise(col(s"r.$k")).as(k)) ++
        Seq(col("l.before").as("before"), col("r.after").as("after")): _*)
      .withColumn("change_type",
        when(col("before").isNull, lit("added"))
          .when(col("after").isNull, lit("removed"))
          .when(not(col("before") <=> col("after")), lit("changed")))
      .filter(col("change_type").isNotNull)
  }

  /** CDC FEED: every change row committed in epochs
    * `(fromExclusive, toInclusive]`, with its epoch and operation — the
    * incremental-consumption contract ("give me what changed since my
    * last checkpoint") that downstream incremental jobs (index
    * maintenance, dedup folds, replication) read instead of diffing
    * snapshots. Purely partition-pruned on the `epoch` column — cost is
    * O(changes in range), never O(lake) — and, because folds keep
    * per-row epochs, a consumer whose cursor predates a retention fold
    * still gets exactly its missing changes. Append-only (non-merge)
    * epochs surface as `_op = "u"`. */
  def changesBetween(spark: SparkSession, root: String,
                     fromExclusive: Long, toInclusive: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val horizon = compactionHorizon(spark, root)
    require(fromExclusive >= horizon,
      s"changesBetween($fromExclusive, $toInclusive): change history at " +
        s"or below the compaction horizon ($horizon) was resolved away " +
        s"by compactMerged — consumers must keep their cursor ahead of " +
        s"the compaction cadence")
    val all = readCommitted(spark, root)
    val withOp =
      if (all.columns.contains(OpCol)) all
      else all.withColumn(OpCol, lit("u"))
    withOp.filter(col("epoch").cast("long") > fromExclusive &&
      col("epoch").cast("long") <= toInclusive)
  }

  /** MAJOR COMPACTION of a merge lake (the Hudi MOR→base-file / Delta
    * OPTIMIZE analog): RESOLVE the change history at or below epoch
    * `upTo` — per key, keep only the winning upsert row (original
    * per-row `epoch` preserved); superseded versions and tombstones
    * whose verdict is final below the boundary are dropped — and rewrite
    * it as ONE consolidated generation under the normal fold-view
    * protocol. [[readMerged]] is unchanged before/after (rows above the
    * boundary still win their keys at read time), but its window now
    * ranks ≤1 historical version per key below the horizon, so
    * merge-on-read cost tracks O(live keys + fresh changes), not
    * O(all changes ever).
    *
    * What compaction DESTROYS, it destroys loudly: change rows at or
    * below `upTo` no longer exist, so [[changesBetween]] with a cursor
    * below the new horizon and [[readCommittedAsOf]] below it REFUSE
    * (see [[compactionHorizon]]) instead of returning incomplete
    * history — run compaction behind the slowest CDC consumer's cursor.
    *
    * Cost: O(all generations + live epochs ≤ upTo) — a major
    * compaction, not the size-tiered incremental fold; straddling
    * generations' above-boundary rows pass through unresolved. The
    * commit (stage → replay markers → one view-file rename carrying
    * `#compact:upTo`) inherits fold's crash contract: every crash
    * window leaves the previous view intact and a retry overwrites the
    * same deterministic targets. Single-writer maintenance — never run
    * concurrently with a fold of the same root. Returns the number of
    * epoch ids consolidated into the compacted generation (0 = nothing
    * to do). */
  def compactMerged(spark: SparkSession, root: String, upTo: Long,
                    keyCols: Seq[String],
                    targetRecordsPerFile: Long = 5000000L,
                    partitionCols: Seq[String] = Nil): Int = {
    import org.apache.spark.sql.functions.lit
    require(keyCols.nonEmpty, "compactMerged: keyCols must be non-empty")
    val horizon = compactionHorizon(spark, root)
    require(upTo >= horizon,
      s"compactMerged($upTo): horizon may not regress (currently $horizon)")
    val f = fs(spark, root)
    val cur = foldView(spark, root)
    val gens = cur.map(_._2).getOrElse(Seq.empty).filter(_._2.nonEmpty)
    val prevIds = gens.flatMap(_._2)
    val fresh = committedEpochs(spark, root)
      .filterNot(prevIds.toSet).filter(_ <= upTo)
    if (fresh.isEmpty && !prevIds.exists(_ <= upTo)) return 0
    if (fresh.isEmpty && horizon >= upTo) return 0 // everything <= upTo already resolved
    val v = cur.map(_._1).getOrElse(0L) + 1L
    val sources = gens.map { case (g, _) =>
      spark.read.option("basePath", foldGenDir(root, g))
        .parquet(foldGenDir(root, g))
    } ++ (if (fresh.nonEmpty)
      Seq(spark.read.option("basePath", s"$root/data")
        .parquet(fresh.map(epochDir(root, _)): _*))
    else Nil)
    val all = sources.reduce(_ unionByName _)
    val withOp =
      if (all.columns.contains(OpCol)) all
      else all.withColumn(OpCol, lit("u"))
    val below = withOp.filter(col("epoch").cast("long") <= upTo)
    val above = withOp.filter(col("epoch").cast("long") > upTo)
    val resolved = latestWins(below, keyCols)
    val partCols = "epoch" +: partitionCols
    val n = spark.sessionState.conf.numShufflePartitions
    resolved.unionByName(above)
      .repartition(n, partCols.map(col): _*)
      .write.mode("overwrite") // an orphaned stage from a crashed attempt is rewritten
      .option("maxRecordsPerFile", targetRecordsPerFile)
      .partitionBy(partCols: _*)
      .parquet(foldGenDir(root, v))
    f.mkdirs(new Path(foldedMarkerDir(root)))
    fresh.foreach(e =>
      f.create(new Path(s"${foldedMarkerDir(root)}/$e"), true).close())
    val allIds = (prevIds ++ fresh).sorted
    commitViewFile(spark, root, v, Seq((v, allIds)), horizon = upTo)
    // cleanup — crash here leaves garbage, never wrong results
    fresh.foreach { e =>
      f.delete(new Path(s"${manifestDir(root)}/$e"), false)
      f.delete(new Path(epochDir(root, e)), true)
    }
    gens.foreach { case (g, _) => f.delete(new Path(foldGenDir(root, g)), true) }
    allIds.size
  }
}
