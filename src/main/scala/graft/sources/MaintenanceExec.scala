package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Execution sizing for O(changes) maintenance actions (incremental
  * view refresh, retention folds): size the SHUFFLE to the DELTA, not
  * to the session defaults that are tuned for lake-scale scans.
  *
  * Why this exists: a per-epoch view refresh over a micro-batch delta
  * is a chain of tiny multi-stage queries. Run with lake-scale settings
  * each stage shuffles into `spark.sql.shuffle.partitions` tasks and —
  * under AQE — every exchange becomes its own scheduled job, so one
  * refresh costs a dozen scheduler round-trips moving a few thousand
  * rows (measured on `pipe_extrema_view`: 80 sub-second jobs, ~8 s of
  * pure dispatch for ~0.5 s of data work). AQE's partition coalescing
  * shrinks TASK counts after each exchange but cannot remove the
  * per-stage JOB dispatch itself; for a delta whose total input is
  * smaller than one scan partition, single-pass non-adaptive execution
  * over a handful of partitions is strictly better — the same reasoning
  * `spark.sql.files.maxPartitionBytes` applies to scans, applied to
  * maintenance shuffles.
  *
  * The delta size comes from FILE METADATA (the change epochs' on-disk
  * footprint — [[TransactionalLake.changeFootprintBytes]]), never from
  * a counting job, so sizing is free. Deltas past the budget (big
  * backfills, post-fold generations) keep the session's lake-scale
  * settings untouched, including AQE skew handling — correctness never
  * depends on the mode, only dispatch overhead does.
  *
  * Thread-safety: this mutates (and restores) session-level SQL conf,
  * so it is only applied by driver-synchronous maintenance entry points
  * (view refresh / fold calls made between jobs, not inside concurrent
  * query threads). */
private[graft] object MaintenanceExec {

  /** Input-byte budget below which maintenance runs in micro-delta
    * mode: one default scan partition's worth (128 MB). A delta a
    * single task could scan end-to-end gains nothing from lake-scale
    * shuffle widths or per-exchange adaptive replanning. */
  val MicroDeltaBytes: Long = 128L * 1024 * 1024

  /** Bytes of delta input each shuffle partition should own in
    * micro-delta mode — small enough to keep a multi-core machine busy
    * on a few-MB delta, large enough that a 128 MB delta still lands on
    * ≤ 16 partitions. */
  val BytesPerPartition: Long = 8L * 1024 * 1024

  /** On-disk footprint of `path` (0 when absent) — file metadata only,
    * for building the `inputBytes` bound out of every dir a maintenance
    * action might read (delta epochs + view state + key index), so the
    * micro-delta decision is an upper bound on REAL input, not just the
    * change rows. */
  def dirFootprintBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val f = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    try if (f.exists(p)) f.getContentSummary(p).getLength else 0L
    catch { case _: java.io.IOException => 0L }
  }

  /** Run `body` with shuffle width sized to `inputBytes` and AQE's
    * per-stage scheduling off, when the input fits the micro-delta
    * budget; run it unchanged otherwise (or when `inputBytes` is
    * negative = unknown). Conf is restored on every exit path. */
  def sizedByBytes[T](spark: SparkSession, inputBytes: Long)(body: => T): T = {
    if (inputBytes < 0 || inputBytes > MicroDeltaBytes) body
    else {
      val conf = spark.conf
      val pKey = "spark.sql.shuffle.partitions"
      val aKey = "spark.sql.adaptive.enabled"
      val bKey = "spark.sql.autoBroadcastJoinThreshold"
      val cKey = "spark.sql.codegen.wholeStage"
      val p0 = conf.get(pKey)
      val a0 = conf.get(aKey)
      val b0 = conf.get(bKey)
      val c0 = conf.get(cKey)
      val sessionWidth =
        try p0.toInt catch { case _: NumberFormatException => 200 }
      val width = math.max(4L,
        math.min(sessionWidth.toLong, inputBytes / BytesPerPartition + 1))
      conf.set(pKey, width.toString)
      conf.set(aKey, "false")
      // broadcast hash joins materialize each build side as its OWN
      // driver-dispatched job; on a micro delta the dispatch costs more
      // than the shuffle it avoids — shuffle joins fuse into one job
      conf.set(bKey, "-1")
      // whole-stage codegen compiles a fresh generated class per plan
      // fragment; on micro plans the janino compile dominates the data
      // work it accelerates
      conf.set(cKey, "false")
      try body
      finally {
        conf.set(pKey, p0)
        conf.set(aKey, a0)
        conf.set(bKey, b0)
        conf.set(cKey, c0)
      }
    }
  }

  /** [[sizedByBytes]] on `batch`'s session, for a micro-batch body that
    * reads `batch` and the lakes under `dirs`: the batch's plan bytes (a
    * file source's plan stats are its real bytes) plus the dirs'
    * footprints. A stream's cloned batch session keeps the conf flip to
    * that stream. */
  def sizedByBatch[T](batch: DataFrame, dirs: Seq[String])(body: => T): T = {
    val spark = batch.sparkSession
    val batchBytes = batch.queryExecution.optimizedPlan.stats.sizeInBytes
      .min(BigInt(Long.MaxValue)).toLong
    sizedByBytes(spark, batchBytes + dirs.map(dirFootprintBytes(spark, _)).sum)(body)
  }
}
