package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Block-manager hygiene for iterative operators.
  *
  * The iterative operators (connected components, the incremental dedup
  * fold, Lloyd refinement) need per-round lineage truncation —
  * `localCheckpoint(true)` — or the self-referencing plans double every
  * round. But an EAGER local checkpoint materializes into executor
  * block-manager storage, and `Dataset.unpersist` cannot free it (the
  * blocks live on the RDD, outside the cache manager). A returned frame
  * backed by those blocks therefore pins storage memory for as long as
  * any caller might read it — in a long-lived session running repeated
  * dedup passes, monotone executor storage growth.
  *
  * The contract here: intermediates use local checkpoints and are freed
  * with [[release]] as soon as the next round exists; the FINAL result of
  * an iterative operator is copied OUT of the block manager with
  * [[copyOut]] — a reliable (disk-file) checkpoint — after which every
  * round's blocks can be released. Operators then return frames that hold
  * ZERO block-manager storage (`sc.getPersistentRDDs` is empty afterward
  * — pinned by BlockRetentionSpec), and survive an external
  * unpersist-all sweep (e.g. the bench quiesce barrier).
  *
  * Scale note: the copied-out artifacts are the SMALL end products of
  * each loop (dup-cluster labels, candidate shingle sets, centroid sets,
  * band indexes) — never the corpus. On a cluster, point
  * `sc.setCheckpointDir` at shared storage (HDFS/S3); the tmp-dir
  * fallback below serves single-node sessions and is removed at JVM
  * exit.
  */
object Blocks {

  /** Reliable checkpoint dir, configured once per session if the caller
    * has not set one. Colocated with `spark.local.dir` when that is
    * configured: the copied-out artifacts are read-after-write scratch
    * with the same lifetime as shuffle files, and splitting them onto a
    * different device class (e.g. tmpfs shuffle + disk checkpoints)
    * makes the checkpoint write absorb the slow device's writeback
    * stalls — measured as the 1.5-2x run-to-run spread on the
    * checkpoint-heavy iterative entries. On a cluster, callers set
    * `sc.setCheckpointDir` to shared storage (HDFS/S3) and this fallback
    * never engages. Synchronized: copyOut is called from concurrent
    * driver threads (the tracks of [[graft.Overlap.all]]), and the
    * check-then-act on the session-global `setCheckpointDir` would
    * otherwise race; one winner creates the dir, every later caller sees
    * it set. */
  private def ensureCheckpointDir(spark: SparkSession): Unit = this.synchronized {
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      // SPARK_LOCAL_DIRS is the deployment-env spelling of the same
      // scratch location (cluster managers set it); without the fallback
      // those deployments silently land on java.io.tmpdir and reintroduce
      // the cross-device variance this colocation removes
      val base = spark.sparkContext.getConf.getOption("spark.local.dir")
        .orElse(sys.env.get("SPARK_LOCAL_DIRS"))
        .map(_.split(",").head.trim).filter(_.nonEmpty)
        .map { d =>
          val p = java.nio.file.Paths.get(d)
          java.nio.file.Files.createDirectories(p); p
        }
      val dir = base match {
        case Some(p) => java.nio.file.Files.createTempDirectory(p, "graft-ckpt")
        case None => java.nio.file.Files.createTempDirectory("graft-ckpt")
      }
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(p: java.io.File): Unit = {
          Option(p.listFiles).foreach(_.foreach(rm)); p.delete(); ()
        }
        rm(dir.toFile)
      }))
      spark.sparkContext.setCheckpointDir(dir.toString)
    }
  }

  /** Copy a frame OUT of the block manager: one eager reliable
    * (disk-file) checkpoint, lineage truncated. On Spark 4.1 the eager
    * checkpoint writes the files straight from the plan (`RDD.checkpoint`
    * then `RDD.doCheckpoint`, no materializing action first), so the plan
    * is evaluated exactly once in one job, whether it is a fresh lineage
    * or loop state already held in local-checkpoint blocks — pinned by
    * CopyOutSpec. The result reads files and holds no blocks, so it is
    * never [[release]]d; a source local checkpoint can be released as
    * soon as it returns, and an unpersist-all sweep cannot invalidate
    * it. */
  def copyOut(df: DataFrame): DataFrame = {
    ensureCheckpointDir(df.sparkSession)
    df.checkpoint(eager = true)
  }

  /** Free a localCheckpointed frame's blocks. `Dataset.unpersist` is a
    * no-op for these (blocks were persisted on the RDD directly, outside
    * the cache manager) — reach through to the underlying RDD. Falls back
    * to a normal unpersist for cache-manager frames. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false); ()
      case _ => df.unpersist(); ()
    }

  // ---- thread-confined release scopes ----------------------------------
  // An operator that local-checkpoints intermediates DEEP inside its plan
  // builder (e.g. the PPJoin candidate generator's dfreq) needs those
  // blocks freed when the operator returns its copied-out result. The
  // earlier snapshot-diff sweep (diff sc.getPersistentRDDs before/after)
  // released every RDD persisted PROCESS-WIDE during the call — correct
  // only while dedup is driver-single-threaded; a concurrent
  // localCheckpoint (a streaming micro-batch, a parallel maintenance
  // thread) would be unrecoverably unpersisted mid-use. A scope is a
  // ThreadLocal register: only frames explicitly enrolled by code running
  // on THIS thread are released, concurrency-safe by construction.

  private type Releases = scala.collection.mutable.ArrayBuffer[() => Unit]

  private val scopeReg = new ThreadLocal[java.util.ArrayDeque[Releases]] {
    override def initialValue() = new java.util.ArrayDeque[Releases]()
  }

  /** Run `body` with a release scope open on the current thread: every
    * frame [[scoped]] inside it is released when `body` exits, on any
    * path. Scopes nest; each releases only its own.
    *
    * Fails loud: every enrolled release runs, then the first release
    * failure is rethrown if `body` succeeded, or attached to `body`'s
    * exception as suppressed if it threw — a leaked block is never
    * silent, and never masks the body's own failure. */
  def scope[T](body: => T): T = {
    val stack = scopeReg.get()
    val releases: Releases = scala.collection.mutable.ArrayBuffer.empty
    stack.push(releases)
    def releaseAll(): Option[Throwable] = {
      stack.pop()
      releases.foldLeft(Option.empty[Throwable]) { (first, r) =>
        try { r(); first }
        catch { case e: Throwable => first.orElse(Some(e)) }
      }
    }
    val out = try body catch {
      case e: Throwable =>
        releaseAll().foreach(e.addSuppressed)
        throw e
    }
    releaseAll().foreach(e => throw e)
    out
  }

  /** Enroll an eagerly-materialized frame with the innermost open scope
    * on this thread and return it. Fails loud when no scope is open: the
    * frame is released at once and an IllegalStateException names the
    * thread — a frame enrolled nowhere would pin its blocks for the
    * session's life. */
  def scoped(df: DataFrame): DataFrame = { enroll(() => release(df)); df }

  /** Enroll a release action with the innermost open scope on this
    * thread ([[scoped]] enrolls [[release]] of its frame). */
  private[graft] def enroll(release: () => Unit): Unit = {
    val stack = scopeReg.get()
    if (stack.isEmpty) {
      release()
      throw new IllegalStateException("Blocks.scoped called with no open " +
        s"scope on thread '${Thread.currentThread().getName}' - wrap the " +
        "caller in Blocks.scope")
    }
    stack.peek() += release
  }
}
