package graft.sources

import graft.Overlap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** KEYED MATERIALIZED VIEW over a MERGE lake — the upsert/delete half of
  * incremental view maintenance ([[MaterializedView]] covers the
  * append-only additive half). An upsert is not an additive delta: its
  * group contribution is `new − old`, and `old` needs a per-key lookup.
  * The classic answer (Materialize/DBSP, Flink changelog state) is a
  * KEY INDEX owned by the view, and that is what this maintains:
  *
  * {{{
  *   viewRoot/state_v<cursor>/                 (group, cnt, total)
  *   viewRoot/keyidx/kb=<b>/v<cursor>/         (key, group, value)
  *   viewRoot/_cursor/<cursor>                 (markers; readers take max)
  * }}}
  *
  * The key index is HASH-BUCKETED (`kb = pmod(xxhash64(key), buckets)`)
  * and versioned PER BUCKET: a refresh reads and rewrites ONLY the
  * buckets containing changed keys — cost O(changes + touched buckets),
  * never O(keys) — while untouched buckets stay as their older version
  * dirs (a bucket reader takes its highest version ≤ the committed
  * cursor). Commit is the same versioned-marker protocol as
  * [[MaterializedView]]: state and bucket versions land first, one
  * marker file flips the view, every crash window leaves the previous
  * view intact, and a retry overwrites the same deterministic targets.
  *
  * Group semantics: `cnt`/`total` of live (non-tombstoned) rows per
  * group; a key whose upsert MOVES it between groups contributes −1 to
  * its old group and +1 to the new; groups reaching cnt=0 disappear.
  * Totals are DECIMAL(18,2)-summed — exact and refresh-order-
  * independent. */
object KeyedView {

  val DefaultBuckets = 16

  private def fs(spark: SparkSession, path: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  import MaterializedView.stateDir
  private def bucketRoot(root: String, b: Long) = s"$root/keyidx/kb=$b"
  private def bucketDir(root: String, b: Long, v: Long) =
    s"${bucketRoot(root, b)}/v$v"
  private def kb(key: org.apache.spark.sql.Column, buckets: Int) =
    pmod(xxhash64(key), lit(buckets.toLong))

  /** Highest committed cursor; -1 = empty view. */
  def cursor(spark: SparkSession, root: String): Long =
    MaterializedView.cursor(spark, root)

  /** The committed grouped view. Extrema states carry a `__rc`
    * recompute flag: a flagged row was superseded by an appended
    * recomputed row in the same state dir (the rare buffer-exhaustion
    * path writes a delta instead of rewriting the whole state), so
    * flagged rows are filtered and the marker column hidden. */
  def read(spark: SparkSession, root: String): DataFrame = {
    val c = cursor(spark, root)
    require(c >= 0, s"no committed keyed view under $root")
    val hint = stateSchemaHints.get(stateHintKey(spark, root, c))
    val df =
      if (hint != null) spark.read.schema(hint).parquet(stateDir(root, c))
      else spark.read.parquet(stateDir(root, c))
    if (df.columns.contains("__rc")) df.filter(!col("__rc")).drop("__rc")
    else df
  }

  // write-time state-schema hints (same contract as the lake's epoch
  // hints): the refresh that wrote state_v<c> records its schema so the
  // committed read skips the footer-inference job; a reader in a fresh
  // process just infers. Keyed by the versioned dir PLUS its file
  // listing fingerprint (names + mtimes + lengths — length defeats a
  // same-timestamp recreate with different content on coarse-mtime
  // filesystems) — a root deleted and
  // re-created by another process at the same cursor ids writes new
  // files with new mtimes, so its reads miss the hint and re-infer
  // instead of trusting a stale schema (a same-process retry rewrites
  // the dir, changing the fingerprint too, which only costs one extra
  // inference). The fingerprint is pure file metadata — no Spark job.
  private val stateSchemaHints = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()
  private def stateHintKey(spark: SparkSession, root: String,
                           c: Long): String = {
    val dir = stateDir(root, c)
    val f = fs(spark, root)
    val p = new Path(dir)
    val fp =
      if (!f.exists(p)) ""
      else f.listStatus(p)
        .map(s => s.getPath.getName + "@" + s.getModificationTime + "@" + s.getLen)
        .sorted.mkString(";")
    s"$dir|$fp"
  }
  private def recordStateSchema(spark: SparkSession, root: String, c: Long,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    if (stateSchemaHints.size > 1024) stateSchemaHints.clear()
    stateSchemaHints.put(stateHintKey(spark, root, c),
      org.apache.spark.sql.types.StructType(
        schema.fields.map(_.copy(nullable = true))))
    ()
  }

  /** [[read]] with a caller-supplied schema — the state layout is fixed
    * per strategy, and the explicit schema skips the footer-inference
    * job each refresh would otherwise dispatch (internal fast path). */
  private def readAs(spark: SparkSession, root: String,
                     schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val c = cursor(spark, root)
    require(c >= 0, s"no committed keyed view under $root")
    spark.read.schema(schema).parquet(stateDir(root, c))
  }

  /** A bucket's live version dir under cursor `c`, if any. */
  private def liveBucketDir(spark: SparkSession, root: String, b: Long,
                            c: Long): Option[String] = {
    val f = fs(spark, root)
    val dir = new Path(bucketRoot(root, b))
    if (!f.exists(dir)) None
    else f.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("v")).map(_.stripPrefix("v").toLong)
      .filter(_ <= c).sorted.lastOption.map(bucketDir(root, b, _))
  }

  /** The committed key index (all buckets) — O(keys); used by tests and
    * full rebuilds, not by refresh. */
  def readKeyIndex(spark: SparkSession, root: String,
                   buckets: Int = DefaultBuckets): DataFrame =
    readKeyIndexAs(spark, root, buckets, None)

  /** [[readKeyIndex]] with an optional caller-supplied (k, g, v) schema —
    * skips the footer-inference job (internal fast path, same contract
    * as [[readAs]]). */
  private def readKeyIndexAs(spark: SparkSession, root: String, buckets: Int,
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    val c = cursor(spark, root)
    require(c >= 0, s"no committed keyed view under $root")
    val dirs = (0L until buckets.toLong)
      .flatMap(liveBucketDir(spark, root, _, c))
    require(dirs.nonEmpty, s"keyed view under $root has an empty key index")
    val reader = spark.read
    schema.foreach(reader.schema)
    reader.parquet(dirs: _*)
  }

  /** Advance the view over merge lake `lakeRoot` (keyed by `keyCol`,
    * grouped by `groupCol`, summing `valueCol`) to the newest committed
    * epoch. Returns the new cursor. */
  def refresh(spark: SparkSession, lakeRoot: String, viewRoot: String,
              keyCol: String, groupCol: String, valueCol: String,
              buckets: Int = DefaultBuckets): Long =
    advanceWith(spark, lakeRoot, viewRoot, keyCol, groupCol, valueCol,
      buckets) { (cur, head, delta, changedOld) =>
      // group deltas: remove every changed key's old contribution, add
      // the new one for upserts (tombstones add nothing)
      val minus = changedOld.select(col("g"),
        lit(-1L).as("dc"), (col("v").cast("decimal(18,2)") * -1).as("dv"))
      val plus = delta.filter(col("_op") === "u").select(col("g"),
        lit(1L).as("dc"), col("v").cast("decimal(18,2)").as("dv"))
      val groupDelta = minus.unionByName(plus)
        .groupBy("g").agg(sum(col("dc")).cast("long").as("cnt"),
          sum(col("dv")).cast("decimal(28,2)").as("total"))
      val prev =
        if (cur < 0) groupDelta.limit(0)
        else readAs(spark, viewRoot, org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("g",
            delta.schema("g").dataType),
          org.apache.spark.sql.types.StructField("cnt",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("total",
            org.apache.spark.sql.types.DecimalType(28, 2)))))
      val st = prev.unionByName(groupDelta)
        .groupBy("g").agg(sum(col("cnt")).cast("long").as("cnt"),
          sum(col("total")).cast("decimal(28,2)").as("total"))
        .filter(col("cnt") > 0)
      st.write.mode("overwrite").parquet(stateDir(viewRoot, head))
      recordStateSchema(spark, viewRoot, head, st.schema)
    }

  /** Shared advance machinery for every keyed-view strategy: resolve the
    * change delta (one winner per key), read the touched buckets' old
    * rows, hand `(cursor, head, delta, changedOld)` to `stateFn`, which
    * must WRITE the strategy-specific new state to
    * `stateDir(viewRoot, head)` (owning the write lets a strategy fold
    * self-probes into the write itself — the extrema `__rc` probe reads
    * the tiny written file back instead of paying a copy-out plus a
    * separate final write, 2 fewer driver dispatches per refresh); this
    * module then rewrites only the touched buckets and flips the commit
    * marker. `stateFn` runs with the view still committed at the old
    * cursor, so it may read the committed state (`read`) or key index
    * (`readKeyIndex`); nothing it writes is visible until the marker. */
  private def advanceWith(spark: SparkSession, lakeRoot: String,
      viewRoot: String, keyCol: String, groupCol: String, valueCol: String,
      buckets: Int)(
      stateFn: (Long, Long, DataFrame, DataFrame) => Unit): Long = {
    val cur = cursor(spark, viewRoot)
    val head = TransactionalLake.headEpoch(spark, lakeRoot)
    if (head <= cur) return cur
    // size the refresh's shuffles (and drop AQE's per-stage job
    // dispatch) to what it can actually READ — delta epochs + the whole
    // key index (touched buckets, plus the rare group-recompute path's
    // full-index scan) + prior state, all file metadata. A micro-batch
    // refresh is all scheduler overhead at lake-scale settings; a view
    // whose index outgrows the budget keeps them untouched.
    MaintenanceExec.sizedByBytes(spark,
      TransactionalLake.changeFootprintBytes(spark, lakeRoot, cur, head) +
        MaintenanceExec.dirFootprintBytes(spark, s"$viewRoot/keyidx") +
        (if (cur >= 0)
          MaintenanceExec.dirFootprintBytes(spark, stateDir(viewRoot, cur))
        else 0L)) {
    val op = TransactionalLake.OpCol
    // change rows in (cur, head], resolved to ONE winner per key (the
    // highest epoch in range — several epochs can touch the same key).
    // `mergeCommit` enforces one change per key PER epoch at commit
    // time, so epoch alone is normally a total order per key; the
    // (_op, g, v) tiebreak makes the winner deterministic even against
    // a contract-violating epoch (validate=false) — the delta below is
    // a LAZY persist, and a block recompute on a cluster must re-elect
    // the same winner between the staging write and the state write.
    val winsW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("epoch").cast("long").desc,
        col("_op").asc, col("g").asc_nulls_first, col("v").asc_nulls_first)
    // persist, NOT an eager localCheckpoint: the `touched` collect right
    // below is already a materializing action over the whole delta, so
    // an eager checkpoint job before it would compute the same rows
    // twice — one fewer driver dispatch per refresh, and every later
    // consumer reads the cached blocks either way
    val delta = TransactionalLake.changesBetween(spark, lakeRoot, cur, head)
      .select(col(keyCol).as("k"), col(groupCol).as("g"),
        col(valueCol).as("v"), col(op).as("_op"), col("epoch"))
      .withColumn("__rn", row_number().over(winsW))
      .filter(col("__rn") === 1)
      .drop("__rn", "epoch")
      .withColumn("kb", kb(col("k"), buckets))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = delta.select("kb").distinct()
        .collect().map(_.getLong(0)).sorted // ≤ `buckets` values (constant)
      // old rows for the touched buckets only (partition-level pruning by
      // construction: we list exactly those bucket dirs)
      val oldDirs = touched.flatMap(liveBucketDir(spark, viewRoot, _, cur))
      // bucket files are (k, g, v) by construction — the explicit schema
      // skips the per-read footer-inference JOB (one driver dispatch per
      // refresh otherwise, measured 0.02-0.04 s + gap each)
      val kgvSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", delta.schema("k").dataType),
        org.apache.spark.sql.types.StructField("g", delta.schema("g").dataType),
        org.apache.spark.sql.types.StructField("v", delta.schema("v").dataType)))
      val oldRows =
        if (oldDirs.isEmpty)
          delta.sparkSession.emptyDataFrame
            .withColumn("k", lit(null).cast(delta.schema("k").dataType))
            .withColumn("g", lit(null).cast(delta.schema("g").dataType))
            .withColumn("v", lit(null).cast(delta.schema("v").dataType))
            .limit(0)
        else spark.read.schema(kgvSchema).parquet(oldDirs: _*)
          .select("k", "g", "v")
      val changedOld = oldRows.join(delta.select("k").distinct(), Seq("k"),
        "left_semi")
      // rewrite ONLY the touched buckets: old rows minus changed keys,
      // plus the new upsert rows. ONE partitioned write job computes the
      // plan once (a write-per-bucket loop re-executes the anti-join per
      // bucket — measured 16x recompute at 16 buckets); the staged
      // kb=<b> dirs then RENAME into their versioned homes (metadata
      // ops; the marker flip below stays the only commit point)
      val newBucketRows = oldRows
        .join(delta.select("k").distinct(), Seq("k"), "left_anti")
        .unionByName(delta.filter(col("_op") === "u").select("k", "g", "v"))
        .withColumn("kb", kb(col("k"), buckets))
      val staging = s"$viewRoot/.staging_v$head"
      val f = fs(spark, viewRoot)
      f.delete(new Path(staging), true)
      // the staging write and the state write are independent outputs of
      // the same persisted delta; the marker flip below happens only after
      // both complete
      Overlap.all[Unit](
        () => newBucketRows.write.partitionBy("kb").parquet(staging),
        () => stateFn(cur, head, delta, changedOld))
      // a touched bucket whose every key tombstoned away still needs its
      // version dir (readers must not fall back to the stale older
      // version). ONE empty typed parquet write serves every such
      // bucket — its files are FS-copied per bucket (metadata-scale)
      // instead of scheduling one Spark write job per emptied bucket
      // (measured 0.5-0.7 s of pure dispatch each)
      val emptied = touched.filter(b => !f.exists(new Path(s"$staging/kb=$b")))
      val emptyProto = new Path(s"$staging/.empty")
      if (emptied.nonEmpty)
        newBucketRows.filter(lit(false)).select("k", "g", "v")
          .write.mode("overwrite").parquet(emptyProto.toString)
      touched.foreach { b =>
        val target = new Path(bucketDir(viewRoot, b, head))
        f.delete(target, true) // a crashed prior attempt's partial dir
        f.mkdirs(target.getParent)
        val staged = new Path(s"$staging/kb=$b")
        if (f.exists(staged)) {
          if (!f.rename(staged, target))
            throw new java.io.IOException(
              s"keyed view bucket stage failed for $target")
        } else if (!org.apache.hadoop.fs.FileUtil.copy(f, emptyProto, f,
            target, false, spark.sparkContext.hadoopConfiguration))
          throw new java.io.IOException(
            s"keyed view empty-bucket stage failed for $target")
      }
      f.delete(new Path(staging), true)
      // COMMIT: one marker file flips state + every touched bucket
      MaterializedView.commitCursor(spark, viewRoot, head, cur)
      if (cur >= 0) { // cleanup — crash here is harmless
        touched.foreach { b =>
          liveBucketDir(spark, viewRoot, b, cur).filter(_ != bucketDir(viewRoot, b, head))
            .foreach(d => f.delete(new Path(d), true))
        }
      }
      head
    } finally graft.operators.Blocks.release(delta)
    }
  }

  /** Buffer width for [[refreshExtrema]]: each group keeps its
    * `ExtremaBufferK` smallest and largest live (value, key) pairs. */
  val ExtremaBufferK = 8

  /** MIN/MAX-MAINTAINING keyed view — the aggregate family count/sum
    * deltas CANNOT maintain: deleting (or group-moving) the row that
    * holds a group's min forces a lookup of the runner-up, which a
    * (group → min) state has already forgotten. The classic answer
    * (Flink retract streams, DBSP z-set min) is per-group sorted state;
    * the lake-friendly rendition here is a K-EXTREME BUFFER per group in
    * the view state itself:
    *
    *  - state rows are `(g, cnt, total, lobuf, hibuf, lo_ceil,
    *    hi_floor)` where `lobuf` holds the group's ≤K smallest live
    *    (v, k) pairs sorted ascending and every UNBUFFERED live value is
    *    ≥ `lo_ceil` (null ceil = the buffer covers the whole group);
    *    `hibuf`/`hi_floor` mirror it from above;
    *  - a refresh drops the changed keys from the buffers, merges the
    *    delta's K smallest/largest upserts (incoming values past the
    *    ceil/floor are NOT admitted — an unbuffered survivor could
    *    undercut them), re-tightens the ceil from whatever the merge
    *    truncated, and reads min/max off the buffer heads — O(changes)
    *    like [[refresh]], no key-index scan;
    *  - only when a refresh exhausts a buffer (every one of the K
    *    smallest deleted at once) does that GROUP recompute from the
    *    key index — a windowed top-K over the group's live rows, the
    *    documented rare path (and how the buffer re-fills to width K).
    *
    * Same lake protocol, bucket index, and commit semantics as
    * [[refresh]]; a view root is maintained by exactly ONE of the two
    * strategies (their state schemas differ). Read with
    * [[readExtrema]]. */
  def refreshExtrema(spark: SparkSession, lakeRoot: String,
      viewRoot: String, keyCol: String, groupCol: String, valueCol: String,
      buckets: Int = DefaultBuckets,
      bufferK: Int = ExtremaBufferK): Long = {
    require(bufferK >= 1, "refreshExtrema: bufferK must be >= 1")
    advanceWith(spark, lakeRoot, viewRoot, keyCol, groupCol, valueCol,
      buckets)(extremaState(spark, viewRoot, buckets, bufferK))
  }

  /** The committed extrema view: `(g, cnt, total, min_v, max_v)` read
    * off the buffer heads. */
  def readExtrema(spark: SparkSession, root: String): DataFrame =
    read(spark, root).select(col("g"), col("cnt"), col("total"),
      element_at(col("lobuf"), 1).getField("v").as("min_v"),
      element_at(col("hibuf"), size(col("hibuf"))).getField("v").as("max_v"))

  private def extremaState(spark: SparkSession, viewRoot: String,
      buckets: Int, bufK: Int)(
      cur: Long, head: Long, delta: DataFrame, changedOld: DataFrame): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val keyT = delta.schema("k").dataType
    val bufT = ArrayType(StructType(Seq(
      StructField("v", DoubleType), StructField("k", keyT))))
    val emptyKeys = array().cast(ArrayType(keyT))
    val emptyBuf = array().cast(bufT)
    val kLit = lit(bufK)

    val removed = changedOld.groupBy("g").agg(
      collect_set(col("k")).as("gone"),
      count(lit(1)).as("rcnt"),
      sum(col("v").cast("decimal(18,2)")).as("rsum"))
    // upsert aggregates + the delta's own K smallest / K largest per
    // group (window-trimmed BEFORE collect_list so a million-upsert
    // refresh never materializes a million-element array in one row);
    // values the trim drops are accounted into the ceil/floor below.
    // cnt/sum ride the SAME g-partitioned exchange as the rank windows
    // (unbounded frames), and the groupBy after them reuses that
    // partitioning — one shuffle total, no aggregate-vs-trim join
    val up = delta.filter(col("_op") === "u")
      .select(col("g"), col("k"), col("v").cast("double").as("v"))
    val pair = struct(col("v"), col("k"))
    val byG = Window.partitionBy("g")
    val added = up
      .withColumn("rna", row_number().over(
        byG.orderBy(col("v").asc, col("k").asc)))
      .withColumn("rnd", row_number().over(
        byG.orderBy(col("v").desc, col("k").desc)))
      .withColumn("gcnt", count(lit(1)).over(byG))
      .withColumn("gsum", sum(col("v").cast("decimal(18,2)")).over(byG))
      .filter(col("rna") <= kLit || col("rnd") <= kLit)
      .groupBy("g").agg(
        first(col("gcnt")).as("acnt"),
        first(col("gsum")).as("asum"),
        sort_array(collect_list(when(col("rna") <= kLit, pair))).as("addlo"),
        sort_array(collect_list(when(col("rnd") <= kLit, pair))).as("addhi"))
    val prev =
      if (cur >= 0) readAs(spark, viewRoot, StructType(Seq(
        StructField("g", delta.schema("g").dataType),
        StructField("cnt", LongType),
        StructField("total", DecimalType(28, 2)),
        StructField("lobuf", bufT),
        StructField("hibuf", bufT),
        StructField("lo_ceil", DoubleType),
        StructField("hi_floor", DoubleType),
        StructField("__rc", BooleanType))))
        // rc-flagged rows were superseded by appended recomputed rows
        .filter(!col("__rc")).drop("__rc")
      else added.select(col("g"), lit(0L).as("cnt"),
        lit(null).cast("decimal(28,2)").as("total"),
        emptyBuf.as("lobuf"), emptyBuf.as("hibuf"),
        lit(null).cast("double").as("lo_ceil"),
        lit(null).cast("double").as("hi_floor")).limit(0)

    // Stage 1 (from the three-way join): counts, totals, merged buffers.
    val gone = coalesce(col("gone"), emptyKeys)
    def surv(buf: String) = filter(coalesce(col(buf), emptyBuf),
      e => !array_contains(gone, e.getField("k")))
    val s1 = prev
      .join(removed, Seq("g"), "full_outer")
      .join(added, Seq("g"), "full_outer")
      .select(col("g"),
        (coalesce(col("cnt"), lit(0L)) - coalesce(col("rcnt"), lit(0L))
          + coalesce(col("acnt"), lit(0L))).as("cnt"),
        (coalesce(col("total"), lit(0).cast("decimal(28,2)"))
          - coalesce(col("rsum"), lit(0).cast("decimal(18,2)"))
          + coalesce(col("asum"), lit(0).cast("decimal(18,2)")))
          .cast("decimal(28,2)").as("total"),
        col("lo_ceil"), col("hi_floor"),
        coalesce(col("acnt"), lit(0L)).as("acnt"),
        coalesce(col("addlo"), emptyBuf).as("addlo"),
        coalesce(col("addhi"), emptyBuf).as("addhi"),
        array_sort(concat(surv("lobuf"),
          coalesce(col("addlo"), emptyBuf))).as("mergedLo"),
        array_sort(concat(surv("hibuf"),
          coalesce(col("addhi"), emptyBuf))).as("mergedHi"))
      .filter(col("cnt") > 0)
    // Stage 2: the kept buffers. keptLo is a PREFIX of mergedLo (the
    // K-cut keeps the head, the ceil-cut removes a tail), so "first
    // value the merge truncated" is simply the next element — it
    // lower-bounds everything dropped. keptHi mirrors as a suffix.
    val s2 = s1
      .withColumn("keptLo", filter(slice(col("mergedLo"), 1, bufK), e =>
        col("lo_ceil").isNull || e.getField("v") <= col("lo_ceil")))
      .withColumn("keptHi", filter(
        slice(col("mergedHi"),
          greatest(lit(1), size(col("mergedHi")) - kLit + 1), kLit),
        e => col("hi_floor").isNull || e.getField("v") >= col("hi_floor")))
    // Stage 3: re-tighten the envelope. New ceil = tightest lower bound
    // over everything now unbuffered: old unbuffered survivors (≥ old
    // ceil), merge-truncated entries (≥ the first truncated value),
    // window-trimmed upserts (≥ the K-th smallest upsert); least()
    // skips null non-contributors. A buffer holding the ENTIRE group
    // (size == cnt) covers it: null ceil. The floor mirrors with
    // greatest(). A group whose buffer came out EMPTY while rows remain
    // is flagged for recompute (`__rc`).
    val merged0 = s2.select(col("g"), col("cnt"), col("total"),
      col("keptLo").as("lobuf"), col("keptHi").as("hibuf"),
      when(size(col("keptLo")) === col("cnt"), lit(null).cast("double"))
        .otherwise(least(col("lo_ceil"),
          when(size(col("mergedLo")) > size(col("keptLo")),
            element_at(col("mergedLo"), size(col("keptLo")) + 1)
              .getField("v")),
          when(col("acnt") > kLit,
            element_at(col("addlo"), bufK).getField("v"))))
        .as("lo_ceil"),
      when(size(col("keptHi")) === col("cnt"), lit(null).cast("double"))
        .otherwise(greatest(col("hi_floor"),
          when(size(col("mergedHi")) > size(col("keptHi")),
            element_at(col("mergedHi"),
              size(col("mergedHi")) - size(col("keptHi")))
              .getField("v")),
          when(col("acnt") > kLit,
            element_at(col("addhi"), 1).getField("v"))))
        .as("hi_floor"),
      ((size(col("keptLo")) === 0) || (size(col("keptHi")) === 0))
        .as("__rc"))
    // the state is written ONCE, carrying the `__rc` flag column, and
    // the recompute groups ride the SAME write job as an observed
    // metric (collect_set skips the nulls of unflagged rows) — no
    // read-back scan, no separate collect dispatch. Committed readers
    // filter `__rc` (see [[read]]/`prev`), so a flagged row is a
    // tombstone the rare path below supersedes by APPENDING its
    // recomputed replacement to the same state dir — the whole-state
    // copy-out + rewrite (2 checkpoint jobs + a second full write) this
    // replaces was the largest remaining slice of the refresh job floor.
    val obs = org.apache.spark.sql.Observation()
    merged0.observe(obs, collect_set(when(col("__rc"), col("g"))).as("rc"))
      .write.mode("overwrite").parquet(stateDir(viewRoot, head))
    // rare path: a buffer some refresh fully exhausted (every one of
    // the K extremes changed at once) recomputes ITS group from the
    // key index — a distributed windowed top-K over that group's live
    // rows (old index minus changed keys plus this delta's upserts)
    val rcGroups = obs.get("rc") match {
      case s: scala.collection.Seq[_] => s.toSeq
      case other => throw new IllegalStateException(
        s"extrema refresh: unexpected observed rc metric $other")
    }
    if (rcGroups.nonEmpty) {
      val keyT2 = delta.schema("k").dataType
      val rcLive = readKeyIndexAs(spark, viewRoot, buckets,
        Some(StructType(Seq(StructField("k", keyT2),
          StructField("g", delta.schema("g").dataType),
          StructField("v", delta.schema("v").dataType)))))
        .filter(col("g").isin(rcGroups: _*))
        .join(delta.select("k").distinct(), Seq("k"), "left_anti")
        .select("k", "g", "v")
        .unionByName(up.filter(col("g").isin(rcGroups: _*))
          .select("k", "g", "v"))
        .withColumn("v", col("v").cast("double"))
      val ranked = rcLive
        .withColumn("rna", row_number().over(
          Window.partitionBy("g").orderBy(col("v").asc, col("k").asc)))
        .withColumn("rnd", row_number().over(
          Window.partitionBy("g").orderBy(col("v").desc, col("k").desc)))
      val bufs = ranked.filter(col("rna") <= kLit + 1 ||
          col("rnd") <= kLit + 1)
        .groupBy("g").agg(
          sort_array(collect_list(when(col("rna") <= kLit, pair)))
            .as("lobuf"),
          sort_array(collect_list(when(col("rnd") <= kLit, pair)))
            .as("hibuf"),
          max(when(col("rna") === kLit + 1, col("v"))).as("lo_ceil"),
          max(when(col("rnd") === kLit + 1, col("v"))).as("hi_floor"))
      val aggs = rcLive.groupBy("g").agg(
        count(lit(1)).as("cnt"),
        sum(col("v").cast("decimal(18,2)")).cast("decimal(28,2)")
          .as("total"))
      val recomputed = aggs.join(bufs, Seq("g"))
        .select(col("g"), col("cnt"), col("total"), col("lobuf"),
          col("hibuf"), col("lo_ceil"), col("hi_floor"),
          lit(false).as("__rc"))
      // APPEND the recomputed groups to the state dir: readers filter
      // the rc-flagged originals, so this is a supersede-by-delta — no
      // read of the dir being written, no copy-out, one small write.
      // A crash between the two writes is invisible (the commit marker
      // flips only after stateFn returns) and a retry's overwrite-mode
      // main write clears the partial dir first.
      recomputed.write.mode("append").parquet(stateDir(viewRoot, head))
    }
    // hint recorded AFTER the rare-path append (the fingerprinted key
    // pins the dir's final file listing; the appended rows share
    // merged0's schema, so the hint itself is unchanged either way)
    recordStateSchema(spark, viewRoot, head, merged0.schema)
  }
}
