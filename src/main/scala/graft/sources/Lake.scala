package graft.sources

import graft.model.Schemas
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The partitioned lake writer + crawler-analog catalog maintenance.
  *
  * Reference semantics: Firehose dynamic partitioning writes records under
  * `tenant=<t>/year=YYYY/month=MM/day=DD/hour=HH/` with failures under
  * `error/<error-type>/` (kinesis-stack.ts:137-139,148-161); a Glue crawler
  * re-infers schema + partitions every 5 min (multi-tenant-glue-stack.ts:32-44).
  *
  * Idiomatic substitutions (SURVEY §1.4): Parquet instead of ND-JSON text
  * (columnar at rest → pruning + vectorized scan), and catalog registration
  * at write time (no 5-minute crawler staleness).
  *
  * Scale notes (100 TB): dynamic partition writes with tenant×hour keys are
  * the classic small-file generator. `writeValid` therefore repartitions by
  * the partition columns before the write so each task writes few
  * partitions (one file per partition per micro-batch instead of
  * tasks×partitions files), and caps `maxRecordsPerFile`. `compact` is the
  * periodic bin-packing pass for long-lived tables.
  */
object Lake {

  /** Write the enriched+partition-derived frame under `root` with Hive
    * layout. Returns the written path.
    *
    * `saltFiles` > 1 spreads each partition's rows over that many writer
    * tasks (deterministic content-hash salt): without it, one giant
    * tenant×hour partition serializes a micro-batch behind a single
    * writer. Trade-off: up to `saltFiles` files per partition per batch
    * (compact() re-bins later); `maxRecordsPerFile` still bounds size. */
  def writeValid(df: DataFrame, root: String,
                 maxRecordsPerFile: Long = 5000000L,
                 format: String = "parquet",
                 saltFiles: Int = 1,
                 sortCols: Seq[String] = Nil,
                 writerOptions: Map[String, String] = Map.empty): String = {
    val path = s"$root/data"
    // Explicit partition count: an AQE-coalesced (cols-only) repartition
    // can collapse a small micro-batch to ONE task that then writes every
    // partition directory sequentially — measured 42 s vs 2 s at sf0.1.
    // Hash-distributing the partition keys across numShufflePartitions
    // keeps ≤1 file per directory per batch AND parallel writers.
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val distKeys = Schemas.partitionCols.map(col) ++
      (if (saltFiles > 1)
        // content hash, not monotonically_increasing_id/rand: retry-stable
        // (shared with Skew — same MapType-safe derivation)
        Seq(graft.operators.Skew.saltCol(df, saltFiles))
      else Nil)
    val distributed = df.repartition(n, distKeys: _*)
    // Data clustering: sorting within each writer task (partition dirs
    // first, then sortCols) gives every parquet row group a NARROW
    // min/max range on the sort columns, so later scans with predicates
    // on them skip whole row groups via pushed-down stats — the lever
    // for selective NON-partition predicates at 100 TB (partition
    // pruning only covers the partition keys). Cost: one in-task sort at
    // write time, no extra shuffle. Evidence: ClusteringSpec measures
    // the scan's numOutputRows collapse vs an unclustered write.
    val clustered =
      if (sortCols.isEmpty) distributed
      else distributed.sortWithinPartitions(
        (Schemas.partitionCols ++ sortCols).map(col): _*)
    val writer = clustered.write.mode("append")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .options(writerOptions)
      .partitionBy(Schemas.partitionCols: _*)
      .format(format) // "json" = the reference's ND-JSON at-rest format
    writer.save(path)
    path
  }

  /** S6: error records land under `error/<error-type>/` — same layout rule
    * as Firehose's `errorOutputPrefix`. */
  def writeErrors(errors: DataFrame, root: String): String = {
    val path = s"$root/error"
    // dead letters are the RARE path: cap writer tasks so a wide batch
    // doesn't commit #input-partitions near-empty files per error type
    // (coalesce = no shuffle; 8 writers is plenty for a diagnostics log)
    errors.coalesce(8).write.mode("append").partitionBy("error_type").parquet(path)
    path
  }

  /** S8 / §3.2: the crawler analog — register an external parquet table
    * (schema inferred from footers) and recover its Hive partitions.
    * Re-runnable (idempotent), like the 5-minute cron crawl; running it
    * after new files land picks up new partitions and merged schema.
    *
    * The DROP+CREATE is deliberate — it is what re-infers an EVOLVED
    * schema (new columns in later files), exactly like a Glue re-crawl —
    * and carries the same maintenance-window semantics: a query racing
    * the recreate can briefly see a missing table. Steady-state callers
    * that know their partitions use [[registerPartitions]], which never
    * drops. */
  def registerExternal(spark: SparkSession, table: String, path: String,
                       format: String = "parquet"): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // Merge footers AT CRAWL TIME so an EVOLVED schema (columns added in
    // later files) lands in the catalog — default inference reads one
    // footer and can re-register the OLD shape. The merged schema is
    // stored on the table, so steady-state reads stay footer-cheap and
    // old files simply yield NULL for the newer columns; only the crawl
    // itself pays the O(files) footer scan (exactly what a Glue re-crawl
    // pays, and it runs as a distributed job).
    val key = "spark.sql.parquet.mergeSchema"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      spark.catalog.createTable(table, format, Map("path" -> path))
    } finally prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
    spark.catalog.recoverPartitions(table)
  }

  /** Register the error prefix as `<table>_errors` — the reference's
    * crawler indexes the whole bucket, so `error/<error-type>/` records
    * are queryable through Athena too (kinesis-stack.ts:139,
    * multi-tenant-glue-stack.ts:32-44); dead-letter triage is a SQL
    * query, not a file spelunk. No-op until errors exist.
    *
    * FULL-CRAWL form (DROP+CREATE + recoverPartitions) — the scheduled
    * crawler-cadence path for stragglers/evolved error schemas. The
    * per-micro-batch path is [[registerErrorPartitions]]: a stream that
    * re-crawled here would make `<table>_errors` transiently unqueryable
    * on EVERY errored batch and pay O(error-prefix partitions) per batch. */
  def registerErrors(spark: SparkSession, table: String, root: String): Unit = {
    val path = s"$root/error"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(path)))
      registerExternal(spark, s"${table}_errors", path)
  }

  /** INCREMENTAL dead-letter registration, for the per-micro-batch sink
    * path: ensure `<table>_errors` exists over `root`/error, then register
    * exactly the batch's `error_type` partitions (one `ALTER TABLE ADD IF
    * NOT EXISTS`, O(batch error types)) and invalidate the cached listing
    * so appends into already-registered error partitions become visible.
    * Never drops mid-stream — the table stays queryable THROUGH every
    * errored batch (mirrors [[registerPartitions]] for the data table). */
  def registerErrorPartitions(spark: SparkSession, table: String, root: String,
                              errorTypes: Seq[String]): Unit = {
    val types = errorTypes.filter(_ != null).distinct
    if (types.isEmpty) return
    val tbl = s"${table}_errors"
    val fresh = !spark.catalog.tableExists(tbl)
    if (fresh) {
      // dead-letter schema is the sink's own contract (raw + the
      // error_type partition) — declared DDL skips footer inference.
      // One recoverPartitions crawl at CREATION only: a restarted app
      // registering over an existing error prefix must surface the
      // historical error types too, not just this batch's (the
      // per-batch path below stays incremental).
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"CREATE TABLE $tbl (`raw` STRING, `error_type` STRING) " +
        s"USING parquet PARTITIONED BY (error_type) LOCATION '$root/error'")
      spark.catalog.recoverPartitions(tbl)
    }
    val specs = types.map(t => s"PARTITION (error_type=${sqlLit(t)})")
    spark.sql(s"ALTER TABLE $tbl ADD IF NOT EXISTS ${specs.mkString(" ")}")
    if (!fresh) spark.catalog.refreshTable(tbl)
  }

  /** A SQL string literal for `v`. Backslash is the parser's escape
    * character, so it is escaped along with the quote: a tenant id like
    * `back\slash` or `trail\` must name its own partition, not a
    * de-escaped one or a syntax error. */
  private def sqlLit(v: String): String =
    "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** The INCREMENTAL crawler analog, for per-micro-batch catalog
    * maintenance: ensure `table` exists over `path`, then register exactly
    * the given partition tuples (one `ALTER TABLE ADD IF NOT EXISTS` with
    * all specs) and invalidate the cached file listing so appends into
    * already-registered partitions become visible. O(batch partitions)
    * metastore work per call — a full `recoverPartitions` crawl is
    * O(table partitions) and unusable at 100 TB micro-batch cadence.
    * Returns the number of metastore statements issued (0 or 1 — the
    * batching contract CatalogScaleSpec pins across a 1000-partition
    * lake; see DEPLOYMENT.md for the Hive-metastore deployment note). */
  def registerPartitions(spark: SparkSession, table: String, path: String,
                         parts: Seq[Map[String, String]],
                         format: String = "parquet",
                         schema: Option[org.apache.spark.sql.types.StructType] =
                           None): Int = {
    // Specs containing a NULL value (rows written under a
    // __HIVE_DEFAULT_PARTITION__ dir) are skipped: registering the literal
    // default-partition STRING would diverge from recoverPartitions' null
    // decoding (`WHERE col IS NULL` would see different rows per path).
    // The engine's own sink never produces them — null tenants are
    // error-routed — a crawler `refreshOnce` picks stragglers up.
    val registrable = parts.filter(_.values.forall(_ != null))
    // no partitions → no-op. Creating the table here would infer the
    // schema from a possibly EMPTY path (an all-errors first micro-batch
    // writes no data files) and crash-loop the stream on AnalysisException.
    if (registrable.isEmpty) return 0
    val fresh = !spark.catalog.tableExists(table)
    if (fresh) {
      // create WITHOUT a recoverPartitions crawl: the caller knows the
      // batch's partitions, and a full recover is O(table partitions) —
      // measured ~2x the metastore cost on a 2k-partition lake. A
      // RESTARTED app over a pre-existing lake runs Maintenance
      // .refreshOnce ONCE at startup to surface historical partitions;
      // the sink's hot path must never pay the full crawl.
      spark.sql(s"DROP TABLE IF EXISTS $table")
      schema match {
        case Some(sc) =>
          // the SINK knows the schema it just wrote — an explicit DDL
          // create skips the footer-inference read of the data path
          // (measured per-table cost on every stream cold start)
          val pcols = Schemas.partitionCols
          val dataDdl = sc.fields.filterNot(f => pcols.contains(f.name))
            .map(f => s"`${f.name}` ${f.dataType.sql}")
          val allDdl = (dataDdl ++ pcols.map(c => s"`$c` STRING")).mkString(", ")
          spark.sql(s"CREATE TABLE $table ($allDdl) USING $format " +
            s"PARTITIONED BY (${pcols.mkString(", ")}) LOCATION '$path'")
        case None =>
          spark.catalog.createTable(table, format, Map("path" -> path))
      }
    }
    val specs = registrable.map(p => Schemas.partitionCols
      .map(c => s"$c=${sqlLit(p(c))}").mkString("PARTITION (", ", ", ")"))
    spark.sql(s"ALTER TABLE $table ADD IF NOT EXISTS ${specs.mkString(" ")}")
    if (!fresh) spark.catalog.refreshTable(table)
    1
  }

  /** Per-tenant USAGE ACCOUNTING (beyond-reference; the metering every
    * multi-tenant operator needs for chargeback/quotas): rows +
    * partition count from one partition-grouped aggregate over the
    * table, file count + bytes from the catalog's partition locations.
    * The storage half is driver-side metadata work — one listing per
    * tenant partition, the same O(table partitions) cost a crawler
    * re-crawl pays, run at metering cadence (at 100 TB the listing is
    * the metastore/object-inventory's job; rows stay a distributed
    * aggregate). Output: (tenant, n_rows, n_partitions, n_files,
    * n_bytes). */
  def usageByTenant(spark: SparkSession, table: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val parts = spark.sessionState.catalog.listPartitions(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // metadata-scale driver loop: |partitions| listings, no data read
    val storage = parts.groupBy(_.spec("tenant")).map { case (tenant, ps) =>
      val sums = ps.map(p =>
        fs.getContentSummary(new org.apache.hadoop.fs.Path(p.location)))
      Row(tenant, ps.size.toLong,
        sums.map(_.getFileCount).sum, sums.map(_.getLength).sum)
    }.toSeq
    val storageDf = spark.createDataFrame(
      spark.sparkContext.parallelize(storage, 1),
      StructType(Seq(StructField("tenant", StringType),
        StructField("n_partitions", LongType),
        StructField("n_files", LongType),
        StructField("n_bytes", LongType))))
    spark.table(table).groupBy(col("tenant"))
      .agg(count(lit(1)).as("n_rows"))
      .join(storageDf, Seq("tenant"), "left")
  }

  /** Tenant OFFBOARDING (beyond-reference; the GDPR-style "delete tenant
    * X" a real multi-tenant operator needs): partition-scoped metadata +
    * directory work on the data lake — never a row-level rewrite there.
    *
    *  1. Resolve the tenant's partitions from the CATALOG (their
    *     locations come from the metastore, so Hive path escaping is
    *     handled for us) and drop them — metastore first, so a query
    *     racing the purge plans either the full tenant or none of it,
    *     never a half-deleted listing.
    *  2. Delete the partition directories + the tenant's subtree root.
    *  3. The error prefix is partitioned by `error_type`, not tenant, so
    *     THAT one (small, bounded dead-letter area) is a row-level
    *     rewrite: stage `error_type` partitions without the tenant's
    *     rows, swap, refresh `<table>_errors`. Records whose tenant key
    *     was missing/null are kept (they belong to no tenant).
    *  4. Tombstone under `root/_purged/` — audit trail + idempotence
    *     marker.
    *
    * At 100 TB the cost is O(tenant's partitions) metastore calls + one
    * recursive delete per partition + O(error prefix) for the rewrite —
    * nothing touches other tenants' files (gated byte-identical in
    * LakePurgeSpec). Run at maintenance cadence; like [[compact]], not
    * concurrently with writes into the same tenant. */
  def purgeTenant(spark: SparkSession, table: String, root: String,
                  tenant: String, errorTenantCol: String = "tenant_key"): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    // 1+2: catalog partitions → their locations → dirs
    if (spark.catalog.tableExists(table)) {
      val ident = org.apache.spark.sql.catalyst.TableIdentifier(table)
      val cat = spark.sessionState.catalog
      val parts = cat.listPartitions(ident, Some(Map("tenant" -> tenant)))
      if (parts.nonEmpty) {
        cat.dropPartitions(ident, parts.map(_.spec), ignoreIfNotExists = true,
          purge = false, retainData = true) // data deleted explicitly below
        parts.foreach(p =>
          fs.delete(new org.apache.hadoop.fs.Path(p.location), true))
        spark.catalog.refreshTable(table)
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/data/tenant=$tenant"), true)
    // 3: error-prefix rewrite (row-level, bounded area)
    val errPath = new org.apache.hadoop.fs.Path(s"$root/error")
    if (fs.exists(errPath)) {
      val errs = spark.read.parquet(errPath.toString)
      if (errs.columns.contains(errorTenantCol)) {
        val stage = new org.apache.hadoop.fs.Path(s"$root/__error_purge_stage")
        errs.filter(!(col(errorTenantCol) <=> lit(tenant)))
          .write.mode("overwrite").partitionBy("error_type")
          .parquet(stage.toString)
        fs.delete(errPath, true)
        require(fs.rename(stage, errPath), s"error-prefix swap failed for $root")
        if (spark.catalog.tableExists(s"${table}_errors"))
          spark.catalog.refreshTable(s"${table}_errors")
      }
    }
    // 4: tombstone
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/_purged"))
    fs.create(new org.apache.hadoop.fs.Path(s"$root/_purged/$tenant"), true).close()
  }

  /** Small-file compaction, partition-scoped and IN-PLACE:
    *  1. read only the partitions matching `predicate` through the table
    *     (partition-pruned scan — never the whole lake);
    *  2. stage the compacted rows next to the table location;
    *  3. swap them in with a DYNAMIC partition overwrite (only the
    *     partitions present in the staged data are replaced, atomically
    *     per partition) and refresh the catalog.
    * The staging hop exists because Spark refuses to overwrite a table
    * it is reading in the same plan. At 100 TB this runs per
    * recently-written partition predicate (e.g. the last hour), with
    * metastore + IO cost proportional to the partitions touched. */
  def compact(spark: SparkSession, table: String, predicate: String = "true",
              targetRecordsPerFile: Long = 5000000L,
              sortCols: Seq[String] = Nil): Unit = {
    // The predicate must be PARTITION-ALIGNED: dynamic overwrite replaces
    // whole partitions with the staged rows, so a row-level predicate
    // (e.g. `tenant='t0' AND qty>5`) would silently DELETE the
    // non-matching rows of every touched partition. Validate against the
    // TABLE'S OWN partition columns (a data column that merely shares a
    // standard partition-column name must not pass), and reject
    // non-deterministic predicates (`rand() < 0.5` is row-level despite
    // referencing no column).
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
    val partCols = meta.partitionColumnNames.map(_.toLowerCase).toSet
    val prunedPlan = spark.table(table).where(predicate)
    // validate the ANALYZED condition: unresolved placeholders report
    // deterministic=true, and resolved references name real columns
    prunedPlan.queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.foreach { cond =>
      require(cond.deterministic,
        s"compact predicate must be deterministic; got: $predicate")
      val nonPartition = cond.references.map(_.name.toLowerCase).toSet -- partCols
      require(nonPartition.isEmpty,
        s"compact predicate may only reference the table's partition columns " +
          s"(${meta.partitionColumnNames.mkString(", ")}); found: ${nonPartition.mkString(", ")}")
    }
    val loc = meta.location.toString
    val stage = loc.stripSuffix("/") + "__compact_stage"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stage), spark.sparkContext.hadoopConfiguration)
    val pruned = prunedPlan
    if (pruned.isEmpty) return // nothing to compact — not an error
    // session-conf (not per-write option) — insertInto does not honor the
    // DataFrameWriter option here, and a STATIC overwrite would silently
    // drop every partition outside the predicate
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    try {
      pruned.write.mode("overwrite").parquet(stage)
      val cols = spark.table(table).schema.fieldNames
      val n = spark.sessionState.conf.numShufflePartitions
      spark.conf.set(key, "dynamic")
      val rebinned = spark.read.parquet(stage)
        .repartition(n, Schemas.partitionCols.map(col): _*)
      // compaction is the natural clustering point: the rewrite is paid
      // anyway, so sorting the re-binned files here buys row-group
      // min/max skipping on the sort keys for every later scan
      // (see writeValid's sortCols / ClusteringSpec)
      val clustered =
        if (sortCols.isEmpty) rebinned
        else rebinned.sortWithinPartitions(
          (Schemas.partitionCols ++ sortCols).map(col): _*)
      clustered
        .select(cols.map(col).toSeq: _*)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", targetRecordsPerFile)
        .insertInto(table)
      spark.catalog.refreshTable(table)
    } finally {
      prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
      fs.delete(new org.apache.hadoop.fs.Path(stage), true); ()
    }
  }
}
