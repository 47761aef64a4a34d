package graft.streaming

import graft.ingest.Ingest
import graft.model.Schemas
import graft.sources.Lake
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming ingest: the reference's Flink→Firehose chain
  * (SURVEY §3.1) as `readStream → [same batch stages] → writeStream`.
  *
  * Parity points:
  *  - 60 s processing-time trigger ≡ Firehose bufferingHints 60 s
  *    (kinesis-stack.ts:140-142)
  *  - checkpointLocation ≡ Flink checkpointing every 60 s
  *    (kinesis-stack.ts:200-205). Delivery: processed-offset tracking
  *    makes restarts replay-free, but the append sink ([[start]]) is
  *    AT-LEAST-ONCE on mid-batch failure (an epoch that crashed between
  *    data write and checkpoint commit re-appends on replay) — the same
  *    envelope as the reference's Flink→Firehose→S3 chain. Exactly-once
  *    readers dedup on a record key (Dedup.exact) or read the epoch
  *    commits of [[startTransactional]].
  *  - dynamic partition write tenant/year/month/day/hour ≡ Firehose
  *    dynamic partitioning (kinesis-stack.ts:137-161)
  *  - corrupt/invalid records land under error/<error-type>/ per
  *    micro-batch (S6) — both outputs from ONE pass per batch of the
  *    one epoch sink ([[EpochSink]]), through the one sink body
  *    ([[writeBatch]]) that the exactly-once stream and
  *    `Engine.ingestBatch` run too.
  *
  * The Flink job is stateless, so micro-batch semantics are a strict
  * superset; no watermark is needed for parity (ingest-time, not
  * event-time — a delayed record lands in a later hour partition,
  * exactly like the reference).
  *
  * Scale: the stage chain is narrow (no shuffle); the only exchange is
  * the optional pre-sink repartition by partition columns that bounds
  * file counts (small-file mitigation, SURVEY §7.4).
  */
object StreamingIngest {

  /** The one ingest sink, run per batch by [[start]], [[startTransactional]]
    * and `Engine.ingestBatch`: [[Ingest.stage]] parses, classifies and
    * enriches each record once, `commit` writes the valid rows, and an
    * `observe` on that write collects the batch's partition tuples, error
    * types and row counts inside the write's own job. Registration in
    * `table` (incremental ADD PARTITION) and the dead-letter branch read
    * those values, so the partitions registered are exactly the
    * partitions written. Job budget: 3 per batch with dead letters, 2
    * without. `commit` returns whether it wrote: an already-committed
    * epoch writes nothing, no action delivers the observation, and one
    * aggregate over the batch stands in. Returns (valid, error) rows. */
  private[graft] def writeBatch(spark: SparkSession, batch: DataFrame, rawCol: String,
                                tenant: Column, ingestTs: Column, lakeRoot: String,
                                table: Option[String])
                               (commit: DataFrame => Boolean): (Long, Long) = {
    val pcols = Schemas.partitionCols
    val isValid = col(Ingest.ErrorTypeCol).isNull
    val metrics = Seq(
      collect_set(when(isValid, struct(pcols.map(col): _*))).as("parts"),
      collect_set(col(Ingest.ErrorTypeCol)).as("error_types"),
      count(when(isValid, lit(1))).as("valid"),
      count(col(Ingest.ErrorTypeCol)).as("errors"))
    val written = new Observation()
    // the observation also fences the stage: a filter on error_type
    // cannot be pushed below it, so each side's plan parses the
    // envelope once instead of inlining from_json into the filter
    val staged = Ingest.stage(batch, rawCol, tenant, ingestTs)
    val (valid, errors) = Ingest.splitStaged(
      staged.observe(written, metrics.head, metrics.tail: _*), rawCol)
    // a write that returned completed its job and delivers the
    // observation; a failed write threw above instead. When no row is
    // valid, AQE replaces the emptied shuffle stage, and the metrics
    // observed in it are lost: aggregate the same values over the batch.
    val observed = (if (commit(valid)) written.get else Map.empty[String, Any]) match {
      case m if m.nonEmpty => m
      case _ => staged.agg(metrics.head, metrics.tail: _*).head()
        .getValuesMap[Any](Seq("parts", "error_types", "valid", "errors"))
    }
    table.foreach { t =>
      val parts = observed("parts").asInstanceOf[collection.Seq[Row]].toSeq
        .map(r => pcols.map(c => c -> r.getAs[String](c)).toMap)
      // catalog ops run on the CALLER's session, not batch
      // .sparkSession: foreachBatch hands a cloned session whose
      // relation cache is isolated — refreshing the clone would
      // leave the session users actually query through stale.
      Lake.registerPartitions(spark, t, s"$lakeRoot/data", parts, schema = Some(valid.schema))
    }
    val errorTypes = observed("error_types").asInstanceOf[collection.Seq[String]].toSeq
    if (errorTypes.nonEmpty) {
      Lake.writeErrors(errors, lakeRoot)
      // dead letters are SQL-queryable like the data; INCREMENTAL
      // registration never drops `<table>_errors` mid-stream
      table.foreach(Lake.registerErrorPartitions(spark, _, lakeRoot, errorTypes))
    }
    (observed("valid").asInstanceOf[Long], observed("errors").asInstanceOf[Long])
  }

  /** Raw-string stream → [[writeBatch]] per micro-batch as a plain append
    * ([[Lake.writeValid]]). `tenantCol` mirrors C3: the tenant comes from
    * the transport key column, never the payload. `table`: when set, each
    * batch's partitions are registered after its commit, so streamed data
    * is queryable with zero crawler lag (the reference needs a 5-min Glue
    * crawl, multi-tenant-glue-stack.ts:41-43). */
  def start(spark: SparkSession, raw: DataFrame, rawCol: String,
            tenantCol: String, lakeRoot: String, checkpoint: String,
            trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
            ingestTs: Column = unix_timestamp(),
            table: Option[String] = None): StreamingQuery =
    EpochSink.start(raw, checkpoint, trigger) { ep =>
      writeBatch(spark, ep.batch, rawCol, col(tenantCol), ingestTs, lakeRoot, table) { valid =>
        Lake.writeValid(valid, lakeRoot); true
      }
    }

  /** EXACTLY-ONCE variant of [[start]]: the same [[writeBatch]] body, but
    * each epoch's valid rows are delivered through [[EpochSink]]'s epoch
    * commit, so a replayed epoch (crash between data write and checkpoint
    * commit, the at-least-once hazard of the append path) rewrites its
    * own directory or skips, never duplicates. Readers use
    * `TransactionalLake.readCommitted`. Dead letters keep the append
    * path (diagnostics: replay may re-log an error, it cannot corrupt
    * the data). Catalog registration is the reader's `readCommitted`
    * view rather than per-partition ALTERs — epoch dirs come and go with
    * the replay window, the manifest is the source of truth.
    * `onEpochCommitted` (e.g. MaterializedView.refresh) runs after the
    * sink body on every epoch, a replayed one included, so it must be
    * idempotent. */
  def startTransactional(spark: SparkSession, raw: DataFrame, rawCol: String,
                         tenantCol: String, lakeRoot: String, checkpoint: String,
                         trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
                         ingestTs: Column = unix_timestamp(),
                         onEpochCommitted: (SparkSession, Long) => Unit =
                           (_, _) => ()): StreamingQuery =
    EpochSink.start(raw, checkpoint, trigger) { ep =>
      writeBatch(spark, ep.batch, rawCol, col(tenantCol), ingestTs, lakeRoot, None)(
        ep.commit(lakeRoot, _, Schemas.partitionCols))
      onEpochCommitted(ep.batch.sparkSession, ep.id)
    }

  private val RestartAttempts = 40

  /** Start a query via `mk` and await termination, retrying (bounded) on
    * the one same-JVM restart race: a terminated query releases its
    * in-memory checkpoint lock asynchronously, so an immediate restart on
    * the same checkpoint can see "concurrently using". Real crash
    * recovery restarts a fresh driver and never hits this; the retry
    * exists for crash-SIMULATING harnesses (the delivery-semantics gates
    * and specs) that restart within one JVM. */
  def awaitWithRestartRetry(mk: () => StreamingQuery): Unit = {
    var attempts = 0
    var done = false
    while (!done) {
      val q = mk()
      try { q.awaitTermination(); done = true }
      catch {
        case e: Throwable if attempts < RestartAttempts &&
          Option(e.getMessage).exists(_.contains("concurrently using")) =>
          attempts += 1; Thread.sleep(250)
      }
    }
  }

  /** Delete checkpoint `ckpt`'s commit of `batchId` — the crash a
    * crash-simulating harness stages — together with its `.N.crc`
    * checksum sibling. The checkpoint writes through a checksummed
    * FileContext while the session's `file:` FileSystem is the raw one,
    * so deleting the commit alone left the sibling, and the restart's
    * re-commit failed to rename its checksum onto it
    * (FileAlreadyExistsException, retried by [[awaitWithRestartRetry]]
    * as a "concurrently using" race). */
  def dropCommit(spark: SparkSession, ckpt: String, batchId: Long): Unit = {
    val commits = new org.apache.hadoop.fs.Path(s"$ckpt/commits")
    val fs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(batchId.toString, s".$batchId.crc").foreach(f =>
      fs.delete(new org.apache.hadoop.fs.Path(commits, f), false))
  }

  /** File-source variant: watch a directory of JSON-lines files — the test
    * and local-smoke entry point (README §1.1 payload shape). */
  def fromJsonDir(spark: SparkSession, inDir: String, tenantCol: String,
                  lakeRoot: String, checkpoint: String,
                  trigger: Trigger,
                  table: Option[String] = None): StreamingQuery = {
    val raw = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField(tenantCol,
          org.apache.spark.sql.types.StringType))))
      .json(inDir)
    start(spark, raw, "value", tenantCol, lakeRoot, checkpoint, trigger,
      table = table)
  }
}
