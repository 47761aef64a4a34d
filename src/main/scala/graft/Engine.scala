package graft

import graft.operators.{TenantContext, TenantQueries}
import graft.sources.Lake
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The top-level library facade: what a user of the reference pipeline
  * would hold instead of {API GW + Kinesis + Flink + Firehose + Glue +
  * Athena}. One object wires the same lifecycle (SURVEY §3):
  *
  *   val engine = Engine(spark, lakeRoot = "s3://bucket/lake", table = "events")
  *   engine.ingestBatch(rawDf, "raw", tenantCol)    // §3.1 (batch)
  *   engine.startStream(rawStream, "raw", "tenant") // §3.1 (streaming, 60 s)
  *   engine.refreshCatalog()                        // §3.2 (crawler)
  *   engine.query(TenantContext("acme"))            // §3.3 (tenant-pruned scan)
  */
final case class Engine(spark: SparkSession, lakeRoot: String, table: String) {

  /** Batch ingest through the stream's sink body
    * ([[graft.streaming.StreamingIngest.writeBatch]]): validate → project
    * → enrich → partitioned append + error routing, a null tenant
    * dead-lettered as `missing-tenant-key`, and the batch's partitions
    * and error types registered incrementally (a lake written before
    * the table existed is surfaced by [[refreshCatalog]]). Returns
    * (validCount, errorCount), read from the write's own observation. */
  def ingestBatch(raw: DataFrame, rawCol: String, tenant: Column,
                  ingestTs: Column = unix_timestamp()): (Long, Long) =
    graft.streaming.StreamingIngest.writeBatch(spark, raw, rawCol, tenant, ingestTs,
      lakeRoot, Some(table)) { valid => Lake.writeValid(valid, lakeRoot); true }

  /** Streaming ingest with the reference's 60 s freshness floor. The sink
    * maintains the catalog per micro-batch — streamed data is queryable
    * through [[query]]/[[sql]] with zero crawler lag. */
  def startStream(raw: DataFrame, rawCol: String, tenantCol: String,
                  checkpoint: String,
                  trigger: Trigger = Trigger.ProcessingTime("60 seconds")): StreamingQuery =
    graft.streaming.StreamingIngest.start(spark, raw, rawCol, tenantCol,
      lakeRoot, checkpoint, trigger, table = Some(table))

  /** Crawler analog: (re-)register the lake table + partitions, plus the
    * error prefix as `<table>_errors` (the reference's crawler indexes
    * both, so dead-letter triage is SQL). */
  def refreshCatalog(): Unit = {
    Lake.registerExternal(spark, table, s"$lakeRoot/data")
    Lake.registerErrors(spark, table, lakeRoot)
  }

  /** Dead-letter records, tenant-agnostic by design: the error prefix
    * holds records that FAILED tenant keying/validation, so triage is an
    * operator concern, not a tenant query. A lake with no errors yet
    * yields an EMPTY frame (a zero-dead-letters dashboard must read 0,
    * not crash on a missing table). */
  def errors: DataFrame =
    if (spark.catalog.tableExists(s"${table}_errors")) spark.table(s"${table}_errors")
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("raw",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("error_type",
          org.apache.spark.sql.types.StringType))))

  /** Tenant-scoped table handle — the only query entry point; the engine
    * appends the tenant predicate from the authenticated context (C3). */
  def query(implicit ctx: TenantContext): DataFrame =
    TenantQueries.queryByTenant(spark, table)

  /** Tenant-scoped SQL (the Athena saved-query analog). */
  def sql(userSql: String)(implicit ctx: TenantContext): DataFrame =
    TenantQueries.sqlInTenantScope(spark, table, userSql)

  /** Periodic small-file compaction, in place through the table; scope it
    * with a partition predicate (e.g. the last hour's partitions).
    * `sortCols` clusters the rewritten files for row-group skipping on
    * those columns (see Lake.compact / ClusteringSpec). */
  def compact(partitionPredicate: String = "true",
              sortCols: Seq[String] = Nil): Unit =
    Lake.compact(spark, table, partitionPredicate, sortCols = sortCols)
}
