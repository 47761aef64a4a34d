package graft.ingest

import graft.model.Schemas
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The ingest dataflow as pure, composable `DataFrame => DataFrame` stages —
  * reusable verbatim in batch and Structured Streaming (SURVEY §7.1 #2).
  *
  * Reference semantics reproduced:
  *  - parse+validate: API GW Draft-7 model, required Data.{device,event,region}
  *    (multi-tenant-apigateway-stack.ts:91-111,130-136)
  *  - project: VTL `$input.json('$.Data')` envelope strip
  *    (multi-tenant-apigateway-stack.ts:124-126)
  *  - enrich: TenantId from the server-side partition key + ingest-time
  *    epoch seconds (FirehoseStreamingSinkJob.java:74-82)
  *  - error routing: failed records to an error output with an error type
  *    (kinesis-stack.ts:139 `error/!{firehose:error-output-type}/`)
  *
  * Everything is native column expressions (from_json / withColumn), never
  * UDFs — the whole path stays inside whole-stage codegen and is a single
  * narrow stage (no shuffle), exactly like the reference's linear
  * source→sink Flink chain. At 100 TB this pipeline scales embarrassingly:
  * per-record work, zero exchange.
  */
object Ingest {

  val ErrorTypeCol = "error_type"
  val CorruptCol = "_corrupt_record"

  /** Parse a raw-JSON string column into the open envelope. Unparsable
    * records keep the raw text in `_corrupt_record` (S6 corrupt path). */
  def parse(raw: Column): Column =
    from_json(raw, Schemas.envelopeSchema,
      Map("columnNameOfCorruptRecord" -> CorruptCol, "mode" -> "PERMISSIVE"))

  /** P2: the required-field predicate over a parsed envelope column. */
  def isValid(envelope: Column): Column =
    envelope.isNotNull &&
      envelope.getField("Data").isNotNull &&
      envelope.getField("Data").getField("device").isNotNull &&
      envelope.getField("Data").getField("event").isNotNull &&
      envelope.getField("Data").getField("region").isNotNull

  /** Error classification (null = valid) over an ALREADY-PARSED
    * envelope column, mirroring the reference's two failure classes:
    * unparsable bytes vs schema-invalid. Takes the parse, not the raw
    * string, so a caller that materializes the parse once can derive the
    * class without a textual re-parse: Catalyst inlines alias definitions
    * into pushed-down filter conditions, and the r17 plan audit found
    * pipe_error_replay's filter carrying SEVEN inlined copies of the
    * same `from_json` (~140 µs/row measured — guide §4.4's
    * expression-duplication class). */
  def errorTypeOf(env: Column): Column =
    when(env.isNull || env.getField("Data").isNull, lit("parse-error"))
      .when(!isValid(env), lit("validation-error"))
      .otherwise(lit(null).cast("string"))

  /** The split half of [[validateAndSplit]] over a frame that already
    * carries `__env` (parsed envelope) and [[ErrorTypeCol]] — factored
    * out so callers can materialize the parsed frame once (file-backed)
    * and split the MATERIALIZED columns instead of re-deriving both from
    * raw per consumer. */
  def splitParsed(parsed: DataFrame, rawCol: String): (DataFrame, DataFrame) = {
    val valid = parsed.filter(col(ErrorTypeCol).isNull)
      .withColumn("device", col("__env.Data.device"))
      .withColumn("event", col("__env.Data.event"))
      .withColumn("region", col("__env.Data.region"))
      .drop("__env", ErrorTypeCol)
    val errors = parsed.filter(col(ErrorTypeCol).isNotNull)
      .select(col(rawCol).as("raw"), col(ErrorTypeCol))
    (valid, errors)
  }

  /** One-pass valid/error split: returns (valid, errors). `valid` carries
    * the projected payload columns; `errors` carries raw + error_type.
    * Both sides come from the same cached scan — the "both outputs from one
    * pass" requirement of S6 (SURVEY §7.4). */
  def validateAndSplit(df: DataFrame, rawCol: String): (DataFrame, DataFrame) = {
    val parsed = df.withColumn("__env", parse(col(rawCol)))
      .withColumn(ErrorTypeCol, errorTypeOf(col("__env")))
    splitParsed(parsed, rawCol)
  }

  /** Error type of a schema-valid record whose TRANSPORT tenant key is
    * null (C3): it cannot be partition-keyed, so it goes to the error
    * prefix (the analog of a Firehose partition-extraction failure),
    * never to a `__HIVE_DEFAULT_PARTITION__` directory. */
  val MissingTenantKey = "missing-tenant-key"

  /** The whole sink-side stage chain in ONE frame: parse the envelope
    * once, classify ([[ErrorTypeCol]]: parse error, then validation
    * error, then [[MissingTenantKey]]), project, enrich and derive the
    * partition columns for every row. Valid rows are those with a null
    * [[ErrorTypeCol]]; [[splitStaged]] turns the frame into the same
    * (enriched, errors) pair that `validateAndSplit` → `enrich` →
    * `derivePartitions` produce, in the same column order. A sink that
    * observes this frame while writing it sees each row's partition
    * columns from the same evaluation of `ingestEpochSeconds` as the row
    * it writes, so it registers exactly the hours it wrote. */
  def stage(df: DataFrame, rawCol: String, tenantId: Column,
            ingestEpochSeconds: Column): DataFrame = {
    val parsed = df.withColumn("__env", parse(col(rawCol)))
      .withColumn(ErrorTypeCol, coalesce(errorTypeOf(col("__env")),
        when(tenantId.isNull, lit(MissingTenantKey))))
      .withColumn("device", col("__env.Data.device"))
      .withColumn("event", col("__env.Data.event"))
      .withColumn("region", col("__env.Data.region"))
      .drop("__env")
    derivePartitions(enrich(parsed, tenantId, ingestEpochSeconds))
  }

  /** (enriched valid rows without `rawCol`, errors as raw + error_type)
    * of a [[stage]]d frame. */
  def splitStaged(staged: DataFrame, rawCol: String): (DataFrame, DataFrame) =
    (staged.filter(col(ErrorTypeCol).isNull).drop(rawCol, ErrorTypeCol),
      staged.filter(col(ErrorTypeCol).isNotNull)
        .select(col(rawCol).as("raw"), col(ErrorTypeCol)))

  /** S3/P4: enrichment. Tenant comes from the SERVER-side context (C3 —
    * never from the payload: clients cannot spoof another tenant), timestamp
    * is ingest-time epoch seconds. */
  def enrich(df: DataFrame, tenantId: Column,
             ingestEpochSeconds: Column = unix_timestamp()): DataFrame =
    df.withColumn("TenantId", tenantId)
      .withColumn("timestamp", ingestEpochSeconds.cast("long"))

  /** P5/S5: append the five Hive partition columns derived from the
    * enriched record (UTC, zero-padded — JQ strftime parity). */
  def derivePartitions(df: DataFrame): DataFrame =
    Schemas.partitionColumns(col("timestamp"), col("TenantId"))
      .foldLeft(df) { case (d, (name, c)) => d.withColumn(name, c) }

  /** Wire-format parity helpers: the reference base64-encodes the payload
    * between API GW and Kinesis (multi-tenant-apigateway-stack.ts:125). */
  def wireEncode(json: Column): Column = base64(json.cast("binary"))
  def wireDecode(wire: Column): Column = unbase64(wire).cast("string")
}
