package graft.queries

import graft.{GraftSession, Overlap, Tables}
import graft.GraftSession.freshDir
import graft.ingest.Ingest
import graft.model.Schemas
import graft.operators.{TenantContext, TenantQueries}
import graft.sources.Lake
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-parity pipeline semantics (SURVEY §2.1/§2.2), expressed over
  * the driver's `events` table so each query has a DuckDB oracle.
  *
  * Mapping of the fixture onto the reference's data model: `props` is the
  * JSON payload, `user_id % 3` derives the tenant partition key (the
  * server-side key of C3), `ts` is the ingest instant, and
  * `event_type='error'` rows stand in for records routed to the error
  * prefix (S6).
  */
object PipelineQueries {

  private def events(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")

  /** tenant = 't' + user_id % 3 — server-derived, never payload-derived. */
  private val tenantCol = concat(lit("t"), (col("user_id") % 3).cast("string"))

  /** S3/P4: enrichment — TenantId + epoch-seconds ingest timestamp +
    * payload field extraction, all native expressions (no UDF). */
  def enrichQuery(spark: SparkSession, dir: String): DataFrame =
    Ingest.enrich(events(spark, dir), tenantCol, unix_timestamp(col("ts")))
      .select(
        col("event_id"), col("event_type"),
        get_json_object(col("props"), "$.k").as("k"),
        col("TenantId").as("tenant"),
        col("timestamp").as("ingest_ts"))
      .orderBy("event_id")

  /** P5/S5: Hive partition-value derivation (UTC, zero-padded strftime
    * parity) from epoch seconds. */
  def partitionDeriveQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = events(spark, dir)
      .withColumn("epoch", unix_timestamp(col("ts")))
    Schemas.partitionColumns(col("epoch"), tenantCol)
      .foldLeft(base) { case (d, (n, c)) => d.withColumn(n, c) }
      .select("event_id", "tenant", "year", "month", "day", "hour")
      .orderBy("event_id")
  }

  /** P2: required-field predicate — valid side of the split. Validation:
    * payload parses and carries `k`; `error`-typed events are routed. */
  def validateQuery(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("event_type") =!= "error" &&
        get_json_object(col("props"), "$.k").isNotNull)
      .select("event_id", "event_type", "user_id")
      .orderBy("event_id")

  /** S6: error route — rejected records with an error type, the
    * `error/<error-type>/` prefix semantics. */
  def errorRouteQuery(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("error_type",
        when(get_json_object(col("props"), "$.k").isNull, lit("parse-error"))
          .when(col("event_type") === "error", lit("event-error")))
      .filter(col("error_type").isNotNull)
      .select("event_id", "error_type")
      .orderBy("event_id")

  /** P3/S7: the reference's one user-facing query — tenant-scoped scan. */
  def tenantFilterQuery(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("tenant", tenantCol)
      .filter(col("tenant") === "t1")
      .select("event_id", "event_type", "value", "tenant")
      .orderBy("event_id")

  /** MASKED TENANT VIEW, driver-gated: a lake with PII planted into the
    * free-text column (an email for every 3rd event), registered in the
    * catalog, then queried through the masking view for tenant t1 —
    * row-level security (tenant filter, partition-pruned) + column
    * masking (salted-SHA-256 pseudonym replaces user_id, which is
    * DROPPED; emails redacted) in one policy. The oracle applies the
    * identical masking in SQL; engine-side asserts pin what SQL cannot:
    * the raw user_id column is absent from the output schema and the
    * scan pruned on the tenant partition. */
  def maskedView(spark: SparkSession, dir: String): DataFrame = {
    val root = freshDir(spark, "masked", dir)
    val planted = events(spark, dir).filter(col("event_id") <= 2000)
      .withColumn("props", concat(col("props"),
        when(col("event_id") % 3 === 0,
          concat(lit(" contact user"), col("event_id").cast("string"),
            lit("@example.com"))).otherwise(lit(""))))
    val enriched = Ingest.derivePartitions(
      Ingest.enrich(planted, tenantCol, unix_timestamp(col("ts"))))
      .select(col("event_id"), col("user_id"), col("props"),
        col("tenant"), col("year"), col("month"), col("day"), col("hour"))
    Lake.writeValid(enriched, root)
    Lake.registerExternal(spark, "masked_lake_events", s"$root/data")
    implicit val ctx: TenantContext = TenantContext("t1")
    val out = TenantQueries.maskedTenantView(spark, "masked_lake_events",
      salt = "pepper")
    require(!out.columns.contains("user_id"),
      "masked view must DROP the raw identifier column")
    require(TenantQueries.prunesOnTenant(out),
      "masked view must keep the tenant partition pruning")
    out.select(col("event_id"), col("tenant"), col("user_pseudo"), col("props"))
      .orderBy("event_id")
  }

  /** S4+S5+S8+S7 end-to-end: enrich → partitioned Parquet write (dynamic
    * partitions, small-file-aware) → catalog registration (crawler analog)
    * → tenant-scoped query that PRUNES partitions. The oracle sees the
    * equivalent direct SQL; this entry proves the lake round-trip preserves
    * semantics. */
  def lakeRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val root = freshDir(spark, "lake", dir)
    // bounded event_id prefix: keeps a real multi-hour, multi-tenant
    // partition spread (derivation + pruning are exercised for real) while
    // capping the toy lake's partition count; full-table per-row
    // derivation is oracle-gated by pipe_partition_derive
    val enriched = Ingest.derivePartitions(
      Ingest.enrich(events(spark, dir).filter(col("event_id") <= 2000),
        tenantCol, unix_timestamp(col("ts"))))
      .select(col("event_id"), col("event_type"), col("value"),
        col("tenant"), col("year"), col("month"), col("day"), col("hour"))
    Lake.writeValid(enriched, root)
    Lake.registerExternal(spark, "lake_events", s"$root/data")
    implicit val ctx: TenantContext = TenantContext("t1")
    val out = TenantQueries.queryByTenant(spark, "lake_events")
      .select(col("event_id"), col("event_type"), col("value"),
        col("tenant"), col("year"), col("month"), col("day"), col("hour"))
      .orderBy("event_id")
    require(TenantQueries.prunesOnTenant(out), "tenant query must prune partitions")
    out
  }

  /** P1/C3 wire-format parity: the reference base64-encodes the payload
    * between the edge and the stream (multi-tenant-apigateway-stack.ts:125).
    * Encode → decode → extract must be lossless. */
  def wireRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val wire = Ingest.wireEncode(col("props"))
    events(spark, dir)
      .select(col("event_id"), wire.as("wire"),
        get_json_object(Ingest.wireDecode(wire), "$.k").as("k"))
      .orderBy("event_id")
  }

  /** S2–S6 through Structured Streaming, driver-gated: events → JSON-lines
    * envelope stream → readStream → validate/enrich/partition-derive →
    * dynamic-partition lake + checkpoint (AvailableNow trigger) →
    * per-batch catalog registration → read back THROUGH THE TABLE.
    *
    * Ingest time is a fixed deterministic instant: the reference's
    * partitioning is INGEST-time (Flink injects arrival wall-clock,
    * FirehoseStreamingSinkJob.java:74-82), so one micro-batch lands in
    * ONE hour partition per tenant — exactly what a constant instant
    * reproduces (and the oracle can express). Per-row event-TIME
    * partition derivation across arbitrary epochs is separately
    * oracle-gated by pipe_partition_derive and pipe_lake_roundtrip. */
  def streamingRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val tag = GraftSession.tag(dir)
    val base = freshDir(spark, "stream", dir)
    val (inDir, lake, ckpt) = (s"$base/in", s"$base/lake", s"$base/ckpt")
    // `error`-typed events carry an unparsable payload → they must be
    // routed to error/, exercising the S6 split through the stream
    val ingestEpoch = 1704067200L // 2024-01-01T00:00:00Z — "the batch's arrival hour"
    def staged[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      System.err.println(
        f"[roundtrip] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    staged("input-write")(events(spark, dir).select(
      when(col("event_type") === "error", lit("not json {"))
        .otherwise(to_json(struct(struct(
          concat(lit("dev"), col("event_id").cast("string")).as("device"),
          col("event_type").as("event"),
          lit("US").as("region")).as("Data")))).as("value"),
      tenantCol.as("tenant_key"))
      .write.mode("overwrite").json(inDir))
    val raw = spark.readStream
      .schema(StructType(Seq(
        StructField("value", StringType),
        StructField("tenant_key", StringType))))
      .json(inDir)
    val tbl = s"stream_events_$tag"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    staged("stream") {
      val q = graft.streaming.StreamingIngest.start(spark, raw, "value", "tenant_key",
        lake, ckpt, org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        ingestTs = lit(ingestEpoch), table = Some(tbl))
      q.awaitTermination()
    }
    val errs = spark.read.parquet(s"$lake/error")
    require(errs.count() > 0 && errs.select("error_type").distinct().count() == 1,
      "streaming error route must carry the parse errors")
    // the sink registered the streamed partitions per micro-batch: the
    // result is read THROUGH THE TABLE (crawler parity, zero lag), and a
    // tenant-scoped probe over it must partition-prune
    implicit val ctx: TenantContext = TenantContext("t1")
    require(TenantQueries.prunesOnTenant(TenantQueries.queryByTenant(spark, tbl)),
      "tenant query over the streamed table must prune partitions")
    spark.table(tbl)
      .select(col("device"), col("event"), col("region"),
        col("timestamp").as("ingest_ts"), col("tenant"),
        col("year"), col("month"), col("day"), col("hour"))
      .orderBy("device")
  }

  /** Exactly-once READER recipe, driver-gated. foreachBatch delivery is
    * AT-LEAST-ONCE per epoch: an epoch that crashes between its data
    * write and its checkpoint commit re-appends every row on restart.
    * This query FORCES that failure mode — it runs the stream to
    * completion, deletes the epoch's commit marker (the crash point),
    * and restarts so batch 0 replays and double-appends — then applies
    * the documented read-side recipe (dedup on the record key) and must
    * hash-match the no-failure result exactly. The mid-fixture `require`
    * proves the hazard is real (the lake DID hold duplicates); the
    * oracle proves the recipe removes it byte-for-byte. */
  /** Shared crash-replay fixture for the delivery-semantics gates: the
    * bounded events prefix (error rows excluded — the duplicate-epoch
    * mechanics are identical and S6 is gated elsewhere) as envelope JSON
    * under the fresh `base`/in; returns the stream-reader factory. */
  private def replayFixture(spark: SparkSession, dir: String,
                            base: String): () => DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val inDir = s"$base/in"
    events(spark, dir)
      .filter(col("event_id") <= 5000 && col("event_type") =!= "error")
      .select(
        to_json(struct(struct(
          concat(lit("dev"), col("event_id").cast("string")).as("device"),
          col("event_type").as("event"),
          lit("US").as("region")).as("Data"))).as("value"),
        tenantCol.as("tenant_key"))
      .write.mode("overwrite").json(inDir)
    () => spark.readStream
      .schema(StructType(Seq(
        StructField("value", StringType),
        StructField("tenant_key", StringType))))
      .json(inDir)
  }

  private val replayIngestEpoch = 1704067200L

  def streamingExactlyOnce(spark: SparkSession, dir: String): DataFrame = {
    val base = freshDir(spark, "sxo", dir)
    val mkRaw = replayFixture(spark, dir, base)
    val (lake, ckpt) = (s"$base/lake", s"$base/ckpt")
    def run(): Unit = graft.streaming.StreamingIngest.awaitWithRestartRetry(() =>
      graft.streaming.StreamingIngest.start(spark, mkRaw(), "value",
        "tenant_key", lake, ckpt,
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        ingestTs = lit(replayIngestEpoch)))
    run()
    val n1 = spark.read.parquet(s"$lake/data").count()
    // the crash: epoch 0's data is on disk but its commit marker is not —
    // a restart re-plans and re-appends the same input files
    graft.streaming.StreamingIngest.dropCommit(spark, ckpt, 0)
    run()
    val dup = spark.read.parquet(s"$lake/data")
    require(dup.count() == 2 * n1,
      s"replayed epoch must double-append (at-least-once): ${dup.count()} vs $n1")
    // read-side exactly-once: collapse on the record key
    dup.dropDuplicates("device")
      .select(col("device"), col("event"), col("region"),
        col("timestamp").as("ingest_ts"), col("tenant"),
        col("year"), col("month"), col("day"), col("hour"))
      .orderBy("device")
  }

  /** TRANSACTIONAL sink gate: the same forced failure as
    * [[streamingExactlyOnce]] — but through the manifest-committed sink,
    * so exactly-once needs NO read-side dedup. The crash is planted at
    * the worst point (between the epoch's data write and its manifest
    * commit, simulated by deleting both the manifest entry and the
    * checkpoint commit): the replayed epoch OVERWRITES its own directory
    * and re-commits, and the committed view is byte-equal to the
    * no-failure run with zero dedup. */
  def streamingTransactional(spark: SparkSession, dir: String): DataFrame = {
    val base = freshDir(spark, "stx", dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val mkRaw = replayFixture(spark, dir, base)
    val (lake, ckpt) = (s"$base/lake", s"$base/ckpt")
    def run(): Unit = graft.streaming.StreamingIngest.awaitWithRestartRetry(() =>
      graft.streaming.StreamingIngest.startTransactional(spark, mkRaw(),
        "value", "tenant_key", lake, ckpt,
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        ingestTs = lit(replayIngestEpoch)))
    run()
    val n1 = graft.sources.TransactionalLake.readCommitted(spark, lake).count()
    // the crash: epoch 0 wrote data but neither its manifest entry nor
    // its checkpoint commit survived — restart replays and REWRITES
    fs.delete(new org.apache.hadoop.fs.Path(s"$lake/_manifest/0"), false)
    graft.streaming.StreamingIngest.dropCommit(spark, ckpt, 0)
    run()
    val committed = graft.sources.TransactionalLake.readCommitted(spark, lake)
    require(committed.count() == n1,
      s"transactional replay must not duplicate: ${committed.count()} vs $n1")
    committed // NO dropDuplicates — the sink itself is exactly-once
      .select(col("device"), col("event"), col("region"),
        col("timestamp").as("ingest_ts"), col("tenant"),
        col("year"), col("month"), col("day"), col("hour"))
      .orderBy("device")
  }

  /** CONTINUOUS VIEW MAINTENANCE, driver-gated: the transactional
    * streaming sink's post-commit hook refreshes a per-(tenant, event)
    * count/sum view after EVERY micro-batch epoch — and the crash-replay
    * of `pipe_streaming_transactional` is re-staged with the view
    * attached, proving the replayed epoch neither double-counts into the
    * view (refresh is cursor-idempotent) nor regresses it. The oracle
    * recomputes the aggregate from `events`, so the gate is "view
    * maintained batch-by-batch under a crash ≡ full recompute". */
  def streamingView(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val base = freshDir(spark, "svw", dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    events(spark, dir)
      .filter(col("event_id") <= 5000 && col("event_type") =!= "error")
      .select(
        to_json(struct(struct(
          concat(lit("dev"), col("event_id").cast("string")).as("device"),
          col("event_type").as("event"),
          lit("US").as("region")).as("Data"))).as("value"),
        tenantCol.as("tenant_key"))
      .repartition(6) // 6 input files × maxFilesPerTrigger=2 → 3 epochs
      .write.mode("overwrite").json(s"$base/in")
    val mkRaw = () => spark.readStream
      .schema(StructType(Seq(
        StructField("value", StringType),
        StructField("tenant_key", StringType))))
      .option("maxFilesPerTrigger", 2) // force several micro-batch epochs
      .json(s"$base/in")
    val (lake, ckpt, view) = (s"$base/lake", s"$base/ckpt", s"$base/view")
    val V = graft.sources.MaterializedView
    val refresh = (s: SparkSession, _: Long) => {
      V.refresh(s, lake, view, Seq("tenant", "event"), "timestamp"); ()
    }
    def run(): Unit = graft.streaming.StreamingIngest.awaitWithRestartRetry(() =>
      graft.streaming.StreamingIngest.startTransactional(spark, mkRaw(),
        "value", "tenant_key", lake, ckpt,
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        ingestTs = lit(replayIngestEpoch), onEpochCommitted = refresh))
    run()
    val afterFirst = V.cursor(spark, view)
    require(afterFirst >= 1, s"expected multiple micro-batch epochs, got $afterFirst")
    // the crash: epoch 0's manifest entry and checkpoint commit are lost
    fs.delete(new org.apache.hadoop.fs.Path(s"$lake/_manifest/0"), false)
    graft.streaming.StreamingIngest.dropCommit(spark, ckpt, 0)
    run() // replays epoch 0: lake no-op, view refresh no-op
    require(V.cursor(spark, view) == afterFirst,
      "replay must not advance the view cursor")
    V.read(spark, view)
      .select(col("tenant"), col("event"), col("cnt"),
        col("total").cast("double").as("total_value"))
      .orderBy("tenant", "event")
  }

  /** S1 END-TO-END, driver-gated: the reference's `POST /data` → token
    * authorizer → stream → lake path, fully offline. An RSA keypair is
    * generated in-process, one token per tenant is signed with
    * `custom:tenantId`, and every fixture event in a bounded prefix is
    * POSTed through the HTTP endpoint: the offline authorizer verifies
    * RS256 once per token (decision cached with a TTL — C2), the tenant
    * comes from the VERIFIED CLAIM, never the payload (C3), and each
    * accepted record spools atomically; the streaming ingest then tails
    * the spool through enrichment and partition derivation into the
    * lake. The POST loop is the PRODUCER side of the simulation
    * (bounded fixture — not a data-plane collect). Hash equality
    * against the plain-SQL oracle proves the endpoint neither drops,
    * duplicates, nor re-tenants a single record. */
  def httpIngestRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val base = freshDir(spark, "http", dir)
    // producer side: a signed token per tenant, every record POSTed
    val b64e = java.util.Base64.getUrlEncoder.withoutPadding()
    def enc(s: String) = b64e.encodeToString(s.getBytes("UTF-8"))
    val gen = java.security.KeyPairGenerator.getInstance("RSA")
    gen.initialize(2048)
    val pair = gen.generateKeyPair()
    def sign(payload: String): String = {
      val body = s"${enc("""{"alg":"RS256","kid":"k1"}""")}.${enc(payload)}"
      val sig = java.security.Signature.getInstance("SHA256withRSA")
      sig.initSign(pair.getPrivate)
      sig.update(body.getBytes("UTF-8"))
      s"$body.${b64e.encodeToString(sig.sign())}"
    }
    val exp = System.currentTimeMillis() / 1000L + 3600L
    val tokens = (0 until 3).map(i => s"t$i" ->
      sign(s"""{"sub":"u$i","custom:tenantId":"t$i","exp":"$exp"}""")).toMap
    val keys = Map("k1" ->
      pair.getPublic.asInstanceOf[java.security.interfaces.RSAPublicKey])
    val records = events(spark, dir)
      .filter(col("event_id") <= 2000 && col("event_type") =!= "error")
      .select(to_json(struct(struct(
        concat(lit("dev"), col("event_id").cast("string")).as("device"),
        col("event_type").as("event"),
        lit("US").as("region")).as("Data"))).as("value"),
        tenantCol.as("tenant_key"))
      .collect()
    val server = graft.streaming.HttpIngest.start(s"$base/in", keys)
    try {
      // pipelined producer: async client, bounded in-flight window — the
      // shape a real putRecord producer uses
      val client = java.net.http.HttpClient.newHttpClient()
      records.grouped(64).foreach { window =>
        val inflight = window.map { r =>
          val req = java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:${server.port}/data"))
            .header("Authorization", s"Bearer ${tokens(r.getString(1))}")
            .POST(java.net.http.HttpRequest.BodyPublishers.ofString(r.getString(0)))
            .build()
          client.sendAsync(req,
            java.net.http.HttpResponse.BodyHandlers.ofString())
        }
        inflight.foreach { f =>
          val code = f.join().statusCode()
          require(code == 200, s"ingest POST rejected: $code")
        }
      }
      require(server.accepted == records.length.toLong,
        s"endpoint accepted ${server.accepted} of ${records.length}")
      require(server.authCacheHits >= records.length.toLong - tokens.size,
        "authorizer cache must short-circuit repeated tokens")
    } finally server.close()
    // engine side: the standard streaming ingest tails the spool
    val raw = spark.readStream
      .schema(StructType(Seq(
        StructField("value", StringType),
        StructField("tenant_key", StringType))))
      .json(s"$base/in")
    val q = graft.streaming.StreamingIngest.start(spark, raw, "value",
      "tenant_key", s"$base/lake", s"$base/ckpt",
      org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      ingestTs = lit(replayIngestEpoch))
    q.awaitTermination()
    spark.read.parquet(s"$base/lake/data")
      .select(col("device"), col("event"), col("region"),
        col("timestamp").as("ingest_ts"), col("tenant"),
        col("year"), col("month"), col("day"), col("hour"))
      .orderBy("device")
  }

  /** Epoch retention round-trip, driver-gated (the transactional lake's
    * `Lake.compact` analog): commit three epochs through the exactly-once
    * protocol, fold the two aged ones into a consolidated generation
    * (manifest truncates, listing cost stops growing), replay a FOLDED
    * epoch (must stay a no-op — the `_folded` marker outlives the
    * manifest entry), fold AGAIN so the remaining epoch accumulates into
    * a second generation. The returned frame is the post-fold committed
    * view; hash-equality against the plain-SQL oracle proves both folds
    * preserved every row and every partition value (epoch included). */
  def epochFoldRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TransactionalLake
    val root = freshDir(spark, "efold", dir)
    val enriched = Ingest.derivePartitions(
      Ingest.enrich(
        events(spark, dir).filter(col("user_id") % 3 === 1 && col("event_id") <= 2000),
        tenantCol, unix_timestamp(col("ts"))))
      .select(col("event_id"), col("event_type"), col("value"),
        col("tenant"), col("year"), col("month"), col("day"), col("hour"))
    def slice(e: Int) = enriched.filter(col("event_id") % 3 === e)
    (0 until 3).foreach(e => TransactionalLake.commitEpoch(slice(e), root, e))
    val n1 = TransactionalLake.readCommitted(spark, root).count()
    require(TransactionalLake.foldCommittedEpochs(spark, root, upTo = 1L) == 2,
      "epochs 0 and 1 must fold")
    require(TransactionalLake.readCommitted(spark, root).count() == n1,
      "fold must preserve the committed view")
    // replay of a folded epoch: its manifest entry is gone, but the fold
    // marker must keep the commit a no-op — the replay window outlives
    // retention
    TransactionalLake.commitEpoch(slice(0), root, 0L)
    require(TransactionalLake.readCommitted(spark, root).count() == n1,
      "replay of a folded epoch must be a no-op")
    require(TransactionalLake.foldCommittedEpochs(spark, root, upTo = 2L) == 1,
      "the remaining epoch must accumulate into the next generation")
    require(TransactionalLake.committedEpochs(spark, root).isEmpty,
      "the manifest must be fully truncated after the second fold")
    TransactionalLake.readCommitted(spark, root)
      .select(col("event_id"), col("event_type"), col("value"), col("epoch"),
        col("tenant"), col("year"), col("month"), col("day"), col("hour"))
      .orderBy("event_id")
  }

  /** Compaction round-trip, driver-gated: build a t1-only lake with THREE
    * small appends per partition (the small-file state), register, compact
    * the t1 partitions in place, then read back through the table. The
    * oracle is the plain SQL of the (tripled) content — hash-equality
    * proves the dynamic-overwrite rewrite preserved every row while
    * `SkewLakeSpec` separately proves the file count drops. */
  def compactRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tag = GraftSession.tag(dir)
    val root = freshDir(spark, "compact", dir)
    val tbl = s"compact_events_$tag"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    // deterministic event_id prefix: bounds the toy lake's partition
    // explosion (hour-grain over months of synthetic time) — the proof is
    // about the rewrite, not about writing thousands of tiny dirs twice
    val enriched = Ingest.derivePartitions(
      Ingest.enrich(
        events(spark, dir).filter(col("user_id") % 3 === 1 && col("event_id") <= 2000),
        tenantCol, unix_timestamp(col("ts"))))
      .select(col("event_id"), col("event_type"), col("value"),
        col("tenant"), col("year"), col("month"), col("day"), col("hour"))
    (1 to 3).foreach(_ => Lake.writeValid(enriched, root))
    Lake.registerExternal(spark, tbl, s"$root/data")
    Lake.compact(spark, tbl, "tenant = 't1'")
    spark.table(tbl)
      .orderBy("event_id", "year", "month", "day", "hour")
  }

  /** Per-tenant usage METERING, driver-gated: build the partitioned lake,
    * then account rows + partitions per tenant through the catalog-backed
    * operator. The oracle recomputes both from the raw events; the
    * storage half (files/bytes — not SQL-derivable by the oracle) is
    * require-guarded here and spec-checked in LakePurgeSpec. */
  def tenantUsage(spark: SparkSession, dir: String): DataFrame = {
    val tag = GraftSession.tag(dir)
    val root = freshDir(spark, "usage", dir)
    val tbl = s"usage_events_$tag"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val enriched = Ingest.derivePartitions(
      Ingest.enrich(events(spark, dir).filter(col("event_id") <= 2000),
        tenantCol, unix_timestamp(col("ts"))))
      .select(col("event_id"), col("event_type"), col("value"),
        col("tenant"), col("year"), col("month"), col("day"), col("hour"))
    Lake.writeValid(enriched, root)
    Lake.registerExternal(spark, tbl, s"$root/data")
    val usage = Lake.usageByTenant(spark, tbl)
    require(usage.filter(col("n_files") <= 0 || col("n_bytes") <= 0).isEmpty,
      "storage accounting must see every tenant's files")
    usage.select(col("tenant"), col("n_rows"), col("n_partitions"))
      .orderBy("tenant")
  }

  /** TIME TRAVEL, driver-gated: three committed epochs, the older two
    * FOLDED into a consolidated generation (retention ran), then an
    * as-of-epoch-1 read — the snapshot must contain exactly epochs 0+1's
    * rows even though they now live inside the fold generation (folds
    * preserve per-row epoch values, so time travel survives retention).
    * The oracle derives the same rows from `events` by the batch
    * predicate. */
  def timeTravel(spark: SparkSession, dir: String): DataFrame = {
    val root = freshDir(spark, "ttravel", dir)
    val cols = Seq("event_id", "event_type", "value",
      "tenant", "year", "month", "day", "hour")
    val enriched = Ingest.derivePartitions(
      Ingest.enrich(events(spark, dir).filter(col("event_id") <= 2000),
        tenantCol, unix_timestamp(col("ts"))))
      .select(cols.map(col): _*)
    (0 until 3).foreach(i => graft.sources.TransactionalLake.commitEpoch(
      enriched.filter(col("event_id") % 3 === i), root, i.toLong))
    // retention folds the aged epochs — the as-of read must see through it
    require(graft.sources.TransactionalLake
      .foldCommittedEpochs(spark, root, upTo = 1L) == 2)
    graft.sources.TransactionalLake.readCommittedAsOf(spark, root, 1L)
      .select(cols.map(col): _*)
      .orderBy("event_id")
  }

  /** INCREMENTAL MATERIALIZED VIEW, driver-gated end-to-end: a per-
    * (tenant, event_type) count/sum view maintained across three epoch
    * commits by two cursor refreshes — with a retention fold of the
    * already-applied epochs in between (the cursor must keep meaning
    * "applied" through the fold). The oracle recomputes the aggregate
    * directly from `events`, so the gate is "incrementally maintained
    * state ≡ full recompute". */
  def incrementalView(spark: SparkSession, dir: String): DataFrame = {
    val root = freshDir(spark, "ivmlake", dir)
    val view = freshDir(spark, "ivmview", dir)
    val T = graft.sources.TransactionalLake
    val V = graft.sources.MaterializedView
    val cols = Seq("event_id", "event_type", "value",
      "tenant", "year", "month", "day", "hour")
    val enriched = Ingest.derivePartitions(
      Ingest.enrich(events(spark, dir).filter(col("event_id") <= 2000),
        tenantCol, unix_timestamp(col("ts"))))
      .select(cols.map(col): _*)
    def commit(i: Int): Unit = T.commitEpoch(
      enriched.filter(col("event_id") % 3 === i), root, i.toLong)
    def refresh(): Long =
      V.refresh(spark, root, view, Seq("tenant", "event_type"), "value")
    // interleaved: refresh at cursor 0, then a retention fold that folds
    // BOTH the applied epoch 0 and the NOT-yet-applied epoch 1 — the
    // second refresh must pick epoch 1's rows out of the fold generation
    // (per-row epochs survive folds) plus live epoch 2
    commit(0)
    require(refresh() == 0L)
    commit(1); commit(2)
    require(T.foldCommittedEpochs(spark, root, upTo = 1L) == 2)
    require(refresh() == 2L)
    require(refresh() == 2L) // head unchanged — refresh is a no-op
    V.read(spark, view)
      .select(col("tenant"), col("event_type"), col("cnt"),
        col("total").cast("double").as("total_value"))
      .orderBy("tenant", "event_type")
  }

  /** KEYED INCREMENTAL VIEW over a MERGE lake, driver-gated end-to-end:
    * a per-event_type count/sum view maintained through three merge
    * epochs by per-epoch [[graft.sources.KeyedView]] refreshes. Unlike
    * the append-only view above, upserts are NOT additive deltas — the
    * view's hash-bucketed key index supplies each changed key's OLD
    * (group, value) contribution, so a value change contributes
    * `new − old`, a tombstone `−old`, and epoch 2's event_type rewrite
    * MOVES keys between groups (−1 old group, +1 new). A retention fold
    * lands between refreshes (the cursor must keep meaning "applied"
    * through it) and the final refresh is asserted a no-op. The oracle
    * recomputes the aggregate from the resolved final state, so the gate
    * is "key-indexed incremental maintenance ≡ full recompute". */
  def keyedView(spark: SparkSession, dir: String): DataFrame = {
    val root = freshDir(spark, "kvlake", dir)
    val view = freshDir(spark, "kvview", dir)
    val T = graft.sources.TransactionalLake
    val K = graft.sources.KeyedView
    val base = events(spark, dir).filter(col("event_id") <= 3000)
      .select("event_id", "event_type", "value")
    val none = base.filter(lit(false)).select("event_id")
    def refresh(): Long =
      K.refresh(spark, root, view, "event_id", "event_type", "value")
    // epoch 0: base load
    T.mergeCommit(base, none, root, 0L, Seq("event_id"))
    require(refresh() == 0L)
    // epoch 1: value upserts (same group — pure new−old) + tombstones
    T.mergeCommit(
      base.filter(col("event_id") % 5 === 0 && col("event_id") % 7 =!= 0)
        .withColumn("value", col("value") + 1000.0),
      base.filter(col("event_id") % 7 === 0).select("event_id"),
      root, 1L, Seq("event_id"))
    require(refresh() == 1L)
    // epoch 2: group-MOVING upserts (event_type → 'promo') that also
    // re-insert epoch-1-deleted keys; a retention fold of the already-
    // applied epochs lands first
    require(T.foldCommittedEpochs(spark, root, upTo = 1L,
      partitionCols = Nil) == 2)
    T.mergeCommit(
      base.filter(col("event_id") % 3 === 0)
        .withColumn("event_type", lit("promo"))
        .withColumn("value", col("value") + 2000.0),
      none, root, 2L, Seq("event_id"))
    require(refresh() == 2L)
    require(refresh() == 2L) // head unchanged — refresh is a no-op
    K.read(spark, view)
      .select(col("g").as("event_type"), col("cnt"),
        col("total").cast("double").as("total_value"))
      .orderBy("event_type")
  }

  /** MIN/MAX-MAINTAINING keyed view, driver-gated end-to-end: the
    * aggregate family count/sum deltas cannot maintain (deleting a
    * group's min forgets the runner-up), maintained by
    * [[graft.sources.KeyedView.refreshExtrema]]'s K-extreme buffers
    * through three merge epochs that exercise BOTH paths:
    *
    *  - epoch 1 tombstones every 'click' below 30 (ALL of click's K
    *    smallest → its lo-buffer exhausts → the rare group-recompute)
    *    and every 'view' above 100 with NO view upserts (its hi-buffer
    *    exhausts the same way), alongside the %7 cross-group deletes
    *    and +1000 value upserts every other group absorbs on the
    *    O(changes) fast path (the upserted values sit past the ceil —
    *    the admission filter must reject them or the min would
    *    overstate);
    *  - epoch 2's group-moves ('promo') delete buffered entries from
    *    every origin group and build a brand-new group's buffers from
    *    the delta alone.
    *
    * The oracle recomputes cnt/total/min/max from the resolved final
    * state, so the gate is "buffered incremental extrema ≡ full
    * recompute". */
  def extremaView(spark: SparkSession, dir: String): DataFrame = {
    val root = freshDir(spark, "exlake", dir)
    val view = freshDir(spark, "exview", dir)
    val T = graft.sources.TransactionalLake
    val K = graft.sources.KeyedView
    val base = events(spark, dir).filter(col("event_id") <= 3000)
      .select("event_id", "event_type", "value")
    val none = base.filter(lit(false)).select("event_id")
    def refresh(): Long =
      K.refreshExtrema(spark, root, view, "event_id", "event_type", "value")
    val exhaustLo = col("event_type") === "click" && col("value") < 30.0
    val exhaustHi = col("event_type") === "view" && col("value") > 100.0
    // epoch 0: base load
    T.mergeCommit(base, none, root, 0L, Seq("event_id"))
    require(refresh() == 0L)
    // epoch 1: value upserts (no view rows — its hi-exhaustion must not
    // be rescued by fresh maxima) + buffer-exhausting and %7 tombstones
    T.mergeCommit(
      base.filter(col("event_id") % 5 === 0 && col("event_id") % 7 =!= 0 &&
          !exhaustLo && col("event_type") =!= "view")
        .withColumn("value", col("value") + 1000.0),
      base.filter(col("event_id") % 7 === 0 || exhaustLo || exhaustHi)
        .select("event_id"),
      root, 1L, Seq("event_id"))
    require(refresh() == 1L)
    // epoch 2: group-MOVING upserts (event_type → 'promo') that also
    // re-insert epoch-1-deleted keys; a retention fold of the already-
    // applied epochs lands first
    require(T.foldCommittedEpochs(spark, root, upTo = 1L,
      partitionCols = Nil) == 2)
    T.mergeCommit(
      base.filter(col("event_id") % 3 === 0)
        .withColumn("event_type", lit("promo"))
        .withColumn("value", col("value") + 2000.0),
      none, root, 2L, Seq("event_id"))
    require(refresh() == 2L)
    require(refresh() == 2L) // head unchanged — refresh is a no-op
    K.readExtrema(spark, view)
      .select(col("g").as("event_type"), col("cnt"),
        col("total").cast("double").as("total_value"),
        col("min_v"), col("max_v"))
      .orderBy("event_type")
  }

  /** FIRST REFRESH OVER A FOLDED MERGE HISTORY, driver-gated end-to-end:
    * the same three merge epochs and retention fold as [[keyedView]],
    * but the [[graft.sources.KeyedView]] is built by ONE refresh after
    * all of them. That is the path [[keyedView]]'s per-epoch refreshes
    * never reach: an empty view (no cursor, no old key-index buckets)
    * whose delta spans a fold generation plus a live epoch and resolves
    * the epoch-1 tombstones (keys not re-inserted by epoch 2) as
    * winners that must contribute nothing. A second refresh is asserted
    * a no-op. Identical oracle as [[keyedView]]: one refresh ≡ three. */
  def mergedView(spark: SparkSession, dir: String): DataFrame = {
    val root = freshDir(spark, "mvlake", dir)
    val view = freshDir(spark, "mvview", dir)
    val T = graft.sources.TransactionalLake
    val K = graft.sources.KeyedView
    val base = events(spark, dir).filter(col("event_id") <= 3000)
      .select("event_id", "event_type", "value")
    val none = base.filter(lit(false)).select("event_id")
    def refresh(): Long =
      K.refresh(spark, root, view, "event_id", "event_type", "value")
    T.mergeCommit(base, none, root, 0L, Seq("event_id"))
    T.mergeCommit(
      base.filter(col("event_id") % 5 === 0 && col("event_id") % 7 =!= 0)
        .withColumn("value", col("value") + 1000.0),
      base.filter(col("event_id") % 7 === 0).select("event_id"),
      root, 1L, Seq("event_id"))
    require(T.foldCommittedEpochs(spark, root, upTo = 1L,
      partitionCols = Nil) == 2)
    T.mergeCommit(
      base.filter(col("event_id") % 3 === 0)
        .withColumn("event_type", lit("promo"))
        .withColumn("value", col("value") + 2000.0),
      none, root, 2L, Seq("event_id"))
    require(refresh() == 2L)
    require(refresh() == 2L) // head unchanged — refresh is a no-op
    K.read(spark, view)
      .select(col("g").as("event_type"), col("cnt"),
        col("total").cast("double").as("total_value"))
      .orderBy("event_type")
  }

  /** Row-level MERGE, driver-gated end-to-end: three merge epochs over an
    * events-keyed table — base load, then an epoch of value-upserts plus
    * delete tombstones, then a second upsert epoch that both overrides
    * the first and RE-INSERTS previously deleted keys — resolved through
    * a retention fold (the fold must not change merge resolution). The
    * oracle recomputes the final state directly from `events` with CASE
    * logic, so the gate is "merge-on-read view ≡ the state a row-store
    * would hold after the same MERGE statements". */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val root = mergeFixture(spark, dir, "merge")
    graft.sources.TransactionalLake.readMerged(spark, root, Seq("event_id"))
      .orderBy("event_id")
  }

  /** DEAD-LETTER REPLAY gate — the repair loop that closes S6: the wire
    * batch carries both failure classes (every 5th envelope missing the
    * required `device` field → validation-error; every other 7th not
    * JSON at all → parse-error), the one-pass split quarantines them,
    * and the REPAIRABLE class is replayed: the quarantined raw is
    * re-parsed, the missing field injected from the repair policy, and
    * the result pushed through the SAME validator (no bypass — repaired
    * records earn their way back). Parse-errors stay quarantined. The
    * repair must clear its whole class (fail-loud probe, one cheap
    * job); the oracle pins the exact union of first-pass and replayed
    * rows. Everything is scan-speed expressions — two passes over a
    * quarantine that is O(errors), never O(stream). */
  def errorReplay(spark: SparkSession, dir: String): DataFrame = {
    val id = col("event_id").cast("string")
    val mkValid = concat(lit("""{"Data":{"event":"e"""), id,
      lit("""","region":"US","device":"d"""),
      (col("event_id") % 4).cast("string"), lit(""""}}"""))
    val mkNoDevice = concat(lit("""{"Data":{"event":"e"""), id,
      lit("""","region":"US"}}"""))
    val raw = events(spark, dir).filter(col("event_id") <= 3000)
      .select(col("event_id"),
        when(col("event_id") % 5 === 0, mkNoDevice)
          .when(col("event_id") % 7 === 0, lit("not-json"))
          .otherwise(mkValid).as("raw"))
    // Parse ONCE, materialized (guide §4.4 expression duplication): the
    // optimizer inlines the `__env` alias into every pushed-down filter
    // condition — the before-plan carried 7 copies of the same from_json
    // in ONE Filter (~140 µs/row measured) — and this entry's probe +
    // final union would re-evaluate that chain 4-6x. The parsed envelope
    // + error class are computed in one pass into a file-backed artifact
    // (O(errors-fixture) = 3 k rows); every consumer below, including
    // the replayed records' SECOND pass through the same validator,
    // reads materialized columns instead of re-parsing raw.
    val parsed = graft.operators.Blocks.copyOut(raw
      .withColumn("__env", Ingest.parse(col("raw")))
      .withColumn(Ingest.ErrorTypeCol, Ingest.errorTypeOf(col("__env"))))
    val (valid, errors) = Ingest.splitParsed(parsed, "raw")
    val repairedRaw = errors
      .filter(col(Ingest.ErrorTypeCol) === "validation-error")
      .withColumn("__env", Ingest.parse(col("raw")))
      .select(concat(lit("""{"Data":{"event":""""),
        col("__env.Data.event"),
        lit("""","region":""""), col("__env.Data.region"),
        lit("""","device":"fixed-by-replay"}}""")).as("raw"))
    // the replay earns its way back through the SAME validator — parsed
    // once and materialized the same way (the probe below and the final
    // union both consume it)
    val repParsed = graft.operators.Blocks.copyOut(repairedRaw
      .withColumn("__env", Ingest.parse(col("raw")))
      .withColumn(Ingest.ErrorTypeCol, Ingest.errorTypeOf(col("__env"))))
    val (replayed, unrepaired) = Ingest.splitParsed(repParsed, "raw")
    require(unrepaired.limit(1).count() == 0L,
      "replay must clear the validation-error class — the repair policy " +
        "produced a record the validator still rejects")
    valid.select(col("event"), col("region"), col("device"))
      .withColumn("repaired", lit(false))
      .unionByName(replayed.select(col("event"), col("region"), col("device"))
        .withColumn("repaired", lit(true)))
      .orderBy("event")
  }

  /** SCHEMA EVOLUTION gate (SURVEY §3.2's crawler contract, end-to-end):
    * a later writer lands files with a NEW column, the incremental
    * re-crawl surfaces it on the SAME catalog table, pre-evolution files
    * read NULL for it, and both generations flow through one query.
    * Deterministic evolution: even event_ids get `quality` derived from
    * `value`, odd ids predate the column — the oracle expresses exactly
    * that NULL pattern, so a crawler that dropped either generation (or
    * failed to merge schemas) hash-mismatches. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val tag = GraftSession.tag(dir)
    val root = freshDir(spark, "sevo", dir)
    val tbl = s"sevo_tbl_$tag"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val enriched = Ingest.derivePartitions(
      Ingest.enrich(events(spark, dir).filter(col("event_id") <= 2000),
        tenantCol, unix_timestamp(col("ts"))))
      .select(col("event_id"), col("event_type"), col("value"), col("tenant"),
        col("year"), col("month"), col("day"), col("hour"))
    graft.sources.Lake.writeValid(enriched.filter(col("event_id") % 2 === 1), root)
    graft.sources.Maintenance.refreshOnce(spark, tbl, s"$root/data")
    graft.sources.Lake.writeValid(
      enriched.filter(col("event_id") % 2 === 0)
        .withColumn("quality", when(col("value") > 100.0, "hi").otherwise("lo")),
      root)
    graft.sources.Maintenance.refreshOnce(spark, tbl, s"$root/data")
    spark.table(tbl)
      .select("event_id", "event_type", "value", "tenant", "quality")
      .orderBy("event_id")
  }

  /** INCREMENTAL ZONE-MAP gate: three committed epochs, each
    * range-clustered on event_id at write time, each followed by an
    * O(batch) stats append ([[graft.sources.FileIndexLake.append]] —
    * only that epoch's files are scanned). A
    * selective range query then plans against the ACCUMULATED index and
    * must prune at the file level (requirePruned) while answering
    * exactly the plain filtered scan (the oracle). The lake is never
    * re-scanned for index maintenance — the property that matters at
    * 100 TB, where rebuilding file stats per batch would be O(lake). */
  def zoneMapIncremental(spark: SparkSession, dir: String): DataFrame = {
    val root = freshDir(spark, "zmi", dir)
    val statsRoot = s"$root/stats"
    val base = events(spark, dir).filter(col("event_id") <= 2000)
      .select(col("event_id"), col("event_type"), col("value"))
    val T = graft.sources.TransactionalLake
    val I = graft.sources.FileIndexLake
    val Z = graft.operators.ZoneMap
    (0 until 3).foreach { i =>
      T.commitEpoch(base.filter(col("event_id") % 3 === i)
        .repartitionByRange(4, col("event_id")), root, i.toLong,
        partitionCols = Nil)
      I.append(spark, root, statsRoot, i.toLong)(Z.buildStats(spark, _, "event_id"))
    }
    Z.prunedRangeRead(spark, I.read(spark, statsRoot), "event_id",
      lo = 100L, hi = 500L, requirePruned = true)
      .select("event_id", "event_type", "value")
      .orderBy("event_id")
  }

  /** EPOCH-INCREMENTAL BLOOM-INDEX gate — [[graft.operators.BloomIndex]]
    * under the same transactional-lake maintenance lifecycle as
    * [[zoneMapIncremental]], but on a HASH-scattered layout (the one
    * zone maps cannot serve): three committed epochs each indexed
    * O(batch) at commit time, a replayed maintenance pass contracts to
    * a no-op, and an IN-list probe spanning all three epoch parities
    * prunes at the file level (asserted) while answering exactly. */
  def bloomIncremental(spark: SparkSession, dir: String): DataFrame = {
    val root = freshDir(spark, "bli", dir)
    val indexRoot = s"$root/bloom"
    val base = events(spark, dir).filter(col("event_id") <= 2000)
      .select(col("event_id"), col("event_type"), col("value"))
    val T = graft.sources.TransactionalLake
    val I = graft.sources.FileIndexLake
    val B = graft.operators.BloomIndex
    (0 until 3).foreach { i =>
      T.commitEpoch(base.filter(col("event_id") % 3 === i)
        .repartition(4, col("event_id")), root, i.toLong, partitionCols = Nil)
      I.append(spark, root, indexRoot, i.toLong)(B.buildIndex(spark, _, "event_id"))
    }
    // replayed maintenance pass: same epoch id → idempotent no-op
    I.append(spark, root, indexRoot, 1L)(B.buildIndex(spark, _, "event_id"))
    B.prunedInRead(spark, I.read(spark, indexRoot), "event_id",
      Seq(123L, 457L, 791L), requirePruned = true)
      .select("event_id", "event_type", "value")
      .orderBy("event_id")
  }

  /** FOLD-AWARE BLOOM-INDEX gate — [[bloomIncremental]]'s lifecycle
    * continued through retention: three indexed epochs, a retention
    * fold rewrites the two aged epochs into a generation (deleting
    * their files and staling their index rows),
    * `FileIndexLake.refold` re-indexes exactly that generation (one
    * O(fresh) scan — folding rewrites file boundaries, so per-file
    * membership is recomputed, not merged), and the fold-aware index
    * must (a) never point at a deleted file and (b) still prune the
    * IN-probe at the file level. Same probe set, same oracle as the
    * pre-fold gate: retention must be invisible to answers. */
  def bloomRefold(spark: SparkSession, dir: String): DataFrame = {
    val root = freshDir(spark, "blr", dir)
    val indexRoot = s"$root/bloom"
    val base = events(spark, dir).filter(col("event_id") <= 2000)
      .select(col("event_id"), col("event_type"), col("value"))
    val T = graft.sources.TransactionalLake
    val I = graft.sources.FileIndexLake
    val B = graft.operators.BloomIndex
    val build = B.buildIndex(spark, _: String, "event_id")
    (0 until 3).foreach { i =>
      T.commitEpoch(base.filter(col("event_id") % 3 === i)
        .repartition(4, col("event_id")), root, i.toLong, partitionCols = Nil)
      I.append(spark, root, indexRoot, i.toLong)(build)
    }
    val folded = T.foldCommittedEpochs(spark, root, upTo = 1L,
      partitionCols = Nil)
    require(folded == 2, s"retention fold must absorb epochs 0-1, got $folded")
    require(I.refold(spark, root, indexRoot)(build) == 1,
      "exactly the new generation must be re-indexed")
    // replayed maintenance pass: generation already indexed → no-op
    require(I.refold(spark, root, indexRoot)(build) == 0,
      "a replayed refold pass must contract to a no-op")
    B.prunedInRead(spark, I.readFoldAware(spark, root, indexRoot),
      "event_id", Seq(123L, 457L, 791L), requirePruned = true)
      .select("event_id", "event_type", "value")
      .orderBy("event_id")
  }

  /** FOLD-AWARE ZONE-MAP gate — the index-survives-retention lifecycle:
    * three statted epochs, then a RANGE-CLUSTERED retention fold
    * rewrites the two aged epochs into a generation (deleting their
    * files and staling their stats rows), `FileIndexLake.refold`
    * re-stats exactly that generation (O(fresh)), and the fold-aware
    * index must (a) never point at a deleted file and (b) still PRUNE
    * at the file level — the range-clustered fold keeps per-file
    * envelopes near-disjoint where a hash re-bin would scatter them.
    * Same selective range, same oracle as the pre-fold gate: retention
    * must be invisible to answers. */
  def zoneMapRefold(spark: SparkSession, dir: String): DataFrame = {
    val root = freshDir(spark, "zmr", dir)
    val statsRoot = s"$root/stats"
    val base = events(spark, dir).filter(col("event_id") <= 2000)
      .select(col("event_id"), col("event_type"), col("value"))
    val T = graft.sources.TransactionalLake
    val I = graft.sources.FileIndexLake
    val Z = graft.operators.ZoneMap
    val build = Z.buildStats(spark, _: String, "event_id")
    (0 until 3).foreach { i =>
      T.commitEpoch(base.filter(col("event_id") % 3 === i)
        .repartitionByRange(4, col("event_id")), root, i.toLong,
        partitionCols = Nil)
      I.append(spark, root, statsRoot, i.toLong)(build)
    }
    val folded = T.foldCommittedEpochs(spark, root, upTo = 1L,
      partitionCols = Nil, rangeClusterCols = Seq("event_id"))
    require(folded == 2, s"retention fold must absorb epochs 0-1, got $folded")
    require(I.refold(spark, root, statsRoot)(build) == 1,
      "exactly the new generation must be re-statted")
    Z.prunedRangeRead(spark, I.readFoldAware(spark, root, statsRoot),
      "event_id", lo = 100L, hi = 500L, requirePruned = true)
      .select("event_id", "event_type", "value")
      .orderBy("event_id")
  }

  /** VACUUM gate: build a folded lake, inject every debris class the
    * crash windows can leave (uncommitted epoch dir, leftover live dir
    * of a folded epoch, unreferenced fold generation, crashed-publish
    * tmp files), vacuum with a zero horizon, and prove (a) every debris
    * path is gone — counted exactly — and (b) the committed view is
    * byte-identical to a lake that never had debris (the oracle). A
    * fresh uncommitted epoch under a real horizon is the
    * concurrent-writer case, covered in `VacuumSpec`. */
  def vacuumGate(spark: SparkSession, dir: String): DataFrame = {
    val root = freshDir(spark, "vac", dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val cols = Seq("event_id", "event_type", "value",
      "tenant", "year", "month", "day", "hour")
    val enriched = Ingest.derivePartitions(
      Ingest.enrich(events(spark, dir).filter(col("event_id") <= 2000),
        tenantCol, unix_timestamp(col("ts"))))
      .select(cols.map(col): _*)
    val T = graft.sources.TransactionalLake
    (0 until 3).foreach(i => T.commitEpoch(
      enriched.filter(col("event_id") % 3 === i), root, i.toLong))
    require(T.foldCommittedEpochs(spark, root, upTo = 1L) == 2)
    // debris: a crashed commitEpoch (data written, manifest never
    // published), a crashed fold cleanup (folded epoch's live dir
    // re-materialized), an unreferenced generation stage, and two
    // crashed atomic publishes
    enriched.limit(5).write.parquet(s"$root/data/epoch=99")
    enriched.limit(5).write.parquet(s"$root/data/epoch=0")
    enriched.limit(5).write.parquet(s"$root/data_folded/gen=999")
    fs.create(new org.apache.hadoop.fs.Path(s"$root/_manifest/.tmp-7"), true).close()
    fs.create(new org.apache.hadoop.fs.Path(s"$root/_fold/.tmp-7"), true).close()
    val removed = T.vacuum(spark, root, olderThanMs = 0L)
    require(removed == 5, s"vacuum removed $removed paths, expected 5")
    require(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/data/epoch=99")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$root/data/epoch=0")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$root/data_folded/gen=999")),
      "vacuum must remove every injected debris path")
    T.readCommitted(spark, root).select(cols.map(col): _*).orderBy("event_id")
  }

  /** Per-epoch data-quality TREND over the transactional lake — the
    * continuous-monitoring form of `q_dq_audit`: every committed epoch
    * reports (constraint, checked, violations, pass), so a bad ingest
    * batch is localized to its epoch instead of disappearing into a
    * whole-table rate. One conditional-aggregate scan grouped by the
    * `epoch` partition column (map-side combine collapses the shuffle to
    * |epochs × constraints| rows); per-row epochs survive retention
    * folds, so the trend is fold-stable — the fixture folds epochs 0–1
    * before reporting to prove it. The event_type-domain rule excludes
    * 'error' and the value ceiling is deliberately tight, so real
    * violation counts flow per epoch (not a vacuous all-zeros report). */
  def dqEpochs(spark: SparkSession, dir: String): DataFrame = {
    val root = freshDir(spark, "dqep", dir)
    val enriched = Ingest.derivePartitions(
      Ingest.enrich(events(spark, dir).filter(col("event_id") <= 2000),
        tenantCol, unix_timestamp(col("ts"))))
      .select(col("event_id"), col("event_type"), col("value"),
        col("tenant"), col("year"), col("month"), col("day"), col("hour"))
    (0 until 3).foreach(i => graft.sources.TransactionalLake.commitEpoch(
      enriched.filter(col("event_id") % 3 === i), root, i.toLong))
    require(graft.sources.TransactionalLake
      .foldCommittedEpochs(spark, root, upTo = 1L) == 2)
    graft.sources.TransactionalLake.readCommitted(spark, root)
      .groupBy(col("epoch").cast("long").as("epoch"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type").isin("click", "view", "purchase", "signup"),
          0L).otherwise(1L)).as("v_domain"),
        sum(when(col("value") <= 250.0, 0L).otherwise(1L)).as("v_range"))
      .select(col("epoch"), expr(
        """stack(2,
          |  'domain:event_type!=error', n, v_domain,
          |  'range:value<=250',         n, v_range
          |) AS (constraint_name, checked, violations)""".stripMargin))
      .withColumn("pass", col("violations") === 0L)
      .orderBy("epoch", "constraint_name")
  }

  /** Snapshot reconciliation over the merge lake: diff the keyed as-of
    * views across consecutive epochs (v0→v1 exercises changed+removed,
    * v1→v2 changed+added — the %21 keys deleted in epoch 1 and
    * re-upserted in epoch 2). Gates [[graft.sources.TransactionalLake
    * .readMergedAsOf]] + [[graft.sources.TransactionalLake
    * .diffSnapshots]] end-to-end through the fixture's retention fold
    * (epochs 0–1 are folded before the as-of reads, so the diff also
    * certifies fold-stability of the merged snapshots). */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val root = mergeFixture(spark, dir, "sdiff")
    val T = graft.sources.TransactionalLake
    val keys = Seq("event_id")
    def at(e: Long): DataFrame = T.readMergedAsOf(spark, root, keys, e)
    val d01 = T.diffSnapshots(at(0L), at(1L), keys)
      .withColumn("from_epoch", lit(0L))
    val d12 = T.diffSnapshots(at(1L), at(2L), keys)
      .withColumn("from_epoch", lit(1L))
    d01.unionByName(d12)
      .select(col("from_epoch"), col("event_id"), col("change_type"),
        col("before.value").as("value_before"),
        col("after.value").as("value_after"))
      .orderBy("from_epoch", "event_id")
  }

  /** CDC FEED over the same merge fixture: every change row in epochs
    * (0, 2] with its operation and epoch — consumed AFTER a retention
    * fold of epoch <= 1, proving an incremental consumer whose cursor
    * predates the fold still receives exactly its missing changes. */
  def epochChanges(spark: SparkSession, dir: String): DataFrame = {
    val root = mergeFixture(spark, dir, "cdc")
    graft.sources.TransactionalLake.changesBetween(spark, root, 0L, 2L)
      .select(col("event_id"), col("event_type"), col("value"),
        col(graft.sources.TransactionalLake.OpCol).as("op"),
        col("epoch").cast("long").as("epoch_id"))
      .orderBy("epoch_id", "event_id")
  }

  /** Shared merge-lake fixture: epoch 0 = base (event_id <= 3000),
    * epoch 1 = +1000 value upserts (id%5=0, id%7<>0) + tombstones
    * (id%7=0), epoch 2 = +2000 upserts (id%3=0, overriding epoch 1 and
    * re-inserting deleted keys). Epochs <= 1 are then FOLDED. */
  private def mergeFixture(spark: SparkSession, dir: String,
                           kind: String): String = {
    val root = freshDir(spark, kind, dir)
    val T = graft.sources.TransactionalLake
    val base = events(spark, dir).filter(col("event_id") <= 3000)
      .select("event_id", "event_type", "value")
    val none = base.filter(lit(false)).select("event_id")
    T.mergeCommit(base, none, root, 0L, Seq("event_id"))
    T.mergeCommit(
      base.filter(col("event_id") % 5 === 0 && col("event_id") % 7 =!= 0)
        .withColumn("value", col("value") + 1000.0),
      base.filter(col("event_id") % 7 === 0).select("event_id"),
      root, 1L, Seq("event_id"))
    T.mergeCommit(
      base.filter(col("event_id") % 3 === 0)
        .withColumn("value", col("value") + 2000.0),
      none, root, 2L, Seq("event_id"))
    require(T.foldCommittedEpochs(spark, root, upTo = 1L,
      partitionCols = Nil) == 2, s"merge fixture fold: expected 2 epochs")
    root
  }

  /** Tenant OFFBOARDING, driver-gated end-to-end: build a multi-tenant
    * lake WITH the doomed tenant everywhere it can live — plain
    * partitioned lake, error prefix (tenant-keyed dead letters), catalog
    * partitions, and three transactional epochs — then purge it and
    * return every surviving row from BOTH lakes. The oracle derives the
    * same rows from `events` as if the tenant never existed, so the gate
    * is "post-purge lake ≡ a lake that never had the tenant". Engine-side
    * asserts pin what the SQL cannot see: catalog partitions dropped,
    * tombstone present, other tenants' error rows byte-intact, and a
    * REPLAYED epoch commit after the purge staying a no-op (the purged
    * tenant must not resurrect from crash replay). */
  def tenantPurge(spark: SparkSession, dir: String): DataFrame = {
    val tag = GraftSession.tag(dir)
    val root = freshDir(spark, "purge", dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val tbl = s"purge_events_$tag"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val cols = Seq("event_id", "event_type", "value",
      "tenant", "year", "month", "day", "hour")
    val enriched = Ingest.derivePartitions(
      Ingest.enrich(events(spark, dir).filter(col("event_id") <= 2000),
        tenantCol, unix_timestamp(col("ts"))))
      .select(cols.map(col): _*)
    val errs = events(spark, dir)
      .filter(col("event_type") === "error" && col("event_id") <= 2000)
      .select(col("event_id"), tenantCol.as("tenant_key"),
        lit("event-error").as("error_type"))
    val troot = s"$root/tx"
    // three disjoint fixture roots ($root/data, $root/error, $root/tx),
    // then two disjoint purge roots. registerExternal toggles mergeSchema,
    // so it stays outside both overlaps, and the tx track keeps its commit
    // ORDER on one thread.
    Overlap.all[Unit](
      () => Lake.writeErrors(errs, root),
      () => (0 until 3).foreach(i => graft.sources.TransactionalLake.commitEpoch(
        enriched.filter(col("event_id") % 3 === i), troot, i.toLong)),
      () => Lake.writeValid(enriched, root))
    Lake.registerExternal(spark, tbl, s"$root/data")
    val keptErrs = errs.filter(col("tenant_key") =!= "t2").count()
    Overlap.all[Unit](
      () => {
        graft.sources.TransactionalLake.purgeTenant(spark, troot, "t2")
        // crash-replay after the purge ON THE SAME THREAD (order is the
        // contract): the epoch is committed, so this must stay a no-op —
        // t2 must NOT resurrect from the replayed source rows
        graft.sources.TransactionalLake.commitEpoch(
          enriched.filter(col("event_id") % 3 === 0), troot, 0L)
      },
      () => Lake.purgeTenant(spark, tbl, root, "t2"))
    tenantPurgeAsserts(spark, fs, tbl, root, troot, keptErrs, cols)
  }

  private def tenantPurgeAsserts(
      spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem, tbl: String,
      root: String, troot: String, keptErrs: Long,
      cols: Seq[String]): DataFrame = {
    require(spark.sessionState.catalog.listPartitions(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl),
      Some(Map("tenant" -> "t2"))).isEmpty,
      "purged tenant's catalog partitions must be gone")
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$root/_purged/t2")),
      "purge tombstone must exist")
    val errsAfter = spark.read.parquet(s"$root/error")
    require(errsAfter.filter(col("tenant_key") === "t2").isEmpty,
      "purged tenant's error rows must be gone")
    require(errsAfter.count() == keptErrs,
      "other tenants' error rows must survive the purge intact")

    spark.table(tbl).select(cols.map(col): _*)
      .unionAll(graft.sources.TransactionalLake.readCommitted(spark, troot)
        .select(cols.map(col): _*))
      .orderBy("event_id", "tenant")
  }

  /** Stream-static enrichment, driver-gated (the lookup-table pattern,
    * previously spec-only): the replayed events stream joins per
    * micro-batch against the STATIC customer dimension — broadcast, and
    * re-planned each batch so dimension updates between batches are
    * picked up. Stateless (no watermark/state store); one AvailableNow
    * batch equals the batch join, which is the oracle. */
  def streamingStaticEnrich(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val tag = GraftSession.tag(dir)
    val in = s"${freshDir(spark, "ssenrich", dir)}/in"
    events(spark, dir).filter(col("event_id") <= 20000)
      .select(col("event_id"), col("user_id"))
      .write.mode("overwrite").json(in)
    val raw = spark.readStream
      .schema(StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType))))
      .json(in)
    val dim = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val joined = raw.join(broadcast(dim), col("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("user_id"),
        col("c_nationkey").cast("int").as("nationkey"))
    val qn = s"ssenrich_$tag"
    val q = joined.writeStream.format("memory").queryName(qn).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(qn).orderBy("event_id")
  }

  /** Stateful-stream fixtures run with a reduced shuffle-partition count:
    * state-store instances scale with reduce partitions (a stream-stream
    * join opens 4 stores per partition per side), and on a local fs the
    * store setup/commit dominates a small fixture — 32 partitions cost
    * ~8 s of pure store overhead for the same result 8 produce in ~2 s.
    * At 100 TB the SAME knob is sized UP with the data instead. Results
    * are partition-count independent. */
  private def withShufflePartitions[T](spark: SparkSession, n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, prev)
  }

  /** Watermarked hourly window aggregation THROUGH Structured Streaming
    * (driver-gated analog of the StreamingAggSpec-only coverage): the
    * events table is replayed as a one-file JSON stream, aggregated with
    * `StreamingAggregates.hourlyTenantCounts` (watermark + window) in
    * complete mode to a memory sink. Under AvailableNow the result equals
    * the batch GROUP BY, so the oracle is plain SQL. Decimal sum → one
    * double cast keeps it bit-exact. */
  def streamingWindowAgg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val tag = GraftSession.tag(dir)
    val in = s"${freshDir(spark, "swin", dir)}/in"
    // all files present before start + no maxFilesPerTrigger → ONE
    // micro-batch under AvailableNow (and complete-mode output equals
    // the batch aggregate regardless of batching); parallel files keep
    // the write and the stateful stage multi-core
    events(spark, dir).select(col("user_id"), col("value"), col("ts"))
      .write.mode("overwrite").json(in)
    val raw = spark.readStream
      .schema(StructType(Seq(
        StructField("user_id", LongType), StructField("value", DoubleType),
        StructField("ts", TimestampType))))
      .json(in)
    val enriched = raw.select(col("ts").as("event_time"),
      tenantCol.as("TenantId"),
      col("value").cast(DecimalType(10, 2)).as("value"))
    val qn = s"swin_$tag"
    withShufflePartitions(spark, 8) {
      val q = graft.streaming.StreamingAggregates.hourlyTenantCounts(enriched)
        .writeStream.format("memory").queryName(qn).outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(qn)
      .select(date_format(col("hour_start"), "yyyy-MM-dd HH:00").as("hour_start"),
        col("TenantId").as("tenant"), col("n"),
        col("sum_value").cast("double").as("sum_value"))
      .orderBy("hour_start", "tenant")
  }

  /** Streaming exact dedup (dropDuplicatesWithinWatermark) driver-gated:
    * one-file replay → one batch → the kept key set equals batch
    * DISTINCT, which is the oracle. */
  def streamingDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val tag = GraftSession.tag(dir)
    val in = s"${freshDir(spark, "pdedup", dir)}/in"
    // single BATCH (not single file) is what makes the kept key set equal
    // batch DISTINCT: all files land before start and AvailableNow has no
    // file cap, so dedup state sees everything in one pass; bounded
    // prefix per the stateful-fixture rule
    events(spark, dir).filter(col("event_id") <= 20000)
      .select(col("user_id"), col("event_type"), col("ts"))
      .write.mode("overwrite").json(in)
    val raw = spark.readStream
      .schema(StructType(Seq(
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("ts", TimestampType))))
      .json(in)
    val qn = s"pdedup_$tag"
    withShufflePartitions(spark, 8) {
      val q = graft.streaming.StreamingAggregates
        .dedupWithinWatermark(raw, "ts", Seq("user_id", "event_type"))
        .select(col("user_id"), col("event_type"))
        .writeStream.format("memory").queryName(qn).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(qn).orderBy("user_id", "event_type")
  }

  /** Stream-stream interval join driver-gated: click and purchase event
    * streams joined on user within one hour AFTER the click, both sides
    * watermarked (StreamingAggregates.clickToPurchaseJoin). One
    * AvailableNow batch → the emitted pairs equal the batch interval
    * join, which is the oracle. */
  def streamingJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val tag = GraftSession.tag(dir)
    val base = freshDir(spark, "sjoin", dir)
    // bounded prefix: join-state cost scales with rows buffered per
    // watermark window; the correctness proof doesn't need the full toy SF
    val ev = events(spark, dir).filter(col("event_id") <= 20000)
    ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .write.mode("overwrite").json(s"$base/clicks")
    ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("purchase_user"),
        col("ts").as("purchase_ts"))
      .write.mode("overwrite").json(s"$base/purchases")
    def stream(path: String, id: String, user: String, ts: String) =
      spark.readStream.schema(StructType(Seq(
        StructField(id, LongType), StructField(user, LongType),
        StructField(ts, TimestampType)))).json(path)
    val joined = graft.streaming.StreamingAggregates.clickToPurchaseJoin(
      stream(s"$base/clicks", "click_id", "click_user", "click_ts"),
      stream(s"$base/purchases", "purchase_id", "purchase_user", "purchase_ts"))
      .select(col("click_id"), col("purchase_id"))
    val qn = s"sjoin_$tag"
    withShufflePartitions(spark, 8) {
      val q = joined.writeStream.format("memory").queryName(qn)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(qn).orderBy("click_id", "purchase_id")
  }

  /** Stream-stream LEFT OUTER interval join driver-gated: same shape as
    * [[streamingJoin]], but unmatched clicks must emit a null-purchase
    * row — and ONLY once the global watermark (min of both sides' max
    * event time, minus the 10 min delay) has passed the end of their
    * one-hour match window; later unmatched clicks stay withheld at
    * end-of-stream. The oracle reproduces exactly that emission rule
    * over the batch join (same style as the sessionizer's timeout rule).
    * Timestamps are second-truncated so the watermark boundary is exact
    * rather than fixture-luck. */
  def streamingOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val tag = GraftSession.tag(dir)
    val base = freshDir(spark, "sojoin", dir)
    val ev = events(spark, dir).filter(col("event_id") <= 20000)
      .withColumn("ts", date_trunc("second", col("ts")))
    ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .write.mode("overwrite").json(s"$base/clicks")
    ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("purchase_user"),
        col("ts").as("purchase_ts"))
      .write.mode("overwrite").json(s"$base/purchases")
    def stream(path: String, id: String, user: String, ts: String) =
      spark.readStream.schema(StructType(Seq(
        StructField(id, LongType), StructField(user, LongType),
        StructField(ts, TimestampType)))).json(path)
    val joined = graft.streaming.StreamingAggregates.clickToPurchaseJoin(
      stream(s"$base/clicks", "click_id", "click_user", "click_ts"),
      stream(s"$base/purchases", "purchase_id", "purchase_user", "purchase_ts"),
      joinType = "left_outer")
      .select(col("click_id"), col("purchase_id"))
    val qn = s"sojoin_$tag"
    withShufflePartitions(spark, 8) {
      val q = joined.writeStream.format("memory").queryName(qn)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(qn).orderBy("click_id", "purchase_id")
  }

  /** Custom keyed state (flatMapGroupsWithState) driver-gated: the
    * per-(tenant,user) sessionizer over a replayed event stream. Emission
    * under AvailableNow is deterministic and two-fold: sessions CLOSED
    * INLINE (a later event gaps >30 min) emit in the data batch, and a
    * final timeout batch emits each user's last session iff its event-time
    * timeout passed the final watermark (last activity < maxTs − 3600 s:
    * 30 min gap + 30 min watermark delay). The oracle reproduces exactly
    * that rule over batch sessionization. `sumValue` is excluded: a
    * double fold over same-timestamp ties is order-sensitive; counts and
    * epoch bounds are not. */
  def streamingSessions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val tag = GraftSession.tag(dir)
    val base = freshDir(spark, "ssess", dir)
    // whole-second timestamps: a sub-second component on the MAX event ts
    // shifts the final watermark by that fraction, which flips the
    // timeout rule's boundary case (endEpoch == maxTs-3600) — truncation
    // makes `endEpoch < mt - 3600` exact rather than fixture-luck
    events(spark, dir).select(
      tenantCol.as("tenant"),
      col("user_id").as("userId"),
      date_trunc("second", col("ts")).as("ts"), col("value"))
      .write.mode("overwrite").json(s"$base/in")
    val raw = spark.readStream.schema(StructType(Seq(
      StructField("tenant", StringType), StructField("userId", LongType),
      StructField("ts", TimestampType), StructField("value", DoubleType))))
      .json(s"$base/in")
    import spark.implicits._
    val sessions = graft.streaming.StreamingAggregates.sessionize(
      raw.as[graft.streaming.StreamingAggregates.SessionEvent])
    val qn = s"ssess_$tag"
    withShufflePartitions(spark, 8) {
      val q = sessions.toDF()
        .select(col("tenant"), col("userId"), col("startEpoch"),
          col("endEpoch"), col("nEvents"))
        .writeStream.format("memory").queryName(qn).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(qn).orderBy("userId", "startEpoch")
  }

  val oracles: Map[String, String] =
    Entries.toMapUnique("PipelineQueries.oracles", Seq(
    "pipe_streaming_sessions" ->
      """WITH e AS (
        |  SELECT 't' || CAST(user_id % 3 AS VARCHAR) AS tenant, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS t
        |  FROM events
        |), m AS (
        |  SELECT tenant, user_id, t,
        |    CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)
        |), s AS (
        |  SELECT tenant, user_id, t,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS seq
        |  FROM m
        |), agg AS (
        |  SELECT tenant, user_id AS userId, seq,
        |    min(t) AS startEpoch, max(t) AS endEpoch, count(*) AS nEvents
        |  FROM s GROUP BY 1, 2, 3
        |), mx AS (SELECT max(t) AS mt FROM e)
        |SELECT tenant, userId, startEpoch, endEpoch, nEvents
        |FROM agg CROSS JOIN mx
        |QUALIFY seq < max(seq) OVER (PARTITION BY userId)
        |  OR endEpoch < mt - 3600
        |ORDER BY userId, startEpoch""".stripMargin,
    "pipe_streaming_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id
        |FROM events c JOIN events p
        |  ON c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.user_id = c.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 3600 SECONDS
        |WHERE c.event_id <= 20000 AND p.event_id <= 20000
        |ORDER BY click_id, purchase_id""".stripMargin,
    "pipe_streaming_outer_join" ->
      """WITH c AS (
        |  SELECT event_id AS click_id, user_id AS u,
        |    CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS cts
        |  FROM events WHERE event_type = 'click' AND event_id <= 20000),
        |p AS (
        |  SELECT event_id AS purchase_id, user_id AS u,
        |    CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS pts
        |  FROM events WHERE event_type = 'purchase' AND event_id <= 20000),
        |wm AS (
        |  SELECT least((SELECT max(cts) FROM c), (SELECT max(pts) FROM p))
        |    - 600 AS w)
        |SELECT c.click_id, p.purchase_id
        |FROM c JOIN p ON p.u = c.u AND p.pts >= c.cts AND p.pts <= c.cts + 3600
        |UNION ALL
        |SELECT click_id, CAST(NULL AS BIGINT) AS purchase_id
        |FROM c, wm
        |WHERE NOT EXISTS (SELECT 1 FROM p
        |    WHERE p.u = c.u AND p.pts >= c.cts AND p.pts <= c.cts + 3600)
        |  AND c.cts + 3600 < w
        |ORDER BY click_id, purchase_id""".stripMargin,
    "pipe_streaming_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour_start,
        |  't' || CAST(user_id % 3 AS VARCHAR) AS tenant,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "pipe_streaming_static_enrich" ->
      """SELECT e.event_id, e.user_id, CAST(c.c_nationkey AS INT) AS nationkey
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |WHERE e.event_id <= 20000
        |ORDER BY event_id""".stripMargin,
    "pipe_streaming_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |WHERE event_id <= 20000
        |ORDER BY user_id, event_type""".stripMargin,
    "pipe_http_ingest" ->
      """SELECT 'dev' || CAST(event_id AS VARCHAR) AS device,
        |  event_type AS event, 'US' AS region,
        |  CAST(1704067200 AS BIGINT) AS ingest_ts,
        |  't' || CAST(user_id % 3 AS VARCHAR) AS tenant,
        |  '2024' AS year, '01' AS month, '01' AS day, '00' AS hour
        |FROM events WHERE event_type <> 'error' AND event_id <= 2000
        |ORDER BY device""".stripMargin,
    "pipe_streaming_epoch_compact" ->
      """WITH t1 AS (
        |  SELECT event_id, event_type, value,
        |    CAST(event_id % 3 AS VARCHAR) AS epoch,
        |    't' || CAST(user_id % 3 AS VARCHAR) AS tenant,
        |    strftime(ts, '%Y') AS year, strftime(ts, '%m') AS month,
        |    strftime(ts, '%d') AS day, strftime(ts, '%H') AS hour
        |  FROM events WHERE user_id % 3 = 1 AND event_id <= 2000)
        |SELECT * FROM t1 ORDER BY event_id""".stripMargin,
    "pipe_compact_roundtrip" ->
      """WITH t1 AS (
        |  SELECT event_id, event_type, value,
        |    't' || CAST(user_id % 3 AS VARCHAR) AS tenant,
        |    strftime(ts, '%Y') AS year, strftime(ts, '%m') AS month,
        |    strftime(ts, '%d') AS day, strftime(ts, '%H') AS hour
        |  FROM events WHERE user_id % 3 = 1 AND event_id <= 2000)
        |SELECT * FROM (
        |  SELECT * FROM t1 UNION ALL SELECT * FROM t1 UNION ALL SELECT * FROM t1)
        |ORDER BY event_id""".stripMargin,
    "pipe_wire_roundtrip" ->
      """SELECT event_id, to_base64(encode(props)) AS wire,
        |  json_extract_string(props, '$.k') AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "pipe_streaming_transactional" ->
      """SELECT 'dev' || CAST(event_id AS VARCHAR) AS device,
        |  event_type AS event, 'US' AS region,
        |  CAST(1704067200 AS BIGINT) AS ingest_ts,
        |  't' || CAST(user_id % 3 AS VARCHAR) AS tenant,
        |  '2024' AS year, '01' AS month, '01' AS day, '00' AS hour
        |FROM events WHERE event_type <> 'error' AND event_id <= 5000
        |ORDER BY device""".stripMargin,
    "pipe_streaming_exactly_once" ->
      """SELECT 'dev' || CAST(event_id AS VARCHAR) AS device,
        |  event_type AS event, 'US' AS region,
        |  CAST(1704067200 AS BIGINT) AS ingest_ts,
        |  't' || CAST(user_id % 3 AS VARCHAR) AS tenant,
        |  '2024' AS year, '01' AS month, '01' AS day, '00' AS hour
        |FROM events WHERE event_type <> 'error' AND event_id <= 5000
        |ORDER BY device""".stripMargin,
    "pipe_streaming_roundtrip" ->
      """SELECT 'dev' || CAST(event_id AS VARCHAR) AS device,
        |  event_type AS event, 'US' AS region,
        |  CAST(1704067200 AS BIGINT) AS ingest_ts,
        |  't' || CAST(user_id % 3 AS VARCHAR) AS tenant,
        |  '2024' AS year, '01' AS month, '01' AS day, '00' AS hour
        |FROM events WHERE event_type <> 'error'
        |ORDER BY device""".stripMargin,
    "pipe_enrich" ->
      """SELECT event_id, event_type, json_extract_string(props, '$.k') AS k,
        |  't' || CAST(user_id % 3 AS VARCHAR) AS tenant,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS ingest_ts
        |FROM events ORDER BY event_id""".stripMargin,
    "pipe_partition_derive" ->
      """SELECT event_id, 't' || CAST(user_id % 3 AS VARCHAR) AS tenant,
        |  strftime(ts, '%Y') AS year, strftime(ts, '%m') AS month,
        |  strftime(ts, '%d') AS day, strftime(ts, '%H') AS hour
        |FROM events ORDER BY event_id""".stripMargin,
    "pipe_validate" ->
      """SELECT event_id, event_type, user_id FROM events
        |WHERE event_type <> 'error'
        |  AND json_extract_string(props, '$.k') IS NOT NULL
        |ORDER BY event_id""".stripMargin,
    "pipe_error_route" ->
      """SELECT event_id,
        |  CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 'parse-error'
        |       WHEN event_type = 'error' THEN 'event-error' END AS error_type
        |FROM events
        |WHERE json_extract_string(props, '$.k') IS NULL OR event_type = 'error'
        |ORDER BY event_id""".stripMargin,
    "pipe_tenant_filter" ->
      """SELECT event_id, event_type, value,
        |  't' || CAST(user_id % 3 AS VARCHAR) AS tenant
        |FROM events WHERE user_id % 3 = 1 ORDER BY event_id""".stripMargin,
    "pipe_lake_roundtrip" ->
      """SELECT event_id, event_type, value,
        |  't' || CAST(user_id % 3 AS VARCHAR) AS tenant,
        |  strftime(ts, '%Y') AS year, strftime(ts, '%m') AS month,
        |  strftime(ts, '%d') AS day, strftime(ts, '%H') AS hour
        |FROM events WHERE user_id % 3 = 1 AND event_id <= 2000
        |ORDER BY event_id""".stripMargin,
    // metering: rows + distinct partition tuples per tenant
    "pipe_tenant_usage" ->
      """WITH base AS (
        |  SELECT 't' || CAST(user_id % 3 AS VARCHAR) AS tenant,
        |    strftime(ts, '%Y') || strftime(ts, '%m')
        |      || strftime(ts, '%d') || strftime(ts, '%H') AS part
        |  FROM events WHERE event_id <= 2000)
        |SELECT tenant, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT part) AS BIGINT) AS n_partitions
        |FROM base GROUP BY tenant ORDER BY tenant""".stripMargin,
    // first-pass valid rows (neither %5 nor %7) plus the replayed
    // validation-error class (%5, device injected by the repair policy);
    // parse-errors (%7 and not %5) stay quarantined
    "pipe_error_replay" ->
      """SELECT 'e' || CAST(event_id AS VARCHAR) AS event,
        |  'US' AS region,
        |  CASE WHEN event_id % 5 = 0 THEN 'fixed-by-replay'
        |       ELSE 'd' || CAST(event_id % 4 AS VARCHAR) END AS device,
        |  event_id % 5 = 0 AS repaired
        |FROM events
        |WHERE event_id <= 3000 AND (event_id % 5 = 0 OR event_id % 7 <> 0)
        |ORDER BY event""".stripMargin,
    // evolved table: odd ids predate the quality column (NULL), even ids
    // carry the derived value — both generations through one crawl
    "pipe_schema_evolution" ->
      """SELECT event_id, event_type, value,
        |  't' || CAST(user_id % 3 AS VARCHAR) AS tenant,
        |  CASE WHEN event_id % 2 = 0 THEN
        |    (CASE WHEN value > 100 THEN 'hi' ELSE 'lo' END)
        |  END AS quality
        |FROM events WHERE event_id <= 2000
        |ORDER BY event_id""".stripMargin,
    "pipe_zonemap_incremental" ->
      """SELECT event_id, event_type, value FROM events
        |WHERE event_id BETWEEN 100 AND 500
        |ORDER BY event_id""".stripMargin,
    "pipe_bloom_incremental" ->
      """SELECT event_id, event_type, value FROM events
        |WHERE event_id IN (123, 457, 791)
        |ORDER BY event_id""".stripMargin,
    // retention must be invisible to answers: identical IN-probe oracle
    "pipe_bloom_refold" ->
      """SELECT event_id, event_type, value FROM events
        |WHERE event_id IN (123, 457, 791)
        |ORDER BY event_id""".stripMargin,
    // retention must be invisible to answers: identical range oracle
    "pipe_zonemap_refold" ->
      """SELECT event_id, event_type, value FROM events
        |WHERE event_id BETWEEN 100 AND 500
        |ORDER BY event_id""".stripMargin,
    // post-vacuum committed view ≡ a lake that never had debris: all
    // three epochs of the enriched feed
    "pipe_vacuum" ->
      """SELECT event_id, event_type, value,
        |  't' || CAST(user_id % 3 AS VARCHAR) AS tenant,
        |  strftime(ts, '%Y') AS year, strftime(ts, '%m') AS month,
        |  strftime(ts, '%d') AS day, strftime(ts, '%H') AS hour
        |FROM events WHERE event_id <= 2000
        |ORDER BY event_id""".stripMargin,
    // per-epoch DQ trend: epoch = event_id % 3; 'error' rows violate the
    // domain rule, values above 250 violate the range rule
    "pipe_dq_epochs" ->
      """WITH base AS (
        |  SELECT CAST(event_id % 3 AS BIGINT) AS epoch, event_type, value
        |  FROM events WHERE event_id <= 2000),
        |per AS (
        |  SELECT epoch, 'domain:event_type!=error' AS constraint_name,
        |    count(*) AS checked,
        |    sum(CASE WHEN event_type IN ('click','view','purchase','signup')
        |        THEN 0 ELSE 1 END) AS violations
        |  FROM base GROUP BY epoch
        |  UNION ALL
        |  SELECT epoch, 'range:value<=250', count(*),
        |    sum(CASE WHEN value <= 250 THEN 0 ELSE 1 END)
        |  FROM base GROUP BY epoch)
        |SELECT epoch, constraint_name, CAST(checked AS BIGINT) AS checked,
        |  CAST(violations AS BIGINT) AS violations,
        |  violations = 0 AS pass
        |FROM per ORDER BY epoch, constraint_name""".stripMargin,
    // the merge fixture's change algebra, replayed as set logic:
    // v0→v1 removes %7 keys and bumps %5-not-%7 by 1000; v1→v2 upserts
    // every %3 key to base+2000 (re-adding the %21 keys deleted at v1)
    "pipe_snapshot_diff" ->
      """WITH base AS (
        |  SELECT event_id, event_type, value FROM events
        |  WHERE event_id <= 3000),
        |d01 AS (
        |  SELECT CAST(0 AS BIGINT) AS from_epoch, event_id,
        |    CASE WHEN event_id % 7 = 0 THEN 'removed'
        |         ELSE 'changed' END AS change_type,
        |    value AS value_before,
        |    CASE WHEN event_id % 7 = 0 THEN NULL
        |         ELSE value + 1000.0 END AS value_after
        |  FROM base WHERE event_id % 7 = 0 OR event_id % 5 = 0),
        |d12 AS (
        |  SELECT CAST(1 AS BIGINT) AS from_epoch, event_id,
        |    CASE WHEN event_id % 21 = 0 THEN 'added'
        |         ELSE 'changed' END AS change_type,
        |    CASE WHEN event_id % 21 = 0 THEN NULL
        |         WHEN event_id % 5 = 0 THEN value + 1000.0
        |         ELSE value END AS value_before,
        |    value + 2000.0 AS value_after
        |  FROM base WHERE event_id % 3 = 0)
        |SELECT * FROM d01 UNION ALL SELECT * FROM d12
        |ORDER BY from_epoch, event_id""".stripMargin,
    // as-of epoch 1 == batches 0 and 1 (event_id % 3 ∈ {0, 1}), read
    // through the folded generation
    "pipe_time_travel" ->
      """SELECT event_id, event_type, value,
        |  't' || CAST(user_id % 3 AS VARCHAR) AS tenant,
        |  strftime(ts, '%Y') AS year, strftime(ts, '%m') AS month,
        |  strftime(ts, '%d') AS day, strftime(ts, '%H') AS hour
        |FROM events WHERE event_id <= 2000 AND event_id % 3 <> 2
        |ORDER BY event_id""".stripMargin,
    // post-purge lake ≡ a lake that never had tenant t2; every event row
    // appears twice (plain lake + transactional epochs read)
    "pipe_tenant_purge" ->
      """WITH base AS (
        |  SELECT event_id, event_type, value,
        |    't' || CAST(user_id % 3 AS VARCHAR) AS tenant,
        |    strftime(ts, '%Y') AS year, strftime(ts, '%m') AS month,
        |    strftime(ts, '%d') AS day, strftime(ts, '%H') AS hour
        |  FROM events WHERE event_id <= 2000)
        |SELECT * FROM (SELECT * FROM base UNION ALL SELECT * FROM base)
        |WHERE tenant <> 't2'
        |ORDER BY event_id, tenant""".stripMargin,
    // merge-on-read final state ≡ the row-store state after the same
    // MERGE statements: epoch 2 (+2000, id%3=0) overrides epoch 1
    // (+1000 upserts / %7 tombstones) overrides the base load
    "pipe_merge_upsert" ->
      """SELECT event_id, event_type,
        |  CASE WHEN event_id % 3 = 0 THEN value + 2000.0
        |       WHEN event_id % 5 = 0 THEN value + 1000.0
        |       ELSE value END AS value
        |FROM events
        |WHERE event_id <= 3000
        |  AND NOT (event_id % 7 = 0 AND event_id % 3 <> 0)
        |ORDER BY event_id""".stripMargin,
    "pipe_epoch_changes" ->
      """WITH b AS (
        |  SELECT event_id, event_type, value FROM events
        |  WHERE event_id <= 3000)
        |SELECT event_id, event_type, value + 1000.0 AS value,
        |  'u' AS op, CAST(1 AS BIGINT) AS epoch_id
        |FROM b WHERE event_id % 5 = 0 AND event_id % 7 <> 0
        |UNION ALL
        |SELECT event_id, CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
        |  'd', CAST(1 AS BIGINT)
        |FROM b WHERE event_id % 7 = 0
        |UNION ALL
        |SELECT event_id, event_type, value + 2000.0,
        |  'u', CAST(2 AS BIGINT)
        |FROM b WHERE event_id % 3 = 0
        |ORDER BY epoch_id, event_id""".stripMargin,
    // RLS + masking: pseudonymized id, redacted email, tenant-only rows
    "pipe_masked_view" ->
      """SELECT event_id, 't' || CAST(user_id % 3 AS VARCHAR) AS tenant,
        |  sha256(CAST(user_id AS VARCHAR) || ':pepper') AS user_pseudo,
        |  regexp_replace(
        |    props || CASE WHEN event_id % 3 = 0
        |      THEN ' contact user' || CAST(event_id AS VARCHAR) || '@example.com'
        |      ELSE '' END,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g') AS props
        |FROM events
        |WHERE user_id % 3 = 1 AND event_id <= 2000
        |ORDER BY event_id""".stripMargin,
    // batch-by-batch maintained view under a crash replay ≡ recompute
    // (timestamp is the constant replay ingest epoch, so total_value is
    // cnt × 1704067200.00 — summed as decimals exactly like the view)
    "pipe_streaming_view" ->
      """SELECT 't' || CAST(user_id % 3 AS VARCHAR) AS tenant,
        |  event_type AS event,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(1704067200 AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE event_id <= 5000 AND event_type <> 'error'
        |GROUP BY 1, 2
        |ORDER BY tenant, event""".stripMargin,
    // incrementally maintained view ≡ full recompute over the same rows
    "pipe_incremental_view" ->
      """SELECT 't' || CAST(user_id % 3 AS VARCHAR) AS tenant, event_type,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events WHERE event_id <= 2000
        |GROUP BY 1, 2
        |ORDER BY tenant, event_type""".stripMargin,
    // keyed view final state ≡ aggregate of the resolved merge state:
    // epoch 2 moves id%3=0 keys to group 'promo' (value+2000, re-inserting
    // deleted keys), epoch 1 upserts value+1000 (id%5=0, id%7<>0) and
    // tombstones id%7=0
    "pipe_keyed_view" ->
      """WITH final AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 3 = 0 THEN 'promo' ELSE event_type END AS g,
        |    CASE WHEN event_id % 3 = 0 THEN value + 2000.0
        |         WHEN event_id % 5 = 0 AND event_id % 7 <> 0 THEN value + 1000.0
        |         ELSE value END AS value
        |  FROM events
        |  WHERE event_id <= 3000
        |    AND NOT (event_id % 7 = 0 AND event_id % 3 <> 0))
        |SELECT g AS event_type, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM final GROUP BY 1
        |ORDER BY event_type""".stripMargin,
    // buffered incremental extrema vs a full min/max recompute of the
    // resolved final state (epoch-1 exhaustion predicates mirrored)
    "pipe_extrema_view" ->
      """WITH final AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 3 = 0 THEN 'promo' ELSE event_type END AS g,
        |    CASE WHEN event_id % 3 = 0 THEN value + 2000.0
        |         WHEN event_id % 5 = 0 AND event_id % 7 <> 0
        |              AND NOT (event_type = 'click' AND value < 30.0)
        |              AND event_type <> 'view' THEN value + 1000.0
        |         ELSE value END AS value
        |  FROM events
        |  WHERE event_id <= 3000
        |    AND NOT ((event_id % 7 = 0
        |              OR (event_type = 'click' AND value < 30.0)
        |              OR (event_type = 'view' AND value > 100.0))
        |             AND event_id % 3 <> 0))
        |SELECT g AS event_type, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  min(value) AS min_v, max(value) AS max_v
        |FROM final GROUP BY 1
        |ORDER BY event_type""".stripMargin,
    // one keyed-view refresh over the identical fixture's folded history
    // — same resolved-state ground truth as the per-epoch refreshes
    "pipe_merged_view" ->
      """WITH final AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 3 = 0 THEN 'promo' ELSE event_type END AS g,
        |    CASE WHEN event_id % 3 = 0 THEN value + 2000.0
        |         WHEN event_id % 5 = 0 AND event_id % 7 <> 0 THEN value + 1000.0
        |         ELSE value END AS value
        |  FROM events
        |  WHERE event_id <= 3000
        |    AND NOT (event_id % 7 = 0 AND event_id % 3 <> 0))
        |SELECT g AS event_type, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM final GROUP BY 1
        |ORDER BY event_type""".stripMargin))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Entries.toMapUnique("PipelineQueries.queries", Seq(
    "pipe_enrich" -> (enrichQuery _),
    "pipe_partition_derive" -> (partitionDeriveQuery _),
    "pipe_validate" -> (validateQuery _),
    "pipe_error_route" -> (errorRouteQuery _),
    "pipe_tenant_filter" -> (tenantFilterQuery _),
    "pipe_lake_roundtrip" -> (lakeRoundtrip _),
    "pipe_streaming_roundtrip" -> (streamingRoundtrip _),
    "pipe_streaming_exactly_once" -> (streamingExactlyOnce _),
    "pipe_streaming_transactional" -> (streamingTransactional _),
    "pipe_streaming_window" -> (streamingWindowAgg _),
    "pipe_streaming_dedup" -> (streamingDedup _),
    "pipe_streaming_static_enrich" -> (streamingStaticEnrich _),
    "pipe_streaming_join" -> (streamingJoin _),
    "pipe_streaming_outer_join" -> (streamingOuterJoin _),
    "pipe_streaming_sessions" -> (streamingSessions _),
    "pipe_compact_roundtrip" -> (compactRoundtrip _),
    "pipe_tenant_purge" -> (tenantPurge _),
    "pipe_time_travel" -> (timeTravel _),
    "pipe_merge_upsert" -> (mergeUpsert _),
    "pipe_snapshot_diff" -> (snapshotDiff _),
    "pipe_dq_epochs" -> (dqEpochs _),
    "pipe_vacuum" -> (vacuumGate _),
    "pipe_zonemap_incremental" -> (zoneMapIncremental _),
    "pipe_bloom_incremental" -> (bloomIncremental _),
    "pipe_bloom_refold" -> (bloomRefold _),
    "pipe_zonemap_refold" -> (zoneMapRefold _),
    "pipe_schema_evolution" -> (schemaEvolution _),
    "pipe_error_replay" -> (errorReplay _),
    "pipe_epoch_changes" -> (epochChanges _),
    "pipe_incremental_view" -> (incrementalView _),
    "pipe_keyed_view" -> (keyedView _),
    "pipe_extrema_view" -> (extremaView _),
    "pipe_merged_view" -> (mergedView _),
    "pipe_streaming_view" -> (streamingView _),
    "pipe_masked_view" -> (maskedView _),
    "pipe_tenant_usage" -> (tenantUsage _),
    "pipe_streaming_epoch_compact" -> (epochFoldRoundtrip _),
    "pipe_http_ingest" -> (httpIngestRoundtrip _),
    "pipe_wire_roundtrip" -> (wireRoundtrip _)))
}
