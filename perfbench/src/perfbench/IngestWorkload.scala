package perfbench

import graft.functions.JwtVerify
import graft.ingest.Ingest
import graft.model.Schemas
import graft.operators.{TenantContext, TenantQueries}
import graft.sources.Lake
import graft.streaming.{HttpIngest, StreamingIngest}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{Callable, Executors}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `ingest` and `http_ingest`: a closed loop of one batch at a time. Each
  * step hands one generated batch to the source (a JSON-lines file, or
  * POSTs from up to `cores` producers to `HttpIngest`), waits for the
  * stream to commit it, and probes the batch's rows through
  * `TenantQueries.sqlInTenantScope`. Freshness runs from the batch's stamp
  * (file published / first POST sent) to the probe seeing its rows. */
final class IngestWorkload(spark: SparkSession, o: Opts, out: Outcome, http: Boolean) {
  import IngestWorkload._

  private val name = if (http) "http_ingest" else "ingest"
  private val batchRecords = if (http) HttpBatchRecords else FileBatchRecords
  private var nextBatch = 0
  // batches made ahead (in set-up, so their tokens are signed there) and the
  // token index of each record, per batch
  private val ahead = mutable.Queue[Gen.Batch]()
  private val tokenUse = mutable.HashMap[String, Int]()
  private val batchTokens = mutable.HashMap[Int, Vector[Int]]()
  private lazy val creds = new Credentials

  private final case class Step(freshS: Double, postS: Double, probeS: Double, triggerS: Double,
                                records: Int, posts: Seq[(Double, Int)])

  /** RS256 key pair and the producers' tokens, all signed before the batch
    * that first uses them is stamped: in set-up for the batches made ahead,
    * otherwise just before the step, outside its timed window. */
  private final class Credentials {
    private val kp = {
      val g = java.security.KeyPairGenerator.getInstance("RSA")
      g.initialize(2048)
      g.generateKeyPair()
    }
    val keys = Map("k1" -> kp.getPublic.asInstanceOf[java.security.interfaces.RSAPublicKey])
    private val exp = System.currentTimeMillis() / 1000 + 3600
    private val tokens = mutable.HashMap[(String, Int), String]()
    var signedInLoop = 0

    def token(tenant: String, k: Int): String = tokens((tenant, k))

    /** Signs the tokens batch `b` needs that do not exist yet. */
    def ensure(b: Gen.Batch, inLoop: Boolean): Unit =
      b.records.zip(batchTokens(b.index)).foreach { case (e, k) =>
        if (!tokens.contains((e.tenant, k))) {
          tokens((e.tenant, k)) = sign(
            s"""{"sub":"${Gen.tokenSubject(e.tenant, k)}","custom:tenantId":"${e.tenant}","exp":$exp}""", kp)
          if (inLoop) signedInLoop += 1
        }
      }

    def of(batches: Seq[Gen.Batch]): Seq[String] =
      batches.flatMap(b => b.records.zip(batchTokens(b.index)).map { case (e, k) => token(e.tenant, k) }).distinct
  }

  /** One stream with its directories, table and (for HTTP) endpoint. */
  private final class Rig(tag: String, tracer: Option[Tracer]) {
    val base = o.dir(s"$name-$tag")
    val in = s"$base/in"
    val lake = s"$base/lake"
    val table = s"events_${tag}"
    Files.createDirectories(Paths.get(in))
    val batches = mutable.ArrayBuffer[Gen.Batch]()
    val progress = mutable.ArrayBuffer[Map[String, Long]]()
    private var lastBatchId = -1L
    var partitionsRegistered = 0L

    val server = if (http) Some(HttpIngest.start(in, creds.keys)) else None
    private lazy val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    private lazy val producers = Executors.newFixedThreadPool(Session.cores)

    private val raw: DataFrame = spark.readStream
      .schema(StructType(Seq(StructField("value", StringType), StructField("tenant_key", StringType)) ++
        (if (http) Nil else Seq(StructField("arrival", LongType)))))
      .json(in)
    private val ingestTs: Column = if (http) unix_timestamp() else col("arrival")
    private def startQuery(trigger: Trigger): StreamingQuery = tracer match {
      case None =>
        StreamingIngest.start(spark, raw, "value", "tenant_key", lake, s"$base/checkpoint",
          trigger, ingestTs = ingestTs, table = Some(table))
      case Some(t) =>
        raw.writeStream.option("checkpointLocation", s"$base/checkpoint")
          .trigger(trigger)
          .foreachBatch((batch: DataFrame, _: Long) => tracedSink(t, batch))
          .start()
    }

    // The file source tails its directory continuously: one atomic file per
    // batch is one micro-batch. The HTTP spool gets one file per record while
    // producers POST, so a continuous trigger would split a batch at a
    // random point; there, each step delivers the spool once (AvailableNow),
    // as a buffered sink flush does.
    private val continuous: Option[StreamingQuery] =
      if (http) None else Some(startQuery(Trigger.ProcessingTime(0L)))

    /** Runs the stream until everything published so far is committed;
      * returns the progress of the query that did it. */
    private def deliver(): StreamingQuery = continuous match {
      case Some(q) => q.processAllAvailable(); q
      case None => val q = startQuery(Trigger.AvailableNow()); q.awaitTermination(); q
    }

    /** The sink of `StreamingIngest.start`, composed from the same public
      * layer calls in the same order, with a span around each; lazy results
      * are run to the noop sink inside their span. */
    private def tracedSink(t: Tracer, batch: DataFrame): Unit = {
      val cached = batch.persist()
      try {
        val (valid, errors) = t.span("ingest.validate") {
          val r = Ingest.validateAndSplit(cached, "value")
          Util.noop(r._1); Util.noop(r._2); r
        }
        val noTenant = valid.filter(col("tenant_key").isNull)
          .select(col("value").as("raw"), lit("missing-tenant-key").as(Ingest.ErrorTypeCol))
        val enriched = t.span("ingest.enrich") {
          val e = Ingest.derivePartitions(Ingest.enrich(valid.filter(col("tenant_key").isNotNull),
            col("tenant_key"), ingestTs)).drop("value")
          Util.noop(e); e
        }
        val path = t.span("sources.write")(Lake.writeValid(enriched, lake))
        t.span("sources.register") {
          val pcols = Schemas.partitionCols
          val parts = enriched.select(pcols.map(col): _*).distinct().collect()
            .map(r => pcols.zipWithIndex.map { case (c, i) => c -> r.getString(i) }.toMap).toSeq
          partitionsRegistered += parts.size
          Lake.registerPartitions(spark, table, path, parts, schema = Some(enriched.schema))
        }
        val allErrors = errors.unionByName(noTenant)
        if (!allErrors.isEmpty) t.span("sources.error_write") {
          Lake.writeErrors(allErrors, lake)
          val types = allErrors.select(Ingest.ErrorTypeCol).distinct().collect().map(_.getString(0))
          Lake.registerErrorPartitions(spark, table, lake, types.toSeq)
        }
        ()
      } finally { cached.unpersist(); () }
    }

    /** Hand one batch to the source; returns (stamp, POST results). */
    private def publish(b: Gen.Batch): (Double, Seq[(Double, Int)]) = server match {
      case None =>
        val tmp = Paths.get(in, s".tmp-${b.index}")
        Files.writeString(tmp, b.jsonLines)
        Files.move(tmp, Paths.get(in, s"batch-${b.index}.json"), StandardCopyOption.ATOMIC_MOVE)
        (Util.nowS, Nil)
      case Some(srv) =>
        creds.ensure(b, inLoop = true)
        val stamp = Util.nowS
        val url = URI.create(s"http://127.0.0.1:${srv.port}/data")
        val recs = b.records.zip(batchTokens(b.index)).zipWithIndex
        val futures = (0 until Session.cores).map { p =>
          producers.submit(new Callable[Seq[(Double, Int)]] {
            def call(): Seq[(Double, Int)] = recs.filter(_._2 % Session.cores == p).map { case ((e, k), _) =>
              val req = HttpRequest.newBuilder(url)
                .header("Authorization", s"Bearer ${creds.token(e.tenant, k)}")
                .POST(HttpRequest.BodyPublishers.ofString(e.value)).build()
              val t0 = System.nanoTime()
              val code = client.send(req, HttpResponse.BodyHandlers.discarding()).statusCode()
              ((System.nanoTime() - t0) / 1e6, code)
            }
          })
        }
        (stamp, futures.flatMap(_.get()))
    }

    def step(b: Gen.Batch, probeTracer: Option[Tracer]): Step = {
      batches += b
      val (stamp, posts) = publish(b)
      val postS = Util.nowS - stamp
      posts.foreach { case (_, code) => out.check(code == 200, s"$name: POST returned $code") }
      val query = deliver()
      val tenant = Gen.probeTenant(o.seed, b)
      val hours =
        if (http) {
          val now = System.currentTimeMillis() / 1000
          val (lo, hi) = (now - (Util.nowS - stamp).toLong - 60, now + 60)
          ((lo to hi by 1800L) :+ hi).map(s => Util.partsOf(tenant, s))
        }
        else b.valid.filter(_.tenant == tenant).map(e => Util.partsOf(tenant, e.arrival))
      val sql = s"SELECT count(*) AS n FROM tenant_events WHERE ${Util.hourPredicate(hours)} " +
        s"AND device LIKE 'b${b.index}-%'"
      val (seen, probeS) = Util.timed(probeCount(sql, tenant, probeTracer))
      val done = Util.nowS
      val want = b.validByTenant.getOrElse(tenant, 0).toLong
      out.check(seen == want, s"$name: batch ${b.index} probe as $tenant saw $seen rows, expected $want")
      out.fingerprints(s"probe-${b.index}") = s"$tenant:$seen"
      val newProgress = query.recentProgress.filter(p => p.batchId > lastBatchId && p.numInputRows > 0)
      newProgress.foreach { p =>
        progress += p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        lastBatchId = math.max(lastBatchId, p.batchId)
      }
      val triggerS = newProgress.map(_.durationMs.asScala.get("triggerExecution").map(_.longValue)
        .getOrElse(0L)).sum / 1000.0
      Step(done - stamp, postS, probeS, triggerS, b.records.size, posts)
    }

    /** Scan metrics and planning phases of each traced probe, read from the
      * plan the probe executed. */
    val probeStats = mutable.ArrayBuffer[Map[String, Double]]()

    private def probeCount(sql: String, tenant: String, t: Option[Tracer]): Long = {
      implicit val ctx: TenantContext = TenantContext(tenant)
      val df = Tracer.maybe(t, "operators.tenant_guard")(TenantQueries.sqlInTenantScope(spark, table, sql))
      val seen = Tracer.maybe(t, "operators.query_exec")(df.collect()(0).getLong(0))
      if (t.isDefined)
        probeStats += Executions.scan(df.queryExecution.executedPlan) ++
          Executions.phases(df.queryExecution) + ("returned" -> seen.toDouble)
      seen
    }

    /** Final contents against the generator: per-tenant rows under each
      * tenant's own context (with no row of another tenant visible there),
      * the table's total, and the dead-letter count of each error class. */
    def verify(): Unit = {
      val wantRows = batches.flatMap(_.valid).groupBy(_.tenant).map { case (t, v) => t -> v.size.toLong }
      (0 until Gen.Tenants).map(Gen.tenantName).foreach { t =>
        implicit val ctx: TenantContext = TenantContext(t)
        val r = TenantQueries.sqlInTenantScope(spark, table,
          s"SELECT count(*) AS n, count_if(TenantId <> '$t' OR tenant <> '$t') AS leak FROM tenant_events")
          .head()
        out.check(r.getLong(0) == wantRows.getOrElse(t, 0L),
          s"$name/$tag: tenant $t has ${r.getLong(0)} rows, expected ${wantRows.getOrElse(t, 0L)}")
        out.check(r.getLong(1) == 0L, s"$name/$tag: ${r.getLong(1)} foreign rows visible to $t")
      }
      val total = spark.table(table).agg(count(lit(1))).head().getLong(0)
      out.check(total == wantRows.values.sum, s"$name/$tag: table holds $total rows, expected ${wantRows.values.sum}")
      val wantErr = batches.flatMap(_.records).filter(_.kind != Gen.Kind.Valid).groupBy(_.kind)
        .map { case (k, v) => k -> v.size.toLong }
      val gotErr = spark.table(s"${table}_errors").groupBy("error_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      out.check(gotErr == wantErr, s"$name/$tag: error classes $gotErr, expected $wantErr")
    }

    def stop(): Unit = {
      continuous.foreach(_.stop())
      server.foreach { srv => srv.close(); producers.shutdownNow() }
    }
  }

  private def sign(payload: String, kp: java.security.KeyPair): String = {
    val enc = java.util.Base64.getUrlEncoder.withoutPadding()
    def b64(s: String) = enc.encodeToString(s.getBytes("UTF-8"))
    val body = s"${b64("""{"alg":"RS256","kid":"k1"}""")}.${b64(payload)}"
    val sig = java.security.Signature.getInstance("SHA256withRSA")
    sig.initSign(kp.getPrivate)
    sig.update(body.getBytes("UTF-8"))
    s"$body.${enc.encodeToString(sig.sign())}"
  }

  private def makeBatch(): Gen.Batch = {
    val b = Gen.batch(o.seed, nextBatch, batchRecords, missingTenant = !http)
    nextBatch += 1
    batchTokens(b.index) = Gen.tokenIndices(b, tokenUse)
    b
  }

  private def genBatch(): Gen.Batch = if (ahead.nonEmpty) ahead.dequeue() else makeBatch()

  /** Set-up of the HTTP edge: the key pair, the batches a run of this
    * length can reach (steps never take under `MinStepS`), and every token
    * they use, signed. */
  private def prepareCredentials(): Unit = {
    val n = WarmupBatches + 1 + math.ceil(o.seconds / MinStepS).toInt
    (0 until n).foreach(_ => ahead.enqueue(makeBatch()))
    ahead.foreach(creds.ensure(_, inLoop = false))
  }

  /** Steps until `seconds` have passed; returns the steps taken. */
  private def loop(rig: Rig, seconds: Double, tracer: Option[Tracer]): Seq[Step] = {
    val deadline = Util.nowS + seconds
    val steps = mutable.ArrayBuffer[Step]()
    while (Util.nowS < deadline || steps.isEmpty) {
      val b = genBatch()
      steps += tracer.fold(rig.step(b, None))(t => t.rootSpan(s"$name.batch")(rig.step(b, tracer)))
    }
    steps.toSeq
  }

  def run(setupReps: Int): Unit = {
    val (_, credS) = Util.timed(if (http) prepareCredentials())
    val rig = Setup(out, setupReps)(rep => new Rig(s"r$rep", None))(_.stop()) { r =>
      (0 until WarmupBatches).foreach(_ => r.step(genBatch(), None))
    }
    out.info("setup_credentials_s") = credS
    out.e2e("setup_s") = Metric(out.e2e("setup_s").value + credS, "s")

    val measureS = if (o.trace) o.seconds / 2 else o.seconds
    val before = rig.server.map(srv => (srv.accepted, srv.rejected, srv.authCacheHits, spoolFiles(rig.in)))
    val steps = loop(rig, measureS, None)
    val fresh = steps.map(_.freshS)
    val records = steps.map(_.records).sum
    val busyS = steps.map(_.freshS).sum
    out.e2e("latency_p50_ms") = Metric(Stats.median(fresh) * 1000, "ms")
    out.e2e("throughput_per_s") = Metric(records / busyS, "1/s")
    out.named("ingest_records_per_s") = Metric(records / busyS, "1/s")
    Stats.latency(out, "freshness", "s", fresh)
    if (http) {
      val posts = steps.flatMap(_.posts.map(_._1))
      out.named("post_p50_ms") = Metric(Stats.median(posts), "ms")
      out.named("post_p99_ms") = Metric(Stats.percentile(posts, 99), "ms")
      Stats.tail(posts).foreach { case (p, v) =>
        out.named("post_tail_ms") = Metric(v, "ms"); out.info("post_tail_percentile") = p
      }
      out.info("post_samples") = posts.size
    }
    val inputBytes = rig.batches.map(_.bytes).sum
    val (lakeFiles, lakeBytes) = Util.dirBytes(rig.lake)
    out.named("stored_bytes_per_input_byte") = Metric(lakeBytes.toDouble / inputBytes, "ratio")
    out.info("lake_files") = lakeFiles
    out.info("step_fresh_s") = fresh
    out.info("step_post_s") = steps.map(_.postS)
    out.info("step_trigger_s") = steps.map(_.triggerS)
    out.info("step_probe_s") = steps.map(_.probeS)

    // streaming phases from the public progress of the untraced stream
    def progMed(key: String): Double =
      if (rig.progress.isEmpty) 0.0 else Stats.median(rig.progress.map(_.getOrElse(key, 0L) / 1000.0).toSeq)
    val streamLayer = Seq(
      "streaming.trigger_s" -> progMed("triggerExecution"),
      "streaming.add_batch_s" -> progMed("addBatch"),
      "streaming.latest_offset_s" -> progMed("latestOffset"),
      "streaming.get_batch_s" -> progMed("getBatch"),
      "streaming.planning_s" -> progMed("queryPlanning"),
      "streaming.wal_commit_s" -> progMed("walCommit"),
      "streaming.pickup_wait_s" -> Stats.median(steps.map(s => s.freshS - s.triggerS - s.probeS)))
    // the HTTP server's counters over the timed steps, per batch
    for (srv <- rig.server; (acc0, rej0, hit0, spool0) <- before) {
      val n = steps.size.toDouble
      val (acc, rej, hits) = (srv.accepted - acc0, srv.rejected - rej0, srv.authCacheHits - hit0)
      out.layer("streaming.http_accepted") = Metric(acc / n, "count/batch")
      out.layer("streaming.http_rejected") = Metric(rej / n, "count/batch")
      out.layer("streaming.auth_cache_hit_ratio") =
        Metric(if (acc + rej == 0) 0.0 else hits.toDouble / (acc + rej), "ratio")
      out.layer("streaming.spool_files") = Metric((spoolFiles(rig.in) - spool0) / n, "count/batch")
      out.layer("functions.jwt_verifications") = Metric((acc + rej - hits) / n, "count/batch")
      out.named("auth_cache_miss_share") = Metric((acc + rej - hits).toDouble / math.max(1L, acc + rej), "ratio")
      out.info("tokens_signed_in_loop") = creds.signedInLoop
    }
    streamLayer.foreach { case (k, v) => out.layer(k) = Metric(v, "s") }
    rig.verify()
    rig.stop()

    if (o.trace) traced(measureS, Stats.median(fresh))
  }

  /** The traced half: a fresh stream whose sink records a span per layer
    * call, one untimed warm-up batch, then the same loop. */
  private def traced(seconds: Double, untracedP50S: Double): Unit = {
    val t = new Tracer(spark, s"$name-${o.seed}")
    val rig = new Rig("traced", Some(t))
    rig.step(genBatch(), None)
    val warm = rig.batches.size
    val (files0, bytes0) = Util.dirBytes(s"${rig.lake}/data")
    val registered0 = rig.partitionsRegistered
    val steps = loop(rig, seconds, Some(t))
    val timed = rig.batches.drop(warm)
    if (http) {
      // the verification each authorizer-cache miss runs: once per token the
      // traced batches used, as the server runs it once per token
      val now = System.currentTimeMillis() / 1000
      creds.of(timed.toSeq).foreach(tok =>
        t.span("functions.jwt_verify")(out.check(JwtVerify.authorize(tok, creds.keys, now),
          s"$name: a producer token failed verification")))
    }
    t.span("sources.register_external")(Lake.registerExternal(spark, s"${rig.table}_crawl", s"${rig.lake}/data"))
    // counts per traced batch, so they do not grow with the number of batches a run completes
    val n = timed.size.toDouble
    val valid = timed.map(_.valid.size).sum
    val errs = timed.map(_.records.size).sum - valid
    out.layer("ingest.valid_records") = Metric(valid / n, "count/batch")
    out.layer("ingest.error_records") = Metric(errs / n, "count/batch")
    out.layer("ingest.valid_share") = Metric(valid.toDouble / math.max(1, valid + errs), "ratio")
    val (files, bytes) = Util.dirBytes(s"${rig.lake}/data")
    val partDirs = Files.walk(Paths.get(s"${rig.lake}/data")).iterator().asScala
      .count(p => p.getFileName.toString.startsWith("hour="))
    out.layer("sources.files_written") = Metric((files - files0) / n, "count/batch")
    out.layer("sources.bytes_written") = Metric((bytes - bytes0) / n, "bytes/batch")
    out.layer("sources.files_per_partition") = Metric(files.toDouble / math.max(1, partDirs), "ratio")
    out.layer("sources.partitions_registered") = Metric((rig.partitionsRegistered - registered0) / n, "count/batch")
    // the probes: scan metrics and planning phases (rows returned = rows the probe counts)
    def med(k: String) = Stats.median(rig.probeStats.map(_.getOrElse(k, 0.0)).toSeq)
    val tablePartitions = spark.sql(s"SHOW PARTITIONS ${rig.table}").count()
    out.layer("operators.scan_files") = Metric(med("files"), "count")
    out.layer("operators.scan_bytes") = Metric(med("bytes"), "bytes")
    out.layer("operators.partitions_read_ratio") = Metric(med("partitions") / math.max(1L, tablePartitions), "ratio")
    out.layer("operators.rows_scanned_per_row_returned") = Metric(
      rig.probeStats.map(_("scanned")).sum / math.max(1.0, rig.probeStats.map(_("returned")).sum), "ratio")
    Seq("analysis", "optimization", "planning").foreach(k => out.layer(s"plans.${k}_s") = Metric(med(k), "s"))
    out.layer("trace.overhead_ms") = Metric((Stats.median(steps.map(_.freshS)) - untracedP50S) * 1000, "ms")
    rig.verify()
    rig.stop()
    val spans = t.finished()
    t.close()
    Layers.fill(out, spans)
    out.info("spans") = spans.map(_.toMap)
  }
}

object IngestWorkload {
  val FileBatchRecords = 2000
  val HttpBatchRecords = 100
  val WarmupBatches = 2
  val MinStepS = 1.0

  private def spoolFiles(dir: String): Long = {
    val s = Files.list(Paths.get(dir))
    try s.count() finally s.close()
  }
}
