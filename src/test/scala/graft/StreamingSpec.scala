package graft

import graft.streaming.StreamingIngest
import org.apache.spark.sql.streaming.Trigger
import scala.jdk.CollectionConverters._

/** An ingest-time stamp that moves one hour forward per call. */
object HourTicker {
  private val stamp = new java.util.concurrent.atomic.AtomicLong(1704067200L)
  def next(): Long = stamp.getAndAdd(3600L)
}

/** Streaming parity (SURVEY §2.1 S2-S6): file-source micro-batch ingest
  * through the SAME stage functions as batch, with checkpointing, dynamic
  * partition writes, and error routing. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming ingest writes partitioned lake + error route, resumes from checkpoint") {
    val in = tmpDir("stream_in")
    val lake = tmpDir("stream_lake")
    val ckpt = tmpDir("stream_ckpt")

    val batch1 = Seq(
      ("""{"Data":{"event":"e1","region":"US","device":"TV"}}""", "acme"),
      ("""{"Data":{"event":"e2","region":"EU","device":"web"}}""", "globex"),
      ("""broken""", "acme"))
    batch1.toDF("value", "tenant_key").write.mode("append").json(in)

    spark.sql("DROP TABLE IF EXISTS stream_reg_tbl")
    val q = StreamingIngest.fromJsonDir(spark, in, "tenant_key", lake, ckpt,
      Trigger.AvailableNow(), table = Some("stream_reg_tbl"))
    assert(q.awaitTermination(120000), "stream must finish within the timeout")

    // queryable THROUGH THE TABLE immediately — the sink registered the
    // batch's partitions itself (zero crawler lag)
    val lakeDf = spark.table("stream_reg_tbl")
    assert(lakeDf.count() == 2)
    assert(lakeDf.select("tenant").distinct().as[String].collect().toSet ==
      Set("acme", "globex"))
    val errDf = spark.read.parquet(s"$lake/error")
    assert(errDf.count() == 1)
    assert(errDf.select("error_type").as[String].head() == "parse-error")

    // second micro-batch: checkpoint resume must not re-ingest batch 1,
    // and the appended data must be table-visible with no manual refresh
    // (same partition → exercises the file-listing invalidation path)
    Seq(("""{"Data":{"event":"e3","region":"US","device":"TV"}}""", "acme"))
      .toDF("value", "tenant_key").write.mode("append").json(in)
    val q2 = StreamingIngest.fromJsonDir(spark, in, "tenant_key", lake, ckpt,
      Trigger.AvailableNow(), table = Some("stream_reg_tbl"))
    assert(q2.awaitTermination(120000), "stream must finish within the timeout")
    assert(spark.table("stream_reg_tbl").count() == 3)

    // tenant-scoped query over the streamed table partition-prunes
    import graft.operators.{TenantContext, TenantQueries}
    implicit val ctx: TenantContext = TenantContext("acme")
    val scoped = TenantQueries.queryByTenant(spark, "stream_reg_tbl")
    assert(TenantQueries.prunesOnTenant(scoped), "streamed table must prune on tenant")
    assert(scoped.count() == 2)
  }

  test("null transport tenant key routes to the error prefix, not a default partition") {
    val in = tmpDir("nulltenant_in")
    val lake = tmpDir("nulltenant_lake")
    val ckpt = tmpDir("nulltenant_ckpt")
    Seq(
      ("""{"Data":{"event":"e1","region":"US","device":"TV"}}""", "acme"),
      ("""{"Data":{"event":"e2","region":"EU","device":"web"}}""", null))
      .toDF("value", "tenant_key").write.mode("append").json(in)
    spark.sql("DROP TABLE IF EXISTS nulltenant_tbl")
    val q = StreamingIngest.fromJsonDir(spark, in, "tenant_key", lake, ckpt,
      Trigger.AvailableNow(), table = Some("nulltenant_tbl"))
    assert(q.awaitTermination(120000), "stream must finish within the timeout")
    assert(spark.table("nulltenant_tbl").count() == 1)
    val errs = spark.read.parquet(s"$lake/error")
    assert(errs.filter($"error_type" === "missing-tenant-key").count() == 1)
  }

  test("all-errors first micro-batch does not crash table registration") {
    val in = tmpDir("allerr_in")
    val lake = tmpDir("allerr_lake")
    val ckpt = tmpDir("allerr_ckpt")
    Seq(("not json {", "acme"), ("also broken", "acme"))
      .toDF("value", "tenant_key").write.mode("append").json(in)
    spark.sql("DROP TABLE IF EXISTS allerr_tbl")
    val q = StreamingIngest.fromJsonDir(spark, in, "tenant_key", lake, ckpt,
      Trigger.AvailableNow(), table = Some("allerr_tbl"))
    assert(q.awaitTermination(120000)) // must not crash-loop on empty-path inference
    assert(!spark.catalog.tableExists("allerr_tbl"), "no data → no table yet")
    assert(spark.read.parquet(s"$lake/error").count() == 2)
    // a later batch WITH data creates the table normally
    Seq(("""{"Data":{"event":"e1","region":"US","device":"TV"}}""", "acme"))
      .toDF("value", "tenant_key").write.mode("append").json(in)
    val q2 = StreamingIngest.fromJsonDir(spark, in, "tenant_key", lake, ckpt,
      Trigger.AvailableNow(), table = Some("allerr_tbl"))
    assert(q2.awaitTermination(120000), "stream must finish within the timeout")
    assert(spark.table("allerr_tbl").count() == 1)
  }

  test("errored batches register dead-letter partitions incrementally, never dropping mid-stream") {
    val in = tmpDir("increrr_in")
    val lake = tmpDir("increrr_lake")
    val ckpt = tmpDir("increrr_ckpt")
    spark.sql("DROP TABLE IF EXISTS increrr_tbl")
    spark.sql("DROP TABLE IF EXISTS increrr_tbl_errors")
    // batch 1: data + a parse error
    Seq(("""{"Data":{"event":"e1","region":"US","device":"TV"}}""", "acme"),
      ("broken", "acme")).toDF("value", "tenant_key").write.mode("append").json(in)
    val q = StreamingIngest.fromJsonDir(spark, in, "tenant_key", lake, ckpt,
      Trigger.AvailableNow(), table = Some("increrr_tbl"))
    assert(q.awaitTermination(120000), "stream must finish within the timeout")
    // dead letters queryable THROUGH THE TABLE immediately after the batch
    assert(spark.table("increrr_tbl_errors").count() == 1)
    def createTime = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("increrr_tbl_errors")).createTime
    val created1 = createTime
    // batch 2: the SAME error type again (append into a registered
    // partition) plus a NEW type (missing tenant key → new partition)
    Seq(("also broken", "acme"),
      ("""{"Data":{"event":"e2","region":"EU","device":"web"}}""", null))
      .toDF("value", "tenant_key").write.mode("append").json(in)
    val q2 = StreamingIngest.fromJsonDir(spark, in, "tenant_key", lake, ckpt,
      Trigger.AvailableNow(), table = Some("increrr_tbl"))
    assert(q2.awaitTermination(120000), "stream must finish within the timeout")
    val errs = spark.table("increrr_tbl_errors")
    assert(errs.count() == 3)
    assert(errs.select("error_type").distinct().as[String].collect().toSet ==
      Set("parse-error", "missing-tenant-key"))
    // a DROP+CREATE re-crawl would reset the catalog entry — createTime
    // stability proves the second errored batch registered incrementally
    // with no missing-table window
    assert(createTime == created1,
      "errors table must never be DROP+CREATEd mid-stream")
  }

  test("tenant ids with quotes and backslashes register and read back in full") {
    val in = tmpDir("esc_in")
    val lake = tmpDir("esc_lake")
    val ckpt = tmpDir("esc_ckpt")
    val tenants = Seq("o'brien", "back\\slash", "trail\\")
    tenants.map(t => ("""{"Data":{"event":"e1","region":"US","device":"TV"}}""", t))
      .toDF("value", "tenant_key").write.mode("append").json(in)
    spark.sql("DROP TABLE IF EXISTS esc_tbl")
    val q = StreamingIngest.fromJsonDir(spark, in, "tenant_key", lake, ckpt,
      Trigger.AvailableNow(), table = Some("esc_tbl"))
    assert(q.awaitTermination(120000), "stream must finish within the timeout")
    assert(spark.sql("SHOW PARTITIONS esc_tbl").count() == 3)
    tenants.foreach { t =>
      assert(spark.table("esc_tbl").where($"tenant" === t).count() == 1,
        s"tenant $t must read its row through the table")
    }
    assert(spark.table("esc_tbl").count() == 3)
  }

  test("registered partitions equal written partitions when ingest time advances per record") {
    import org.apache.spark.sql.functions.udf
    val in = tmpDir("hourtick_in")
    val lake = tmpDir("hourtick_lake")
    val ckpt = tmpDir("hourtick_ckpt")
    Seq(
      ("""{"Data":{"event":"e1","region":"US","device":"TV"}}""", "acme"),
      ("""{"Data":{"event":"e2","region":"EU","device":"web"}}""", "acme"),
      ("""{"Data":{"event":"e3","region":"US","device":"app"}}""", "globex"),
      ("""{"Data":{"event":"e4","region":"EU","device":"TV"}}""", "globex"),
      ("broken", "acme"))
      .toDF("value", "tenant_key").repartition(1).write.mode("append").json(in)
    // every call is one hour later than the last, so any second
    // evaluation of the enriched rows sees hours the write never saw
    val tick = udf(() => HourTicker.next()).asNondeterministic()
    spark.sql("DROP TABLE IF EXISTS hourtick_tbl")
    val raw = spark.readStream.schema("value STRING, tenant_key STRING").json(in)
    val q = StreamingIngest.start(spark, raw, "value", "tenant_key", lake, ckpt,
      Trigger.AvailableNow(), ingestTs = tick(), table = Some("hourtick_tbl"))
    assert(q.awaitTermination(120000), "stream must finish within the timeout")
    val root = java.nio.file.Paths.get(s"$lake/data")
    val onDisk = {
      val walk = java.nio.file.Files.walk(root, 5)
      try walk.iterator().asScala
        .filter(p => root.relativize(p).getNameCount == 5 &&
          p.getFileName.toString.startsWith("hour="))
        .map(p => root.relativize(p).toString).toSet
      finally walk.close()
    }
    val registered = spark.sql("SHOW PARTITIONS hourtick_tbl").as[String].collect().toSet
    assert(onDisk.size >= 2, s"the ticking stamp must spread rows over hours: $onDisk")
    assert(registered == onDisk)
    val written = spark.read.parquet(s"$lake/data").count()
    assert(written == 4)
    assert(spark.table("hourtick_tbl").count() == written)
  }

  test("sink job budget: 3 jobs with dead letters, 2 without; a failed write surfaces") {
    {
      def run(tag: String, rows: Seq[(String, String)]): Int = {
        val in = tmpDir(s"budget_${tag}_in")
        rows.toDF("value", "tenant_key").repartition(1).write.mode("append").json(in)
        spark.sql(s"DROP TABLE IF EXISTS budget_$tag")
        val q = StreamingIngest.fromJsonDir(spark, in, "tenant_key",
          tmpDir(s"budget_${tag}_lake"), tmpDir(s"budget_${tag}_ckpt"),
          Trigger.AvailableNow(), table = Some(s"budget_$tag"))
        assert(q.awaitTermination(120000), "stream must finish within the timeout")
        assert(spark.table(s"budget_$tag").count() == rows.count(_._1.startsWith("{")))
        val batches = q.recentProgress.map(_.batchId).distinct
        assert(batches.length == 1, s"one micro-batch expected: ${batches.mkString(",")}")
        // the stream's execution thread runs every job in its runId group
        JobsByGroup.of(q.runId.toString)
      }
      val mixed = run("mixed", Seq(
        ("""{"Data":{"event":"e1","region":"US","device":"TV"}}""", "acme"),
        ("""{"Data":{"event":"e2","region":"EU","device":"web"}}""", "globex"),
        ("broken", "acme")))
      assert(mixed >= 1 && mixed <= 3, s"a batch with dead letters ran $mixed jobs")
      val clean = run("clean", Seq(
        ("""{"Data":{"event":"e1","region":"US","device":"TV"}}""", "acme"),
        ("""{"Data":{"event":"e2","region":"EU","device":"web"}}""", "globex")))
      assert(clean >= 1 && clean <= 2, s"an error-free batch ran $clean jobs")
      info(s"jobs per micro-batch: $mixed with dead letters, $clean without")
    }

    // a write that fails must fail the query, not wait for an
    // observation that its job never delivered
    import org.apache.spark.sql.functions.udf
    val in = tmpDir("budget_fail_in")
    Seq(("""{"Data":{"event":"e1","region":"US","device":"TV"}}""", "acme"))
      .toDF("value", "tenant_key").write.mode("append").json(in)
    val boom = udf[Long](() => throw new IllegalStateException("planted write failure"))
      .asNondeterministic()
    val raw = spark.readStream.schema("value STRING, tenant_key STRING").json(in)
    val q = StreamingIngest.start(spark, raw, "value", "tenant_key",
      tmpDir("budget_fail_lake"), tmpDir("budget_fail_ckpt"), Trigger.AvailableNow(),
      ingestTs = boom())
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(120000)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage).exists(_.contains("planted write failure"))), e)
  }

  test("scheduled refresh picks up externally-written partitions (crawler cadence)") {
    import org.apache.spark.sql.functions.lit
    val root = tmpDir("crawl")
    def rows(tenant: String) = spark.range(5).toDF("event_id")
      .withColumn("tenant", lit(tenant)).withColumn("year", lit("2024"))
      .withColumn("month", lit("02")).withColumn("day", lit("01"))
      .withColumn("hour", lit("00"))
    graft.sources.Lake.writeValid(rows("t0"), root)
    spark.sql("DROP TABLE IF EXISTS crawl_tbl")
    val h = graft.sources.Maintenance.scheduleRefresh(spark, "crawl_tbl",
      s"$root/data", intervalSeconds = 1L)
    try {
      // first tick registers the table
      eventually(20000)(spark.catalog.tableExists("crawl_tbl") &&
        spark.table("crawl_tbl").count() == 5)
      // an EXTERNAL writer lands a new partition; no explicit refresh —
      // only the cadence can surface it
      graft.sources.Lake.writeValid(rows("t1"), root)
      eventually(20000)(spark.table("crawl_tbl").count() == 10)
      assert(h.lastFailure.isEmpty, s"refresh tick failed: ${h.lastFailure}")
      assert(h.tickCount >= 1)
    } finally h.close()
  }

  private def eventually(timeoutMs: Long)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      if (System.currentTimeMillis() > deadline)
        fail(s"condition not met within ${timeoutMs}ms")
      Thread.sleep(250)
    }
  }
}
