package graft

import graft.operators.TenantContext
import org.apache.spark.sql.functions._

/** The facade end-to-end: the README's "switch from the reference" path. */
class EngineSpec extends SparkSpec {
  import spark.implicits._

  test("engine lifecycle: ingest -> catalog -> tenant query") {
    val engine = Engine(spark, tmpDir("engine"), "engine_events")
    spark.sql("DROP TABLE IF EXISTS engine_events_errors")
    // a lake with no dead letters reads as ZERO, not a missing-table crash
    assert(engine.errors.count() == 0)
    val raw = Seq(
      ("""{"Data":{"event":"click","region":"US","device":"TV"}}""", "acme"),
      ("""{"Data":{"event":"view","region":"EU","device":"web"}}""", "globex"),
      ("""garbage""", "acme"))
      .toDF("raw", "tenant_key")
    val (nValid, nErr) = engine.ingestBatch(raw, "raw", col("tenant_key"), lit(1704067199L))
    assert(nValid == 2 && nErr == 1)
    implicit val ctx: TenantContext = TenantContext("acme")
    assert(engine.query.count() == 1)
    val out = engine.sql("SELECT event, region FROM tenant_events")
      .as[(String, String)].collect()
    assert(out.toSeq == Seq(("click", "US")))
    // compaction through the facade: content unchanged, tenant-scoped
    engine.compact("tenant = 'acme'")
    assert(engine.query.count() == 1)
    assert(engine.query(TenantContext("globex")).count() == 1)
    // dead-letter records are SQL-queryable (crawler-indexes-errors parity)
    assert(engine.errors.count() == 1)
    assert(engine.errors.select("error_type").as[String].head() == "parse-error")
  }

  test("ingestBatch runs the stream's sink budget: 3 jobs with dead letters, 2 without") {
    def run(tag: String, rows: Seq[(String, String)]): Int = {
      val engine = Engine(spark, tmpDir(s"engine_budget_$tag"), s"engine_budget_$tag")
      Seq("", "_errors").foreach(t => spark.sql(s"DROP TABLE IF EXISTS engine_budget_$tag$t"))
      val raw = rows.toDF("raw", "tenant_key")
      var counts = (0L, 0L)
      val jobs = jobsIn { counts = engine.ingestBatch(raw, "raw", col("tenant_key")) }
      val nValid = rows.count(_._1.startsWith("{")).toLong
      assert(counts == (nValid, rows.size - nValid))
      assert(spark.table(s"engine_budget_$tag").count() == nValid)
      jobs
    }
    val mixed = run("mixed", Seq(
      ("""{"Data":{"event":"e1","region":"US","device":"TV"}}""", "acme"),
      ("""{"Data":{"event":"e2","region":"EU","device":"web"}}""", "globex"),
      ("broken", "acme")))
    assert(mixed >= 1 && mixed <= 3, s"a batch with dead letters ran $mixed jobs") // parent: 10
    val clean = run("clean", Seq(
      ("""{"Data":{"event":"e1","region":"US","device":"TV"}}""", "acme"),
      ("""{"Data":{"event":"e2","region":"EU","device":"web"}}""", "globex")))
    assert(clean >= 1 && clean <= 2, s"an error-free batch ran $clean jobs") // parent: 8
    info(s"ingestBatch jobs: $mixed with dead letters, $clean without")
  }

  test("ingestBatch dead-letters a null tenant key; it never becomes a partition") {
    val root = tmpDir("engine_null")
    val engine = Engine(spark, root, "engine_null_events")
    Seq("", "_errors").foreach(t => spark.sql(s"DROP TABLE IF EXISTS engine_null_events$t"))
    val raw = Seq(
      ("""{"Data":{"event":"e1","region":"US","device":"TV"}}""", "acme"),
      ("""{"Data":{"event":"e2","region":"EU","device":"web"}}""", null))
      .toDF("raw", "tenant_key")
    assert(engine.ingestBatch(raw, "raw", col("tenant_key")) == ((1L, 1L)))
    val data = java.nio.file.Paths.get(root, "data")
    assert(!java.nio.file.Files.exists(data.resolve("tenant=__HIVE_DEFAULT_PARTITION__")))
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(root, "error", "error_type=missing-tenant-key")))
    assert(engine.errors.select("error_type").as[String].collect().toSeq ==
      Seq(graft.ingest.Ingest.MissingTenantKey))
    assert(engine.query(TenantContext("acme")).count() == 1)
  }

  test("engine streaming: streamed rows queryable through the facade immediately") {
    val engine = Engine(spark, tmpDir("engine_s"), "engine_stream_events")
    spark.sql("DROP TABLE IF EXISTS engine_stream_events")
    val listener = graft.streaming.Monitoring.attach(spark)
    val in = tmpDir("engine_s_in")
    Seq(("""{"Data":{"event":"click","region":"US","device":"TV"}}""", "acme"))
      .toDF("value", "tenant_key").write.mode("append").json(in)
    val raw = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("tenant_key",
          org.apache.spark.sql.types.StringType))))
      .json(in)
    val q = engine.startStream(raw, "value", "tenant_key", tmpDir("engine_s_ckpt"),
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    assert(q.awaitTermination(120000), "stream must finish within the timeout")
    implicit val ctx: TenantContext = TenantContext("acme")
    assert(engine.query.count() == 1) // no refreshCatalog() call needed
    // the monitoring listener saw the batch (task-metrics parity); the
    // listener bus is async, so poll briefly
    val deadline = System.currentTimeMillis() + 20000
    while (listener.snapshot.isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    val m = listener.snapshot
    assert(m.nonEmpty && m.map(_.inputRows).sum >= 1,
      s"listener must capture batch metrics, got $m")
    assert(graft.streaming.Monitoring.metricsTable(spark, listener)
      .columns.contains("inputRowsPerSec"))
    spark.streams.removeListener(listener)
  }
}
