package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

/** Bench main: one JSON line, sec per query over SPARK_GRAFT_SF_DIR, each
  * entry timed until its whole result is produced. Also derives ingest
  * throughput (records/s) from the streaming round-trip per BASELINE.md's
  * records/s target, and the record-to-query freshness. */
object Bench {

  /** One entry's measurement: its timed reps (sorted) and the fingerprint
    * of its result. */
  final case class Timed(reps: Seq[Double], fingerprint: String) {
    def median: Double = reps(reps.size / 2)
  }

  /** Measurement isolation barrier, run before every timed window: one
    * query's leftover machinery must not bleed into the next one's window.
    * The stateful-streaming fixtures otherwise leave state-store providers
    * plus an async maintenance thread whose snapshot/cleanup work lands on
    * whichever query runs next (measured up to +5 s on the follower vs an
    * isolated run). */
  def quiesce(spark: SparkSession): Unit = {
    def loud(what: String)(body: => Unit): Unit =
      try body catch {
        case NonFatal(e) => System.err.println(s"[bench] quiesce: $what failed: ${describe(e)}")
      }
    val hadStreams = spark.streams.active.nonEmpty
    spark.streams.active.foreach(q => loud(s"stop of stream ${q.id}")(q.stop()))
    // unload state-store providers and stop the maintenance thread (it
    // restarts lazily on the next stateful query)
    loud("StateStore.stop")(org.apache.spark.sql.execution.streaming.state.StateStore.stop())
    spark.catalog.clearCache()
    // free blocks that clearCache misses: eager localCheckpoint(true)
    // RDDs left behind by the iterative dedup/similarity operators
    // (connected-components rounds, incremental-index folds). Without
    // this the block manager accumulates over the suite and the
    // pressure lands on whichever query runs last (measured 6x on the
    // alphabetically-final flagship entry).
    val hadPersistent = spark.sparkContext.getPersistentRDDs.nonEmpty
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    // reclaim prior entries' RELIABLE-checkpoint files (Blocks.copyOut
    // artifacts): their consumers died with the previous entry, and
    // with the checkpoint dir colocated on the tmpfs local dir they
    // accumulate IN RAM over the suite — memory the later streaming
    // entries would otherwise have as page cache for their lake I/O
    var hadCkptFiles = false
    spark.sparkContext.getCheckpointDir.foreach { d =>
      loud(s"checkpoint-dir delete under $d") {
        val p = new org.apache.hadoop.fs.Path(d)
        val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (f.exists(p)) f.listStatus(p).foreach { s =>
          hadCkptFiles = true; f.delete(s.getPath, true)
        }
      }
    }
    // absorb accumulated garbage OUTSIDE the next timing window; the GC
    // also fires the ContextCleaner's weak references so shuffle files
    // from the previous entry are reclaimed before the next window opens
    System.gc()
    // bounded wait for the async cleaner to drain — block-manager blocks
    // left behind were measured landing +6 s on a follower query
    var waited = 0
    while (spark.sparkContext.getPersistentRDDs.nonEmpty && waited < 20) {
      Thread.sleep(50); waited += 1
    }
    // the GC also enqueues shuffle/broadcast cleanup on the ASYNC
    // ContextCleaner thread; give it a settle window so that IO lands
    // here instead of inside the next timing window (repeat runs of the
    // shuffle-heavy iterative canonicalize entry measured ~2x without
    // it). ADAPTIVE: the 2x was measured on the iterative
    // checkpoint-leaving class — when this quiesce found block-manager
    // residents, checkpoint artifacts, or live streams to tear down, keep
    // the full settle; when it found NOTHING (the plain-SQL majority of
    // the suite), the only async work is the previous rep's shuffle-file
    // cleanup on tmpfs and a short settle suffices.
    Thread.sleep(if (hadPersistent || hadCkptFiles || hadStreams) 250 else 100)
  }

  /** Wall seconds from building `df` until every row and column of it is
    * produced. The noop sink runs the full plan; a `.count()` would let
    * Catalyst prune every column the count does not need. */
  def timeToResult(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Order-free result fingerprint: row count plus the exact decimal sum
    * of `xxhash64` over all columns of every row. Columns are renamed by
    * position first, so duplicate names cannot be ambiguous; a column type
    * `xxhash64` rejects (MapType) fails the analysis, never a skip. */
  def fingerprint(df: DataFrame): String = {
    val byPos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val r = byPos.agg(count(lit(1)),
      sum(xxhash64(byPos.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0")}"
  }

  /** Time one entry: an untimed warm-up when its first run takes ≥ 1 s
    * (it absorbs first-touch costs — Janino compilation, fixture-dir
    * setup, page-cache population, listing caches), then 3 timed reps; a
    * sub-second entry keeps its first run as timed rep 1. One untimed
    * pass then fingerprints the result. A throw anywhere is the entry's
    * error: it is recorded under "errors" and EXCLUDED from the total, so
    * a crashing query never makes the suite look faster. */
  def measure(spark: SparkSession, entry: () => DataFrame): Either[String, Timed] =
    try {
      def once(): Double = { quiesce(spark); timeToResult(entry()) }
      val probe = once()
      val reps = if (probe < 1.0) probe +: Seq.fill(2)(once()) else Seq.fill(3)(once())
      quiesce(spark)
      Right(Timed(reps.sorted, fingerprint(entry())))
    } catch { case e: Throwable => Left(describe(e)) }

  private def describe(e: Throwable): String =
    e.getClass.getSimpleName + ": " +
      Option(e.getMessage).getOrElse("").replaceAll("\\s+", " ").take(200)

  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Sum of the medians of the entries that did not throw. */
  def total(results: Seq[(String, Either[String, Timed])]): Double =
    results.collect { case (_, Right(t)) => t.median }.sum

  /** The full bench record: per-entry medians, [min, median, max] spreads,
    * fingerprints and errors, plus the pipeline figures. */
  def record(results: Seq[(String, Either[String, Timed])], ingestRate: Double,
             freshness: Double, sfDir: String): String = {
    def obj(f: PartialFunction[(String, Either[String, Timed]), String]): String =
      results.collect { case r @ (k, _) if f.isDefinedAt(r) => jsonStr(k) + ":" + f(r) }
        .mkString("{", ",", "}")
    val qs = obj { case (_, Right(t)) => t.median.toString }
    val spreads = obj { case (_, Right(t)) => s"[${t.reps.head},${t.median},${t.reps.last}]" }
    val fps = obj { case (_, Right(t)) => jsonStr(t.fingerprint) }
    val errs = obj { case (_, Left(msg)) => jsonStr(msg) }
    s"""{"metric":"total","value":${total(results)},"unit":"sec","timed_to":"noop","queries":$qs,"spread":$spreads,"fingerprints":$fps,"errors":$errs,"ingest_records_per_s":$ingestRate,"freshness_sec":$freshness,"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt)
    // warm the codegen/scan machinery once so per-query numbers measure
    // the queries, not first-touch JVM initialization
    spark.range(100000).selectExpr("sum(id)").collect()
    // touch every input table once: file listing + footer reads are
    // first-query costs that would otherwise land on whichever query is
    // alphabetically first, not on the table's actual users
    Tables.all.foreach(t => Tables.load(spark, sfDir, t).limit(1).collect())
    // SPARK_GRAFT_ONLY=a,b,c — time just those queries and skip the
    // artifact phase (isolated-number debugging)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // DEFINED (sorted) run order, so each entry follows the same one
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) => name -> measure(spark, () => fn(spark, sfDir)) }
    results.collect { case (k, Left(msg)) => System.err.println(s"BENCH ERROR $k: $msg") }
    val medians = results.collect { case (k, Right(t)) => k -> t.median }.toMap
    val tot = total(results)
    val ingestRate = medians.get("pipe_streaming_roundtrip")
      .filter(_ > 0)
      .map(sec => Tables.load(spark, sfDir, "events").count() / sec)
      .getOrElse(0.0)
    // Freshness: record lands in the stream source → row visible through
    // a catalog-table SQL query (the reference's end-to-end envelope is
    // 60 s Firehose buffer + ≤5 min Glue crawl; here the sink registers
    // partitions per micro-batch, so the only lag is the trigger+write).
    val freshness = try {
      import org.apache.spark.sql.functions.concat
      val base = GraftSession.freshDir(spark, "bench_fresh", sfDir)
      spark.sql("DROP TABLE IF EXISTS bench_fresh_tbl")
      spark.range(1000).select(
        concat(lit("{\"Data\":{\"event\":\"e"), col("id").cast("string"),
          lit("\",\"region\":\"US\",\"device\":\"d\"}}")).as("value"),
        concat(lit("t"), (col("id") % 3).cast("string")).as("tenant_key"))
        .write.mode("overwrite").json(s"$base/in")
      val t0 = System.nanoTime()
      val q = graft.streaming.StreamingIngest.fromJsonDir(spark, s"$base/in",
        "tenant_key", s"$base/lake", s"$base/ckpt",
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        table = Some("bench_fresh_tbl"))
      q.awaitTermination()
      val n = spark.sql("SELECT count(*) FROM bench_fresh_tbl").head().getLong(0)
      require(n == 1000L, s"freshness probe saw $n of 1000 rows")
      (System.nanoTime() - t0) / 1e9
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[bench] freshness probe FAILED: ${describe(e)}")
        -1.0
    }
    val json = record(results, ingestRate, freshness, sfDir)
    // STDOUT gets a COMPACT headline line: the driver keeps only the last
    // ~2000 chars of output, and the full per-query line (~6 KB) does not
    // fit. Headline queries + counts fit the window; the full
    // per-query/spread detail is in the timestamped artifact and
    // bench_last.json.
    val headline = Seq(
      "train_corpus_prep", "train_corpus_prep_v2", "train_corpus_prep_v3",
      "train_corpus_prep_v4",
      "dedup_exact", "dedup_minhash", "dedup_canonical",
      "dedup_streaming_index", "text_dedup_spans", "dedup_semantic",
      "text_dedup_substrings", "text_quality_probe",
      "sim_topk_exact", "sim_topk_ivf", "sim_topk_pq", "sim_topk_ivfpq",
      "sim_topk_pq_rerank", "sim_streaming_index",
      "q1_pricing_summary", "q9_product_profit", "q18_large_orders",
      "q_bucketed_join", "q_zorder_key", "text_quality_filter",
      "sample_mixture", "pipe_http_ingest", "pipe_streaming_roundtrip")
    val headQs = headline.flatMap(k => medians.get(k).map(v =>
      jsonStr(k) + ":" + f"$v%.3f")).mkString("{", ",", "}")
    val headErrs = results.collect { case (k, Left(msg)) =>
      jsonStr(k) + ":" + jsonStr(msg.take(60))
    }.take(3).mkString("{", ",", "}")
    // Every run gets its own timestamped artifact so isolated
    // SPARK_GRAFT_ONLY debugging runs can't clobber a full-suite record;
    // bench_last.json is only written by full runs. `full` names the
    // record THIS run writes.
    val stamped = s"bench_${System.currentTimeMillis()}.json"
    val full = if (only.isEmpty) "bench_last.json" else stamped
    val compact = s"""{"metric":"total","value":${f"$tot%.3f"},"unit":"sec","timed_to":"noop","queries":$headQs,"n_queries":${medians.size},"errors":$headErrs,"n_errors":${results.count(_._2.isLeft)},"ingest_records_per_s":${f"$ingestRate%.0f"},"freshness_sec":${f"$freshness%.3f"},"sf":"$sfDir","full":"target/$full"}"""
    println(compact)
    // belt-and-braces for log-prefix-mangled stdout: the same line on disk.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${GraftSession.scratchRoot}/$stamped"), json + "\n")
    if (only.isEmpty) {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"${GraftSession.scratchRoot}/bench_last.json"), json + "\n")
      // Per-round scale evidence: regenerate the scaling-exponent and ANN
      // recall/cost artifacts in the SAME run as the bench, AFTER every
      // timing window and AFTER the bench record is emitted, so a kill
      // inside this phase cannot erase the suite measurement. Prints to
      // stderr only and never fails the bench — a broken instrument is
      // reported, not fatal. The expected "RDD ... was locally
      // checkpointed" WARNs from the quiesce unpersists are silenced here:
      // thousands of them would scroll the compact line out of a tail
      // window, which is also why that line is printed again at the end.
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
      def artifact(name: String, path: String)(mk: => String): Unit =
        try {
          quiesce(spark)
          val t0 = System.nanoTime()
          val out = mk
          java.nio.file.Files.writeString(java.nio.file.Paths.get(path), out + "\n")
          System.err.println(f"[bench] $name artifact written to $path " +
            f"in ${(System.nanoTime() - t0) / 1e9}%.1f s")
        } catch {
          case NonFatal(e) =>
            System.err.println(s"[bench] $name artifact FAILED: ${describe(e)}")
        }
      // the sweep's sf0.1 leg reuses THIS run's medians (same session, same
      // timer) instead of re-timing every subset entry; only valid when
      // the bench ran at the sweep's big scale factor
      val knownBig =
        if (sfDir == "/root/testdata/sf0.1") medians else Map.empty[String, Double]
      artifact("scaling", s"${GraftSession.scratchRoot}/scaling.json")(
        Scaling.run(spark, knownBig = knownBig))
      artifact("ann_recall", s"${GraftSession.scratchRoot}/ann_recall.json")(
        AnnRecall.run(spark, "/root/testdata/sf0.01", nProbesProbe = 50,
          k = 10, includeSynth = true))
      // FINAL stdout statement: the identical compact line again, so a
      // tail window of the output always holds a complete copy
      println(compact)
    }
    spark.stop()
  }
}
