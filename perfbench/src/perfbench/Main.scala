package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.nio.file.{Files, Paths}

/** One run of one workload: set-up (see [[Setup]]), the timed phase,
  * correctness checks, and with `--trace 1` a traced phase giving the
  * per-layer metrics. Prints every metric as `name value unit`,
  * then the JSON result as the last line; writes the full artifact (spans
  * included) under `--out`. Exits 1 when a check failed. */
object Main {
  val SetupReps = 3

  /** Per-layer metrics every traced run reports (0 where a workload does
    * not call the layer), in the order of perfbench/design.json. */
  val LayerUnits: Seq[(String, String)] = {
    val own = Seq(
      "ingest.validate_s" -> "s", "ingest.validate_cpu_s" -> "s", "ingest.enrich_s" -> "s",
      "ingest.valid_records" -> "count/batch", "ingest.error_records" -> "count/batch", "ingest.valid_share" -> "ratio",
      "sources.write_s" -> "s", "sources.write_cpu_s" -> "s", "sources.write_shuffle_bytes" -> "bytes",
      "sources.files_written" -> "count/batch", "sources.bytes_written" -> "bytes/batch",
      "sources.files_per_partition" -> "ratio", "sources.error_write_s" -> "s", "sources.register_s" -> "s",
      "sources.partitions_registered" -> "count/batch", "sources.register_external_s" -> "s",
      "streaming.trigger_s" -> "s", "streaming.add_batch_s" -> "s", "streaming.latest_offset_s" -> "s",
      "streaming.get_batch_s" -> "s", "streaming.planning_s" -> "s", "streaming.wal_commit_s" -> "s",
      "streaming.pickup_wait_s" -> "s", "streaming.http_accepted" -> "count/batch",
      "streaming.http_rejected" -> "count/batch", "streaming.auth_cache_hit_ratio" -> "ratio",
      "streaming.spool_files" -> "count/batch",
      "functions.jwt_verify_s" -> "s", "functions.jwt_verifications" -> "count/batch",
      "operators.tenant_guard_s" -> "s", "operators.query_exec_s" -> "s", "operators.scan_files" -> "count",
      "operators.scan_bytes" -> "bytes", "operators.partitions_read_ratio" -> "ratio",
      "operators.rows_scanned_per_row_returned" -> "ratio",
      "plans.analysis_s" -> "s", "plans.optimization_s" -> "s", "plans.planning_s" -> "s",
      "operators.canonicalize_s" -> "s", "operators.canonicalize_cpu_s" -> "s",
      "operators.canonicalize_shuffle_bytes" -> "bytes", "operators.near_dup_pairs" -> "count",
      "operators.decontaminate_s" -> "s", "operators.quality_s" -> "s", "operators.pack_s" -> "s",
      "operators.sim_index_s" -> "s", "operators.sim_search_s" -> "s", "operators.sim_rerank_s" -> "s",
      "operators.sim_candidates_per_probe" -> "count",
      "trace.overhead_ms" -> "ms")
    // the JWT check and the guard call run no Spark job: no job or task counts for them
    val noJobs = Set("functions.jwt_verify", "operators.tenant_guard")
    own ++ Layers.Spans.flatMap(n => (s"$n.driver_s" -> "s") +:
      (if (noJobs(n)) Nil else Seq(s"$n.jobs" -> "count", s"$n.tasks" -> "count")))
  }

  val E2E: Seq[String] = Seq("setup_s", "latency_p50_ms", "throughput_per_s", "live_heap_mb")

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val code = try run(o) catch {
      case e: Throwable =>
        System.err.println(s"perfbench: ${o.workload} failed")
        e.printStackTrace()
        2
    }
    System.exit(code)
  }

  private def run(o: Opts): Int = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Session.start(o)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val out = new Outcome
    try {
      o.workload match {
        case "ingest" => new IngestWorkload(spark, o, out, http = false).run(SetupReps)
        case "http_ingest" => new IngestWorkload(spark, o, out, http = true).run(SetupReps)
        case "tenant_query" => new QueryWorkload(spark, o, out).run(QueryWorkload.LakeBuilds)
        case "corpus_prep" => new CorpusWorkload(spark, o, out).run(SetupReps)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      out.e2e("live_heap_mb") = Metric(Util.liveHeapMb, "MB")
    } finally spark.stop()

    // set-up also counts JVM and session start
    out.info("session_start_s") = sessionS
    out.e2e("setup_s") = Metric(sessionS + out.e2e("setup_s").value, "s")
    compareFingerprints(o, out)
    out.named("failed_ratio") = Metric(out.failed.toDouble / math.max(1L, out.attempted), "ratio")

    val metrics =
      if (o.trace) LayerUnits.map { case (n, u) => n -> out.layer.getOrElse(n, Metric(0.0, u)) }
      else E2E.map(n => n -> out.e2e(n))
    val shown = if (o.trace) out.e2e.toSeq ++ out.named.toSeq ++ metrics else out.e2e.toSeq ++ out.named.toSeq
    shown.foreach { case (n, m) => println(f"$n%-48s ${m.value}%.6g ${m.unit}") }
    out.problems.foreach(p => System.err.println(s"perfbench: check failed: $p"))

    val correct = out.problems.isEmpty
    Files.writeString(Paths.get(o.out, s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}.json"),
      json.writerWithDefaultPrettyPrinter().writeValueAsString(Map(
        "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
        "correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failed,
        "end_to_end" -> out.e2e.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) },
        "workload_metrics" -> out.named.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) },
        "per_layer" -> out.layer.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) },
        "problems" -> out.problems, "fingerprints" -> out.fingerprints, "info" -> out.info)))
    println(json.writeValueAsString(Map(
      "correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (n, m) =>
        n -> Map("value" -> m.value, "unit" -> m.unit) }: _*))))
    if (correct) 0 else 1
  }

  /** Result fingerprints must repeat exactly across runs of one seed: each
    * run compares its fingerprints with those an earlier run of the same
    * workload and seed left in `--out`, then adds its own. */
  private def compareFingerprints(o: Opts, out: Outcome): Unit = {
    val dir = Paths.get(o.out, "fingerprints")
    Files.createDirectories(dir)
    val file = dir.resolve(s"${o.workload}-seed${o.seed}.json")
    val before: Map[String, String] =
      if (Files.exists(file)) json.readValue(file.toFile, classOf[Map[String, String]]) else Map.empty
    out.fingerprints.foreach { case (k, v) =>
      before.get(k).foreach(b => out.check(b == v, s"${o.workload}: fingerprint $k is $v, an earlier run of seed ${o.seed} had $b"))
    }
    Files.writeString(file, json.writeValueAsString(before ++ out.fingerprints))
  }
}
