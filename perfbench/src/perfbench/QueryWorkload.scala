package perfbench

import graft.ingest.Ingest
import graft.operators.{TenantContext, TenantQueries}
import graft.sources.Lake
import java.util.concurrent.{Callable, Executors}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable

/** `tenant_query`: a closed loop of `Clients` clients, each with its own
  * session (temp views are per session, so tenant views cannot cross),
  * sending tenant-scoped SQL through `TenantQueries.sqlInTenantScope` and
  * running each result to the noop sink. The lake is built in set-up by
  * repeated sink-style appends (`Lake.writeValid` + `Lake.registerPartitions`),
  * so each tenant-hour partition holds several small files. */
final class QueryWorkload(spark: SparkSession, o: Opts, out: Outcome) {
  import QueryWorkload._

  private val rows = Gen.lakeRows(o.seed)
  private val base = Gen.baseEpoch(o.seed)

  private def hourParts(h: Int): Map[String, String] = Util.partsOf("", base + h * 3600L)

  def sqlOf(template: String, hour: Int): String = template match {
    case "hour_scan" =>
      s"SELECT * FROM tenant_events WHERE ${Util.hourPredicate(Seq(hourParts(hour)))}"
    case "group_agg" =>
      "SELECT event, region, count(*) AS n, sum(timestamp % 3600) AS s, max(timestamp) AS last_ts " +
        "FROM tenant_events GROUP BY event, region"
    case "full_scan" => "SELECT * FROM tenant_events"
    case "top_k" =>
      "SELECT device, count(*) AS n FROM tenant_events GROUP BY device ORDER BY n DESC, device LIMIT 10"
  }

  /** The same result computed in plain Scala from the generated rows — no
    * lake, catalog, tenant guard or Spark plan — as a fingerprint. */
  def expected(template: String, tenant: String, hour: Int): String = {
    val mine = rows.filter(_.tenant == tenant)
    def full(r: Gen.LakeRow): Seq[Any] = {
      val p = Util.partsOf(r.tenant, r.ts)
      Seq(r.device, r.event, r.region, r.tenant, r.ts, p("tenant"), p("year"), p("month"), p("day"), p("hour"))
    }
    template match {
      case "hour_scan" =>
        val hp = hourParts(hour)
        Fingerprint.expected(mine.filter { r =>
          val p = Util.partsOf(r.tenant, r.ts)
          Seq("year", "month", "day", "hour").forall(k => p(k) == hp(k))
        }.map(full))
      case "group_agg" =>
        Fingerprint.expected(mine.groupBy(r => (r.event, r.region)).map { case ((e, g), rs) =>
          Seq(e, g, rs.size.toLong, rs.map(_.ts % 3600).sum, rs.map(_.ts).max)
        })
      case "full_scan" => Fingerprint.expected(mine.map(full))
      case "top_k" =>
        Fingerprint.expected(mine.groupBy(_.device).map { case (d, rs) => (d, rs.size.toLong) }.toSeq
          .sortBy { case (d, n) => (-n, d) }.take(10).map { case (d, n) => Seq(d, n) })
    }
  }

  private val lakeRoot = o.dir("lake")
  private val appendPartitions = mutable.ArrayBuffer[Int]()

  /** Builds the lake under `root` by `LakeAppends` sink-style appends, in
    * arrival order (append k holds the k-th time window of the rows, as a
    * stream's sink commits them), and registers each append's partitions in
    * `table`; with a tracer, each write and registration is a span. */
  private def buildLake(root: String, table: String, t: Option[Tracer]): Unit = {
    val schema = StructType(Seq(StructField("device", StringType), StructField("event", StringType),
      StructField("region", StringType), StructField("TenantId", StringType),
      StructField("timestamp", LongType)))
    val windowS = Gen.LakeHours * 3600L / Gen.LakeAppends
    rows.groupBy(r => (r.ts - base) / windowS).toSeq.sortBy(_._1).map(_._2).foreach { chunk =>
      val df = Ingest.derivePartitions(spark.createDataFrame(
        spark.sparkContext.parallelize(chunk.map(r => Row(r.device, r.event, r.region, r.tenant, r.ts)),
          Session.cores), schema))
      val path = Tracer.maybe(t, "sources.write")(Lake.writeValid(df, root))
      Tracer.maybe(t, "sources.register") {
        val parts = chunk.map(r => Util.partsOf(r.tenant, r.ts)).distinct
        appendPartitions += parts.size
        Lake.registerPartitions(spark, table, path, parts, schema = Some(df.schema))
      }
    }
  }

  private def warm(session: SparkSession, table: String): Unit =
    Gen.Templates.foreach { tpl =>
      implicit val ctx: TenantContext = TenantContext(Gen.tenantName(0))
      Util.noop(TenantQueries.sqlInTenantScope(session, table, sqlOf(tpl, 0)))
    }

  /** Partitions the lake holds (tenant-hours with at least one row). */
  private lazy val lakePartitions: Int = rows.map(r => Util.partsOf(r.tenant, r.ts)).distinct.size

  def run(setupReps: Int): Unit = {
    val sessions = (0 until Clients).map(_ => spark.newSession())
    // a traced run traces the set-up build (its write and register spans)
    val tracer = if (o.trace) Some(new Tracer(spark, s"tenant_query-${o.seed}")) else None
    val table = Setup(out, setupReps) { rep =>
      buildLake(s"$lakeRoot-r$rep", s"lake_r$rep", tracer)
      s"lake_r$rep"
    }(_ => ())(t => sessions.foreach(warm(_, t)))
    val lakeData = s"$lakeRoot-r${setupReps - 1}/data"
    val (files, bytes) = Util.dirBytes(lakeData)
    out.info("lake_files") = files
    out.info("lake_bytes") = bytes
    out.info("lake_partitions") = lakePartitions

    val measureS = if (o.trace) o.seconds / 2 else o.seconds
    val (lat, wall) = loop(sessions, measureS) { (_, s, tpl, tenant, hour) =>
      Util.noop(TenantQueries.sqlInTenantScope(s, table, sqlOf(tpl, hour))(TenantContext(tenant)))
    }
    out.e2e("latency_p50_ms") = Metric(Stats.median(lat) * 1000, "ms")
    out.e2e("throughput_per_s") = Metric(lat.size / wall, "1/s")
    out.named("queries_per_s") = Metric(lat.size / wall, "1/s")
    Stats.latency(out, "query", "s", lat)
    out.info("query_s") = lat

    verify(sessions.head, table)
    tracer.foreach { t =>
      out.layer("sources.files_written") = Metric(files.toDouble / Gen.LakeAppends, "count/batch")
      out.layer("sources.bytes_written") = Metric(bytes.toDouble / Gen.LakeAppends, "bytes/batch")
      out.layer("sources.files_per_partition") = Metric(files.toDouble / lakePartitions, "ratio")
      out.layer("sources.partitions_registered") = Metric(appendPartitions.sum.toDouble / Gen.LakeAppends, "count/batch")
      t.span("sources.register_external")(Lake.registerExternal(spark, "lake_crawl", lakeData))
      traced(t, sessions, table, measureS, Stats.median(lat))
    }
  }

  /** Every client runs its own query stream until the deadline; returns
    * all latencies (s) and the loop's wall time. */
  private def loop(sessions: Seq[SparkSession], seconds: Double)
                  (query: (Int, SparkSession, String, String, Int) => Unit): (Seq[Double], Double) = {
    val pool = Executors.newFixedThreadPool(sessions.size)
    val t0 = Util.nowS
    val deadline = t0 + seconds
    try {
      val fs = sessions.zipWithIndex.map { case (s, c) =>
        pool.submit(new Callable[Seq[Double]] {
          def call(): Seq[Double] = {
            val qs = Gen.queryStream(o.seed, c)
            val lat = mutable.ArrayBuffer[Double]()
            while (Util.nowS < deadline) {
              val (tpl, ti, h) = qs.next()
              lat += Util.timed(query(c, s, tpl, Gen.tenantName(ti), h))._2
            }
            lat.toSeq
          }
        })
      }
      val lat = fs.flatMap(_.get())
      (lat, Util.nowS - t0)
    } finally pool.shutdownNow()
  }

  /** Outside the timed window: each template's result for a spread of
    * tenants (head, middle and tail of the skew) fingerprinted through the
    * real path and compared with the plain-Scala value; no tenant sees a
    * foreign row. */
  private def verify(s: SparkSession, table: String): Unit = {
    val r = new java.util.SplittableRandom(o.seed)
    for (ti <- CheckedTenants; tpl <- Gen.Templates) {
      val tenant = Gen.tenantName(ti)
      val hour = r.nextInt(Gen.LakeHours)
      implicit val ctx: TenantContext = TenantContext(tenant)
      val got = Fingerprint.of(TenantQueries.sqlInTenantScope(s, table, sqlOf(tpl, hour)))
      val want = expected(tpl, tenant, hour)
      out.check(got == want, s"tenant_query: $tpl as $tenant (hour $hour) fingerprint $got, expected $want")
      out.fingerprints(s"$tpl/$tenant/$hour") = got
    }
    CheckedTenants.map(Gen.tenantName).foreach { t =>
      implicit val ctx: TenantContext = TenantContext(t)
      val leak = TenantQueries.sqlInTenantScope(s, table,
        s"SELECT count_if(TenantId <> '$t' OR tenant <> '$t') FROM tenant_events").head().getLong(0)
      out.check(leak == 0L, s"tenant_query: $leak foreign rows visible to $t")
    }
  }

  /** The traced half: the same clients' queries with the guard call and the
    * run to the noop sink in spans. Scan metrics and the optimization and
    * planning phases come from each noop execution, as Spark reports it;
    * analysis from the guarded frame; rows returned from the plain-Scala
    * results. */
  private def traced(t: Tracer, sessions: Seq[SparkSession], table: String, seconds: Double,
                     untracedP50S: Double): Unit = {
    val execs = sessions.map(new Executions(_))
    val asked = sessions.map(_ => mutable.ArrayBuffer[(String, String, Int, Map[String, Double])]())
    val (lat, _) = loop(sessions, seconds) { (c, s, tpl, tenant, hour) =>
      t.span("tenant_query.query") {
        val df = t.span("operators.tenant_guard")(
          TenantQueries.sqlInTenantScope(s, table, sqlOf(tpl, hour))(TenantContext(tenant)))
        t.span("operators.query_exec")(Util.noop(df))
        asked(c) += ((tpl, tenant, hour, Executions.phases(df.queryExecution)))
      }
    }
    out.layer("trace.overhead_ms") = Metric((Stats.median(lat) - untracedP50S) * 1000, "ms")
    val returnedOf = mutable.HashMap[(String, String, Int), Long]()
    val perQuery = execs.zip(asked).flatMap { case (ex, qs) =>
      val writes = ex.all().filter { case (f, _) => WriteActions(f) }.map(_._2)
      ex.close()
      out.check(writes.size == qs.size, s"tenant_query: ${qs.size} traced queries, ${writes.size} noop executions reported")
      writes.zip(qs).map { case (qe, (tpl, tenant, hour, guardPhases)) =>
        val returned = returnedOf.getOrElseUpdate((tpl, tenant, hour),
          expected(tpl, tenant, hour).takeWhile(_ != ':').toLong)
        val execPhases = Executions.phases(qe)
        Executions.scan(qe.executedPlan) ++ Map("returned" -> returned.toDouble) ++
          Seq("analysis", "optimization", "planning").map(k =>
            k -> (guardPhases.getOrElse(k, 0.0) + execPhases.getOrElse(k, 0.0)))
      }
    }
    def med(k: String) = if (perQuery.isEmpty) 0.0 else Stats.median(perQuery.map(_(k)))
    out.layer("operators.scan_files") = Metric(med("files"), "count")
    out.layer("operators.scan_bytes") = Metric(med("bytes"), "bytes")
    out.layer("operators.partitions_read_ratio") = Metric(med("partitions") / lakePartitions, "ratio")
    out.layer("operators.rows_scanned_per_row_returned") =
      Metric(perQuery.map(_("scanned")).sum / math.max(1.0, perQuery.map(_("returned")).sum), "ratio")
    Seq("analysis", "optimization", "planning").foreach(k => out.layer(s"plans.${k}_s") = Metric(med(k), "s"))
    val spans = t.finished()
    t.close()
    Layers.fill(out, spans)
    out.info("spans") = spans.map(_.toMap)
  }
}

object QueryWorkload {
  val Clients = 2
  /** Head, middle and tail of the tenant skew. */
  val CheckedTenants = Seq(0, 9, 39)
  /** One lake build per run: at 2880 partitions it is most of set-up. */
  val LakeBuilds = 1
  /** Action names Spark reports for a DataFrameWriter save. */
  val WriteActions = Set("overwrite", "save", "append")
}
