package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform
import scala.collection.mutable

/** Command line: `--workload w --seed n --seconds s --trace 0|1 --root dir --out dir`.
  * `root` is the run's scratch root — the only place the run writes data. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      root: String, out: String) {
  def dir(name: String): String = s"$root/$name"
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("root"), need("out"))
  }
}

object Session {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** The one session config every workload runs under (recorded in
    * perfbench/design.json): local[cores], one shuffle partition per core,
    * AQE on, string partition columns, UTC, the local raw filesystem (no
    * checksum side files), and all Spark scratch inside the run root. */
  def start(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
      .config("spark.local.dir", o.dir("spark-local"))
      .config("spark.sql.warehouse.dir", o.dir("warehouse"))
      .config("spark.checkpoint.dir", o.dir("checkpoints"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.setCheckpointDir(o.dir("checkpoints"))
    s
  }
}

final case class Metric(value: Double, unit: String)

/** Everything one run produces. `e2e` are the end-to-end metrics of every
  * workload, `named` the workload's own metrics, `layer` the per-layer
  * metrics of a traced run; `problems` lists failed correctness checks. */
final class Outcome {
  val e2e = mutable.LinkedHashMap[String, Metric]()
  val named = mutable.LinkedHashMap[String, Metric]()
  val layer = mutable.LinkedHashMap[String, Metric]()
  val info = mutable.LinkedHashMap[String, Any]()
  val problems = mutable.ArrayBuffer[String]()
  val fingerprints = mutable.LinkedHashMap[String, String]()
  var attempted = 0L
  var failed = 0L

  /** One checked operation: counts as attempted, and as failed when `ok`
    * is false (the message is kept for the artifact). */
  def check(ok: Boolean, what: => String): Boolean = synchronized {
    attempted += 1
    if (!ok) { failed += 1; if (problems.size < 50) problems += what }
    ok
  }
}

object Stats {
  /** The middle value, or the mean of the two middle values: with the few
    * passes a run holds, the nearest-rank median of two would be the faster
    * one. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.min(s.size - 1, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }

  /** The highest of a few standard percentiles that still has at least ten
    * samples beyond it: (percentile, value), or None with fewer than 20. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => xs.size * (1 - p / 100.0) >= 10.0)
      .map(p => p -> percentile(xs, p))

  /** Median, tail and sample count of a latency series into `o.named`. */
  def latency(o: Outcome, name: String, unit: String, xs: Seq[Double]): Unit = {
    o.named(s"${name}_p50_$unit") = Metric(median(xs), unit)
    tail(xs).foreach { case (p, v) =>
      o.named(s"${name}_tail_$unit") = Metric(v, unit)
      o.info(s"${name}_tail_percentile") = p
    }
    o.info(s"${name}_samples") = xs.size
  }
}

/** Order-free result fingerprint: row count plus the sum (as an exact
  * decimal) of Spark's `xxhash64` over all columns of every row. `expected`
  * computes the same value from plain Scala rows, with no Spark plan. */
object Fingerprint {
  def of(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0")}"
  }

  /** xxhash64 of one row with Spark's seed chaining (seed 42, nulls skip). */
  def rowHash(vals: Seq[Any]): Long = vals.foldLeft(42L) { (seed, v) =>
    v match {
      case null => seed
      case s: String =>
        val b = s.getBytes(UTF_8)
        XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET.toLong, b.length, seed)
      case l: Long => XXH64.hashLong(l, seed)
      case i: Int => XXH64.hashInt(i, seed)
      case other => throw new IllegalArgumentException(s"no fingerprint for ${other.getClass}")
    }
  }

  def expected(rows: Iterable[Seq[Any]]): String = {
    var n = 0L
    var sum = BigInt(0)
    rows.foreach { r => n += 1; sum += rowHash(r) }
    s"$n:$sum"
  }
}

object Setup {
  /** Set-up of one run: `reps` builds of the workload's inputs and state
    * (all but the last discarded), then one warm-up on the last — the cold
    * first batch, pass or query of each template. `setup_s` is the median
    * build plus the warm-up (Main adds JVM and session start). */
  def apply[S](out: Outcome, reps: Int)(build: Int => S)(discard: S => Unit)(warm: S => Unit): S = {
    var last: Option[S] = None
    val builds = (0 until reps).map { rep =>
      last.foreach(discard)
      val (s, t) = Util.timed(build(rep))
      last = Some(s)
      t
    }
    val state = last.get
    val (_, warmS) = Util.timed(warm(state))
    out.info("setup_builds_s") = builds
    out.info("setup_warmup_s") = warmS
    out.e2e("setup_s") = Metric(Stats.median(builds) + warmS, "s")
    state
  }
}

object Util {
  /** Run a frame to its full result with no output: every row and column is
    * produced (Spark's `noop` sink), unlike `.count()`, which lets the
    * optimizer drop columns. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def nowS: Double = System.nanoTime() / 1e9

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }

  def dirBytes(path: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      var files = 0L
      var bytes = 0L
      java.nio.file.Files.walk(p).filter(f => java.nio.file.Files.isRegularFile(f))
        .forEach { f =>
          val n = f.getFileName.toString
          if (!n.startsWith(".") && !n.startsWith("_")) {
            files += 1; bytes += java.nio.file.Files.size(f)
          }
        }
      (files, bytes)
    }
  }

  /** Heap in use after a full collection: the live set the run retains.
    * Spark's context cleaner releases cached blocks and broadcasts only
    * after a collection has cleared their references, so the lowest of
    * three collections, 300 ms apart, is taken. */
  def liveHeapMb: Double = {
    import scala.jdk.CollectionConverters._
    (0 until 3).map { i =>
      if (i > 0) Thread.sleep(300)
      System.gc()
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getUsage.getUsed).sum / 1048576.0
    }.min
  }

  /** Hive partition values of an epoch-seconds arrival time (UTC). */
  def partsOf(tenant: String, epochS: Long): Map[String, String] = {
    val t = java.time.LocalDateTime.ofEpochSecond(epochS, 0, java.time.ZoneOffset.UTC)
    Map("tenant" -> tenant, "year" -> f"${t.getYear}%04d", "month" -> f"${t.getMonthValue}%02d",
      "day" -> f"${t.getDayOfMonth}%02d", "hour" -> f"${t.getHour}%02d")
  }

  /** SQL predicate selecting the given (year, month, day, hour) partitions. */
  def hourPredicate(parts: Iterable[Map[String, String]]): String =
    parts.map(p => s"(year='${p("year")}' AND month='${p("month")}' AND day='${p("day")}' " +
      s"AND hour='${p("hour")}')").toSeq.distinct.sorted.mkString("(", " OR ", ")")
}
