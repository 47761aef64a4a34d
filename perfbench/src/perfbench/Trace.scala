package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spans recorded around the benchmark's calls into graft's layers.
  *
  * A span has a name (`<layer>.<call>`), start and end, its parent (the span
  * open on the same thread when it began) and the run id. While a span is
  * open, every Spark job its thread starts carries the span's job-group tag,
  * and [[JobStats]] attributes jobs, tasks, executor CPU, shuffle, spill and
  * output bytes to it. Spans stay in memory; the run writes them out at the
  * end. */
final class Tracer(spark: SparkSession, val runId: String) {
  import Tracer._

  private val ids = new AtomicLong()
  private val current = new ThreadLocal[Span]()
  private val done = mutable.ArrayBuffer[Span]()
  private val jobs = new JobStats
  spark.sparkContext.addSparkListener(jobs)

  /** The span a request's work on other threads (a stream's sink) hangs
    * under when that thread has no open span of its own. */
  @volatile private var root: Span = null

  /** A span that also parents spans opened on other threads while it runs. */
  def rootSpan[A](name: String)(f: => A): A = span(name) {
    root = current.get()
    try f finally root = null
  }

  def span[A](name: String)(f: => A): A = {
    val sc = spark.sparkContext
    val parent = Option(current.get()).getOrElse(root)
    val s = new Span(ids.incrementAndGet(), name, Option(parent).map(_.id).getOrElse(0L),
      System.currentTimeMillis(), System.nanoTime())
    val prevGroup = sc.getLocalProperty(GroupKey)
    sc.setLocalProperty(GroupKey, s"$TagPrefix${s.id}")
    current.set(s)
    try f
    finally {
      s.endNs = System.nanoTime()
      current.set(parent)
      sc.setLocalProperty(GroupKey, prevGroup)
      synchronized { done += s }
    }
  }

  /** Finished spans with their job statistics; waits for the listener bus
    * to deliver every event first. */
  def finished(): Seq[SpanResult] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val all = synchronized(done.toList)
    val children = all.groupBy(_.parent)
    val childWall = children.map { case (p, cs) => p -> cs.map(_.wallS).sum }
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    all.sortBy(_.id).map { s =>
      val st = jobs.of(s"$TagPrefix${s.id}")
      // wall time not covered by any Spark job this span or its children started
      val covered = jobs.coveredMs(subtree(s).map(c => s"$TagPrefix${c.id}"),
        s.startMs, s.startMs + s.wallS * 1000) / 1000
      SpanResult(s.id, s.name, s.parent, runId, s.startMs, s.wallS,
        selfS = s.wallS - childWall.getOrElse(s.id, 0.0),
        driverS = math.max(0.0, s.wallS - covered),
        jobs = st.map(_.jobs).getOrElse(0), tasks = st.map(_.tasks).getOrElse(0),
        cpuS = st.map(_.cpuNs / 1e9).getOrElse(0.0),
        shuffleBytes = st.map(_.shuffleWriteBytes).getOrElse(0L),
        spillBytes = st.map(_.spillBytes).getOrElse(0L),
        outputBytes = st.map(_.outputBytes).getOrElse(0L))
    }
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(jobs)
}

object Tracer {
  val GroupKey = "spark.jobGroup.id"
  val TagPrefix = "perfbench-span-"

  final class Span(val id: Long, val name: String, val parent: Long, val startMs: Long,
                   val startNs: Long) {
    @volatile var endNs: Long = startNs
    def wallS: Double = (endNs - startNs) / 1e9
  }

  /** Runs `f` inside a span when tracing, plainly otherwise. */
  def maybe[A](t: Option[Tracer], name: String)(f: => A): A =
    t.fold(f)(_.span(name)(f))
}

final case class SpanResult(id: Long, name: String, parent: Long, runId: String,
                            startMs: Long, wallS: Double, selfS: Double, driverS: Double,
                            jobs: Int, tasks: Int, cpuS: Double, shuffleBytes: Long,
                            spillBytes: Long, outputBytes: Long) {
  def toMap: Map[String, Any] = Map("id" -> id, "name" -> name, "parent" -> parent,
    "run_id" -> runId, "start_ms" -> startMs, "end_ms" -> (startMs + wallS * 1000),
    "wall_s" -> wallS, "self_s" -> selfS, "driver_s" -> driverS, "jobs" -> jobs,
    "tasks" -> tasks, "executor_cpu_s" -> cpuS, "shuffle_write_bytes" -> shuffleBytes,
    "spill_bytes" -> spillBytes, "output_bytes" -> outputBytes)
}

/** The query executions one session ran while registered, in the order
  * Spark reports their end: the action's name and its `QueryExecution`
  * (executed plan with its SQL metrics, planning tracker). Spark delivers
  * these through the listener bus, so `all()` drains it first. */
final class Executions(session: SparkSession) extends QueryExecutionListener {
  private val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
  session.listenerManager.register(this)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    seen.add(funcName -> qe)
    ()
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def all(): Seq[(String, QueryExecution)] = {
    org.apache.spark.PerfbenchBus.drain(session.sparkContext)
    seen.asScala.toSeq
  }

  def close(): Unit = session.listenerManager.unregister(this)
}

object Executions {
  /** Seconds per planning phase (analysis, optimization, planning) of one
    * execution's tracker. */
  def phases(qe: QueryExecution): Map[String, Double] =
    qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1000.0 }

  /** File scans of an executed plan, through adaptive, stage and command
    * wrappers. */
  def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case f: FileSourceScanExec => Seq(f)
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case other =>
      (other.children ++ other.innerChildren.collect { case c: SparkPlan => c }).flatMap(fileScans) ++
        other.subqueries.flatMap(fileScans)
  }

  /** SQL metrics of the file scans of an executed plan: files and bytes
    * read, partitions read, rows scanned. */
  def scan(p: SparkPlan): Map[String, Double] = {
    val found = fileScans(p)
    def m(k: String) = found.map(_.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)).sum
    Map("files" -> m("numFiles"), "bytes" -> m("filesSize"), "partitions" -> m("numPartitions"),
      "scanned" -> m("numOutputRows"))
  }
}

/** SparkListener keyed by the job-group tag a span sets. */
final class JobStats extends SparkListener {
  final class Group {
    @volatile var jobs = 0
    @volatile var tasks = 0
    @volatile var cpuNs = 0L
    @volatile var shuffleWriteBytes = 0L
    @volatile var spillBytes = 0L
    @volatile var outputBytes = 0L
    val intervals = mutable.ArrayBuffer[(Long, Long)]()
  }

  /** Milliseconds of [lo, hi] covered by the union of the job intervals of
    * the given groups. */
  def coveredMs(tags: Seq[String], lo: Double, hi: Double): Double = {
    val clipped = tags.flatMap(of).flatMap(g => g.synchronized(g.intervals.toList))
      .map { case (a, b) => (math.max(a.toDouble, lo), math.min(b.toDouble, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var end = Double.MinValue
    clipped.foreach { case (a, b) =>
      if (a > end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  private val groups = new ConcurrentHashMap[String, Group]()
  private val jobGroup = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  def of(tag: String): Option[Group] = Option(groups.get(tag))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.GroupKey)))
      .filter(_.startsWith(Tracer.TagPrefix)).foreach { tag =>
        val g = groups.computeIfAbsent(tag, _ => new Group)
        g.synchronized(g.jobs += 1)
        jobGroup.put(e.jobId, tag -> e.time)
        e.stageIds.foreach(stageGroup.put(_, tag))
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).foreach { case (tag, start) =>
      val g = groups.get(tag)
      g.synchronized(g.intervals += (start -> e.time))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { tag =>
      val g = groups.get(tag)
      val m = e.taskMetrics
      g.synchronized {
        g.tasks += 1
        if (m != null) {
          g.cpuNs += m.executorCpuTime
          g.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          g.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          g.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
}

/** Per-layer metrics from finished spans: per-call medians of wall, self
  * time outside Spark jobs (`.driver_s`), jobs and tasks, plus executor CPU
  * and shuffle bytes where asked. A layer the workload never calls reads 0. */
object Layers {
  val Spans: Seq[String] = Seq(
    "ingest.validate", "ingest.enrich",
    "sources.write", "sources.error_write", "sources.register", "sources.register_external",
    "functions.jwt_verify",
    "operators.tenant_guard", "operators.query_exec",
    "operators.canonicalize", "operators.decontaminate", "operators.quality", "operators.pack",
    "operators.sim_index", "operators.sim_search", "operators.sim_rerank")

  def fill(o: Outcome, spans: Seq[SpanResult]): Unit = {
    val byName = spans.groupBy(_.name)
    def med(name: String)(f: SpanResult => Double): Double =
      byName.get(name).filter(_.nonEmpty).map(ss => Stats.median(ss.map(f))).getOrElse(0.0)
    Spans.foreach { n =>
      o.layer(s"${n}_s") = Metric(med(n)(_.wallS), "s")
      o.layer(s"$n.driver_s") = Metric(med(n)(_.driverS), "s")
      o.layer(s"$n.jobs") = Metric(med(n)(_.jobs.toDouble), "count")
      o.layer(s"$n.tasks") = Metric(med(n)(_.tasks.toDouble), "count")
    }
    Seq("ingest.validate", "sources.write", "operators.canonicalize").foreach { n =>
      o.layer(s"${n}_cpu_s") = Metric(med(n)(_.cpuS), "s")
    }
    o.layer("sources.write_shuffle_bytes") = Metric(med("sources.write")(_.shuffleBytes.toDouble), "bytes")
    o.layer("operators.canonicalize_shuffle_bytes") =
      Metric(med("operators.canonicalize")(_.shuffleBytes.toDouble), "bytes")
  }
}
