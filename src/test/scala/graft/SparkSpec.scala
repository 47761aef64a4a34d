package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run, under the timed
  * config. */
object TestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.addSparkListener(JobsByGroup)
    s
  }
}

/** Spark jobs started per job group, over the whole test run: installed
  * with the session, so no job escapes it. Listener events arrive
  * asynchronously, so [[of]] first runs a marker job in a group of its
  * own and waits until the listener has seen it: every earlier job has
  * then been delivered too. */
object JobsByGroup extends SparkListener {
  private val counts = new java.util.concurrent.ConcurrentHashMap[String, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(counts.merge(_, 1, _ + _))

  /** Jobs started so far in `group` — the caller's own group, or a
    * streaming query's `runId`, the group its execution thread runs
    * every job in. */
  def of(group: String): Int = {
    val sc = TestSession.spark.sparkContext
    val marker = s"marker-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(marker, marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (!counts.containsKey(marker)) {
      assert(System.currentTimeMillis() < deadline, "listener never saw the marker job")
      Thread.sleep(20)
    }
    counts.getOrDefault(group, 0)
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf0001 = "/root/testdata/sf0.001"
  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(GraftSession.scratchRoot)), prefix)
    d.toString
  }

  /** Run `df` to its whole result: every row and column, no collect. */
  def toResult(df: => DataFrame): Unit = { Bench.timeToResult(df); () }

  /** Spark jobs `body` starts on this thread (and threads it creates),
    * counted by job group. A streaming query's jobs run in its own group
    * (`runId`): count those with [[JobsByGroup.of]]. */
  def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"budget-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    JobsByGroup.of(group)
  }

  /** Spark jobs of one run of the query `start` makes, which must
    * process exactly one micro-batch (its `runId` group holds every job
    * it starts). A restart on an earlier run's checkpoint is retried
    * past the same-JVM lock race. */
  def jobsOfOneBatch(start: () => StreamingQuery): Int = {
    var q: StreamingQuery = null
    graft.streaming.StreamingIngest.awaitWithRestartRetry { () => q = start(); q }
    val batches = q.recentProgress.map(_.batchId).distinct
    assert(batches.length == 1, s"one micro-batch expected: ${batches.mkString(",")}")
    JobsByGroup.of(q.runId.toString)
  }

  /** Stage a crash of a stream's micro-batch `epoch` after some of its
    * lake commits: each lake in `uncommitted` loses the epoch (manifest
    * entry and data dir), and the checkpoint loses the batch's commit, so
    * a restart re-delivers the batch under the same epoch id. */
  def crashAfterCommits(ckpt: String, epoch: Long, uncommitted: Seq[String]): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    uncommitted.foreach { lake =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$lake/_manifest/$epoch"), false)
      fs.delete(new org.apache.hadoop.fs.Path(s"$lake/data/epoch=$epoch"), true)
    }
    graft.streaming.StreamingIngest.dropCommit(spark, ckpt, epoch)
  }
}
