package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.sources.TransactionalLake
import org.apache.spark.JobExecutionStatus
import org.apache.spark.sql.functions._

/** [[Overlap.all]]: argument order, the caller's job group on every
  * track, and a failing track that cancels its siblings' jobs, leaves no
  * thread behind and no half-committed epoch. */
class OverlapSpec extends SparkSpec {
  private def sc = spark.sparkContext

  /** The call's job tag, read on one of its tracks. */
  private def callTag(): String =
    sc.getJobTags().find(_.startsWith("graft-overlap-")).get

  /** Blocks until a job tagged `tag` is running (30 s at most). */
  private def awaitRunningJob(tag: String): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    while (!runningJobs(tag)) {
      assert(System.currentTimeMillis() < deadline, s"no job tagged $tag started")
      Thread.sleep(20)
    }
  }

  private def runningJobs(tag: String): Boolean =
    sc.statusTracker.getJobIdsForTag(tag).exists(id =>
      sc.statusTracker.getJobInfo(id).exists(_.status == JobExecutionStatus.RUNNING))

  test("results come back in argument order when tracks finish in reverse") {
    val finished = new ConcurrentLinkedQueue[Int]()
    val got = Overlap.all((0 until 4).map(i => () => {
      Thread.sleep((4 - i) * 150L)
      finished.add(i)
      i * 10
    }): _*)
    assert(finished.asScala.toSeq == Seq(3, 2, 1, 0))
    assert(got == Seq(0, 10, 20, 30))
  }

  test("every track runs in the caller's job group") {
    val jobs = jobsIn {
      Overlap.all(
        () => sc.parallelize(1 to 10, 2).count(),
        () => sc.parallelize(1 to 10, 2).count())
      ()
    }
    assert(jobs == 2)
  }

  test("a failing track cancels a running sibling job and leaves no thread") {
    var tag = ""
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Overlap.all[Long](
        // about 15 s of tasks unless cancelled
        () => sc.parallelize(1 to 4000, 4).map { x => Thread.sleep(15); x }.count(),
        () => {
          tag = callTag()
          awaitRunningJob(tag)
          throw new IllegalStateException("planted")
        })
    }
    assert(e.getMessage == "planted")
    assert(e.getSuppressed.length == 1, "the cancelled sibling's failure rides along")
    assert((System.nanoTime() - t0) / 1e9 < 10, "the call waited for the sibling's job")
    // the status store hears of the cancel through the listener bus
    val deadline = System.currentTimeMillis() + 10000
    while (runningJobs(tag) && System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(!runningJobs(tag), s"a job tagged $tag is still running")
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(t =>
      t.getName.startsWith(s"$tag-") && t.isAlive))
  }

  test("a failing track beside commitEpoch leaves the whole epoch or none") {
    val root = tmpDir("overlap_tx")
    val slow = udf((id: Long) => { Thread.sleep(5); id })
    val epoch = (e: Long) => spark.range(e * 400, (e + 1) * 400, 1, 4)
      .select(slow(col("id")).as("id"))
    TransactionalLake.commitEpoch(epoch(0), root, 0L, partitionCols = Nil)
    val e = intercept[IllegalStateException] {
      Overlap.all[Unit](
        () => TransactionalLake.commitEpoch(epoch(1), root, 1L, partitionCols = Nil),
        () => {
          awaitRunningJob(callTag())
          throw new IllegalStateException("planted")
        })
    }
    assert(e.getMessage == "planted")
    val ids = TransactionalLake.readCommitted(spark, root).select("id").as[Long](
      org.apache.spark.sql.Encoders.scalaLong).collect().sorted.toSeq
    assert(ids == (0L until 400L) || ids == (0L until 800L),
      s"a partial epoch is visible: ${ids.size} rows")
    (0 until 2).foreach(_ =>
      TransactionalLake.commitEpoch(epoch(1), root, 1L, partitionCols = Nil))
    assert(TransactionalLake.readCommitted(spark, root).select("id").as[Long](
      org.apache.spark.sql.Encoders.scalaLong).collect().sorted.toSeq == (0L until 800L))
  }
}
