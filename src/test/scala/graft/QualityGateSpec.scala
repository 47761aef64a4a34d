package graft

import graft.sources.TransactionalLake
import graft.streaming.{QualityGate, StreamingIngest}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Circuit-breaker contracts beyond the driver-gated end-to-end path:
  * threshold edges (boundary fraction does NOT trip — strict >), empty
  * batches, and the decision hook. */
class QualityGateSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("s", StringType)))

  private def runGate(base: String, frac: Double,
                      decisions: collection.mutable.Buffer[(Long, Long, Long, Boolean)]): Unit =
    StreamingIngest.awaitWithRestartRetry(() =>
      QualityGate.start(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .json(s"$base/in"),
        violation = col("s") === "bad", maxViolationFrac = frac,
        s"$base/lake", s"$base/quar", s"$base/ckpt", Trigger.AvailableNow(),
        onDecision = (e, n, v, q) => { decisions += ((e, n, v, q)); () }))

  test("boundary fraction does not trip; above does; decisions observable") {
    val base = tmpDir("qgate")
    // batch A: 2/4 bad = exactly the 0.5 threshold → NOT quarantined
    Seq((1L, "ok"), (2L, "bad"), (3L, "bad"), (4L, "ok")).toDF("id", "s")
      .coalesce(1).write.mode("append").json(s"$base/in")
    // batch B: 3/4 bad → quarantined
    Seq((5L, "bad"), (6L, "bad"), (7L, "bad"), (8L, "ok")).toDF("id", "s")
      .coalesce(1).write.mode("append").json(s"$base/in")
    val decisions = collection.mutable.Buffer.empty[(Long, Long, Long, Boolean)]
    runGate(base, 0.5, decisions)
    val lake = TransactionalLake.readCommitted(spark, s"$base/lake")
      .select("id").as[Long].collect().sorted.toSeq
    val quar = TransactionalLake.readCommitted(spark, s"$base/quar")
      .select("id").as[Long].collect().sorted.toSeq
    assert((lake, quar) === ((Seq(1L, 2L, 3L, 4L), Seq(5L, 6L, 7L, 8L))))
    assert(decisions.map(d => (d._2, d._3, d._4)).sorted ===
      Seq((4L, 2L, false), (4L, 3L, true)))
  }

  test("replay re-derives the same verdict and contracts to a no-op") {
    val base = tmpDir("qgate_replay")
    Seq((1L, "ok"), (2L, "ok")).toDF("id", "s")
      .coalesce(1).write.mode("append").json(s"$base/in")
    Seq((3L, "bad"), (4L, "bad")).toDF("id", "s")
      .coalesce(1).write.mode("append").json(s"$base/in")
    val ds = collection.mutable.Buffer.empty[(Long, Long, Long, Boolean)]
    runGate(base, 0.5, ds)
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    val commits = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$base/ckpt/commits"))
      .map(_.getPath.getName).filterNot(_.startsWith(".")).map(_.toLong).sorted
    StreamingIngest.dropCommit(spark, s"$base/ckpt", commits.last)
    runGate(base, 0.5, ds)
    assert(TransactionalLake.readCommitted(spark, s"$base/lake").count() === 2L)
    assert(TransactionalLake.readCommitted(spark, s"$base/quar").count() === 2L)
  }

  test("sink job budget: one micro-batch, its batch persisted and read once") {
    val base = tmpDir("qgate_budget")
    Seq((1L, "ok"), (2L, "bad"), (3L, "ok"), (4L, "ok")).toDF("id", "s")
      .coalesce(1).write.mode("append").json(s"$base/in")
    val ds = collection.mutable.Buffer.empty[(Long, Long, Long, Boolean)]
    val jobs = jobsOfOneBatch(() => QualityGate.start(
      spark.readStream.schema(schema).json(s"$base/in"),
      violation = col("s") === "bad", maxViolationFrac = 0.5,
      s"$base/lake", s"$base/quar", s"$base/ckpt", Trigger.AvailableNow(),
      onDecision = (e, n, v, q) => { ds += ((e, n, v, q)); () }))
    info(s"jobs per micro-batch: $jobs")
    assert(ds.toSeq == Seq((0L, 4L, 1L, false)))
    assert(TransactionalLake.readCommitted(spark, s"$base/lake").count() == 4L)
    assert(jobs == 4) // parent: 4
  }
}
