package graft

import graft.queries.Extensions
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.functions.col

/** The streaming fixtures' crash-replay step: the final epoch's commit
  * goes together with its checksum sibling, so the replay's restart
  * re-commits the epoch without colliding with a stale `.N.crc`. */
class CrashReplaySpec extends SparkSpec {
  import spark.implicits._

  test("crash replay removes the commit's .crc; the restart does not fail on it") {
    val base = tmpDir("crash_replay")
    (0 until 3).foreach(i => Seq(i.toLong, i + 3L).toDF("v").filter(col("v") >= 0)
      .coalesce(1).write.mode("append").json(s"$base/in"))
    val commits = new java.io.File(s"$base/ckpt/commits")
    val queries = scala.collection.mutable.ArrayBuffer.empty[StreamingQuery]
    val staleCrc = scala.collection.mutable.ArrayBuffer.empty[String]
    Extensions.crashReplay(spark, base) { () =>
      if (queries.nonEmpty) {
        // after the crash step: no checksum outlives its commit
        val names = commits.list().toSet
        staleCrc ++= names.filter(n => n.startsWith(".") && n.endsWith(".crc") &&
          !names(n.stripPrefix(".").stripSuffix(".crc")))
      }
      val q = spark.readStream.schema("v LONG").option("maxFilesPerTrigger", 1)
        .json(s"$base/in")
        .writeStream.format("parquet").option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      queries += q
      q
    }
    assert(staleCrc.isEmpty, s"checksums left without their commit: $staleCrc")
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    val collisions = queries.flatMap(_.exception).flatMap(e => chain(e))
      .filter(_.getClass.getSimpleName == "FileAlreadyExistsException")
    assert(collisions.isEmpty, s"a restart failed on a stale file: ${collisions.map(_.getMessage)}")
    // the replayed epoch re-commits: every commit has its checksum again
    assert(commits.list().count(n => !n.startsWith(".")) == 3)
    assert(spark.read.parquet(s"$base/out").as[Long].collect().sorted.toSeq == (0L to 5L))
  }
}
