package graft

import graft.sources.TransactionalLake
import graft.streaming.StreamingIngest
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Manifest-committed sink: exactly-once delivery under BOTH crash
  * points of the epoch protocol (the driver-gated
  * `pipe_streaming_transactional` covers the mid-write crash end-to-end;
  * here both failure windows and the reader invariants are pinned). */
class TransactionalSpec extends SparkSpec {
  import spark.implicits._

  private def writeInput(in: String): Unit =
    Seq(
      ("""{"Data":{"event":"e1","region":"US","device":"TV"}}""", "acme"),
      ("""{"Data":{"event":"e2","region":"EU","device":"web"}}""", "globex"),
      ("""{"Data":{"event":"e3","region":"US","device":"app"}}""", "acme"))
      .toDF("value", "tenant_key").write.mode("overwrite").json(in)

  private def run(in: String, lake: String, ckpt: String): Unit =
    StreamingIngest.awaitWithRestartRetry { () =>
      val raw = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("tenant_key",
            org.apache.spark.sql.types.StringType))))
        .json(in)
      StreamingIngest.startTransactional(spark, raw, "value",
        "tenant_key", lake, ckpt, Trigger.AvailableNow(), ingestTs = lit(1704067200L))
    }

  private def snapshot(lake: String): Seq[Row] =
    TransactionalLake.readCommitted(spark, lake)
      .select("device", "event", "region", "tenant", "year", "month", "day", "hour")
      .orderBy("device").collect().toSeq
  private type Row = org.apache.spark.sql.Row

  test("replay after EITHER crash point delivers exactly-once with no dedup") {
    val in = tmpDir("tx_in"); val lake = tmpDir("tx_lake"); val ckpt = tmpDir("tx_ckpt")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    writeInput(in)
    run(in, lake, ckpt)
    val baseline = snapshot(lake)
    assert(baseline.size == 3)
    assert(TransactionalLake.committedEpochs(spark, lake) == Seq(0L))

    // crash A: between manifest commit and checkpoint commit → the
    // replayed epoch is already committed and must SKIP
    StreamingIngest.dropCommit(spark, ckpt, 0)
    run(in, lake, ckpt)
    assert(snapshot(lake) == baseline, "post-commit replay must skip")

    // crash B: between data write and manifest commit → the replayed
    // epoch REWRITES its own directory and re-commits, never appends
    fs.delete(new org.apache.hadoop.fs.Path(s"$lake/_manifest/0"), false)
    StreamingIngest.dropCommit(spark, ckpt, 0)
    run(in, lake, ckpt)
    assert(snapshot(lake) == baseline, "mid-write replay must rewrite in place")
    assert(TransactionalLake.committedEpochs(spark, lake) == Seq(0L))
  }

  private def readStream(in: String) = spark.readStream
    .schema("value STRING, tenant_key STRING").json(in)

  test("sink job budget: 3 jobs per micro-batch with dead letters, 2 without") {
    def run(tag: String, rows: Seq[(String, String)]): Int = {
      val in = tmpDir(s"tx_budget_${tag}_in"); val lake = tmpDir(s"tx_budget_${tag}_lake")
      rows.toDF("value", "tenant_key").repartition(1).write.mode("append").json(in)
      val q = StreamingIngest.startTransactional(spark, readStream(in), "value", "tenant_key",
        lake, tmpDir(s"tx_budget_${tag}_ckpt"), Trigger.AvailableNow())
      assert(q.awaitTermination(120000), "stream must finish within the timeout")
      assert(TransactionalLake.readCommitted(spark, lake).count() ==
        rows.count(_._1.startsWith("{")))
      val batches = q.recentProgress.map(_.batchId).distinct
      assert(batches.length == 1, s"one micro-batch expected: ${batches.mkString(",")}")
      JobsByGroup.of(q.runId.toString)
    }
    val mixed = run("mixed", Seq(
      ("""{"Data":{"event":"e1","region":"US","device":"TV"}}""", "acme"),
      ("""{"Data":{"event":"e2","region":"EU","device":"web"}}""", "globex"),
      ("broken", "acme")))
    assert(mixed >= 1 && mixed <= 3, s"a batch with dead letters ran $mixed jobs") // parent: 5
    val clean = run("clean", Seq(
      ("""{"Data":{"event":"e1","region":"US","device":"TV"}}""", "acme"),
      ("""{"Data":{"event":"e2","region":"EU","device":"web"}}""", "globex")))
    assert(clean >= 1 && clean <= 2, s"an error-free batch ran $clean jobs") // parent: 4
    info(s"jobs per micro-batch: $mixed with dead letters, $clean without")
  }

  test("a post-commit replay skips the data, re-fires the hook and re-logs the dead letters") {
    val in = tmpDir("tx_dl_in"); val lake = tmpDir("tx_dl_lake"); val ckpt = tmpDir("tx_dl_ckpt")
    Seq(("""{"Data":{"event":"e1","region":"US","device":"TV"}}""", "acme"),
      ("broken", "acme")).toDF("value", "tenant_key").repartition(1).write.mode("append").json(in)
    val fired = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def run(): Unit = StreamingIngest.awaitWithRestartRetry { () =>
      StreamingIngest.startTransactional(spark, readStream(in), "value", "tenant_key",
        lake, ckpt, Trigger.AvailableNow(), ingestTs = lit(1704067200L),
        onEpochCommitted = (_, e) => { fired.add(e); () })
    }
    def deadLetters() = spark.read.parquet(s"$lake/error").count()
    run()
    val baseline = snapshot(lake)
    assert(baseline.size == 1 && deadLetters() == 1)
    // crash A: the epoch is committed, its checkpoint commit is lost
    StreamingIngest.dropCommit(spark, ckpt, 0)
    run()
    assert(snapshot(lake) == baseline, "post-commit replay must skip")
    assert(fired.asScala.toSeq == Seq(0L, 0L), "the hook fires on the replay too")
    assert(deadLetters() == 2, "dead letters keep the append path: the replay re-logs them")
  }

  test("uncommitted epochs are invisible to readers") {
    val lake = tmpDir("tx_invis")
    val df = Seq((1L, "a")).toDF("event_id", "payload")
      .withColumn("tenant", lit("t0")).withColumn("year", lit("2024"))
      .withColumn("month", lit("05")).withColumn("day", lit("01"))
      .withColumn("hour", lit("00"))
    TransactionalLake.commitEpoch(df, lake, 0L)
    // epoch 1 data lands WITHOUT a manifest entry (simulated torn write)
    df.withColumn("payload", lit("torn"))
      .write.mode("overwrite")
      .partitionBy("tenant", "year", "month", "day", "hour")
      .parquet(s"$lake/data/epoch=1")
    val seen = TransactionalLake.readCommitted(spark, lake)
    assert(seen.count() == 1)
    assert(seen.select("payload").as[String].head() == "a",
      "torn epoch must be invisible")
    // committing it makes it visible
    TransactionalLake.commitEpoch(df.withColumn("payload", lit("now")), lake, 1L)
    assert(TransactionalLake.readCommitted(spark, lake).count() == 2)
  }

  private def epochFrame(id: Long) =
    Seq((id * 10 + 1, s"p${id}a"), (id * 10 + 2, s"p${id}b"))
      .toDF("event_id", "payload")
      .withColumn("tenant", lit(s"t$id")).withColumn("year", lit("2024"))
      .withColumn("month", lit("05")).withColumn("day", lit("01"))
      .withColumn("hour", lit("00"))

  test("folding aged epochs preserves the view, truncates the manifest, keeps replay a no-op") {
    val lake = tmpDir("tx_fold")
    (0L to 3L).foreach(e => TransactionalLake.commitEpoch(epochFrame(e), lake, e))
    val before = TransactionalLake.readCommitted(spark, lake)
      .select("event_id", "payload", "epoch", "tenant", "year", "month", "day", "hour")
      .orderBy("event_id").collect().toSeq
    assert(before.size == 8)

    assert(TransactionalLake.foldCommittedEpochs(spark, lake, upTo = 2L) == 3)
    // the committed view is IDENTICAL — rows, partition values, epoch ids
    assert(TransactionalLake.readCommitted(spark, lake)
      .select("event_id", "payload", "epoch", "tenant", "year", "month", "day", "hour")
      .orderBy("event_id").collect().toSeq == before)
    // manifest truncated to the unfolded tail; fold state holds the rest
    assert(TransactionalLake.committedEpochs(spark, lake) == Seq(3L))
    assert(TransactionalLake.foldState(spark, lake).map(_._2) == Some(Seq(0L, 1L, 2L)))
    // replay of a folded epoch (manifest entry long gone) is still a no-op
    assert(TransactionalLake.isCommitted(spark, lake, 1L))
    TransactionalLake.commitEpoch(
      epochFrame(1L).withColumn("payload", lit("replayed")), lake, 1L)
    assert(TransactionalLake.readCommitted(spark, lake)
      .select("event_id", "payload", "epoch", "tenant", "year", "month", "day", "hour")
      .orderBy("event_id").collect().toSeq == before)

    // a SECOND fold accumulates: previous generation ∪ the aged tail
    assert(TransactionalLake.foldCommittedEpochs(spark, lake, upTo = 10L) == 1)
    assert(TransactionalLake.committedEpochs(spark, lake).isEmpty)
    assert(TransactionalLake.foldState(spark, lake).map(_._2) ==
      Some(Seq(0L, 1L, 2L, 3L)))
    assert(TransactionalLake.readCommitted(spark, lake)
      .select("event_id", "payload", "epoch", "tenant", "year", "month", "day", "hour")
      .orderBy("event_id").collect().toSeq == before)
    // nothing aged out → no-op, not an error
    assert(TransactionalLake.foldCommittedEpochs(spark, lake, upTo = 10L) == 0)
  }

  test("time travel: as-of reads are exact snapshots and survive retention folds") {
    val lake = tmpDir("tx_asof")
    (0L to 3L).foreach(e => TransactionalLake.commitEpoch(epochFrame(e), lake, e))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id").as[Long].collect().toSet
    val asOf1 = ids(TransactionalLake.readCommittedAsOf(spark, lake, 1L))
    assert(asOf1 == Set(1L, 2L, 11L, 12L), s"asOf(1) saw $asOf1")
    // as-of the latest epoch == the full committed view
    assert(ids(TransactionalLake.readCommittedAsOf(spark, lake, 3L))
      == ids(TransactionalLake.readCommitted(spark, lake)))
    // before the first epoch: a defined, empty snapshot
    assert(TransactionalLake.readCommittedAsOf(spark, lake, -1L).isEmpty)
    // retention folds epochs 0-2; per-row epoch values survive, so the
    // same as-of reads resolve identically through the fold generation
    assert(TransactionalLake.foldCommittedEpochs(spark, lake, upTo = 2L) == 3)
    assert(ids(TransactionalLake.readCommittedAsOf(spark, lake, 1L)) == asOf1,
      "as-of snapshot must be stable across a retention fold")
    assert(ids(TransactionalLake.readCommittedAsOf(spark, lake, 3L))
      == ids(TransactionalLake.readCommitted(spark, lake)))
  }

  test("size-tiered folds rewrite only fresh epochs until the merge threshold") {
    val lake = tmpDir("tx_tier")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    (0L to 4L).foreach(e => TransactionalLake.commitEpoch(epochFrame(e), lake, e))
    def view() = TransactionalLake.foldView(spark, lake).get._2
    def snapshotAll() = TransactionalLake.readCommitted(spark, lake)
      .select("event_id", "payload", "epoch").orderBy("event_id").collect().toSeq
    def genFiles(g: Long) = fs.listFiles(
      new org.apache.hadoop.fs.Path(s"$lake/data_folded/gen=$g"), true)
    val before = snapshotAll()

    // routine folds: each creates a NEW small generation, existing ones untouched
    assert(TransactionalLake.foldCommittedEpochs(spark, lake, upTo = 0L, maxGenerations = 3) == 1)
    assert(view().map(_._2) == Seq(Seq(0L)))
    val gen1Files = {
      val it = genFiles(1L); val b = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) { val s = it.next(); b += ((s.getPath.toString, s.getLen, s.getModificationTime)) }
      b.result()
    }
    assert(TransactionalLake.foldCommittedEpochs(spark, lake, upTo = 1L, maxGenerations = 3) == 1)
    assert(view().map(_._2) == Seq(Seq(0L), Seq(1L)))
    assert(TransactionalLake.foldCommittedEpochs(spark, lake, upTo = 2L, maxGenerations = 3) == 1)
    assert(view().map(_._2) == Seq(Seq(0L), Seq(1L), Seq(2L)))
    // generation 1's files were never rewritten by the later folds
    val gen1After = {
      val it = genFiles(1L); val b = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) { val s = it.next(); b += ((s.getPath.toString, s.getLen, s.getModificationTime)) }
      b.result()
    }
    assert(gen1After == gen1Files, "kept generations must not be rewritten")
    assert(snapshotAll() == before)

    // the threshold-crossing fold MERGES everything into one generation
    assert(TransactionalLake.foldCommittedEpochs(spark, lake, upTo = 4L, maxGenerations = 3) == 2)
    assert(view().map(_._2) == Seq(Seq(0L, 1L, 2L, 3L, 4L)))
    assert(snapshotAll() == before)
    // absorbed generation data dirs are cleaned up; exactly one remains
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$lake/data_folded"))
      .map(_.getPath.getName).filter(_.startsWith("gen=")).toSeq
    assert(dirs.size == 1)
    // replay of any folded epoch is still a no-op
    assert((0L to 4L).forall(TransactionalLake.isCommitted(spark, lake, _)))
  }

  test("a bare fold pointer (no generation lines) fails loud") {
    val lake = tmpDir("tx_bareptr")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    (0L to 2L).foreach(e => TransactionalLake.commitEpoch(epochFrame(e), lake, e))
    assert(TransactionalLake.foldCommittedEpochs(spark, lake, upTo = 1L) == 2)
    // a bare epoch-id list where the `<gen>:<epochs>` lines belong
    val ptr = new org.apache.hadoop.fs.Path(s"$lake/_fold/gen-1")
    val out = fs.create(ptr, true)
    try out.write("0,1".getBytes("UTF-8")) finally out.close()
    val e = intercept[IllegalArgumentException](TransactionalLake.foldView(spark, lake))
    assert(e.getMessage.contains("generation line"), e.getMessage)
    assert(intercept[IllegalArgumentException] {
      TransactionalLake.readCommitted(spark, lake).count()
    }.getMessage.contains("generation line"))
  }

  test("an uncommitted fold stage is invisible; a crashed fold resumes correctly") {
    val lake = tmpDir("tx_foldcrash")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    (0L to 1L).foreach(e => TransactionalLake.commitEpoch(epochFrame(e), lake, e))
    val before = TransactionalLake.readCommitted(spark, lake)
      .select("event_id", "payload").orderBy("event_id").collect().toSeq

    // simulate a crash between staging (+ markers) and the pointer swap:
    // stage data + markers exist, pointer does not
    epochFrame(0L).withColumn("epoch", lit("0"))
      .write.partitionBy("epoch", "tenant", "year", "month", "day", "hour")
      .mode("overwrite").parquet(s"$lake/data_folded/gen=1")
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$lake/_folded"))
    fs.create(new org.apache.hadoop.fs.Path(s"$lake/_folded/0"), true).close()
    // readers: unchanged (the torn stage is unreferenced); replay: no-op
    assert(TransactionalLake.readCommitted(spark, lake)
      .select("event_id", "payload").orderBy("event_id").collect().toSeq == before)
    assert(TransactionalLake.foldState(spark, lake).isEmpty)
    assert(TransactionalLake.isCommitted(spark, lake, 0L))

    // the next fold attempt recomputes the same generation, overwrites
    // the orphaned stage, and completes
    assert(TransactionalLake.foldCommittedEpochs(spark, lake, upTo = 1L) == 2)
    assert(TransactionalLake.readCommitted(spark, lake)
      .select("event_id", "payload").orderBy("event_id").collect().toSeq == before)
    assert(TransactionalLake.foldState(spark, lake).map(_._2) == Some(Seq(0L, 1L)))
  }

  test("allEpochs lists live and folded epochs once, ascending") {
    val root = tmpDir("tx_all_epochs")
    Seq(2L, 0L, 1L).foreach(e =>
      TransactionalLake.commitEpoch(Seq(e).toDF("v"), root, e, partitionCols = Nil))
    assert(TransactionalLake.allEpochs(spark, root) == Seq(0L, 1L, 2L))
    assert(TransactionalLake.foldCommittedEpochs(spark, root, upTo = 1L,
      partitionCols = Nil) == 2)
    assert(TransactionalLake.allEpochs(spark, root) == Seq(0L, 1L, 2L))
    assert(TransactionalLake.allEpochs(spark, s"$root/absent").isEmpty)
  }
}
