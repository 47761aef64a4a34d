package graft

import graft.operators.{BloomIndex, Dedup, ZoneMap}
import graft.sources.{FileIndexLake, TenantArtifacts, TransactionalLake}
import org.apache.spark.sql.functions._

/** Tenant-purge CASCADE over derived artifacts
  * ([[graft.sources.TenantArtifacts]] + [[graft.sources.TransactionalLake
  * .purgeRowsWhere]]) — the offboarding invariant is "post-purge index ≡
  * an index built on a corpus that never had the tenant", plus the
  * crash/replay properties the gated `pipe_tenant_purge_derived` entry
  * asserts at sf scale. */
class TenantArtifactsSpec extends SparkSpec {
  import spark.implicits._

  private val shared = (1 to 10).map(i => s"c$i").mkString(" ")
  private def filler(i: Long, n: Int) =
    (1 to n).map(k => s"u${i}w$k").mkString(" ")
  // tenant = t<doc_id % 2>; each tenant has one within-tenant repeat
  private val corpus = Seq(
    (2L, s"$shared ${filler(2, 12)}"),
    (4L, s"${filler(4, 9)} $shared"),
    (6L, filler(6, 15)),
    (1L, s"$shared ${filler(1, 11)}"),
    (3L, s"${filler(3, 7)} $shared"),
    (5L, filler(5, 14))).toDF("doc_id", "text")
    .withColumn("tenant",
      concat(lit("t"), (col("doc_id") % 2).cast("string")))

  private def buildPerTenant(base: String, tenants: Seq[String]): Unit =
    tenants.foreach { t =>
      Dedup.commitSubstringBatch(corpus.filter(col("tenant") === t),
        "doc_id", "text", TenantArtifacts.tenantRoot(base, t), 0L)
    }

  private def bests(root: String): Map[Long, Long] =
    Dedup.longestDupSubstringsFromIndex(spark, root).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("purge scrubs data, keeps markers; survivor ≡ never-had build") {
    val base = tmpDir("ta_base_")
    buildPerTenant(base, Seq("t0", "t1"))
    val removed = TenantArtifacts.purgeTenant(spark, base, "t1")
    assert(removed > 0)
    assert(TenantArtifacts.isPurged(spark, base, "t1"))
    assert(!TenantArtifacts.isPurged(spark, base, "t0"))
    assert(TenantArtifacts.tenants(spark, base) === Seq("t0"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val t1root = TenantArtifacts.tenantRoot(base, "t1")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$t1root/grams/data")))
    // markers KEPT: the committed epoch still reads as committed
    assert(TransactionalLake.isCommitted(spark, s"$t1root/grams", 0L))
    // survivor serves the same answer as a base that never had t1
    val ref = tmpDir("ta_ref_")
    buildPerTenant(ref, Seq("t0"))
    assert(bests(TenantArtifacts.tenantRoot(base, "t0")) ===
      bests(TenantArtifacts.tenantRoot(ref, "t0")))
    assert(bests(TenantArtifacts.tenantRoot(base, "t0")) ===
      Map(2L -> 10L, 4L -> 10L))
    // replayed committed batch: TOTAL no-op — nothing resurrects, no crash
    Dedup.commitSubstringBatch(corpus.filter(col("tenant") === "t1"),
      "doc_id", "text", t1root, 0L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$t1root/grams/data")))
    // purge replay is idempotent
    assert(TenantArtifacts.purgeTenant(spark, base, "t1") === 0)
  }

  test("purgeRowsWhere rewrites epochs; crash between delete and rename repairs") {
    val root = tmpDir("ta_rows_")
    val rows = Seq(("a/tenant=t0/f1", 1L), ("a/tenant=t1/f2", 2L),
      ("a/tenant=t0/f3", 3L)).toDF("file", "n")
    TransactionalLake.commitEpoch(rows, root, 0L, partitionCols = Nil)
    TransactionalLake.commitEpoch(rows.withColumn("n", col("n") + 10), root,
      1L, partitionCols = Nil)
    val pred = col("file").contains("/tenant=t1/")
    assert(TransactionalLake.purgeRowsWhere(spark, root, pred) === 2)
    val after = TransactionalLake.readCommitted(spark, root)
    assert(after.filter(pred).isEmpty)
    assert(after.count() === 4)
    // crash simulation: tmp written, original deleted, rename missed
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val e0 = s"$root/data/epoch=0"
    assert(fs.rename(new org.apache.hadoop.fs.Path(e0),
      new org.apache.hadoop.fs.Path(e0 + ".purge_tmp")))
    // the repair run completes epoch 0's rename; epoch 1 (already
    // purged, predicate matches nothing) is now SKIPPED untouched
    assert(TransactionalLake.purgeRowsWhere(spark, root, pred) === 1)
    assert(TransactionalLake.readCommitted(spark, root).count() === 4)
  }

  test("purgeRowsWhere skips untouched dirs byte-identical") {
    val root = tmpDir("ta_skip_")
    val rows = Seq(("a/tenant=t0/f1", 1L), ("a/tenant=t1/f2", 2L))
      .toDF("file", "n")
    // epoch 0 carries a matching row; epoch 1 has NO t1 rows at all
    TransactionalLake.commitEpoch(rows, root, 0L, partitionCols = Nil)
    TransactionalLake.commitEpoch(
      rows.filter(!col("file").contains("/tenant=t1/")), root, 1L,
      partitionCols = Nil)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def listing(dir: String): Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .map(s => s"${s.getPath.getName}@${s.getModificationTime}@${s.getLen}")
        .sorted.toSeq
    val before = listing(s"$root/data/epoch=1")
    val pred = col("file").contains("/tenant=t1/")
    // only epoch 0 is rewritten; epoch 1 keeps its files byte-identical
    assert(TransactionalLake.purgeRowsWhere(spark, root, pred) === 1)
    assert(listing(s"$root/data/epoch=1") === before)
    assert(TransactionalLake.readCommitted(spark, root)
      .filter(pred).isEmpty)
  }

  test("purgeRowsInDir: purging EVERY row leaves a schema-bearing dir") {
    val root = tmpDir("ta_empty_")
    // fold-generation shape: epoch-partitioned payload
    Seq(("a/tenant=t1/f1", "0", 1L), ("a/tenant=t1/f2", "1", 2L))
      .toDF("file", "epoch", "n")
      .write.partitionBy("epoch").parquet(s"$root/gen")
    assert(TransactionalLake.purgeRowsInDir(spark, s"$root/gen",
      col("file").contains("/tenant=t1/"), epochPartitioned = true))
    // the rewritten dir must stay readable WITHOUT a schema hint
    // (r15 ADVICE: partitionBy of an empty frame wrote only _SUCCESS and
    // bricked schema inference for the whole shared artifact)
    val back = spark.read.option("basePath", s"$root/gen").parquet(s"$root/gen")
    assert(back.count() === 0)
    assert(back.columns.toSet === Set("file", "epoch", "n"))
  }

  test("per-file index purge reaches refold generations, for both builders") {
    val root = tmpDir("ta_fidx_")
    val lake = s"$root/lake"
    val builders = Seq[(String, String => org.apache.spark.sql.DataFrame)](
      "zstats" -> (ZoneMap.buildStats(spark, _, "k")),
      "bloom" -> (BloomIndex.buildIndex(spark, _, "k")))
    (0 until 3).foreach { e =>
      TransactionalLake.commitEpoch((1L to 60L).filter(_ % 3 == e).toDF("k")
        .withColumn("tenant", concat(lit("t"), (col("k") % 2).cast("string"))),
        lake, e.toLong, partitionCols = Seq("tenant"))
      builders.foreach { case (n, b) =>
        FileIndexLake.append(spark, lake, s"$root/$n", e.toLong)(b) }
    }
    assert(TransactionalLake.foldCommittedEpochs(spark, lake, upTo = 1L,
      partitionCols = Seq("tenant")) === 2)
    builders.foreach { case (n, b) =>
      assert(FileIndexLake.refold(spark, lake, s"$root/$n")(b) === 1) }
    assert(TransactionalLake.purgeTenant(spark, lake, "t1") > 0)
    val purged = col("file").contains("/tenant=t1/")
    builders.foreach { case (n, _) =>
      val idx = s"$root/$n"
      // before: t1 rows in every epoch dir and in the generation dir
      assert(!FileIndexLake.readFoldAware(spark, lake, idx).filter(purged).isEmpty)
      // three epoch dirs + one generation dir rewritten
      assert(FileIndexLake.purgeTenant(spark, idx, "t1") === 4, n)
      assert(FileIndexLake.read(spark, idx).filter(purged).isEmpty, n)
      val live = FileIndexLake.readFoldAware(spark, lake, idx)
      assert(live.filter(purged).isEmpty, n)
      assert(!live.isEmpty, s"$n: the surviving tenant keeps its rows")
      assert(FileIndexLake.purgeTenant(spark, idx, "t1") === 0, s"$n replay")
    }
  }

  test("streaming-ANN roots offboard through the same cascade") {
    import graft.streaming.StreamingSimilarity
    val base = tmpDir("ta_ann_")
    val embs = Tables.load(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    Seq("t0", "t1").foreach { t =>
      val root = TenantArtifacts.tenantRoot(base, t)
      val te = embs.filter((col("vec_id") % 2 === (if (t == "t0") 0 else 1)))
      val cents = graft.operators.Similarity
        .seedCentroids(te, "vec_id", "embedding", 8)
      val assignments = graft.operators.Similarity
        .ivfAssignments(cents, te, "vec_id", "embedding")
        .withColumn("gen", lit(0L))
      TransactionalLake.commitEpoch(te,
        StreamingSimilarity.corpusRoot(root), 0L, Nil)
      TransactionalLake.commitEpoch(cents,
        StreamingSimilarity.centroidsRoot(root), 0L, Nil)
      TransactionalLake.commitEpoch(assignments,
        StreamingSimilarity.indexRoot(root), 0L, Nil)
    }
    assert(TenantArtifacts.purgeTenant(spark, base, "t1") > 0)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val t1 = TenantArtifacts.tenantRoot(base, "t1")
    Seq("corpus", "index", "centroids").foreach { sub =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$t1/$sub/data")),
        s"$sub data must be scrubbed")
      assert(TransactionalLake.isCommitted(spark, s"$t1/$sub", 0L),
        s"$sub markers must survive (replay no-op)")
    }
    // replayed committed epoch cannot resurrect vectors
    TransactionalLake.commitEpoch(
      embs.filter(col("vec_id") % 2 === 1),
      StreamingSimilarity.corpusRoot(t1), 0L, Nil)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$t1/corpus/data")))
    // the survivor still serves top-k
    val res = StreamingSimilarity.searchCommitted(spark,
      TenantArtifacts.tenantRoot(base, "t0"),
      embs.filter(col("vec_id") === 0), "vec_id", "embedding", k = 3)
    assert(res.count() === 3)
  }

  test("purgeRowsInDir refuses unexpected partition levels") {
    val root = tmpDir("ta_part_")
    Seq(("x", "t0", 1L)).toDF("file", "tenant", "n")
      .write.partitionBy("tenant").parquet(s"$root/d")
    val e = intercept[IllegalArgumentException] {
      TransactionalLake.purgeRowsInDir(spark, s"$root/d", col("n") === 1)
    }
    assert(e.getMessage.contains("partition levels"))
  }
}
