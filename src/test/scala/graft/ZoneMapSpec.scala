package graft

import graft.operators.ZoneMap
import graft.sources.FileIndexLake
import org.apache.spark.sql.functions._

class ZoneMapSpec extends SparkSpec {
  import spark.implicits._

  private def stat(path: String) = ZoneMap.buildStats(spark, path, "k")

  private def writeRanged(root: String): Unit =
    (1L to 1000L).toDF("k").withColumn("v", col("k") * 2)
      .repartitionByRange(8, col("k"))
      .write.mode("overwrite").parquet(root)

  test("range-clustered layout: selective range prunes files, answers match") {
    val root = tmpDir("zm_ranged")
    writeRanged(root)
    val stats = ZoneMap.buildStats(spark, root, "k")
    assert(stats.count() === 8)
    val got = ZoneMap.prunedRangeRead(spark, stats, "k", 10L, 60L,
      requirePruned = true)
      .select("k", "v").as[(Long, Long)].collect().sorted.toSeq
    assert(got === (10L to 60L).map(k => (k, k * 2)))
  }

  test("empty range returns an empty frame with the table schema") {
    val root = tmpDir("zm_empty")
    writeRanged(root)
    val stats = ZoneMap.buildStats(spark, root, "k")
    val out = ZoneMap.prunedRangeRead(spark, stats, "k", 5000L, 6000L)
    assert(out.columns.toSeq === Seq("k", "v"))
    assert(out.count() === 0L)
  }

  test("incremental maintenance: O(batch) appends accumulate; replay is a no-op") {
    val root = tmpDir("zm_incr")
    val statsRoot = s"$root/stats"
    val T = graft.sources.TransactionalLake
    (0 until 2).foreach { i =>
      T.commitEpoch((1L to 100L).filter(_ % 2 == i).toDF("k")
        .repartitionByRange(2, col("k")), root, i.toLong, partitionCols = Nil)
      FileIndexLake.append(spark, root, statsRoot, i.toLong)(stat)
    }
    val idx1 = FileIndexLake.read(spark, statsRoot)
    assert(idx1.count() === 4) // 2 epochs x 2 range files
    // replayed maintenance pass: same epoch id -> idempotent no-op
    FileIndexLake.append(spark, root, statsRoot, 1L)(stat)
    assert(FileIndexLake.read(spark, statsRoot).count() === 4)
    // the accumulated index answers exactly
    val got = ZoneMap.prunedRangeRead(spark, idx1, "k", 10L, 20L)
      .select("k").as[Long].collect().sorted.toSeq
    assert(got === (10L to 20L))
  }

  test("refoldStats: index survives a range-clustered retention fold and keeps pruning") {
    val root = tmpDir("zm_refold")
    val statsRoot = s"$root/stats"
    val T = graft.sources.TransactionalLake
    (0 until 3).foreach { i =>
      T.commitEpoch((1L to 999L).filter(_ % 3 == i).toDF("k")
        .repartitionByRange(2, col("k")), root, i.toLong, partitionCols = Nil)
      FileIndexLake.append(spark, root, statsRoot, i.toLong)(stat)
    }
    // fold-aware read BEFORE any fold ≡ the plain index
    assert(FileIndexLake.readFoldAware(spark, root, statsRoot).count() === 6)
    assert(T.foldCommittedEpochs(spark, root, upTo = 1L, partitionCols = Nil,
      rangeClusterCols = Seq("k")) === 2)
    // stale index now points at deleted files; the fold-aware read
    // REFUSES until the generation is re-statted
    intercept[IllegalArgumentException] {
      FileIndexLake.readFoldAware(spark, root, statsRoot)
    }
    assert(FileIndexLake.refold(spark, root, statsRoot)(stat) === 1)
    assert(FileIndexLake.refold(spark, root, statsRoot)(stat) === 0) // idempotent
    val idx = FileIndexLake.readFoldAware(spark, root, statsRoot)
    // every indexed file exists (no stale rows)
    val f = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    idx.select("file").collect().foreach(r =>
      assert(f.exists(new org.apache.hadoop.fs.Path(r.getString(0))),
        s"stale stats row: ${r.getString(0)}"))
    // the range-clustered fold keeps file-level pruning alive
    val got = ZoneMap.prunedRangeRead(spark, idx, "k", 100L, 200L,
      requirePruned = true).select("k").as[Long].collect().sorted.toSeq
    assert(got === (100L to 200L))
  }

  test("degenerate stats: empty index refuses; all-null stat files prune exactly") {
    val root = tmpDir("zm_degen")
    writeRanged(root)
    val stats = ZoneMap.buildStats(spark, root, "k")
    // empty index → clear refusal, not NoSuchElementException
    val e = intercept[IllegalArgumentException] {
      ZoneMap.prunedRangeRead(spark, stats.filter(lit(false)), "k", 1L, 5L)
    }
    assert(e.getMessage.contains("empty"))
    // a file whose stat column is all NULL → null [min,max] envelope;
    // no row there can satisfy BETWEEN, so it prunes without an NPE
    val nullRoot = tmpDir("zm_degen_nullfile")
    Seq(Option.empty[java.lang.Long], Option.empty[java.lang.Long])
      .toDF("k").withColumn("v", lit(0L)).coalesce(1)
      .write.mode("overwrite").parquet(nullRoot)
    val nullStats = ZoneMap.buildStats(spark, nullRoot, "k")
    assert(nullStats.count() === 1)
    val withNull = stats.unionByName(nullStats)
    val got = ZoneMap.prunedRangeRead(spark, withNull, "k", 10L, 20L)
      .select("k").as[Long].collect().sorted.toSeq
    assert(got === (10L to 20L))
  }

  test("hash-scattered layout fails loud under requirePruned") {
    val root = tmpDir("zm_hash")
    (1L to 1000L).toDF("k").repartition(8, col("k"))
      .write.mode("overwrite").parquet(root)
    val stats = ZoneMap.buildStats(spark, root, "k")
    intercept[IllegalArgumentException] {
      ZoneMap.prunedRangeRead(spark, stats, "k", 10L, 60L, requirePruned = true)
        .count()
    }
    // without the guard it still answers correctly (every file scanned)
    assert(ZoneMap.prunedRangeRead(spark, stats, "k", 10L, 60L).count() === 51L)
  }

  test("planner budget: an over-cap stats index refuses before collecting") {
    val root = tmpDir("zm_budget")
    (1L to 100L).toDF("k").repartition(5)
      .write.mode("overwrite").parquet(root)
    val stats = ZoneMap.buildStats(spark, root, "k")
    assert(stats.count() === 5)
    sys.props("graft.maxPlannedFiles") = "3"
    try {
      val e = intercept[IllegalArgumentException] {
        ZoneMap.prunedRangeRead(spark, stats, "k", 10L, 20L).count()
      }
      assert(e.getMessage.contains("compaction"))
    } finally { sys.props.remove("graft.maxPlannedFiles"); () }
    // back under budget, the same read serves
    assert(ZoneMap.prunedRangeRead(spark, stats, "k", 10L, 20L).count() === 11L)
  }
}
