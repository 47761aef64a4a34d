package graft

import graft.operators.{BloomIndex, ZoneMap}
import graft.sources.FileIndexLake
import org.apache.spark.sql.functions._

class BloomIndexSpec extends SparkSpec {
  import spark.implicits._

  private def bloom(path: String) = BloomIndex.buildIndex(spark, path, "k")

  // hash-scattered layout: the case zone maps CANNOT prune
  private def writeScattered(root: String): Unit =
    (1L to 2000L).toDF("k").withColumn("v", col("k") * 3)
      .repartition(8, col("k"))
      .write.mode("overwrite").parquet(root)

  test("no false negatives: every present key's pruned read ≡ brute force") {
    val root = tmpDir("bl_exact")
    writeScattered(root)
    val idx = BloomIndex.buildIndex(spark, root, "k")
    assert(idx.count() === 8)
    (1L to 2000L by 97L).foreach { k =>
      val got = BloomIndex.prunedPointRead(spark, idx, "k", k)
        .select("k", "v").as[(Long, Long)].collect().toSeq
      assert(got === Seq((k, k * 3)), s"key $k")
    }
  }

  test("prunes equality on a hash layout where zone maps keep everything") {
    val root = tmpDir("bl_vs_zm")
    writeScattered(root)
    val idx = BloomIndex.buildIndex(spark, root, "k")
    // zone maps: every file's [min,max] envelope straddles the probe —
    // a degenerate range read [k,k] keeps all 8 files
    val zm = ZoneMap.buildStats(spark, root, "k")
    intercept[IllegalArgumentException] {
      ZoneMap.prunedRangeRead(spark, zm, "k", 777L, 777L, requirePruned = true)
        .count()
    }
    // blooms: content-based membership admits the one owning file (+FP)
    val got = BloomIndex.prunedPointRead(spark, idx, "k", 777L,
      requirePruned = true).select("v").as[Long].collect().toSeq
    assert(got === Seq(777L * 3))
  }

  test("IN-list read unions candidates and answers exactly; absent keys empty") {
    val root = tmpDir("bl_in")
    writeScattered(root)
    val idx = BloomIndex.buildIndex(spark, root, "k")
    val got = BloomIndex.prunedInRead(spark, idx, "k",
      Seq(5L, 500L, 1999L, 999999L), requirePruned = true)
      .select("k").as[Long].collect().sorted.toSeq
    assert(got === Seq(5L, 500L, 1999L))
    // a provably-absent probe: empty frame with the table schema
    val none = BloomIndex.prunedPointRead(spark, idx, "k", -42L)
    assert(none.columns.toSeq === Seq("k", "v"))
    assert(none.count() === 0L)
  }

  test("probes are cast to the indexed key type; uncastable probes fail loud") {
    // xxhash64 is type-sensitive: an Int 7 and a Long 7 hash differently.
    // The index records the build-side key type, so an Int probe against
    // a bigint-keyed index must still find the owning file (pre-fix this
    // silently returned zero files — a false negative).
    val root = tmpDir("bl_typed")
    writeScattered(root)
    val idx = BloomIndex.buildIndex(spark, root, "k")
    assert(idx.columns.contains("key_type"))
    val viaInt = BloomIndex.prunedPointRead(spark, idx, "k", 777)
      .select("v").as[Long].collect().toSeq
    assert(viaInt === Seq(777L * 3), "Int probe against bigint key")
    // string probe of a numeric literal: castable, same result
    val viaStr = BloomIndex.prunedPointRead(spark, idx, "k", "777")
      .select("v").as[Long].collect().toSeq
    assert(viaStr === Seq(777L * 3), "castable String probe")
    // an uncastable probe must refuse, not silently miss every file
    val e = intercept[IllegalArgumentException] {
      BloomIndex.prunedPointRead(spark, idx, "k", "not-a-number").count()
    }
    assert(e.getMessage.contains("not castable"))
  }

  test("value-changing casts fail loud; value-preserving casts still probe") {
    // try_cast admits lossy casts (Double 7.5 → bigint 7): both the hash
    // probe and the exact re-filter would then match key 7 and return
    // rows that do not equal the caller's probe. The round-trip check
    // refuses such probes; an exactly-representable 7.0 still works.
    val root = tmpDir("bl_lossy")
    writeScattered(root)
    val idx = BloomIndex.buildIndex(spark, root, "k")
    val e = intercept[IllegalArgumentException] {
      BloomIndex.prunedPointRead(spark, idx, "k", 7.5).count()
    }
    assert(e.getMessage.contains("round-trip"))
    val viaDouble = BloomIndex.prunedPointRead(spark, idx, "k", 7.0)
      .select("v").as[Long].collect().toSeq
    assert(viaDouble === Seq(21L), "exactly-representable Double probe")
  }

  test("legacy rows without key_type fail loud: legacy-only, all-NULL, mixed") {
    // an index written before the key_type column existed cannot say
    // which type its probes must hash as — every shape of it RAISES with
    // a rebuild message instead of silently hashing untyped
    val root = tmpDir("bl_legacy")
    writeScattered(root)
    val typed = BloomIndex.buildIndex(spark, root, "k")
    val legacy = typed.drop("key_type")
    def rejected(idx: org.apache.spark.sql.DataFrame): Unit = {
      val e = intercept[IllegalArgumentException] {
        BloomIndex.prunedPointRead(spark, idx, "k", 777L).count()
      }
      assert(e.getMessage.contains("rebuild"), e.getMessage)
    }
    // legacy-ONLY index (every row pre-key_type)
    rejected(legacy)
    // an index that HAS the column but only NULL values in it
    rejected(legacy.withColumn("key_type", lit(null).cast("string")))
    // MIXED: legacy NULL-key_type rows unioned with typed rows over
    // disjoint file subsets, as a live-epochs ∪ fold-generation would be
    val f0 = typed.select("file").head.getString(0)
    rejected(typed.filter(col("file") === f0)
      .unionByName(legacy.filter(col("file") =!= f0), allowMissingColumns = true))
  }

  test("string keys: same build/probe expression, same guarantee") {
    val root = tmpDir("bl_str")
    (1 to 500).map(i => s"doc-$i").toDF("id")
      .withColumn("payload", length(col("id")))
      .repartition(6, col("id"))
      .write.mode("overwrite").parquet(root)
    val idx = BloomIndex.buildIndex(spark, root, "id")
    val got = BloomIndex.prunedPointRead(spark, idx, "id", "doc-321",
      requirePruned = true).select("id").as[String].collect().toSeq
    assert(got === Seq("doc-321"))
  }

  test("incremental maintenance: O(batch) epoch appends; replay no-op; probes span epochs") {
    val root = tmpDir("bl_incr")
    val indexRoot = s"$root/bloomidx"
    val T = graft.sources.TransactionalLake
    (0 until 2).foreach { i =>
      T.commitEpoch((1L to 400L).filter(_ % 2 == i).toDF("k")
        .repartition(2, col("k")), root, i.toLong, partitionCols = Nil)
      FileIndexLake.append(spark, root, indexRoot, i.toLong)(bloom)
    }
    val idx = FileIndexLake.read(spark, indexRoot)
    assert(idx.count() === 4) // 2 epochs x 2 files
    // replayed maintenance pass: same epoch id -> idempotent no-op
    FileIndexLake.append(spark, root, indexRoot, 1L)(bloom)
    assert(FileIndexLake.read(spark, indexRoot).count() === 4)
    // one probe per epoch parity — both resolved against the union index
    val got = BloomIndex.prunedInRead(spark, idx, "k", Seq(100L, 101L),
      requirePruned = true).select("k").as[Long].collect().sorted.toSeq
    assert(got === Seq(100L, 101L))
  }

  test("refold: stale generation fails loud; refoldIndex restores pruning reads") {
    val root = tmpDir("bl_refold")
    val indexRoot = s"$root/bloomidx"
    val T = graft.sources.TransactionalLake
    (0 until 3).foreach { i =>
      T.commitEpoch((1L to 600L).filter(_ % 3 == i).toDF("k")
        .repartition(2, col("k")), root, i.toLong, partitionCols = Nil)
      FileIndexLake.append(spark, root, indexRoot, i.toLong)(bloom)
    }
    assert(T.foldCommittedEpochs(spark, root, upTo = 1L,
      partitionCols = Nil) === 2)
    // pre-refold: the fold-aware view refuses (generation un-indexed) —
    // a stale index must fail loud, never silently drop folded files
    assert(intercept[IllegalArgumentException] {
      FileIndexLake.readFoldAware(spark, root, indexRoot)
    }.getMessage.contains("FileIndexLake.refold"))
    assert(FileIndexLake.refold(spark, root, indexRoot)(bloom) === 1)
    assert(FileIndexLake.refold(spark, root, indexRoot)(bloom) === 0) // replay
    val idx = FileIndexLake.readFoldAware(spark, root, indexRoot)
    // probes spanning folded (100, 101) and live (2) parities read exactly
    val got = BloomIndex.prunedInRead(spark, idx, "k", Seq(100L, 101L, 102L),
      requirePruned = true).select("k").as[Long].collect().sorted.toSeq
    assert(got === Seq(100L, 101L, 102L))
  }

  test("guards: empty index, null probe, empty probe set fail loud") {
    val root = tmpDir("bl_guard")
    writeScattered(root)
    val idx = BloomIndex.buildIndex(spark, root, "k")
    assert(intercept[IllegalArgumentException] {
      BloomIndex.prunedPointRead(spark, idx.filter(lit(false)), "k", 1L)
    }.getMessage.contains("empty"))
    assert(intercept[IllegalArgumentException] {
      BloomIndex.prunedPointRead(spark, idx, "k", null)
    }.getMessage.contains("non-null"))
    assert(intercept[IllegalArgumentException] {
      BloomIndex.prunedInRead(spark, idx, "k", Seq.empty)
    }.getMessage.contains("non-empty"))
  }

  test("planner budget: an over-cap index refuses before collecting") {
    val root = tmpDir("bl_budget")
    writeScattered(root)
    val idx = BloomIndex.buildIndex(spark, root, "k")
    assert(idx.count() > 3)
    sys.props("graft.maxPlannedFiles") = "3"
    try {
      val e = intercept[IllegalArgumentException] {
        BloomIndex.prunedPointRead(spark, idx, "k", 1L).count()
      }
      assert(e.getMessage.contains("compaction"))
    } finally { sys.props.remove("graft.maxPlannedFiles"); () }
    assert(BloomIndex.prunedPointRead(spark, idx, "k", 1L)
      .filter(col("k") === 1L).count() === 1L)
  }

  test("a replayed append finds the epoch committed and never runs the builder") {
    val root = tmpDir("bl_replay")
    val indexRoot = s"$root/bloomidx"
    graft.sources.TransactionalLake.commitEpoch((1L to 100L).toDF("k")
      .repartition(2, col("k")), root, 0L, partitionCols = Nil)
    var builds = 0
    def counting(path: String) = { builds += 1; bloom(path) }
    FileIndexLake.append(spark, root, indexRoot, 0L)(counting)
    FileIndexLake.append(spark, root, indexRoot, 0L)(counting)
    assert(builds === 1, "a replayed epoch must not list or infer its files again")
    assert(FileIndexLake.read(spark, indexRoot).count() === 2)
  }
}
