package graft

import graft.sources.{KeyedView => K, TransactionalLake => T}
import org.apache.spark.sql.functions._

/** Keyed incremental view maintenance over a MERGE lake: convergence to
  * the resolved-merge aggregate under upserts/tombstones/group moves,
  * bucket-level incrementality (untouched key-index buckets are never
  * rewritten), key-index ≡ resolved state, and the versioned-marker
  * commit's crash-window guarantees. */
class KeyedViewSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: Long*) =
    ids.toDF("k").select(col("k"),
      concat(lit("g"), col("k") % 2).as("grp"),
      (col("k").cast("double") * 1.01).as("value"))

  private def noDeletes = rows().select("k")

  private def refresh(lake: String, view: String): Long =
    K.refresh(spark, lake, view, "k", "grp", "value")

  private def stateOf(view: String): Map[String, (Long, BigDecimal)] =
    K.read(spark, view).collect()
      .map(r => r.getString(0) -> ((r.getLong(1),
        BigDecimal(r.getDecimal(2))))).toMap

  /** view state recomputed from the lake's resolved merge view. */
  private def oneShot(lake: String): Map[String, (Long, BigDecimal)] =
    T.readMerged(spark, lake, Seq("k"))
      .groupBy("grp").agg(count(lit(1)).cast("long").as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(28,2)").as("total"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        BigDecimal(r.getDecimal(2))))).toMap

  test("incremental refreshes track the resolved merge state through " +
    "upserts, tombstones, and group moves") {
    val lake = tmpDir("kv_lake"); val view = tmpDir("kv_view")
    T.mergeCommit(rows(1L, 2L, 3L, 4L, 5L, 6L), noDeletes, lake, 0L, Seq("k"))
    assert(refresh(lake, view) == 0L)
    assert(stateOf(view) == oneShot(lake))
    // same-group value upsert (k=2: 2.02 -> 20.20) + tombstone (k=3)
    T.mergeCommit(
      rows(2L).withColumn("value", lit(20.20)),
      Seq(3L).toDF("k"), lake, 1L, Seq("k"))
    assert(refresh(lake, view) == 1L)
    assert(stateOf(view) == oneShot(lake))
    // group MOVE (k=4: g0 -> gX) + re-insert of the deleted k=3
    T.mergeCommit(
      rows(4L).withColumn("grp", lit("gX"))
        .unionByName(rows(3L)), noDeletes, lake, 2L, Seq("k"))
    assert(refresh(lake, view) == 2L)
    val s = stateOf(view)
    assert(s == oneShot(lake))
    assert(s("gX") == ((1L, BigDecimal("4.04"))))
    assert(s("g0") == ((2L, BigDecimal("26.26")))) // k=2 (20.20) + k=6 (6.06) — k=4 moved out
    // a group drained to cnt=0 disappears
    T.mergeCommit(rows().limit(0), Seq(4L).toDF("k"), lake, 3L, Seq("k"))
    assert(refresh(lake, view) == 3L)
    assert(!stateOf(view).contains("gX"))
    assert(stateOf(view) == oneShot(lake))
  }

  private def mcommit(root: String, e: Long,
                      ups: Seq[(Long, String, Double)],
                      dels: Seq[Long]): Unit =
    T.mergeCommit(ups.toDF("k", "grp", "value"), dels.toDF("k"), root, e,
      Seq("k"))

  test("group moves, tombstones, vanishing and untouched groups") {
    val lake = tmpDir("mv_lake"); val view = tmpDir("mv_view")
    mcommit(lake, 0L, Seq((1L, "gA", 1.00), (2L, "gA", 2.00),
      (3L, "gB", 3.00), (4L, "gC", 4.00)), Nil)
    assert(refresh(lake, view) == 0L)
    assert(stateOf(view) == Map(
      "gA" -> ((2L, BigDecimal("3.00"))),
      "gB" -> ((1L, BigDecimal("3.00"))),
      "gC" -> ((1L, BigDecimal("4.00")))))
    // epoch 1: k1 MOVES gA->gB with a new value; k3 tombstoned; gC untouched
    mcommit(lake, 1L, Seq((1L, "gB", 10.00)), Seq(3L))
    assert(refresh(lake, view) == 1L)
    assert(stateOf(view) == Map(
      "gA" -> ((1L, BigDecimal("2.00"))), // shrank via k1's OLD placement
      "gB" -> ((1L, BigDecimal("10.00"))), // k3 gone, k1 moved in
      "gC" -> ((1L, BigDecimal("4.00"))))) // carried forward
    // epoch 2: delete-only — gB empties and must VANISH from the state
    mcommit(lake, 2L, Nil, Seq(1L))
    assert(refresh(lake, view) == 2L)
    assert(stateOf(view) == Map(
      "gA" -> ((1L, BigDecimal("2.00"))),
      "gC" -> ((1L, BigDecimal("4.00")))))
  }

  test("batched refreshes equal the one-shot over the resolved lake") {
    val lake = tmpDir("mvf_lake")
    val inc = tmpDir("mvf_inc"); val one = tmpDir("mvf_one")
    mcommit(lake, 0L, Seq((1L, "gA", 1.00), (2L, "gB", 2.00)), Nil)
    refresh(lake, inc)
    mcommit(lake, 1L, Seq((1L, "gB", 5.00), (3L, "gA", 7.00)), Seq(2L))
    refresh(lake, inc)
    mcommit(lake, 2L, Seq((2L, "gA", 9.00)), Nil) // re-insert deleted key
    assert(refresh(lake, inc) == 2L)
    assert(refresh(lake, one) == 2L) // one refresh over the whole history
    assert(stateOf(inc) == stateOf(one))
    assert(stateOf(inc) == Map(
      "gA" -> ((2L, BigDecimal("16.00"))), // k3 7.00 + k2 9.00
      "gB" -> ((1L, BigDecimal("5.00"))))) // k1 moved in
  }

  test("key index equals the resolved merge state after refreshes") {
    val lake = tmpDir("kv_idx_lake"); val view = tmpDir("kv_idx_view")
    T.mergeCommit(rows(1L to 40L: _*), noDeletes, lake, 0L, Seq("k"))
    refresh(lake, view)
    T.mergeCommit(rows(7L).withColumn("grp", lit("gZ")),
      Seq(11L, 13L).toDF("k"), lake, 1L, Seq("k"))
    refresh(lake, view)
    val idx = K.readKeyIndex(spark, view)
      .select(col("k"), col("g"), col("v")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val expected = T.readMerged(spark, lake, Seq("k"))
      .select("k", "grp", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(idx == expected)
    assert(!idx.exists(t => t._1 == 11L || t._1 == 13L))
  }

  test("a refresh rewrites ONLY the buckets containing changed keys") {
    val lake = tmpDir("kv_bkt_lake"); val view = tmpDir("kv_bkt_view")
    T.mergeCommit(rows(1L to 200L: _*), noDeletes, lake, 0L, Seq("k"))
    refresh(lake, view)
    // one changed key -> exactly one bucket may gain a v1 version dir
    T.mergeCommit(rows(42L).withColumn("value", lit(9.99)),
      noDeletes, lake, 1L, Seq("k"))
    refresh(lake, view)
    val f = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val rewritten = f.listStatus(new org.apache.hadoop.fs.Path(s"$view/keyidx"))
      .filter(b => f.exists(new org.apache.hadoop.fs.Path(
        s"${b.getPath}/v1")))
    assert(rewritten.length == 1)
    // the untouched buckets still serve from their v0 dirs, and the full
    // index is still exactly the resolved state
    val idx = K.readKeyIndex(spark, view)
    assert(idx.count() == 200L)
    assert(idx.filter(col("k") === 42L).select("v")
      .head().getDouble(0) == 9.99)
  }

  test("a crashed refresh is invisible to readers and retry-safe") {
    val lake = tmpDir("kv_crash_lake"); val view = tmpDir("kv_crash_view")
    T.mergeCommit(rows(1L, 2L, 3L), noDeletes, lake, 0L, Seq("k"))
    refresh(lake, view)
    val committed = stateOf(view)
    T.mergeCommit(rows(2L).withColumn("value", lit(50.0)),
      noDeletes, lake, 1L, Seq("k"))
    // simulate a crash AFTER state + bucket writes but BEFORE the marker:
    // plant an orphan state dir and an orphan bucket version by hand, in
    // the bucket the retry will touch (a crashed attempt only ever writes
    // its deterministic touched set, so that is where orphans can exist)
    val keyBucket = rows(2L)
      .select(pmod(xxhash64(col("k")), lit(K.DefaultBuckets.toLong)))
      .head().getLong(0)
    rows(999L).select(col("grp").as("g"), lit(9L).as("cnt"),
        lit(BigDecimal("9.99")).cast("decimal(28,2)").as("total"))
      .write.mode("overwrite").parquet(s"$view/state_v1")
    rows(999L).select(col("k"), col("grp").as("g"), col("value").as("v"))
      .write.mode("overwrite").parquet(s"$view/keyidx/kb=$keyBucket/v1")
    assert(K.cursor(spark, view) == 0L) // marker absent -> readers unmoved
    assert(stateOf(view) == committed)
    assert(K.readKeyIndex(spark, view).filter(col("k") === 999L).count() == 0L)
    // the retry overwrites the orphans and commits the true head
    assert(refresh(lake, view) == 1L)
    assert(stateOf(view) == oneShot(lake))
    assert(K.readKeyIndex(spark, view).filter(col("k") === 999L).count() == 0L)
  }
}
