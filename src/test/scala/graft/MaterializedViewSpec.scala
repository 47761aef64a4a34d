package graft

import graft.sources.{MaterializedView => V, TransactionalLake => T}
import org.apache.spark.sql.functions._

/** Incremental view maintenance: refresh-order independence, no-op and
  * crash-replay idempotence, and the versioned-marker commit's reader
  * guarantees (an interrupted refresh never changes what readers see). */
class MaterializedViewSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: Long*) =
    ids.toDF("k").select(col("k"),
      concat(lit("g"), col("k") % 2).as("grp"),
      (col("k").cast("double") * 1.01).as("value"))

  private def commit(root: String, e: Long, ids: Long*): Unit =
    T.commitEpoch(rows(ids: _*), root, e, partitionCols = Nil)

  private def stateOf(view: String): Map[String, (Long, BigDecimal)] =
    V.read(spark, view).collect()
      .map(r => r.getString(0) -> ((r.getLong(1),
        BigDecimal(r.getDecimal(2))))).toMap

  test("epoch-at-a-time refreshes converge to the one-shot state") {
    val lake = tmpDir("ivm_lake"); val inc = tmpDir("ivm_inc")
    val one = tmpDir("ivm_one")
    commit(lake, 0L, 1L, 2L, 3L)
    assert(V.refresh(spark, lake, inc, Seq("grp"), "value") == 0L)
    commit(lake, 1L, 4L, 5L)
    assert(V.refresh(spark, lake, inc, Seq("grp"), "value") == 1L)
    // one-shot view over the same lake
    assert(V.refresh(spark, lake, one, Seq("grp"), "value") == 1L)
    assert(stateOf(inc) == stateOf(one))
    // exact decimal totals: 1.01+3.03+5.05 and 2.02+4.04
    assert(stateOf(inc)("g1") == ((3L, BigDecimal("9.09"))))
    assert(stateOf(inc)("g0") == ((2L, BigDecimal("6.06"))))
  }

  test("refresh with no new epochs is a no-op; cursor never regresses") {
    val lake = tmpDir("ivm_noop_lake"); val view = tmpDir("ivm_noop_view")
    commit(lake, 0L, 1L, 2L)
    assert(V.refresh(spark, lake, view, Seq("grp"), "value") == 0L)
    val before = stateOf(view)
    assert(V.refresh(spark, lake, view, Seq("grp"), "value") == 0L)
    assert(stateOf(view) == before)
  }

  test("a crashed refresh attempt is invisible to readers and retry-safe") {
    val lake = tmpDir("ivm_crash_lake"); val view = tmpDir("ivm_crash_view")
    commit(lake, 0L, 1L, 2L)
    V.refresh(spark, lake, view, Seq("grp"), "value")
    val committed = stateOf(view)
    commit(lake, 1L, 3L)
    // simulate a crash AFTER the state write but BEFORE the marker: write
    // an orphan state dir for the new head by hand
    rows(999L).groupBy("grp")
      .agg(count(lit(1)).cast("long").as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(28,2)").as("total"))
      .write.mode("overwrite").parquet(s"$view/state_v1")
    assert(V.cursor(spark, view) == 0L) // marker absent -> readers unmoved
    assert(stateOf(view) == committed)
    // the retry overwrites the orphan and commits the true head
    assert(V.refresh(spark, lake, view, Seq("grp"), "value") == 1L)
    assert(stateOf(view)("g1") == ((2L, BigDecimal("4.04")))) // 1.01 + 3.03
    assert(stateOf(view)("g0") == ((1L, BigDecimal("2.02"))))
  }
}
