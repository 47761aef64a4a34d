package graft

import org.apache.spark.sql.functions._

/** Bucketing: pre-shuffle both sides of a recurring join key at write
  * time, so the join itself needs NO exchange — the co-location strategy
  * for repeated large-large joins at 100 TB (amortize one shuffle into
  * the layout). */
class BucketingSpec extends SparkSpec {

  test("bucketed-by-key join plans with zero shuffle exchanges") {
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    // the in-memory catalog resets per JVM but the warehouse dirs persist
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    Seq("li_bucketed", "ord_bucketed").foreach { t =>
      fs.delete(new org.apache.hadoop.fs.Path(
        s"${spark.sessionState.conf.warehousePath}/$t"), true)
    }
    Tables.load(spark, sf0001, "lineitem")
      .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_bucketed")
    Tables.load(spark, sf0001, "orders")
      .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("ord_bucketed")
    val joined = spark.table("li_bucketed")
      .join(spark.table("ord_bucketed").hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    val shuffles = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("REQUIRED_BY_STATEFUL"))
    // the join reads bucket-aligned files: only the final small aggregate
    // may exchange, the JOIN itself must not
    assert(plan.contains("SortMergeJoin"), plan.take(800))
    assert(shuffles <= 1, s"expected bucketed join without join-side shuffles:\n$plan")
    assert(joined.count() > 0)
  }
}
