package graft

import graft.operators.Blocks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `Blocks.copyOut` is one eager reliable checkpoint: a fresh lineage is
  * evaluated exactly once (a narrow plan in one job), and the result
  * holds no blocks. A Spark whose eager checkpoint materializes the plan
  * and then recomputes it for the checkpoint write fails here. */
class CopyOutSpec extends SparkSpec {

  private val n = 20000L

  /** `n` rows through a UDF that counts its calls; nondeterministic, so
    * the optimizer can neither fold nor duplicate it. */
  private def counted() = {
    val calls = spark.sparkContext.longAccumulator("copyOut-calls")
    val tick = udf { (id: Long) => calls.add(1); id }.asNondeterministic()
    (spark.range(n).select(tick(col("id")).as("id")), calls)
  }

  private val shapes = Seq[(String, DataFrame => DataFrame)](
    "narrow" -> (_.select(col("id"), (col("id") % 7).as("k"))),
    "aggregate" -> (_.groupBy((col("id") % 7).as("k")).agg(count(lit(1)).as("c"))),
    "join" -> (_.join(spark.range(0, n, 3).toDF("id"), "id")))

  shapes.foreach { case (shape, plan) =>
    test(s"a fresh $shape lineage is evaluated exactly once") {
      val (src, calls) = counted()
      val out = Blocks.copyOut(plan(src))
      assert(calls.value == n, s"$shape: the input was evaluated ${calls.value} times over")
      out.count() // reads the checkpoint files, not the lineage
      assert(calls.value == n)
    }
  }

  test("a narrow plan is copied out in exactly one job") {
    val (src, _) = counted()
    val df = shapes.head._2(src)
    val jobs = jobsIn { Blocks.copyOut(df); () }
    assert(jobs == 1, s"copyOut of a narrow plan ran $jobs jobs")
  }

  test("the result holds no blocks and survives an unpersist-all sweep") {
    val (src, _) = counted()
    val out = Blocks.copyOut(shapes(1)._2(src))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"copyOut left blocks: ${spark.sparkContext.getPersistentRDDs.keys}")
    val rows = out.collect().toSet
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
    assert(out.collect().toSet == rows)
  }
}
