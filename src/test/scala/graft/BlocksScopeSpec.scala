package graft

import graft.operators.Blocks

/** `Blocks.scope` fails loud: every enrolled release runs, and a release
  * failure surfaces — rethrown after a clean body, suppressed under a
  * failing one. */
class BlocksScopeSpec extends SparkSpec {

  private def checkpointed() = {
    val df = spark.range(10).toDF("id").localCheckpoint(true)
    val id = df.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id
    (df, id)
  }
  private def resident(id: Int): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(id)

  test("a planted release failure is rethrown after every frame is released") {
    val (df, id) = checkpointed()
    val planted = new IllegalStateException("planted release failure")
    val e = intercept[IllegalStateException] {
      Blocks.scope {
        Blocks.enroll(() => throw planted)
        Blocks.scoped(df)
        Blocks.enroll(() => throw new IllegalStateException("second failure"))
        42
      }
    }
    assert(e eq planted, "the FIRST release failure surfaces")
    assert(!resident(id), "the frame enrolled after the failing release was still released")
  }

  test("a failing body keeps its exception and carries the release failure as suppressed") {
    val (df, id) = checkpointed()
    val planted = new IllegalStateException("planted release failure")
    val body = new RuntimeException("body failure")
    val e = intercept[RuntimeException] {
      Blocks.scope {
        Blocks.scoped(df)
        Blocks.enroll(() => throw planted)
        throw body
      }
    }
    assert(e eq body)
    assert(e.getSuppressed.toSeq == Seq(planted))
    assert(!resident(id))
  }

  test("scoped with no open scope throws, names the thread and releases the frame") {
    val (df, id) = checkpointed()
    val e = intercept[IllegalStateException](Blocks.scoped(df))
    assert(e.getMessage.contains(Thread.currentThread().getName))
    assert(!resident(id), "the frame enrolled nowhere still holds its blocks")
  }

  test("a clean scope returns the body's value and releases its frames") {
    val (df, id) = checkpointed()
    assert(Blocks.scope { Blocks.scoped(df).count() } == 10L)
    assert(!resident(id))
  }
}
