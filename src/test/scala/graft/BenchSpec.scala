package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

/** The bench's timer, fingerprint and error accounting. */
class BenchSpec extends SparkSpec {

  test("timeToResult materialises projected columns that a count would prune") {
    val acc = spark.sparkContext.longAccumulator("bench_udf_rows")
    val bump = udf { (x: Long) => acc.add(1); x }
    def df = spark.range(1000).withColumn("x", bump(col("id")))
    df.count()
    assert(acc.value == 0L, "a count timer never evaluates the projected column")
    assert(Bench.timeToResult(df) >= 0.0)
    assert(acc.value == 1000L)
  }

  test("fingerprint: order-free, value-sensitive, nulls and duplicate names") {
    import spark.implicits._
    val rows = Seq((1L, "a"), (2L, "b"), (3L, "c"))
    val base = Bench.fingerprint(rows.toDF("k", "v"))
    assert(base.startsWith("3:"))
    assert(Bench.fingerprint(rows.reverse.toDF("k", "v").repartition(3)) == base)
    assert(Bench.fingerprint(Seq((1L, "a"), (2L, "b"), (3L, "d")).toDF("k", "v")) != base)

    val withNull = rows.toDF("k", "v").withColumn("n", lit(null).cast("string"))
    assert(Bench.fingerprint(withNull) == base, "xxhash64 skips nulls")
    val dup = rows.toDF("k", "v").select(col("k"), col("v"), col("k"))
    assert(dup.columns.toSeq == Seq("k", "v", "k"))
    val fpDup = Bench.fingerprint(dup)
    assert(fpDup.startsWith("3:") && fpDup != base)

    val withMap = rows.toDF("k", "v").withColumn("m", map(col("v"), col("k")))
    intercept[AnalysisException](Bench.fingerprint(withMap))
  }

  test("an entry that throws lands in errors and stays out of the total") {
    val ok = Bench.measure(spark, () => spark.range(10).toDF())
    val boom = Bench.measure(spark, () => throw new IllegalStateException("planted"))
    assert(ok.isRight && ok.toOption.get.reps.size == 3)
    assert(boom == Left("IllegalStateException: planted"))
    val results = Seq("ok" -> ok, "boom" -> boom)
    assert(Bench.total(results) == ok.toOption.get.median)

    val rec = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Bench.record(results, 0.0, 1.0, "sf"))
    assert(rec.get("timed_to").asText == "noop")
    assert(rec.get("value").asDouble == ok.toOption.get.median)
    assert(rec.get("errors").get("boom").asText == "IllegalStateException: planted")
    assert(!rec.get("queries").has("boom") && rec.get("queries").has("ok"))
    assert(rec.get("fingerprints").get("ok").asText == "10:" +
      spark.range(10).select(sum(xxhash64(col("id")).cast("decimal(38,0)"))).head().getDecimal(0)
        .toBigInteger)
  }
}
