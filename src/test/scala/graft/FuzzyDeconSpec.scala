package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Fuzzy (MinHash-banded) eval decontamination
  * ([[Dedup.decontaminateFuzzy]]): doc-level 3-shingle Jaccard across
  * the train/eval boundary catches paraphrase-shaped leakage that the
  * exact 8-gram pass structurally cannot see, at banded-candidate cost. */
class FuzzyDeconSpec extends SparkSpec {
  import spark.implicits._

  // the eval item leaked into training with its sentences REORDERED
  // (adjacent swaps). Sentences are 7 tokens, so every 8-gram crosses a
  // junction and every junction differs — ZERO shared 8-grams — while
  // all 35 within-sentence 3-shingles survive: Jaccard 35/59 ≈ 0.593
  private val sentences: Seq[Seq[String]] =
    (1 to 7).map(s => (1 to 7).map(t => s"s${s}t$t"))
  private val evalText = sentences.flatten.mkString(" ")
  private val leakText = Seq(1, 0, 3, 2, 5, 4, 6)
    .flatMap(sentences(_)).mkString(" ")
  private def noise(i: Int) =
    (1 to 26).map(k => s"n${i}w$k").mkString(" ")

  private lazy val train =
    ((1L, leakText) +: (2L to 8L).map(i => (i, noise(i.toInt))))
      .toDF("doc_id", "text")
  private lazy val evalSet =
    Seq((100L, evalText), (101L, noise(101))).toDF("doc_id", "text")

  test("catches a paraphrased leak the exact 8-gram pass misses") {
    val exact = Dedup.decontaminate(train, evalSet, "doc_id", "text", k = 8)
      .collect()
    assert(exact.isEmpty, s"fixture broken: 8-gram pass found $exact")
    val fuzzy = Dedup.decontaminateFuzzy(train, evalSet, "doc_id", "text",
      k = 3, threshold = 0.5).collect()
    assert(fuzzy.length == 1)
    val r = fuzzy.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 100L)
    assert(r.getDouble(2) > 0.5 && r.getDouble(2) < 1.0)
  }

  test("equals the exact cross-set join at the same threshold") {
    // brute-force ground truth over all train x eval pairs
    val sh = (df: org.apache.spark.sql.DataFrame, as: String) =>
      df.select(col("doc_id").as(as),
        graft.functions.TextFunctions.shingleSet(col("text"), 3).as(s"sh_$as"))
    val truth = sh(train, "train_id").crossJoin(sh(evalSet, "eval_id"))
      .withColumn("jaccard",
        graft.functions.TextFunctions.jaccard(col("sh_train_id"), col("sh_eval_id")))
      .filter(col("jaccard") >= 0.5)
      .select("train_id", "eval_id", "jaccard")
      .orderBy("train_id", "eval_id").collect().toSeq
    val got = Dedup.decontaminateFuzzy(train, evalSet, "doc_id", "text",
      k = 3, threshold = 0.5)
      .orderBy("train_id", "eval_id").collect().toSeq
    assert(got == truth)
  }

  test("streamed quarantine log equals the one-shot fuzzy pass") {
    val base = s"${GraftSession.scratchRoot}/tmp/fuzzy_decon_spec"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    (0 until 2).foreach(i => train.filter(col("doc_id") % 2 === i)
      .coalesce(1).write.mode("append").json(s"$base/in"))
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val q = graft.streaming.StreamingDedup.startDecontaminateFuzzy(
      spark.readStream.schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
        .option("maxFilesPerTrigger", 1).json(s"$base/in"),
      evalSet, "doc_id", "text", base, s"$base/ckpt",
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination()
    val streamed = graft.streaming.StreamingDedup
      .fuzzyQuarantineLog(spark, base)
      .orderBy("train_id", "eval_id").collect().toSeq
    val oneShot = Dedup.decontaminateFuzzy(train, evalSet, "doc_id", "text",
      k = 3, threshold = 0.5)
      .orderBy("train_id", "eval_id").collect().toSeq
    assert(streamed == oneShot && streamed.nonEmpty)
  }

  test("clean corpora produce no pairs") {
    val got = Dedup.decontaminateFuzzy(
      (2L to 8L).map(i => (i, noise(i.toInt))).toDF("doc_id", "text"),
      evalSet, "doc_id", "text", k = 3, threshold = 0.5).collect()
    assert(got.isEmpty)
  }

  test("sink job budget: startDecontaminateFuzzy's micro-batch") {
    val base = tmpDir("fuzzy_decon_budget")
    train.coalesce(1).write.mode("append").json(s"$base/in")
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val jobs = jobsOfOneBatch(() => graft.streaming.StreamingDedup.startDecontaminateFuzzy(
      spark.readStream.schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))).json(s"$base/in"),
      evalSet, "doc_id", "text", base, s"$base/ckpt",
      org.apache.spark.sql.streaming.Trigger.AvailableNow()))
    info(s"jobs per micro-batch: $jobs")
    assert(graft.streaming.StreamingDedup.fuzzyQuarantineLog(spark, base)
      .select("train_id").as[Long].collect().toSeq == Seq(1L))
    assert(jobs == 10) // parent: 10
  }
}
