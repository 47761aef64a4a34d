package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Incremental substring-dedup index ([[Dedup.commitSubstringBatch]]):
  * the index-served per-doc longest repeat must equal the one-shot
  * [[Dedup.longestDupSubstrings]] on the union corpus — including
  * repeats whose two sides land in DIFFERENT batches (the later batch
  * must also improve the EARLIER doc's best) — and survive crash
  * replays, retention folds, and the in-plan anchor budget. */
class SubstringIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() = tmpDir("ssidx_")

  private val shared = (1 to 12).map(i => s"common$i").mkString(" ")
  private def filler(i: Long, n: Int) =
    (1 to n).map(k => s"u${i}w$k").mkString(" ")
  // doc 1 (batch 1: 1 % 3): carries `shared` early; doc 6 (batch 0):
  // carries it late — a CROSS-BATCH repeat, plus a same-batch pair
  // (3, 9) and repeat-free docs
  private val corpus = Seq(
    (1L, s"$shared ${filler(1, 20)}"),
    (2L, filler(2, 25)),
    (3L, s"${filler(3, 5)} $shared ${filler(33, 5)}"),
    (6L, s"${filler(6, 9)} $shared"),
    (9L, s"${filler(9, 11)} $shared ${filler(99, 3)}"),
    (10L, filler(10, 30))).toDF("doc_id", "text")

  private def commitAll(root: String): Unit =
    (0 until 3).foreach(i => Dedup.commitSubstringBatch(
      corpus.filter(col("doc_id") % 3 === i), "doc_id", "text", root,
      i.toLong))

  private def served(root: String): Map[Long, (Long, Long)] =
    Dedup.longestDupSubstringsFromIndex(spark, root).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  private lazy val oneShot: Map[Long, (Long, Long)] =
    Dedup.longestDupSubstrings(corpus, "doc_id", "text", minWords = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("index-served == one-shot, including cross-batch repeats") {
    val root = freshRoot()
    commitAll(root)
    assert(served(root) === oneShot)
    // the planted repeats actually exercise both cases
    assert(oneShot.keySet === Set(1L, 3L, 6L, 9L))
    assert(oneShot(1L)._1 === 12L) // the 12-word shared run
  }

  test("index-served == one-shot on the sf0.001 documents table") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val root = freshRoot()
    (0 until 3).foreach(i => Dedup.commitSubstringBatch(
      docs.filter(col("doc_id") % 3 === i), "doc_id", "text", root, i.toLong))
    val inc = served(root)
    val one = Dedup.longestDupSubstrings(docs, "doc_id", "text", minWords = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(inc === one)
  }

  test("epoch replay is a no-op; a fold keeps the read identical") {
    val root = freshRoot()
    commitAll(root)
    val before = served(root)
    // crash-replay: re-commit an already-committed batch
    Dedup.commitSubstringBatch(corpus.filter(col("doc_id") % 3 === 1),
      "doc_id", "text", root, 1L)
    assert(served(root) === before)
    // retention fold of the aged epochs
    assert(Dedup.foldSubstringIndex(spark, root, upTo = 1L) === ((2, 2)))
    assert(served(root) === before)
  }

  private def appendFile(base: String, i: Int): Unit =
    corpus.filter(col("doc_id") % 3 === i).coalesce(1).write.mode("append").json(s"$base/in")

  private def startStream(base: String) = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    graft.streaming.StreamingDedup.startSubstringIndex(
      spark.readStream.schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
        .option("maxFilesPerTrigger", 1).json(s"$base/in"),
      "doc_id", "text", s"$base/idx", s"$base/ckpt",
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
  }

  test("streamed index (with forced crash replay) == one-shot") {
    val base = tmpDir("ssub_stream_")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    (0 until 3).foreach(appendFile(base, _))
    def run(): Unit = graft.streaming.StreamingIngest.awaitWithRestartRetry(() =>
      startStream(base))
    run()
    // crash: drop the final stream commit; the replayed epoch must be
    // absorbed by the idempotent grams/best commits
    val commits = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$base/ckpt/commits"))
      .map(_.getPath.getName).filterNot(_.startsWith(".")).map(_.toLong).sorted
    graft.streaming.StreamingIngest.dropCommit(spark, s"$base/ckpt", commits.last)
    run()
    assert(served(s"$base/idx") === oneShot)
  }

  test("duplicationReport aggregates per-doc repeats by source") {
    val df = corpus.withColumn("source",
      when(col("doc_id") <= 6, "sA").otherwise("sB"))
    val got = graft.operators.TextAnalysis
      .duplicationReport(df, "doc_id", "text", "source", minWords = 8)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))).toMap
    val tokens = corpus.collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ")
        .count(_.nonEmpty).toLong).toMap
    def expect(ids: Seq[Long]) = {
      val dups = ids.flatMap(id => oneShot.get(id).map(_._1))
      (ids.size.toLong, dups.size.toLong,
        if (dups.isEmpty) 0L else dups.max,
        java.math.BigDecimal.valueOf(
          dups.sum.toDouble / ids.map(tokens).sum.toDouble)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue)
    }
    assert(got("sA") === expect(Seq(1L, 2L, 3L, 6L)))
    assert(got("sB") === expect(Seq(9L, 10L)))
  }

  test("a crash between the gram and df commits of an epoch recovers on replay") {
    val root = freshRoot()
    commitAll(root)
    // the crash window: epoch 2's gram postings are committed, its df
    // delta and best delta are not (neither manifest entry nor data)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    Seq("df", "best").foreach { lake =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/$lake/_manifest/2"), false)
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/$lake/data/epoch=2"), true)
    }
    assert(graft.sources.TransactionalLake.isCommitted(spark, s"$root/grams", 2L))
    assert(!graft.sources.TransactionalLake.isCommitted(spark, s"$root/df", 2L))
    // replay epoch 2: the gram commit is a no-op, the df delta is
    // recounted from the committed postings
    Dedup.commitSubstringBatch(corpus.filter(col("doc_id") % 3 === 2),
      "doc_id", "text", root, 2L)
    val T = graft.sources.TransactionalLake
    val dfLake = T.readCommitted(spark, s"$root/df").groupBy("gkey")
      .agg(sum(col("cnt")).as("n")).as[(Long, Long)].collect().toMap
    val recount = T.readCommitted(spark, s"$root/grams").groupBy("gkey")
      .agg(count(lit(1)).as("n")).as[(Long, Long)].collect().toMap
    assert(recount.nonEmpty)
    assert(dfLake === recount)
    assert(served(root) === oneShot)
  }

  test("anchor budget refuses loudly at commit time") {
    val root = freshRoot()
    val same = (1 to 10).map(i => s"b$i").mkString(" ")
    val spam = (1L to 30L).map(i => i -> same).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.commitSubstringBatch(spam, "doc_id", "text", root, 0L,
        maxAnchorPairs = 10L)
    }
    assert(e.getMessage != null && e.getMessage.contains("maxAnchorPairs"))
  }

  test("sink job budget: startSubstringIndex's first and later micro-batch") {
    val base = tmpDir("ssub_budget_")
    appendFile(base, 0)
    val first = jobsOfOneBatch(() => startStream(base))
    appendFile(base, 1)
    val later = jobsOfOneBatch(() => startStream(base))
    info(s"jobs per micro-batch: $first on the first epoch, $later on a later one")
    assert(first == 6 && later == 6) // parent: 6, 6
  }

  test("a streamed epoch crashed after the gram commit, or after grams + df, recovers") {
    Seq("grams" -> Seq("df", "best"), "grams + df" -> Seq("best")).foreach {
      case (committed, lost) =>
        val base = tmpDir("ssub_crash_")
        def run(): Unit = graft.streaming.StreamingIngest.awaitWithRestartRetry(() =>
          startStream(base))
        (0 until 2).foreach(appendFile(base, _))
        run()
        crashAfterCommits(s"$base/ckpt", 1L, lost.map(l => s"$base/idx/$l"))
        val T = graft.sources.TransactionalLake
        assert(T.isCommitted(spark, s"$base/idx/grams", 1L))
        assert(!T.isCommitted(spark, s"$base/idx/best", 1L))
        appendFile(base, 2)
        run()
        assert(served(s"$base/idx") === oneShot, s"after $committed")
        // no epoch counted twice: the additive df lake equals a recount
        // of the postings, and no posting is duplicated
        val grams = T.readCommitted(spark, s"$base/idx/grams").drop("epoch")
        assert(grams.count() === grams.distinct().count(), s"after $committed")
        val dfLake = T.readCommitted(spark, s"$base/idx/df").groupBy("gkey")
          .agg(sum(col("cnt")).as("n")).as[(Long, Long)].collect().toMap
        val recount = grams.groupBy("gkey").agg(count(lit(1)).as("n"))
          .as[(Long, Long)].collect().toMap
        assert(recount.nonEmpty && dfLake === recount, s"after $committed")
    }
  }
}
