package graft

import graft.operators.Dedup
import graft.streaming.{StreamingDedup, StreamingIngest}
import graft.sources.TransactionalLake
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The streaming dedup stage: per-batch incremental pairs against the
  * accumulated transactional corpus/index, exactly-once across a forced
  * replay, artifacts equal to their one-shot builds. */
class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  // planted near-dups SPANNING batches: (1,101) land in different
  // micro-batches, (2,102) in the same one — both must surface
  private val docsSeq = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "pack my box with five dozen liquor jugs for the long winter"),
    (3L, "completely unrelated text about spark catalyst optimizer rules"),
    (101L, "the quick brown fox jumps over the lazy dog again and again today"),
    (102L, "pack my box with five dozen liquor jugs for the long winter dup"),
    (103L, "another unrelated document mentioning parquet row groups only"))

  private def appendFile(base: String, rows: Seq[(Long, String)]): Unit =
    rows.toDF("doc_id", "text").coalesce(1).write.mode("append").json(s"$base/in")

  private def docStream(base: String) =
    spark.readStream.schema(docSchema).option("maxFilesPerTrigger", 1).json(s"$base/in")

  test("graph-metric maintenance: O(touched) deltas, crash-resume, state equals one-shot") {
    val base = tmpDir("gsm_spec")
    // K4 {1,2,3,4} + pendant, delivered as three pair epochs
    val eps = Seq(
      Seq(1L -> 2L, 3L -> 4L),
      Seq(2L -> 3L, 1L -> 4L),
      Seq(1L -> 3L, 2L -> 4L, 4L -> 5L))
    eps.zipWithIndex.foreach { case (pairs, i) =>
      TransactionalLake.commitEpoch(pairs.toDF("id_a", "id_b"),
        StreamingDedup.pairsRoot(base), i.toLong, partitionCols = Nil)
    }
    assert(StreamingDedup.maintainGraphMetrics(spark, base) === Seq(0L, 1L, 2L))
    assert(StreamingDedup.maintainGraphMetrics(spark, base).isEmpty)
    // delta commits are O(touched): epoch 0's delta carries exactly the
    // 4 endpoint nodes, not the whole eventual node set
    val e0 = TransactionalLake.readCommitted(spark,
      StreamingDedup.graphMetricsRoot(base))
      .filter(col("epoch") === "0")
    assert(e0.count() === 4)
    val state = StreamingDedup.graphMetricState(spark, base)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val oneShot = graft.operators.Graph.triangles(
      eps.flatten.toDF("src", "dst"), "src", "dst")
      .select("id", "degree", "tri_count")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(state === oneShot)
    // crash between pair commit and metric commit: a new pair epoch with
    // no metric epoch — resume applies exactly the missing one
    TransactionalLake.commitEpoch(Seq(5L -> 6L).toDF("id_a", "id_b"),
      StreamingDedup.pairsRoot(base), 3L, partitionCols = Nil)
    assert(StreamingDedup.maintainGraphMetrics(spark, base) === Seq(3L))
    val after = StreamingDedup.graphMetricState(spark, base)
      .filter(col("id").isin(5L, 6L))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(after === Map(5L -> ((2L, 0L)), 6L -> ((1L, 0L))))
  }

  test("streaming pair log equals one-shot pairs; index accumulates; replay is exactly-once") {
    val base = tmpDir("sdedup")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val full = docsSeq.toDF("doc_id", "text")
    // three single-file batches: ids 1..3 | 101,102 | 103
    Seq(docsSeq.take(3), docsSeq.slice(3, 5), docsSeq.drop(5)).foreach(appendFile(base, _))
    def run(): Unit = StreamingIngest.awaitWithRestartRetry(() =>
      StreamingDedup.start(docStream(base),
        "doc_id", "text", base, s"$base/ckpt", Trigger.AvailableNow(),
        k = 3, threshold = 0.5))
    run()
    val oneShot = Dedup.ngramJaccardPairs(full, "doc_id", "text", k = 3,
      threshold = 0.5).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(oneShot.nonEmpty, "fixture must plant cross-batch near-dups")
    def logSet = StreamingDedup.pairLog(spark, base)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    val first = logSet
    assert(first.toSet == oneShot,
      s"streamed pair log ${first.toSet} must equal one-shot $oneShot")
    assert(first.size == first.distinct.size, "no duplicate pairs")
    // accumulated index == one-shot index over the full corpus
    val idx = TransactionalLake.readCommitted(spark, StreamingDedup.indexRoot(base))
      .drop("epoch").as[(Long, Int, Int, Int, Int)].collect().toSet
    val idxOneShot = Dedup.minhashBandIndex(full, "doc_id", "text")
      .as[(Long, Int, Int, Int, Int)].collect().toSet
    assert(idx == idxOneShot)
    // POST-COMMIT canonical maintenance: the delta epochs folded
    // latest-wins must equal one-shot canonicalize over the full corpus
    val applied = StreamingDedup.maintainCanonical(spark, base, "doc_id")
    assert(applied.nonEmpty, "maintenance must apply the pair-log epochs")
    val canonOneShot = Dedup.canonicalize(full, "doc_id", "text", k = 3,
      threshold = 0.5).as[(Long, Long)].collect().toMap
    def canonMap = StreamingDedup.canonicalMap(spark, base, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(canonMap == canonOneShot,
      "maintained canonical map must equal one-shot canonicalize")
    assert(StreamingDedup.maintainCanonical(spark, base, "doc_id").isEmpty,
      "re-running maintenance with no new epochs must be a no-op")

    // forced replay of the final epoch: stream commit deleted → restart
    // re-delivers; idempotent epoch commits keep everything exact
    val commits = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/ckpt/commits"))
      .map(_.getPath.getName).filterNot(_.startsWith(".")).map(_.toLong).sorted
    StreamingIngest.dropCommit(spark, s"$base/ckpt", commits.last)
    run()
    assert(logSet == first, "replay must not change the pair log")
    assert(TransactionalLake.readCommitted(spark, StreamingDedup.corpusRoot(base))
      .count() == full.count(), "replay must not duplicate the corpus")
    assert(StreamingDedup.maintainCanonical(spark, base, "doc_id").isEmpty &&
      canonMap == canonOneShot,
      "crash replay must leave the canonical map exactly-once")

    // RETENTION: fold all but the newest epoch of every artifact; the
    // views are unchanged, and a replay AFTER folding is still a no-op
    // (the stream commit is deleted again — the folded epochs' markers
    // must keep their commits skipped)
    val folded = StreamingDedup.foldAged(spark, base, keepLast = 1)
    assert(folded.corpus >= 1 && folded.pairs >= 1, s"epochs must fold: $folded")
    assert(logSet == first, "folding must not change the pair log")
    assert(TransactionalLake.readCommitted(spark, StreamingDedup.indexRoot(base))
      .drop("epoch").as[(Long, Int, Int, Int, Int)].collect().toSet == idx,
      "folding must not change the index")
    StreamingIngest.dropCommit(spark, s"$base/ckpt", commits.last)
    run()
    assert(logSet == first, "replay after retention must stay exactly-once")
    assert(TransactionalLake.readCommitted(spark, StreamingDedup.corpusRoot(base))
      .count() == full.count())
    assert(canonMap == canonOneShot,
      "retention folds must not change the canonical map view")
    assert(StreamingDedup.maintainCanonical(spark, base, "doc_id").isEmpty,
      "folded pair epochs must stay applied in the maintenance done-set")
  }

  test("dedup_streaming_index's pair log survives a later pipe_streaming_dedup run") {
    // the entry's frame reads its committed pair log lazily; another
    // entry's fixture must never delete that directory underneath it
    val pairs = graft.queries.Extensions.queries("dedup_streaming_index")(spark, sf0001)
    graft.queries.PipelineQueries.queries("pipe_streaming_dedup")(spark, sf0001).collect()
    assert(pairs.collect().nonEmpty)
  }

  test("sink job budget: StreamingDedup.start's first and later micro-batch") {
    val base = tmpDir("sdedup_budget")
    def batch(): Int = jobsOfOneBatch(() => StreamingDedup.start(docStream(base),
      "doc_id", "text", base, s"$base/ckpt", Trigger.AvailableNow(), k = 3, threshold = 0.5))
    appendFile(base, docsSeq.take(3))
    val first = batch()
    appendFile(base, docsSeq.drop(3))
    val later = batch()
    info(s"jobs per micro-batch: $first on the first epoch, $later on a later one")
    assert(StreamingDedup.pairLog(spark, base).count() == 2)
    assert(first == 7 && later == 7) // parent: 7, 7
  }

  test("sink job budget: startDecontaminate's micro-batch") {
    val base = tmpDir("sdecon_budget")
    appendFile(base, docsSeq)
    val evalSet = Seq((900L, "pack my box with five dozen liquor jugs for the long winter"))
      .toDF("doc_id", "text")
    val jobs = jobsOfOneBatch(() => StreamingDedup.startDecontaminate(docStream(base),
      evalSet, "doc_id", "text", base, s"$base/ckpt", Trigger.AvailableNow()))
    info(s"jobs per micro-batch: $jobs")
    assert(StreamingDedup.quarantineLog(spark, base).select("train_id").as[Long]
      .collect().sorted.toSeq == Seq(2L, 102L))
    assert(jobs == 4) // parent: 4
  }

  test("a crash after the corpus commit, or after corpus + index, replays exactly-once") {
    val full = docsSeq.toDF("doc_id", "text")
    val oneShot = Dedup.ngramJaccardPairs(full, "doc_id", "text", k = 3,
      threshold = 0.5).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val idxOneShot = Dedup.minhashBandIndex(full, "doc_id", "text")
      .as[(Long, Int, Int, Int, Int)].collect().toSeq
    Seq("corpus" -> Seq("index", "pairs"), "corpus + index" -> Seq("pairs")).foreach {
      case (committed, lost) =>
        val base = tmpDir("sdedup_crash")
        def run(): Unit = StreamingIngest.awaitWithRestartRetry(() =>
          StreamingDedup.start(docStream(base), "doc_id", "text", base, s"$base/ckpt",
            Trigger.AvailableNow(), k = 3, threshold = 0.5))
        appendFile(base, docsSeq.take(3))
        appendFile(base, docsSeq.slice(3, 5))
        run()
        // epoch 1 holds a same-batch and a cross-batch pair
        crashAfterCommits(s"$base/ckpt", 1L, lost.map(a => s"$base/$a"))
        assert(TransactionalLake.isCommitted(spark, StreamingDedup.corpusRoot(base), 1L))
        assert(!TransactionalLake.isCommitted(spark, StreamingDedup.pairsRoot(base), 1L))
        appendFile(base, docsSeq.drop(5))
        run()
        val log = StreamingDedup.pairLog(spark, base).select("id_a", "id_b")
          .as[(Long, Long)].collect().toSeq
        assert(log.toSet == oneShot, s"after $committed: pair log $log")
        assert(log.size == log.distinct.size, s"after $committed: a pair counted twice")
        val ids = TransactionalLake.readCommitted(spark, StreamingDedup.corpusRoot(base))
          .select("doc_id").as[Long].collect().toSeq
        assert(ids.sorted == docsSeq.map(_._1).sorted, s"after $committed: corpus $ids")
        val idx = TransactionalLake.readCommitted(spark, StreamingDedup.indexRoot(base))
          .drop("epoch").as[(Long, Int, Int, Int, Int)].collect().toSeq
        assert(idx.sorted == idxOneShot.sorted, s"after $committed: band index")
    }
  }

  test("EpochSink.prior reads live and folded epochs, never the batch's own") {
    val root = tmpDir("epoch_prior")
    (0L to 2L).foreach(e =>
      TransactionalLake.commitEpoch(Seq(e).toDF("v"), root, e, partitionCols = Nil))
    assert(TransactionalLake.foldCommittedEpochs(spark, root, upTo = 0L,
      partitionCols = Nil) == 1)
    val batch = Seq(9L).toDF("v")
    def prior(id: Long) = new graft.streaming.EpochSink.Epoch(batch, id).prior(root)
      .map(_.as[Long].collect().toSeq.sorted)
    assert(prior(2L) == Some(Seq(0L, 1L)), "a replay must not read its own epoch")
    assert(prior(3L) == Some(Seq(0L, 1L, 2L)))
    val lone = tmpDir("epoch_prior_lone")
    TransactionalLake.commitEpoch(Seq(5L).toDF("v"), lone, 5L, partitionCols = Nil)
    assert(new graft.streaming.EpochSink.Epoch(batch, 5L).prior(lone).isEmpty)
    assert(new graft.streaming.EpochSink.Epoch(batch, 6L).prior(s"$lone/absent").isEmpty)
  }
}
