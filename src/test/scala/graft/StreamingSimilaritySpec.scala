package graft

import graft.operators.Similarity
import graft.sources.TransactionalLake
import graft.streaming.StreamingSimilarity
import org.apache.spark.sql.functions._

/** The maintenance half of the streaming ANN index (the ingest + crash
  * replay half is driver-gated by `sim_streaming_index`): generation
  * refinement flips atomically to a fully re-assigned index, search
  * equals the one-shot build against the same centroids, and the
  * completeness guard turns an unindexed corpus row into a loud failure. */
class StreamingSimilaritySpec extends SparkSpec {

  private lazy val embs = Tables.load(spark, sf0001, "embeddings")
    .select(col("vec_id"), col("embedding"))

  private def ingest3(root: String): Unit =
    (0 until 3).foreach { i =>
      val batch = embs.filter(col("vec_id") % 3 === i)
      val gens = TransactionalLake.committedEpochs(spark,
        StreamingSimilarity.centroidsRoot(root)).filter(_ != i.toLong)
      val cents =
        if (gens.isEmpty) Similarity.seedCentroids(batch, "vec_id", "embedding", 16)
        else StreamingSimilarity.centroidGeneration(spark, root, gens.max)
      val assignments = Similarity.ivfAssignments(cents, batch, "vec_id", "embedding")
        .withColumn("gen", lit(if (gens.isEmpty) i.toLong else gens.max))
      TransactionalLake.commitEpoch(batch, StreamingSimilarity.corpusRoot(root), i.toLong, Nil)
      if (gens.isEmpty)
        TransactionalLake.commitEpoch(cents, StreamingSimilarity.centroidsRoot(root), i.toLong, Nil)
      TransactionalLake.commitEpoch(assignments, StreamingSimilarity.indexRoot(root), i.toLong, Nil)
    }

  private def appendBatch(base: String, i: Int): Unit =
    embs.filter(col("vec_id") % 3 === i).coalesce(1).write.mode("append").parquet(s"$base/in")

  private def startStream(base: String) =
    StreamingSimilarity.start(
      spark.readStream.schema(embs.schema).option("maxFilesPerTrigger", 1).parquet(s"$base/in"),
      "vec_id", "embedding", base, s"$base/ckpt",
      org.apache.spark.sql.streaming.Trigger.AvailableNow())

  test("refineAndReindex flips to a new generation whose search equals the one-shot build") {
    val root = tmpDir("ssim_refine")
    ingest3(root)
    val probes = embs.filter(col("vec_id") < 10)
    val before = StreamingSimilarity.searchCommitted(
      spark, root, probes, "vec_id", "embedding", k = 5)
    assert(before.count() == 50)

    val gen = StreamingSimilarity.refineAndReindex(spark, root, "vec_id", "embedding")
    assert(gen >= StreamingSimilarity.GenBase)
    assert(StreamingSimilarity.currentGeneration(spark, root) == gen)
    val after = StreamingSimilarity.searchCommitted(
      spark, root, probes, "vec_id", "embedding", k = 5)
    // one-shot reference: the SAME refined centroids searched directly
    val oneShot = Similarity.ivfTopKWith(
      StreamingSimilarity.centroidGeneration(spark, root, gen),
      embs, probes, "vec_id", "embedding", k = 5)
    assert(after.exceptAll(oneShot).isEmpty && oneShot.exceptAll(after).isEmpty,
      "post-refinement search must equal the one-shot build on refined centroids")
    // refinement must cover every committed corpus row in the new gen
    assert(StreamingSimilarity.assignmentIndex(spark, root, gen).count()
      == embs.count())
  }

  test("deletes: tombstoned ids never surface; refine compacts them away") {
    val root = tmpDir("ssim_del")
    ingest3(root)
    val probes = embs.filter(col("vec_id") < 10)
    def results() = StreamingSimilarity.searchCommitted(
      spark, root, probes, "vec_id", "embedding", k = 5)
    // delete a set guaranteed to include current top-k members: the
    // first probe's own nearest neighbors
    // collect the 3 ids ONCE and rebuild the delete frame from literals:
    // filter+limit with no ordering may pick different rows when the
    // frame is re-evaluated inside commitDeletes (r15 ADVICE)
    val vIds = results().filter(col("probe_id") === 0)
      .select(col("neighbor_id").as("vec_id")).limit(3)
      .collect().map(_.getLong(0)).toSet
    assert(vIds.size == 3)
    val victims = spark.createDataFrame(
      spark.sparkContext.parallelize(vIds.toSeq.map(org.apache.spark.sql.Row(_))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType))))
    StreamingSimilarity.commitDeletes(spark, root, victims, "vec_id", 0L)
    // crash replay of the delete epoch: a no-op
    StreamingSimilarity.commitDeletes(spark, root, victims, "vec_id", 0L)
    val after = results().collect()
    assert(after.length == 50, "k results still fill from survivors")
    assert(!after.exists(r => vIds(r.getLong(1))),
      "deleted ids must never surface in top-k")
    // refinement = physical compaction: the new generation's index
    // carries no tombstoned id at all
    val gen = StreamingSimilarity.refineAndReindex(spark, root, "vec_id", "embedding")
    assert(StreamingSimilarity.assignmentIndex(spark, root, gen).count()
      == embs.count() - 3)
    val post = results().collect()
    assert(post.length == 50 && !post.exists(r => vIds(r.getLong(1))))
  }

  test("completeness guard fails fast when a corpus row lacks an assignment") {
    val root = tmpDir("ssim_guard")
    ingest3(root)
    // a corpus epoch lands WITHOUT its index twin (simulated torn ingest)
    TransactionalLake.commitEpoch(
      embs.limit(0).withColumn("vec_id", col("vec_id") + 1000000),
      StreamingSimilarity.corpusRoot(root), 99L, Nil)
    // empty epoch: still searchable. Now a real unindexed row:
    TransactionalLake.commitEpoch(
      embs.filter(col("vec_id") === 0).withColumn("vec_id", lit(999999L)),
      StreamingSimilarity.corpusRoot(root), 100L, Nil)
    val e = intercept[IllegalArgumentException] {
      StreamingSimilarity.searchCommitted(spark, root,
        embs.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5).count()
    }
    assert(e.getMessage.contains("stale"))
  }

  test("replayed artifact commits after refinement stay no-ops") {
    val root = tmpDir("ssim_replay")
    ingest3(root)
    val gen = StreamingSimilarity.refineAndReindex(spark, root, "vec_id", "embedding")
    val before = StreamingSimilarity.searchCommitted(spark, root,
      embs.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5).collect().toSet
    // replay epoch 1's commits (stream restart after losing its commit
    // marker): all three artifacts are already committed — no-ops
    val batch = embs.filter(col("vec_id") % 3 === 1)
    val cents0 = StreamingSimilarity.centroidGeneration(spark, root, 0L)
    TransactionalLake.commitEpoch(batch, StreamingSimilarity.corpusRoot(root), 1L, Nil)
    TransactionalLake.commitEpoch(
      Similarity.ivfAssignments(cents0, batch, "vec_id", "embedding")
        .withColumn("gen", lit(0L)),
      StreamingSimilarity.indexRoot(root), 1L, Nil)
    assert(StreamingSimilarity.currentGeneration(spark, root) == gen,
      "replay must not regress the generation")
    val after = StreamingSimilarity.searchCommitted(spark, root,
      embs.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5).collect().toSet
    assert(after == before, "replayed commits must not change search results")
  }

  test("sink job budget: StreamingSimilarity.start's first and later micro-batch") {
    val base = tmpDir("ssim_budget")
    appendBatch(base, 0)
    val first = jobsOfOneBatch(() => startStream(base))
    appendBatch(base, 1)
    val later = jobsOfOneBatch(() => startStream(base))
    info(s"jobs per micro-batch: $first on the first epoch, $later on a later one")
    assert(StreamingSimilarity.currentGeneration(spark, base) == 0L)
    assert(first == 9 && later == 3) // parent: 9, 3
  }

  test("crashes between the stream's commits replay exactly-once") {
    val probes = embs.filter(col("vec_id") < 10)
    // (crashed epoch, lakes that lost it): the first epoch after the
    // corpus commit and after corpus + centroids; a later epoch (no
    // centroid commit) after the corpus commit
    Seq((0L, Seq("centroids", "index")), (0L, Seq("index")), (1L, Seq("index"))).foreach {
      case (epoch, lost) =>
        val base = tmpDir("ssim_crash")
        def run(i: Int): Unit = {
          appendBatch(base, i)
          graft.streaming.StreamingIngest.awaitWithRestartRetry(() => startStream(base))
        }
        (0 to epoch.toInt).foreach(run)
        crashAfterCommits(s"$base/ckpt", epoch, lost.map(a => s"$base/$a"))
        assert(TransactionalLake.isCommitted(spark, StreamingSimilarity.corpusRoot(base), epoch))
        (epoch.toInt + 1 until 3).foreach(run)
        val at = s"epoch $epoch without ${lost.mkString(" + ")}"
        assert(TransactionalLake.allEpochs(spark, StreamingSimilarity.centroidsRoot(base)) ==
          Seq(0L), at)
        val cents = StreamingSimilarity.centroidGeneration(spark, base, 0L)
        assert(cents.count() == 16, at)
        def ids(df: org.apache.spark.sql.DataFrame, c: String) =
          df.select(c).collect().map(_.getLong(0)).toSeq.sorted
        val corpus = ids(TransactionalLake.readCommitted(spark,
          StreamingSimilarity.corpusRoot(base)), "vec_id")
        assert(corpus == ids(embs, "vec_id"), at)
        assert(ids(TransactionalLake.readCommitted(spark,
          StreamingSimilarity.indexRoot(base)), "id") == corpus, at)
        val served = StreamingSimilarity.searchCommitted(
          spark, base, probes, "vec_id", "embedding", k = 5)
        val oneShot = Similarity.ivfTopKWith(cents, embs, probes, "vec_id", "embedding", k = 5)
        assert(served.exceptAll(oneShot).isEmpty && oneShot.exceptAll(served).isEmpty, at)
    }
  }
}
