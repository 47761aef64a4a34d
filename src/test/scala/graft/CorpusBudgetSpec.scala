package graft

import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._

/** Job budgets of the corpus-pass operators, each counted to its whole
  * result (a noop write of the returned frame), over a parquet corpus
  * with near-duplicates: the sf0.001 documents plus an edited copy of
  * every fifth one. */
class CorpusBudgetSpec extends SparkSpec {

  private lazy val corpus: DataFrame = {
    val docs = Tables.load(spark, sf0001, "documents").select("doc_id", "text")
    val dir = tmpDir("corpus_budget")
    docs.unionByName(docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), concat(col("text"), lit(" (copy)")).as("text")))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def sorted(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("canonicalize runs at most 12 jobs and returns a scan plus a projection") {
    // the persisted-leaf form, with its pairs copied out and counted
    // before the collect, ran 26 jobs here
    val docs = corpus // built outside the count
    val n = jobsIn(toResult(Dedup.canonicalize(docs, "doc_id", "text")))
    info(s"canonicalize: $n jobs")
    assert(n <= 12, s"canonicalize ran $n jobs")
    val canon = Dedup.canonicalize(corpus, "doc_id", "text")
    assert(canon.queryExecution.optimizedPlan.collect { case j: Join => j }.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("qualityFilter runs at most 3 jobs") {
    val docs = corpus
    val n = jobsIn(toResult(TextAnalysis.qualityFilter(docs, "doc_id", "text")))
    info(s"qualityFilter: $n jobs")
    assert(n <= 3, s"qualityFilter ran $n jobs")
  }

  test("ngramJaccardPairs runs at most 12 jobs") {
    // copyOut's former two-step path (local, then reliable checkpoint) ran 13 here
    val docs = corpus
    val n = jobsIn(toResult(Dedup.ngramJaccardPairs(docs, "doc_id", "text")))
    info(s"ngramJaccardPairs: $n jobs")
    assert(n <= 12, s"ngramJaccardPairs ran $n jobs")
  }

  test("thresholdSweep runs at most 18 jobs") {
    // copyOut's former two-step path (local, then reliable checkpoint) ran 19 here
    val docs = corpus
    val n = jobsIn(toResult(Dedup.thresholdSweep(docs, "doc_id", "text")))
    info(s"thresholdSweep: $n jobs")
    assert(n <= 18, s"thresholdSweep ran $n jobs")
  }

  test("perplexityFilter runs at most 14 jobs") {
    // copyOut's former two-step path (local, then reliable checkpoint) ran 16 here
    val docs = corpus
    val ref = docs.filter(col("doc_id") % 3 === 0)
    val n = jobsIn(toResult(TextAnalysis.perplexityFilter(docs, ref, "doc_id", "text")))
    info(s"perplexityFilter: $n jobs")
    assert(n <= 14, s"perplexityFilter ran $n jobs")
  }

  test("canonicalize's pair plan reuses its exchanges") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             d: Long): Unit = { plans.add(qe.executedPlan); () }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p.collect { case n => n }.flatMap {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case n => Seq(n)
    }
    import scala.jdk.CollectionConverters._
    def reused: Int = plans.asScala.toSeq.flatMap(nodes)
      .count(_.isInstanceOf[ReusedExchangeExec])
    spark.listenerManager.register(listener)
    try {
      Dedup.canonicalize(corpus, "doc_id", "text")
      // the listener rides an async bus
      val deadline = System.currentTimeMillis() + 30000
      while (reused == 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    info(s"ReusedExchange nodes across canonicalize's executions: $reused")
    assert(reused > 0, "no exchange of the pair plan was reused")
  }

  test("canonicalize above the driver bound: the distributed loop, same labels") {
    val viaDriver = Dedup.canonicalize(corpus, "doc_id", "text")
    val viaLoop = Dedup.canonicalizeBounded(corpus, "doc_id", "text", 3, 0.8,
      driverMaxEdges = 1)
    // the loop's result joins the docs with copied-out labels
    assert(viaLoop.queryExecution.optimizedPlan.collect { case j: Join => j }.nonEmpty)
    val (d, l) = (sorted(viaDriver), sorted(viaLoop))
    assert(d.count { case (id, c) => id != c } > 1, "the corpus must hold near-dup clusters")
    assert(d == l)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
