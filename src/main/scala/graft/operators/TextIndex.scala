package graft.operators

import graft.functions.{TextFunctions => TF}
import graft.sources.TransactionalLake
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED INVERTED INDEX with incremental maintenance — the text twin
  * of the incremental ANN index (`Similarity.ivfAssignments` epochs):
  * BM25's sufficient statistics are all ADDITIVE over disjoint document
  * batches (per-(term,doc) tf, per-doc length, per-term df, N), so the
  * index accumulates through transactional epochs — each batch commits
  * O(batch tokens) postings, nothing is rebuilt — and a query scores
  * from the index alone, never touching document text. At 100 TB the
  * corpus is tokenized exactly once per document; retention folds
  * (`TransactionalLake.foldCommittedEpochs`) bin-pack old posting epochs
  * without changing query results (gated: incremental ≡ one-shot).
  *
  * Two transactional lakes under the index root:
  *  - `<root>/postings`: `(tbucket, term, doc, dl, tf)` — partitioned by
  *    `tbucket = pmod(xxhash64(term), nBuckets)`, so a query's scan
  *    PRUNES to its terms' buckets at the file listing (the inverted-
  *    index access path, expressed as partition pruning);
  *  - `<root>/doclen`: `(doc, dl)` — one row per document, so corpus
  *    stats (N, Σdl) cost O(docs), not O(postings).
  * `dl` is also denormalized onto every posting: scoring joins nothing
  * but the |queryTerms|-row df table and the 1-row stats. */
object TextIndex {

  val DefaultBuckets = 64

  private def postingsRoot(root: String) = s"$root/postings"
  private def doclenRoot(root: String) = s"$root/doclen"
  private def bucketOf(term: org.apache.spark.sql.Column, n: Int) =
    pmod(xxhash64(term), lit(n.toLong))

  /** Commit one document batch's postings + doc lengths as epoch
    * `epochId` of the index. Batches must be DISJOINT in documents (the
    * additivity precondition — same contract as the ANN index's batch
    * appends). Both commits inherit the idempotent replay contract;
    * a crash between them replays into a no-op + completion. */
  def commitPostings(docs: DataFrame, idCol: String, textCol: String,
                     indexRoot: String, epochId: Long,
                     nBuckets: Int = DefaultBuckets): Unit = {
    // fully-committed batch: a crash replay (or a replay against an
    // OFFBOARDED tenant's scrubbed root — markers survive the purge
    // exactly so this holds) skips without reading anything
    if (TransactionalLake.isCommitted(docs.sparkSession,
        postingsRoot(indexRoot), epochId) &&
      TransactionalLake.isCommitted(docs.sparkSession,
        doclenRoot(indexRoot), epochId)) return
    val toks = docs.select(col(idCol).as("doc"),
      TF.words(col(textCol)).as("__toks"))
      .select(col("doc"), col("__toks"),
        size(col("__toks")).cast("long").as("dl"))
    // POSITIONAL postings: token positions ride each (term, doc) row
    // (sorted — deterministic), enabling phrase/proximity queries from
    // the index alone; positions are additive across disjoint batches
    // like every other statistic here
    val postings = toks
      .select(col("doc"), col("dl"),
        posexplode(col("__toks")).as(Seq("pos", "term")))
      .groupBy("term", "doc", "dl")
      .agg(count(lit(1)).cast("long").as("tf"),
        sort_array(collect_list(col("pos").cast("long"))).as("positions"))
      .withColumn("tbucket", bucketOf(col("term"), nBuckets))
    TransactionalLake.commitEpoch(postings, postingsRoot(indexRoot), epochId,
      partitionCols = Seq("tbucket"))
    TransactionalLake.commitEpoch(toks.select(col("doc"), col("dl")),
      doclenRoot(indexRoot), epochId, partitionCols = Nil)
  }

  /** Fold aged index epochs (both lakes) — bin-packed retention with
    * unchanged query results. */
  def foldIndex(spark: SparkSession, indexRoot: String, upTo: Long,
                nBuckets: Int = DefaultBuckets): (Int, Int) =
    (TransactionalLake.foldCommittedEpochs(spark, postingsRoot(indexRoot),
      upTo, partitionCols = Seq("tbucket")),
      TransactionalLake.foldCommittedEpochs(spark, doclenRoot(indexRoot),
        upTo, partitionCols = Nil))

  /** PHRASE SEARCH from the positional index: documents containing the
    * exact token sequence `phrase`, ranked by phrase occurrence count.
    * Classic positional-postings intersection: start from the first
    * term's position list and, per following term, keep positions whose
    * successor appears in that term's list — each step is ONE doc-keyed
    * equi-join of two (bucket-pruned) posting lists with a per-row
    * array intersection; the corpus text is never read. Cost is
    * O(Σ matching postings), the inverted-index phrase contract. */
  def phraseSearch(spark: SparkSession, indexRoot: String,
                   phrase: Seq[String], topK: Int = 10,
                   nBuckets: Int = DefaultBuckets): DataFrame = {
    require(phrase.size >= 2, "phraseSearch: need at least 2 phrase terms")
    val terms = phrase.map(_.toLowerCase)
    val buckets = terms.map { t =>
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(t),
        org.apache.spark.sql.types.StringType, 42L)
      ((h % nBuckets) + nBuckets) % nBuckets
    }.distinct
    val posting = TransactionalLake.readCommitted(spark, postingsRoot(indexRoot))
      .filter(col("tbucket").cast("long").isInCollection(buckets) &&
        col("term").isInCollection(terms.distinct))
    def listOf(t: String) = posting.filter(col("term") === t)
      .select(col("doc"), col("positions"))
    val first = listOf(terms.head).select(col("doc"), col("positions").as("p"))
    val matched = terms.tail.foldLeft(first) { (acc, t) =>
      acc.join(listOf(t), "doc")
        .select(col("doc"),
          array_intersect(transform(col("p"), x => x + lit(1L)),
            col("positions")).as("p"))
        .filter(size(col("p")) > 0)
    }
    matched
      .select(col("doc").as("doc_id"),
        size(col("p")).cast("long").as("phrase_tf"))
      .orderBy(col("phrase_tf").desc, col("doc_id"))
      .limit(topK)
      .orderBy(col("phrase_tf").desc, col("doc_id"))
  }

  /** BM25 top-k from the committed index — the same ranker
    * ([[TextAnalysis.bm25Rank]], with its 6-dp DECIMAL determinism
    * contract) as [[TextAnalysis.bm25]], but document text is never read: the
    * posting scan prunes to the query terms' hash buckets, corpus stats
    * aggregate the O(docs) doclen lake, and df counts each term's
    * posting list. */
  def bm25FromIndex(spark: SparkSession, indexRoot: String,
                    queryTerms: Seq[String], topK: Int = 10,
                    k1: Double = 1.2, b: Double = 0.75,
                    nBuckets: Int = DefaultBuckets): DataFrame = {
    require(queryTerms.nonEmpty, "bm25FromIndex: queryTerms must be non-empty")
    val terms = queryTerms.map(_.toLowerCase).distinct
    val stats = TransactionalLake.readCommitted(spark, doclenRoot(indexRoot))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("dl")).as("sum_dl"))
    // bucket pruning first (partition column — prunes the file listing),
    // then the exact term filter within the surviving buckets
    val buckets = terms.map { t =>
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(t),
        org.apache.spark.sql.types.StringType, 42L)
      ((h % nBuckets) + nBuckets) % nBuckets // pmod, matching bucketOf
    }.distinct
    val posting = TransactionalLake.readCommitted(spark, postingsRoot(indexRoot))
      .filter(col("tbucket").cast("long").isInCollection(buckets) &&
        col("term").isInCollection(terms))
      .select(col("doc"), col("dl"), col("term"), col("tf"))
    TextAnalysis.bm25Rank(posting, stats, "doc", "doc_id", topK, k1, b)
  }
}
