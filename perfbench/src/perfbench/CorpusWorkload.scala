package perfbench

import graft.operators.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** `corpus_prep`: passes, one after another, of the training-data pipeline
  * `Dedup.canonicalize` → `Dedup.decontaminate` (against a held-out eval
  * split) → `TextAnalysis.qualityFilter` → `TextAnalysis.packSequences`,
  * plus an IVF-PQ index build and a reranked top-k search over clustered
  * embeddings. Every stage writes its result as parquet under the pass's
  * directory, and the next stage reads it: each stage is run to its full
  * result exactly once, in traced and untraced runs alike. */
final class CorpusWorkload(spark: SparkSession, o: Opts, out: Outcome) {
  import CorpusWorkload._

  private val corpus = Gen.corpus(o.seed)
  private val (vectors, probeIds) = Gen.embeddings(o.seed)
  private val input = o.dir("corpus-input")
  private var pass = 0

  private def docsFrame(docs: Seq[Gen.Doc]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(docs.map(d => Row(d.id, d.text)), Session.cores),
      StructType(Seq(StructField("id", LongType), StructField("text", StringType))))

  /** Inputs as parquet files, as a prep pipeline would find them. */
  private def writeInputs(): Unit = {
    Util.deleteTree(input)
    docsFrame(corpus.train).write.parquet(s"$input/train")
    docsFrame(corpus.eval).write.parquet(s"$input/eval")
    val vecSchema = StructType(Seq(StructField("id", LongType), StructField("vec", ArrayType(DoubleType))))
    val vecRows = vectors.map { case (id, v) => Row(id, v.toSeq) }
    spark.createDataFrame(spark.sparkContext.parallelize(vecRows, Session.cores), vecSchema)
      .write.parquet(s"$input/vectors")
    val probeSet = probeIds.toSet
    spark.createDataFrame(spark.sparkContext.parallelize(vecRows.filter(r => probeSet(r.getLong(0))), 1),
      vecSchema).write.parquet(s"$input/probes")
  }

  private final case class PassResult(canon: Map[Long, Long], contaminated: Set[Long],
                                      kept: Set[Long], packFp: String, topk: Array[(Long, Long)],
                                      candidatesPerProbe: Double)

  /** One pass, its stages run to their full results; returns the pass
    * directory. `t` records a span per stage. */
  private def runPass(t: Option[Tracer]): String = {
    val dir = o.dir(s"corpus-pass-$pass")
    pass += 1
    def stage(name: String, sub: String)(f: => DataFrame): DataFrame = {
      Tracer.maybe(t, name)(f.write.parquet(s"$dir/$sub"))
      spark.read.parquet(s"$dir/$sub")
    }
    val docs = spark.read.parquet(s"$input/train")
    val evalSet = spark.read.parquet(s"$input/eval")
    val canon = stage("operators.canonicalize", "canon")(Dedup.canonicalize(docs, "id", "text"))
    val kept = docs.join(canon.filter(col("id") === col("canonical_id")).select("id"), "id")
    val contam = stage("operators.decontaminate", "contam")(Dedup.decontaminate(kept, evalSet, "id", "text"))
    val clean = kept.join(contam.select(col("train_id").as("id")), Seq("id"), "left_anti")
    val quality = stage("operators.quality", "quality")(TextAnalysis.qualityFilter(clean, "id", "text"))
    val good = clean.join(quality.filter(col("keep")).select("id"), "id")
    stage("operators.pack", "packed")(TextAnalysis.packSequences(good, "id", "text"))

    val vecs = spark.read.parquet(s"$input/vectors")
    val probes = spark.read.parquet(s"$input/probes")
    val (cb, codes, cents, assign) = Tracer.maybe(t, "operators.sim_index") {
      def save(df: DataFrame, sub: String) = { df.write.parquet(s"$dir/$sub"); spark.read.parquet(s"$dir/$sub") }
      val cb = save(Similarity.pqCodebooks(vecs, "id", "vec", PqSub, PqCodes), "cb")
      val codes = save(Similarity.pqEncode(vecs, "id", "vec", cb), "codes")
      val cents = save(Similarity.ivfCentroidsRefined(vecs, "id", "vec", IvfCells, 2), "cents")
      (cb, codes, cents, save(Similarity.ivfAssignments(cents, vecs, "id", "vec"), "assign"))
    }
    t.foreach(_.span("operators.sim_search")(Util.noop(
      Similarity.ivfPqTopK(cents, assign, codes, probes, "id", "vec", cb, Shortlist, NProbe))))
    stage("operators.sim_rerank", "topk")(Similarity.ivfPqTopKReranked(cents, assign, codes,
      vecs, probes, "id", "vec", cb, K, NProbe, Shortlist))
    dir
  }

  /** A pass's stage results, read back outside the timed window. */
  private def results(dir: String): PassResult = {
    def read(sub: String) = spark.read.parquet(s"$dir/$sub")
    val res = PassResult(
      read("canon").collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("canonical_id")).toMap,
      read("contam").select("train_id").collect().map(_.getLong(0)).toSet,
      read("quality").filter(col("keep")).select("id").collect().map(_.getLong(0)).toSet,
      Fingerprint.of(read("packed")),
      read("topk").select("probe_id", "neighbor_id").collect().map(r => r.getLong(0) -> r.getLong(1)),
      candidatesPerProbe(read("cents"), read("assign")))
    Util.deleteTree(dir)
    res
  }

  def run(setupReps: Int): Unit = {
    Setup(out, setupReps)(_ => writeInputs())(_ => ())(_ => Util.deleteTree(runPass(None)))

    val measureS = if (o.trace) o.seconds / 2 else o.seconds
    val deadline = Util.nowS + measureS
    val passes = mutable.ArrayBuffer[(String, Double)]()
    while (Util.nowS < deadline || passes.isEmpty) passes += Util.timed(runPass(None))
    val times = passes.map(_._2).toSeq
    out.e2e("latency_p50_ms") = Metric(Stats.median(times) * 1000, "ms")
    out.e2e("throughput_per_s") = Metric(corpus.train.size * passes.size / times.sum, "1/s")
    out.named("corpus_prep_s") = Metric(Stats.median(times), "s")
    out.info("pass_s") = times
    verify(passes.map(p => results(p._1)).toSeq)

    if (o.trace) {
      val t = new Tracer(spark, s"corpus_prep-${o.seed}")
      val ex = new Executions(spark)
      val traceDeadline = Util.nowS + measureS
      val traced = mutable.ArrayBuffer[Double]()
      // planning phases summed over the executions of each pass
      val plans = mutable.ArrayBuffer[Map[String, Double]]()
      while (Util.nowS < traceDeadline || traced.isEmpty) {
        val (dir, s) = Util.timed(t.span("corpus_prep.pass")(runPass(Some(t))))
        Util.deleteTree(dir)
        traced += s
        val seen = ex.all()
        val pass = seen.drop(plans.map(_("executions").toInt).sum).map(e => Executions.phases(e._2))
        plans += (Seq("analysis", "optimization", "planning").map(k => k -> pass.map(_.getOrElse(k, 0.0)).sum) :+
          ("executions" -> pass.size.toDouble)).toMap
      }
      ex.close()
      Seq("analysis", "optimization", "planning").foreach(k =>
        out.layer(s"plans.${k}_s") = Metric(Stats.median(plans.map(_(k)).toSeq), "s"))
      out.info("executions_per_pass") = plans.map(_("executions"))
      out.layer("trace.overhead_ms") = Metric((Stats.median(traced.toSeq) - Stats.median(times)) * 1000, "ms")
      val spans = t.finished()
      t.close()
      Layers.fill(out, spans)
      out.info("spans") = spans.map(_.toMap)
    }
  }

  private def shingles(text: String, k: Int): Set[String] = {
    val ws = text.split(" ").filter(_.nonEmpty)
    if (ws.length < k) Set.empty else ws.sliding(k).map(_.mkString(" ")).toSet
  }

  private def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0 else (a intersect b).size.toDouble / (a union b).size

  /** Checks every pass against values computed here from the generated
    * corpus in plain Scala; fingerprints must repeat across passes. */
  private def verify(passes: Seq[PassResult]): Unit = {
    val text = corpus.train.map(d => d.id -> d.text).toMap
    val sets = corpus.train.map(d => d.id -> shingles(d.text, 3)).toMap
    // exact near-duplicate pairs through an inverted index on shingles
    val postings = mutable.HashMap[String, mutable.ArrayBuffer[Long]]()
    sets.foreach { case (id, s) => s.foreach(g => postings.getOrElseUpdate(g, mutable.ArrayBuffer()) += id) }
    val candidates = postings.values.flatMap { ids =>
      val v = ids.sorted
      for (i <- v.indices.iterator; j <- (i + 1 until v.size).iterator) yield (v(i), v(j))
    }.toSet
    val pairs = candidates.filter { case (a, b) => jaccard(sets(a), sets(b)) >= Threshold }
    // canonical id = smallest id of each connected component
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val wantCanon = corpus.train.map(d => d.id -> find(d.id)).toMap
    val keptDocs = corpus.train.filter(d => wantCanon(d.id) == d.id)
    val evalGrams = corpus.eval.flatMap(d => shingles(d.text, 8)).toSet
    val wantContam = keptDocs.filter(d => shingles(d.text, 8).exists(evalGrams)).map(_.id).toSet
    val markers = graft.functions.TextFunctions.langMarkers.flatMap(_._2).toSet
    def keep(t: String): Boolean = {
      val ws = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val n = ws.length
      val bigrams = if (n < 2) Array.empty[String] else ws.sliding(2).map(_.mkString(" ")).toArray
      val dupFrac = if (bigrams.isEmpty) 0.0 else 1.0 - bigrams.distinct.length.toDouble / bigrams.length
      n > 0 && n >= 20 && n <= 10000 && {
        val mean = ws.map(_.length).sum.toDouble / n
        mean >= 3.0 && mean <= 10.0
      } && ws.exists(markers) && ws.groupBy(identity).values.map(_.length).max.toDouble / n <= 0.2 &&
        dupFrac <= 0.1
    }
    val clean = keptDocs.filterNot(d => wantContam(d.id))
    val wantKept = clean.filter(d => keep(d.text)).map(_.id).toSet
    // packSequences over the kept docs: per shard (id % 8) in id order
    val wantPack = Fingerprint.expected(clean.filter(d => wantKept(d.id)).map { d =>
      (d.id, d.id % PackShards, text(d.id).split("\\s+").count(_.nonEmpty).toLong)
    }.groupBy(_._2).toSeq.flatMap { case (_, ds) =>
      ds.sortBy(_._1).scanLeft((0L, Option.empty[(Long, Long, Long)])) { case ((cum, _), d) =>
        (cum + d._3, Some(d))
      }.collect { case (cumAfter, Some((id, shard, n))) =>
        val before = cumAfter - n
        Seq[Any](id, shard, n, before / TokensPerSeq, before % TokensPerSeq)
      }
    })
    val truth = brute()
    passes.zipWithIndex.foreach { case (p, i) =>
      out.check(p.canon == wantCanon, s"corpus_prep pass $i: canonical ids differ from the exact components")
      out.check(corpus.exactDupOf.forall { case (d, src) => p.canon.get(d) == p.canon.get(src) },
        s"corpus_prep pass $i: a planted exact duplicate did not collapse")
      out.check(p.contaminated == wantContam,
        s"corpus_prep pass $i: ${p.contaminated.size} contaminated docs, expected ${wantContam.size}")
      out.check(p.kept == wantKept, s"corpus_prep pass $i: quality kept ${p.kept.size}, expected ${wantKept.size}")
      out.check(p.packFp == wantPack, s"corpus_prep pass $i: pack fingerprint ${p.packFp}, expected $wantPack")
      out.check(p.packFp == passes.head.packFp && p.topk.toSet == passes.head.topk.toSet,
        s"corpus_prep pass $i: results differ from pass 0")
    }
    // near-duplicate pairs the library reports must re-check at the threshold
    val reported = Dedup.ngramJaccardPairs(spark.read.parquet(s"$input/train"), "id", "text")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    out.check(reported.forall { case (a, b) => jaccard(sets(a), sets(b)) >= Threshold },
      "corpus_prep: a reported near-duplicate pair is below the threshold")
    out.check(reported.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet == pairs,
      s"corpus_prep: ${reported.length} near-duplicate pairs reported, ${pairs.size} exist")
    val recall = passes.head.topk.groupBy(_._1).map { case (p, ns) =>
      (ns.map(_._2).toSet intersect truth(p)).size.toDouble / K
    }.sum / probeIds.size
    out.check(recall >= MinRecall, s"corpus_prep: recall@$K $recall below $MinRecall")
    out.named("topk_recall_at_10") = Metric(recall, "ratio")
    out.layer("operators.near_dup_pairs") = Metric(pairs.size.toDouble, "count")
    out.layer("operators.sim_candidates_per_probe") = Metric(passes.head.candidatesPerProbe, "count")
    out.info("corpus") = Map("docs" -> corpus.train.size, "kept_share" -> wantKept.size.toDouble / corpus.train.size,
      "near_dup_pairs" -> pairs.size, "contaminated" -> wantContam.size)
    out.fingerprints("pack") = passes.head.packFp
    out.fingerprints("topk") = passes.head.topk.sorted.mkString(",").hashCode.toString
  }

  /** Exact cosine top-k of every probe (itself excluded), by brute force. */
  private def brute(): Map[Long, Set[Long]] = {
    def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    val vs = vectors.map { case (id, v) => (id, v, norm(v)) }
    val byId = vs.map(v => v._1 -> v).toMap
    probeIds.map { p =>
      val (_, pv, pn) = byId(p)
      p -> vs.filter(_._1 != p).map { case (id, v, n) =>
        var dot = 0.0; var i = 0
        while (i < v.length) { dot += v(i) * pv(i); i += 1 }
        (-(dot / (n * pn)), id)
      }.sorted.take(K).map(_._2).toSet
    }.toMap
  }

  /** Corpus rows an IVF probe visits: the members of its `NProbe` nearest
    * cells (by cosine to the pass's centroids). */
  private def candidatesPerProbe(cents: DataFrame, assign: DataFrame): Double = {
    val sizes = assign.groupBy("cell").count().collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    val cs = cents.select("cent_id", "cent_e").collect()
      .map(r => r.get(0).toString -> r.getSeq[Double](1).toArray)
    def cos(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    val byId = vectors.toMap
    probeIds.map { p =>
      cs.map { case (c, e) => (-cos(byId(p), e), c) }.sorted.take(NProbe)
        .map { case (_, c) => sizes.getOrElse(c, 0L) }.sum.toDouble
    }.sum / probeIds.size
  }
}

object CorpusWorkload {
  val Threshold = 0.8
  val PackShards = 8L
  val TokensPerSeq = 512L
  val PqSub = 8
  val PqCodes = 16
  val IvfCells = 16
  val NProbe = 3
  val Shortlist = 50
  val K = 10
  val MinRecall = 0.5
}
