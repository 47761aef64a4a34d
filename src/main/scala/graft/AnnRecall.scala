package graft

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANN recall/cost instrumentation: recall@k vs MEASURED scanned-fraction
  * curves for every approximate tier (LSH query-directed multi-probe, IVF
  * nProbe, PQ codebook size, IVF→PQ) against the exact brute-force ground
  * truth on the same corpus — the artifact (`target/ann_recall.json`)
  * that shows which knob buys what. The operators' correctness is
  * oracle-gated elsewhere; this harness makes the cost/recall trade
  * continuously measurable (and AnnRecallSpec pins the headline claim:
  * query-directed probing beats a proportional random scan at equal
  * budget).
  *
  * Scanned fraction is MEASURED, not analytic: LSH counts the distinct
  * candidate pairs its probed buckets actually produced (via the
  * candidate-sink verification path); IVF sums the probed cells'
  * occupancies. PQ scans everything but compresses — its cost axis is
  * bytes touched per corpus row (nSub bytes vs 4·dim).
  */
object AnnRecall {

  private case class Point(knob: String, value: Int, scanned: Double,
                           recall: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    val outPath = if (args.length > 1) args(1) else s"${GraftSession.scratchRoot}/ann_recall.json"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.local(cpus.toInt)
    val json = run(spark, sfDir, nProbesProbe = 50, k = 10,
      includeSynth = true)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    println(json)
    spark.stop()
  }

  /** Compute all curves; returns the artifact JSON. Factored out so the
    * spec can run it at a small scale factor. `includeSynth` gates the
    * ×8-synth scale section (16k-vector brute-force ground truth plus
    * three index sweeps) — unconditional, it made every small-sf caller
    * pay the full synth cost regardless of the requested sfDir. The
    * per-round artifact (Bench) passes true; check_bench --recall fails
    * loud if the section is absent from that artifact.
    *
    * This instrument measures RECALL and SCANNED FRACTIONS, not time, so
    * unlike the scaling sweep its points are free to run concurrently.
    * Every sweep point is an independent small query (shared inputs —
    * ground truth, centroids, assignments, codebooks — are built once
    * up front on the calling thread), so each sweep is one
    * [[Overlap.all]], and each probe count's scanned fraction is
    * computed ONCE and shared by every curve that sweeps it. */
  def run(spark: SparkSession, sfDir: String, nProbesProbe: Int,
          k: Int, includeSynth: Boolean = false): String = {
    val e = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val probes = e.filter(col("vec_id") < nProbesProbe)
    val nCorpus = e.count()
    val nProbes = probes.count()
    // denominator of every scanned fraction: the brute-force pair count
    val allPairs = (nProbes * (nCorpus - 1)).toDouble

    // ground truth: exact top-k per probe
    val exact = topKSets(Similarity.bruteForceTopK(e, probes, "vec_id", "embedding", k))
    def recallOf(approx: DataFrame): Double = {
      val got = topKSets(approx)
      val per = exact.map { case (p, truth) =>
        got.getOrElse(p, Set.empty).intersect(truth).size.toDouble / truth.size
      }
      if (per.isEmpty) 0.0 else per.sum / per.size
    }

    val tmp = s"${GraftSession.scratchRoot}/tmp/ann_recall_${GraftSession.tag(sfDir)}"

    // ---- LSH: query-directed multi-probe sweep (nBits=6, radius 2) ----
    val lsh = Overlap.all(Seq(1, 2, 4, 8, 12, 16, 22).map(p => () => {
      val sink = s"$tmp/lsh_$p"
      val r = recallOf(Similarity.lshTopK(e, probes, "vec_id", "embedding",
        k, nProbes = p, candidateSink = Some(sink)))
      val scanned = spark.read.parquet(sink).count() / allPairs
      Point("nProbes", p, scanned, r)
    }): _*)

    // ---- IVF: nProbe sweep (nCells=16); assignments computed ONCE and
    //      shared with the IVF→PQ tiers below ----
    val cents = Similarity.seedCentroids(e, "vec_id", "embedding", 16)
    val assigns = Similarity.ivfAssignments(cents, e, "vec_id", "embedding")
    val cellSizes = assigns.groupBy(col("cell")).agg(count(lit(1)).as("cell_n"))
    // scanned fraction per probe count, computed once per p (ivf/ivfpq/
    // ivfpq_rerank sweep overlapping p values; it is a pure function of
    // (cents, probes, cellSizes, p))
    val scannedAt: Map[Int, Double] =
      Overlap.all(Seq(1, 2, 3, 4, 6, 8, 12).map(p => () =>
        p -> (Similarity.probeCells(cents, probes, "vec_id", "embedding", p)
          .select(col("p_id"), col("cell")).join(cellSizes, "cell")
          .agg(sum(col("cell_n"))).head().getLong(0) / allPairs)): _*).toMap
    val ivf = Overlap.all(Seq(1, 2, 3, 4, 6, 8, 12).map(p => () => {
      val r = recallOf(Similarity.ivfTopKWith(cents, e, probes,
        "vec_id", "embedding", k, nProbe = p))
      Point("nProbe", p, scannedAt(p), r)
    }): _*)

    // ---- PQ: codebook-size sweep (full scan over compressed codes;
    //      cost axis = bytes touched per corpus row vs 4·dim floats) ----
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val pq = Overlap.all(Seq(8, 16, 32).map(nc => () => {
      val cb = Similarity.pqCodebooks(e, "vec_id", "embedding", nSub = 8, nCodes = nc)
      val codes = Similarity.pqEncode(e, "vec_id", "embedding", cb)
      val r = recallOf(Similarity.pqTopK(codes, probes, "vec_id", "embedding", cb, k))
      Point("nCodes", nc, 8.0 / (4.0 * dim), r) // nSub byte-ish codes vs float32 vector
    }): _*)

    // ---- IVF→PQ + IVF→PQ→exact rerank: nProbe sweeps at nCodes=16,
    //      shared codebook/codes/assignments, one pooled batch ----
    val cb16 = Similarity.pqCodebooks(e, "vec_id", "embedding", nSub = 8, nCodes = 16)
    val codes16 = Similarity.pqEncode(e, "vec_id", "embedding", cb16)
    val ivfpqBoth = Overlap.all(Seq(1, 2, 3, 4, 6, 8).flatMap(p =>
      Seq((p, false), (p, true))).map { case (p, rerank) => () => {
      val r =
        if (rerank) recallOf(Similarity.ivfPqTopKReranked(cents, assigns,
          codes16, e, probes, "vec_id", "embedding", cb16, k, nProbe = p,
          shortlist = 50))
        else recallOf(Similarity.ivfPqTopK(cents, assigns, codes16, probes,
          "vec_id", "embedding", cb16, k, nProbe = p))
      (rerank, Point("nProbe", p, scannedAt(p), r))
    }}: _*)
    val ivfpq = ivfpqBoth.collect { case (false, pt) => pt }
    val ivfpqR = ivfpqBoth.collect { case (true, pt) => pt }

    def curve(ps: Seq[Point]): String = ps.map(p =>
      s"""{"${p.knob}":${p.value},"scanned":${f(p.scanned)},"recall":${f(p.recall)}}""")
      .mkString("[", ",", "]")

    // ---- SYNTH ×8 SCALE POINT (includeSynth only): the same two
    //      headline tiers measured on the decorrelated replica corpus
    //      (Scaling.ensureSynth — 16k vectors vs sf0.1's 2k), with the
    //      index sized the way a deployment sizes it (nCells ~ √n,
    //      nProbe swept to the same scanned-fraction budgets). Pins that
    //      recall does NOT collapse as nCells/nProbe scale with the
    //      corpus — the one failure mode the fixed-sf curves cannot
    //      see. ----
    // One section per synth scale (×8 and ×16): same √n cell discipline,
    // same three curves. The probe sweep is chosen per scale to land the
    // same scanned-fraction budgets (~2.5–25 %).
    def synthSection(key: String, dir: String, sweep: Seq[Int]): String = {
      val es = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val sProbes = es.filter(col("vec_id") < nProbesProbe)
      val nS = es.count()
      val nSProbes = sProbes.count()
      val sAllPairs = (nSProbes * (nS - 1)).toDouble
      val sExact = topKSets(Similarity.bruteForceTopK(es, sProbes,
        "vec_id", "embedding", k))
      def sRecallOf(approx: DataFrame): Double = {
        val got = topKSets(approx)
        val per = sExact.map { case (p, truth) =>
          got.getOrElse(p, Set.empty).intersect(truth).size.toDouble / truth.size
        }
        if (per.isEmpty) 0.0 else per.sum / per.size
      }
      val sCells = math.max(16, math.sqrt(nS.toDouble).toInt) // √n discipline
      val sCents = Similarity.seedCentroids(es, "vec_id", "embedding", sCells)
      // assignments once (cell sizes + the PQ tiers read the same frame)
      val sAssigns = Similarity.ivfAssignments(sCents, es, "vec_id", "embedding")
      val sCellSizes = sAssigns.groupBy(col("cell")).agg(count(lit(1)).as("cell_n"))
      val sProbeSweep = sweep.filter(_ <= sCells)
      // scanned fraction once per probe count (3 curves sweep the same ps)
      val sScanned: Map[Int, Double] = Overlap.all(sProbeSweep.map(p => () =>
        p -> (Similarity.probeCells(sCents, sProbes, "vec_id", "embedding", p)
          .select(col("p_id"), col("cell")).join(sCellSizes, "cell")
          .agg(sum(col("cell_n"))).head().getLong(0) / sAllPairs)): _*).toMap
      val ivfS = Overlap.all(sProbeSweep.map(p => () => {
        val r = sRecallOf(Similarity.ivfTopKWith(sCents, es, sProbes,
          "vec_id", "embedding", k, nProbe = p))
        Point("nProbe", p, sScanned(p), r)
      }): _*)
      val sCb = Similarity.pqCodebooks(es, "vec_id", "embedding", nSub = 8,
        nCodes = 16)
      val sCodes = Similarity.pqEncode(es, "vec_id", "embedding", sCb)
      // the FIXED 50-candidate shortlist dilutes as probed candidates grow
      // (more ADC-misranked impostors compete for the same slots) — the
      // scaled variant keeps shortlist ∝ probed cells, which should hold
      // recall flat across the sweep. Both curves in the artifact make the
      // knob's effect measurable instead of folklore.
      val rerankBoth = Overlap.all(sProbeSweep.flatMap(p =>
        Seq((p, "fixed"), (p, "scaled"))).map { case (p, curve) => () => {
        val sl = if (curve == "fixed") 50 else math.min(800, 50 * p)
        val r = sRecallOf(Similarity.ivfPqTopKReranked(sCents, sAssigns, sCodes,
          es, sProbes, "vec_id", "embedding", sCb, k, nProbe = p,
          shortlist = sl))
        (curve, Point("nProbe", p, sScanned(p), r))
      }}: _*)
      val ivfpqRS = rerankBoth.collect { case ("fixed", pt) => pt }
      val ivfpqRScaled = rerankBoth.collect { case ("scaled", pt) => pt }
      s""""$key":{"corpus":$nS,"probes":$nSProbes,"n_cells":$sCells,""" +
        s""""curves":{"ivf":${curve(ivfS)},""" +
        s""""ivfpq_rerank":${curve(ivfpqRS)},""" +
        s""""ivfpq_rerank_scaled":${curve(ivfpqRScaled)}}}"""
    }
    val synthJson: Option[String] = if (!includeSynth) None else Some {
      Scaling.ensureSynth(spark, "/root/testdata/sf0.1", Scaling.SynthDir)
      synthSection("synth", Scaling.SynthDir, Seq(4, 8, 16, 32, 64))
    }
    // THIRD scale point (r12 verdict stretch): ×16 — n doubles again, √n
    // cells grow to ~180, and the probe-scaled shortlist must keep
    // holding recall at the same scanned budgets
    val synthX16Json: Option[String] = if (!includeSynth) None else Some {
      Scaling.ensureSynthEmbeddings(spark, "/root/testdata/sf0.1",
        Scaling.SynthX16Dir, replicas = 16)
      synthSection("synth_x16", Scaling.SynthX16Dir, Seq(4, 11, 22, 44))
    }
    // FOURTH scale point (r13 verdict #5): ×32 — 64k vectors, √n cells
    // ≈ 253; the sweep lands the same ~2.5–25 % scanned budgets
    val synthX32Json: Option[String] = if (!includeSynth) None else Some {
      Scaling.ensureSynthEmbeddings(spark, "/root/testdata/sf0.1",
        Scaling.SynthX32Dir, replicas = 32)
      synthSection("synth_x32", Scaling.SynthX32Dir, Seq(6, 16, 32, 64))
    }

    s"""{"sf":"$sfDir","corpus":$nCorpus,"probes":$nProbes,"k":$k,""" +
      s""""curves":{"lsh":${curve(lsh)},"ivf":${curve(ivf)},""" +
      s""""pq":${curve(pq)},"ivfpq":${curve(ivfpq)},""" +
      s""""ivfpq_rerank":${curve(ivfpqR)}}""" +
      synthJson.fold("")("," + _) +
      synthX16Json.fold("")("," + _) +
      synthX32Json.fold("")("," + _) + "}"
  }

  private def f(d: Double): String = "%.6f".format(d)

  private def topKSets(df: DataFrame): Map[Long, Set[Long]] =
    // probes × k rows — metadata-scale by construction
    df.select(col("probe_id").cast("long"), col("neighbor_id").cast("long"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (p, rows) => p -> rows.map(_.getLong(1)).toSet }
}
