package graft

import graft.operators.Similarity
import graft.plans.{IvfPqExpressions => K}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The IVF-PQ kernels (graft.plans.IvfPqExpressions) against the
  * declarative forms they replaced, which live on here as the reference:
  * bit-identical codes, probe tables, ADC distances and cell assignments
  * under ANSI on and off, over the fixture plus adversarial rows. Also
  * pins the plan shapes and the Lloyd rounds' job budgets. */
class IvfPqKernelSpec extends SparkSpec {
  import spark.implicits._

  private lazy val embs = Tables.load(spark, sf0001, "embeddings")

  // ---- the declarative reference forms ----------------------------------

  private def withNormed(df: DataFrame, idCol: String, vecCol: String, as: String): DataFrame =
    df.select(col(idCol).as(s"${as}_id"), col(vecCol).cast("array<double>").as(s"${as}_e"))
      .withColumn(s"${as}_nrm", sqrt(graft.functions.VectorFunctions.dot(col(s"${as}_e"), col(s"${as}_e"))))

  /** Squared L2 as ONE sequential fold. */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, d) => acc + d)

  /** pqEncode: argmin over (distance, code) structs, first minimum. */
  private def refEncode(embeddings: DataFrame, codebooks: DataFrame): DataFrame =
    embeddings.crossJoin(broadcast(codebooks))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"),
        col("cb"), col("n_sub"), col("n_codes"))
      .withColumn("ds", size(col("e")) / col("n_sub"))
      .select(col("vec_id"),
        transform(sequence(lit(0), col("n_sub") - 1), s => {
          val sv = slice(col("e"), s * col("ds") + 1, col("ds"))
          val dc = transform(sequence(lit(0), col("n_codes") - 1),
            c => struct(
              l2sq(sv, element_at(col("cb"), s * col("n_codes") + c + 1)).as("d"),
              c.cast("int").as("c")))
          array_min(dc).getField("c")
        }).as("codes"))

  /** pqProbeTable's (sub, code) distance table, sub-major. */
  private def refTable(probes: DataFrame, codebooks: DataFrame): DataFrame =
    probes.crossJoin(broadcast(codebooks))
      .select(col("vec_id").as("p_id"), col("embedding").cast("array<double>").as("p_e"),
        col("cb"), col("n_sub"), col("n_codes"))
      .withColumn("ds", size(col("p_e")) / col("n_sub"))
      .select(col("p_id"), col("n_codes"),
        flatten(transform(sequence(lit(0), col("n_sub") - 1), s =>
          transform(sequence(lit(0), col("n_codes") - 1), c =>
            l2sq(slice(col("p_e"), s * col("ds") + 1, col("ds")),
              element_at(col("cb"), s * col("n_codes") + c + 1))))).as("ptab"))

  /** adcDist: one sequential lookup-sum over the codes. */
  private val refAdc: Column =
    aggregate(sequence(lit(0), size(col("codes")) - 1), lit(0.0),
      (acc, s) => acc + element_at(col("ptab"),
        s * col("n_codes") + element_at(col("codes"), s + 1) + 1))

  /** assignedNormed: broadcast cross join + row_number window argmin,
    * (cosine desc, cent_id). */
  private def refAssign(cents: DataFrame, corpus: DataFrame): DataFrame = {
    val assignW = Window.partitionBy(col("c_id")).orderBy(col("cent_cos").desc, col("cent_id"))
    withNormed(corpus, "vec_id", "embedding", "c")
      .crossJoin(broadcast(cents))
      .withColumn("cent_cos", graft.functions.VectorFunctions.cosineWithNorms(
        col("c_e"), col("cent_e"), col("c_nrm"), col("cent_nrm")))
      .withColumn("cent_rank", row_number().over(assignW))
      .filter(col("cent_rank") === 1)
      .select(col("c_id").as("id"), col("cent_id").as("cell"))
  }

  // ---- fixtures ---------------------------------------------------------

  private def ansiModes(f: Boolean => Unit): Unit =
    Seq(true, false).foreach { ansi =>
      val before = spark.conf.get("spark.sql.ansi.enabled")
      spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
      try f(ansi) finally spark.conf.set("spark.sql.ansi.enabled", before)
    }

  private def vecRows(rows: (Long, Seq[java.lang.Float])*): DataFrame =
    rows.toDF("vec_id", "embedding")

  private def fixtureVec(id: Long): Seq[java.lang.Float] =
    embs.filter(col("vec_id") === id).select("embedding").as[Seq[java.lang.Float]].head()

  private def withNaN(id: Long, at: Int*): Seq[java.lang.Float] =
    fixtureVec(id).zipWithIndex.map { case (x, i) => if (at.contains(i)) java.lang.Float.NaN else x }

  /** The fixture plus a row with NaN elements in two sub-spaces. */
  private lazy val corpus: DataFrame =
    embs.select("vec_id", "embedding").unionByName(vecRows(10001L -> withNaN(7L, 0, 9)))

  /** Every message along a failure's cause chain. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
      .mkString(" | ")

  private def bits(d: Any): Any = d match {
    case x: Double => java.lang.Double.doubleToLongBits(x)
    case other => other
  }

  // ---- PQ kernels ---------------------------------------------------------

  test("pq_encode, pq_dist_table and adc_dist equal the declarative forms bit for bit, ANSI on and off") {
    // seed rows for the adversarial codebooks: code 3 duplicates code 1
    // (the lower code must win) and code 2 carries NaN in sub-spaces 0 and 5
    val seedRows = embs.filter(col("vec_id") < 16 && col("vec_id") =!= 3L && col("vec_id") =!= 2L)
      .select("vec_id", "embedding")
      .unionByName(vecRows(3L -> fixtureVec(1L), 2L -> withNaN(2L, 1, 40)))
    ansiModes { ansi =>
      Seq("fixture" -> embs, "adversarial" -> seedRows).foreach { case (name, seeds) =>
        val cb = Similarity.pqCodebooks(seeds, "vec_id", "embedding", nSub = 8, nCodes = 16)
        val want = refEncode(corpus, cb).as[(Long, Seq[Int])].collect().toMap
        val got = Similarity.pqEncode(corpus, "vec_id", "embedding", cb)
          .as[(Long, Seq[Int])].collect().toMap
        assert(got == want, s"codes differ ($name, ansi=$ansi)")
        if (name == "adversarial")
          assert(got.values.forall(_.forall(_ != 3)), "a duplicate entry won over the lower code")

        val probes = corpus.filter(col("vec_id") < 10 || col("vec_id") === 10001L)
        val kTable = probes.crossJoin(broadcast(cb))
          .select(col("vec_id").as("p_id"), col("n_codes"), K.pqDistTable(
            col("embedding").cast("array<double>"), col("cb"), col("n_sub"), col("n_codes")).as("ptab"))
        val rTable = refTable(probes, cb)
        def tables(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r.getSeq[Double](2).map(bits)).toMap
        assert(tables(kTable) == tables(rTable), s"probe tables differ ($name, ansi=$ansi)")

        val codes = refEncode(corpus, cb)
        def adc(f: Column) = codes.select(col("vec_id").as("c_id"), col("codes"))
          .crossJoin(broadcast(rTable)).select(col("p_id"), col("c_id"), f.as("d"))
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> bits(r.get(2))).toMap
        val kAdc = adc(K.adcDist(col("codes"), col("ptab"), col("n_codes")))
        assert(kAdc.size == 11 * 501)
        assert(kAdc == adc(refAdc), s"ADC distances differ ($name, ansi=$ansi)")
      }
    }
  }

  test("pqEncode fails loud on a vector of the wrong dimension, naming both dimensions") {
    val cb = Similarity.pqCodebooks(embs, "vec_id", "embedding", nSub = 8, nCodes = 16)
    val v64 = fixtureVec(5L)
    Seq(8 -> v64.take(8), 32 -> v64.take(32), 80 -> (v64 ++ v64.take(16))).foreach { case (dim, v) =>
      val msg = messages(intercept[Exception](
        Similarity.pqEncode(vecRows(1L -> v), "vec_id", "embedding", cb).collect()))
      assert(msg.contains(s"vector has $dim dims") && msg.contains("codebooks encode 64"), msg)
    }
    // a null vector is no vector of the codebooks' dimension either
    val nul = intercept[Exception](Similarity.pqEncode(
      vecRows(1L -> null), "vec_id", "embedding", cb).collect())
    assert(messages(nul).contains("null vector"), messages(nul))
  }

  // ---- nearest_centroid ---------------------------------------------------

  test("nearest_centroid equals the window argmin, ANSI on and off, with adversarial rows") {
    val seeds = Similarity.seedCentroids(embs, "vec_id", "embedding", 16)
    // duplicate centroids on both sides of an original id: the lowest
    // cent_id wins the tie
    val dups = seeds.filter(col("cent_id").isin(5L, 9L))
      .withColumn("cent_id", when(col("cent_id") === 5L, lit(900L)).otherwise(lit(-1L)))
    val cents = seeds.unionByName(dups)
    val adversarial = corpus.unionByName(vecRows(10002L -> null))
    val zeroNorm = vecRows(10003L -> Seq.fill(64)(java.lang.Float.valueOf(0f)))
    def cells(df: DataFrame): Map[Long, Long] = df.as[(Long, Long)].collect().toMap
    ansiModes { ansi =>
      val want = cells(refAssign(cents, adversarial))
      val got = cells(Similarity.ivfAssignments(cents, adversarial, "vec_id", "embedding"))
      assert(got == want, s"assignments differ (ansi=$ansi): ${got.toSet.diff(want.toSet)}")
      assert(got(10002L) == -1L, "a null vector takes the lowest cent_id")
      assert(!got.values.exists(_ == 900L), "a duplicate with a higher cent_id won")
      assert(got.values.exists(_ == -1L) && !got.values.exists(_ == 9L))
      if (ansi) {
        Seq(refAssign(cents, zeroNorm),
          Similarity.ivfAssignments(cents, zeroNorm, "vec_id", "embedding")).foreach { df =>
          val msg = messages(intercept[Exception](df.collect()))
          assert(msg.contains("DIVIDE_BY_ZERO"), msg)
        }
      } else {
        val z = cells(Similarity.ivfAssignments(cents, zeroNorm, "vec_id", "embedding"))
        assert(z == cells(refAssign(cents, zeroNorm)) && z(10003L) == -1L,
          "a zero-norm vector has only null cosines: the lowest cent_id")
      }
    }
  }

  // ---- plan shape and job budget -----------------------------------------

  /** Walks adaptive plans and their query stages. */
  private object Plans extends AdaptiveSparkPlanHelper

  test("plan shapes: assignment is one projection; PQ plans carry no lambda") {
    val cents = Similarity.seedCentroids(embs, "vec_id", "embedding", 16)
    val assign = Similarity.ivfAssignments(cents, embs, "vec_id", "embedding")
    val plan = assign.queryExecution.executedPlan
    val heavy = Plans.collect(plan) {
      case p if p.isInstanceOf[Exchange] || p.nodeName.contains("Window") => p.nodeName
    }
    assert(heavy.isEmpty, s"ivfAssignments plan has $heavy:\n$plan")

    val cb = Similarity.pqCodebooks(embs, "vec_id", "embedding", nSub = 8, nCodes = 16)
    val codes = Similarity.pqEncode(embs, "vec_id", "embedding", cb)
    val probes = embs.filter(col("vec_id") < 10)
    Seq("pqEncode" -> codes,
      "pqTopK" -> Similarity.pqTopK(codes, probes, "vec_id", "embedding", cb, 5),
      "ivfPqTopK" -> Similarity.ivfPqTopK(cents, assign, codes, probes, "vec_id", "embedding", cb, 5)
    ).foreach { case (name, df) =>
      val lambdas = df.queryExecution.optimizedPlan.collect {
        case n if n.expressions.exists(_.exists(_.isInstanceOf[LambdaFunction])) => n.nodeName
      }
      assert(lambdas.isEmpty, s"$name plan evaluates lambdas in $lambdas")
    }
  }

  test("Lloyd rounds: one collected aggregate per round, far below the checkpointed loop's jobs") {
    // parquet-backed corpus, as a pipeline would read it
    val dir = tmpDir("lloyd_jobs")
    embs.select("vec_id", "embedding").write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    // each count includes reading the whole result; the localCheckpoint /
    // release / copyOut loop this replaced read 19 (IVF) and 19 (PQ) here
    val ivf = jobsIn(Similarity.ivfCentroidsRefined(corpus, "vec_id", "embedding",
      nCells = 16, iters = 2).collect())
    val pq = jobsIn(Similarity.pqCodebooksRefined(corpus, "vec_id", "embedding",
      nSub = 8, nCodes = 16, iters = 2).collect())
    info(s"jobs for 2 rounds, result read included: IVF $ivf, PQ $pq")
    assert(ivf <= 5 && pq <= 5,
      s"ivfCentroidsRefined(iters = 2) ran $ivf jobs, pqCodebooksRefined(iters = 2) $pq")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
