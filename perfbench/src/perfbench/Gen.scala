package perfbench

import java.util.SplittableRandom

/** Zipf(s) over ranks 0..n-1 by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def sample(r: SplittableRandom): Int = quantile(r.nextDouble())

  /** The rank whose cumulative share first reaches `u` in [0, 1). */
  def quantile(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** The benchmark's one input generator. Every input derives from the run
  * seed (plus a stream index such as the batch number), so one seed always
  * yields the same inputs; the program under test sees only these. The
  * input properties are restated in perfbench/design.json. */
object Gen {

  private def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (stream * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL))

  def tenantName(i: Int): String = f"t$i%02d"

  // ---- ingest envelopes ------------------------------------------------------

  val Tenants = 16
  val TenantSkew = 1.1
  val ParseShare = 0.01
  val ValidationShare = 0.02
  val MissingTenantShare = 0.01
  val LateShare = 0.01
  val MaxLateS = 3 * 3600L
  val BatchWindowS = 1200L
  val Devices = 200
  val Events = 12
  val Regions = Seq("us-east-1", "us-west-2", "eu-west-1", "eu-central-1", "ap-south-1", "sa-east-1")

  /** 2026-01-01T00:00Z plus a seed-derived number of days. */
  def baseEpoch(seed: Long): Long = 1767225600L + Math.floorMod(seed, 28L) * 86400L

  final case class Envelope(value: String, tenant: String, arrival: Long, kind: String)

  object Kind {
    val Valid = "valid"
    val Parse = "parse-error"
    val Validation = "validation-error"
    val MissingTenant = "missing-tenant-key"
  }

  final case class Batch(index: Int, records: Vector[Envelope]) {
    def valid: Vector[Envelope] = records.filter(_.kind == Kind.Valid)
    def validByTenant: Map[String, Int] = valid.groupBy(_.tenant).map { case (t, v) => t -> v.size }
    def bytes: Long = records.map(_.value.length.toLong).sum

    /** The one-line-per-record JSON the ingest stream reads. */
    def jsonLines: String = {
      val sb = new StringBuilder
      records.foreach { e =>
        sb.append("{\"value\":").append(jsonString(e.value))
          .append(",\"tenant_key\":").append(Option(e.tenant).map(jsonString).getOrElse("null"))
          .append(",\"arrival\":").append(e.arrival).append("}\n")
      }
      sb.toString
    }
  }

  def jsonString(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private val tenantZipf = new Zipf(Tenants, TenantSkew)
  private val eventZipf = new Zipf(Events, 1.0)

  /** Batch `b` of `n` envelopes: Zipf-skewed tenants, arrivals inside the
    * batch's 20-minute window of a timeline that advances one window per
    * batch (a late share lands up to three hours earlier), and planted parse,
    * validation and (when `missingTenant`) missing-tenant-key errors. The
    * device field carries the batch number, so a probe can select exactly
    * one batch's rows. */
  def batch(seed: Long, b: Int, n: Int, missingTenant: Boolean): Batch = {
    val r = rng(seed, 1000L + b)
    val windowStart = baseEpoch(seed) + MaxLateS + b * BatchWindowS
    val recs = Vector.tabulate(n) { _ =>
      val tenant = tenantName(tenantZipf.sample(r))
      val device = s"b$b-d${r.nextInt(Devices)}"
      val event = s"ev${eventZipf.sample(r)}"
      val region = Regions(r.nextInt(Regions.size))
      val arrival =
        if (r.nextDouble() < LateShare) windowStart - 1 - r.nextLong(MaxLateS)
        else windowStart + r.nextLong(BatchWindowS)
      val u = r.nextDouble()
      if (u < ParseShare)
        Envelope(s"""{"Data":{"device":"$device","event":"$event"""", tenant, arrival, Kind.Parse)
      else if (u < ParseShare + ValidationShare)
        Envelope(s"""{"Data":{"device":"$device","event":"$event"}}""", tenant, arrival, Kind.Validation)
      else {
        val value = s"""{"Data":{"device":"$device","event":"$event","region":"$region"}}"""
        if (missingTenant && u < ParseShare + ValidationShare + MissingTenantShare)
          Envelope(value, null, arrival, Kind.MissingTenant)
        else Envelope(value, tenant, arrival, Kind.Valid)
      }
    }
    Batch(b, recs)
  }

  /** The tenant a batch's probe runs as: the tenant of a seeded-random valid
    * record, so heavy tenants are probed in proportion to their traffic. */
  def probeTenant(seed: Long, batch: Batch): String = {
    val v = batch.valid
    v(rng(seed, 5000L + batch.index).nextInt(v.size)).tenant
  }

  // ---- HTTP tokens -------------------------------------------------------------

  /** POSTs one token carries before its producer's next token is used. The
    * authorizer caches a decision per token for its TTL (300 s, API
    * Gateway's default), so a producer posting every 15 s makes 20 POSTs
    * per cached decision: one POST in 20 misses the cache. The 15 s post
    * interval is an assumption (perfbench/design.json). */
  val PostsPerToken = 20

  /** Producer `k` of a tenant: its `sub` claim. */
  def tokenSubject(tenant: String, k: Int): String = s"$tenant-u$k"

  /** Token index of every record of `b`, continuing the per-tenant counts
    * in `used` (records so far per tenant): record j of a tenant's stream
    * uses token j / PostsPerToken. */
  def tokenIndices(b: Batch, used: scala.collection.mutable.Map[String, Int]): Vector[Int] =
    b.records.map { e =>
      val j = used.getOrElse(e.tenant, 0)
      used(e.tenant) = j + 1
      j / PostsPerToken
    }

  // ---- tenant_query lake ----------------------------------------------------

  val LakeTenants = 40
  val LakeHours = 36
  val LakeRows = 72000
  val LakeAppends = 2

  /** One lake row: device, event, region, TenantId, timestamp. */
  final case class LakeRow(device: String, event: String, region: String, tenant: String,
                           ts: Long)

  def lakeRows(seed: Long): Vector[LakeRow] = {
    val r = rng(seed, 2L)
    val z = new Zipf(LakeTenants, TenantSkew)
    val dz = new Zipf(Devices, 0.8)
    val base = baseEpoch(seed)
    Vector.fill(LakeRows) {
      LakeRow(f"d${dz.sample(r)}%03d", s"ev${eventZipf.sample(r)}", Regions(r.nextInt(Regions.size)),
        tenantName(z.sample(r)), base + r.nextLong(LakeHours * 3600L))
    }
  }

  // ---- corpus ---------------------------------------------------------------------

  val CorpusBaseDocs = 800
  val EvalDocs = 50
  val LowQualityShare = 0.15
  val ExactDupShare = 0.08
  val NearDupShare = 0.08
  val ContaminatedShare = 0.04
  val ContaminationSpan = 12
  val Stopwords = Seq("the", "a", "is", "of", "and", "to")

  final case class Doc(id: Long, text: String)
  final case class Corpus(train: Vector[Doc], eval: Vector[Doc], exactDupOf: Map[Long, Long])

  private def vocabulary(r: SplittableRandom): Vector[String] = {
    val syl = Vector("ka", "lo", "mi", "ren", "tu", "sa", "vor", "pel", "din", "gra", "ost", "bel",
      "cha", "mun", "tir", "zen", "qua", "fel", "nor", "pri")
    Iterator.continually {
      (0 until 2 + r.nextInt(2)).map(_ => syl(r.nextInt(syl.size))).mkString
    }.distinct.take(1500).toVector
  }

  private def goodWords(r: SplittableRandom, vocab: Vector[String], n: Int): Vector[String] =
    Vector.fill(n)(if (r.nextDouble() < 0.12) Stopwords(r.nextInt(Stopwords.size))
    else vocab(r.nextInt(vocab.size)))

  /** A corpus of base documents plus planted structure: a low-quality share
    * (too short, or one word repeated), exact duplicates, near duplicates
    * (two words substituted), and train docs that embed a 12-word span of a
    * held-out eval doc (contamination). Ids are shuffled so duplicates are
    * not adjacent to their source. */
  def corpus(seed: Long): Corpus = {
    val r = rng(seed, 3L)
    val vocab = vocabulary(r)
    val eval = Vector.tabulate(EvalDocs)(i => goodWords(r, vocab, 60 + r.nextInt(60)))
    val base = Vector.fill(CorpusBaseDocs) {
      val u = r.nextDouble()
      if (u < LowQualityShare / 2) goodWords(r, vocab, 5 + r.nextInt(12))
      else if (u < LowQualityShare) {
        val spam = vocab(r.nextInt(vocab.size))
        goodWords(r, vocab, 60 + r.nextInt(60)).map(w => if (r.nextDouble() < 0.35) spam else w)
      } else goodWords(r, vocab, 60 + r.nextInt(80))
    }
    val contaminated = base.indices.filter(_ => r.nextDouble() < ContaminatedShare).toSet
    val withSpans = base.zipWithIndex.map { case (ws, i) =>
      if (!contaminated(i) || ws.size < ContaminationSpan + 2) ws
      else {
        val ev = eval(r.nextInt(EvalDocs))
        val from = r.nextInt(ev.size - ContaminationSpan)
        val at = r.nextInt(ws.size - ContaminationSpan)
        ws.patch(at, ev.slice(from, from + ContaminationSpan), ContaminationSpan)
      }
    }
    val nDup = (CorpusBaseDocs * ExactDupShare).toInt
    val nNear = (CorpusBaseDocs * NearDupShare).toInt
    val exact = Vector.fill(nDup)(r.nextInt(CorpusBaseDocs))
    val near = Vector.fill(nNear) {
      var src = r.nextInt(CorpusBaseDocs)
      while (withSpans(src).size < 60) src = r.nextInt(CorpusBaseDocs)
      val ws = withSpans(src)
      val p1 = r.nextInt(ws.size / 2)
      val p2 = ws.size / 2 + r.nextInt(ws.size / 2)
      ws.updated(p1, vocab(r.nextInt(vocab.size))).updated(p2, vocab(r.nextInt(vocab.size)))
    }
    // (words, index of the base doc it exactly duplicates or -1)
    val all = withSpans.map(w => (w, -1)) ++ exact.map(s => (withSpans(s), s)) ++ near.map(w => (w, -1))
    // shuffled ids: position i of `all` gets id perm(i)
    val perm = {
      val a = Array.tabulate(all.size)(i => i.toLong)
      var i = a.length - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a
    }
    val docs = all.indices.map(i => Doc(perm(i), all(i)._1.mkString(" "))).toVector.sortBy(_.id)
    val exactDupOf = all.indices.collect { case i if all(i)._2 >= 0 => perm(i) -> perm(all(i)._2) }.toMap
    val evalDocs = eval.zipWithIndex.map { case (w, i) => Doc(1000000L + i, w.mkString(" ")) }
    Corpus(docs, evalDocs, exactDupOf)
  }

  // ---- embeddings -----------------------------------------------------------------

  val Embeddings = 2000
  val Dim = 16
  val Clusters = 16
  val ClusterSpread = 0.35
  val Probes = 40

  /** Gaussian clusters around random unit-ish centres; ids shuffled across
    * clusters. Probes are corpus ids. */
  def embeddings(seed: Long): (Vector[(Long, Array[Double])], Vector[Long]) = {
    val r = rng(seed, 4L)
    val centres = Vector.fill(Clusters)(Array.fill(Dim)(r.nextDouble() * 2 - 1))
    val vecs = Vector.tabulate(Embeddings) { i =>
      val c = centres(r.nextInt(Clusters))
      i.toLong -> c.map(x => x + gaussian(r) * ClusterSpread)
    }
    val probes = Vector.fill(Probes)(r.nextInt(Embeddings).toLong).distinct
    (vecs, probes)
  }

  private def gaussian(r: SplittableRandom): Double = {
    val u1 = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  // ---- tenant_query mix -----------------------------------------------------------

  val Templates = Seq("hour_scan", "group_agg", "full_scan", "top_k")

  /** Client `c`'s query stream: (template, tenant index, hour offset).
    * Templates rotate; tenants (Zipf) and hours come from golden-ratio
    * sequences started at seeded points, so every prefix of the stream holds
    * close to the exact Zipf mix whatever the seed, and seeds differ in which
    * tenants and hours they hit, not in how skewed the mix is. */
  def queryStream(seed: Long, client: Int): Iterator[(String, Int, Int)] = {
    val r = rng(seed, 7000L + client)
    val z = new Zipf(LakeTenants, TenantSkew)
    val (u0, v0) = (r.nextDouble(), r.nextDouble())
    def frac(x: Double) = x - math.floor(x)
    Iterator.from(0).map { i =>
      (Templates((i + client) % Templates.size), z.quantile(frac(u0 + i * 0.6180339887498949)),
        (frac(v0 + i * 0.7548776662466927) * LakeHours).toInt)
    }
  }
}
