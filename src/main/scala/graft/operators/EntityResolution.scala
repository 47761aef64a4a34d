package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CROSS-TABLE ENTITY RESOLUTION — the R-S (two-relation) fuzzy join the
  * self-join dedup family doesn't cover: match records of two DIFFERENT
  * tables whose normalized names share character-n-gram Jaccard ≥ t
  * (customer↔supplier, vendor↔payee, account↔account across systems).
  *
  * Blocking is a STOP-GRAM-AWARE prefix filter, exact at every
  * threshold. The plain PPJoin prefix (keep each record's
  * |x| − ⌈t·|x|⌉ + 1 rarest grams, join on shared prefix grams)
  * degrades toward all-pairs at low thresholds on templated corpora:
  * ubiquitous grams ("000", "er#" in TPC-H names) sit inside almost
  * every prefix and fan the candidate join out quadratically. Here the
  * grams frequent on BOTH sides (df over `stopGramFraction` of the
  * union) are classified COMMON and excluded from candidate
  * generation; the overlap a qualifying pair can draw from them is
  * bounded by each record's common-gram count u, so the residual
  * RARE-gram overlap is ≥ ρ = ⌈t·n⌉ − u. Records with ρ ≥ 1 keep a
  * prefix of their rare grams sized for ρ (never shorter than the
  * lemma demands — exact); records with ρ ≤ 0 ("dense": they could
  * match on stop-grams alone) are cross-checked pairwise against the
  * other side's dense records behind a fail-loud budget. Candidates
  * then verify EXACTLY (set intersection), so blocking affects cost,
  * never results.
  *
  * Why it is exact: J(x,y) ≥ t ⟹ overlap O ≥ ⌈t·n_x⌉ (O(1+t) ≥
  * t(n_x+n_y) and n_y ≥ O). Common-gram overlap ≤ min(u_x, u_y), so
  * rare overlap O_r ≥ max(ρ_x, ρ_y). When that max ≥ 1, the standard
  * prefix lemma on the rare sets (one shared global df order) puts a
  * witness gram inside both rare prefixes of length m − ρ + 1
  * (clamping ρ to ≥ 1 only lengthens a prefix). When both ρ ≤ 0 the
  * pair is dense×dense and the cross path covers it. The PPJoin
  * length filter (⌈t·n_x⌉ ≤ n_y ≤ ⌊n_x/t⌋) prunes both paths, and the
  * candidate join applies the PPJoin+ POSITIONAL filter on top: a
  * gram match at rare positions (p_x, p_y) bounds the rare overlap by
  * min(m_x−p_x, m_y−p_y)+1, so matches that cannot reach ρ generate
  * no candidate (exact — see the inline proof at the join).
  *
  * At 100 TB the shape is: two scans, one vocab-scale df aggregate
  * (char-k-gram vocab is alphabet-bounded), a candidate join whose
  * fan-out is Σ_rare df_L·df_R — every per-gram factor below the
  * fractional cap — and a dense cross bounded by `maxDensePairs`
  * (refused in-plan, never silently quadratic). No unbounded cross
  * product anywhere.
  *
  * Everything — the two table counts behind the fractional cap, the
  * dense budget check — lives in ONE lazy plan, mirroring
  * [[Dedup.ngramJaccardCandidates]]: counts ride broadcast single-row
  * aggregates, the budget refusal is a `raise_error` branch on the
  * dense rows, and no driver-side action runs inside this method. The
  * count-then-checkpoint-then-plan form this replaced ran ~8 eager
  * actions (32 scheduler jobs at the sf0.1 gate) per call — every one
  * a synchronization point that magnified transient machine
  * contention into the entry's tail latency (r10/r11 spread-gate
  * outliers), and at scale a full extra pass per auxiliary count. */
object EntityResolution {

  /** Distinct character k-grams of a normalized (lowercased) string;
    * empty when shorter than k. */
  private[graft] def charGrams(s: Column, k: Int): Column = {
    val lowered = lower(s)
    when(length(lowered) >= k,
      array_distinct(transform(
        sequence(lit(1), length(lowered) - (k - 1)),
        i => lowered.substr(i, lit(k)))))
      .otherwise(array().cast("array<string>"))
  }

  /** ⌈t·n⌉ as an int column, guarded against float round-up (0.32·25 =
    * 8.000…002 must not become 9 — a too-large bound would shrink the
    * prefix below what the lemma needs). Rounding DOWN by ε is always
    * safe: it can only lengthen a prefix / widen the length filter. */
  private def ceilT(t: Double, n: Column): Column =
    ceil(n * t - lit(1e-9)).cast("int")

  private case class Side(
      sets: DataFrame,    // (id, g, n)
      prefix: DataFrame,  // (id, n, gram) — rare-prefix postings, partner-present grams only
      dense: DataFrame)   // (id, n) — records that could match on common grams alone

  private def prepare(df: DataFrame, id: String, text: String, k: Int,
                      threshold: Double, dfreq: DataFrame,
                      dfOther: String): Side = {
    val sets = df.select(col(id).as("id"), charGrams(col(text), k).as("g"))
      .withColumn("n", size(col("g")))
      .filter(col("n") > 0)
    val post = sets.select(col("id"), col("n"), explode(col("g")).as("gram"))
      .join(dfreq, "gram")
    val byId = Window.partitionBy(col("id"))
    // u = this record's common grams; rho = rare overlap a qualifying
    // partner must still produce; m = rare grams available
    val enriched = post
      .withColumn("u", sum(when(col("is_common"), 1).otherwise(0)).over(byId))
      .withColumn("rho_raw", ceilT(threshold, col("n")) - col("u"))
      .withColumn("m", col("n") - col("u"))
    val rare = enriched.filter(!col("is_common"))
      .withColumn("rn", row_number().over(
        byId.orderBy(col("df_total"), col("gram"))))
    // clamped rho only lengthens the prefix (exactness preserved); the
    // partner-present cut (other side's df > 0) drops postings that
    // cannot produce a cross pair AFTER positions are assigned, so the
    // global order the lemma needs is undisturbed. rn/m/rho ride along
    // for the PPJoin+ positional filter at the candidate join.
    val prefix = rare
      .filter(col("rn") <= col("m") - greatest(lit(1), col("rho_raw")) + 1)
      .filter(col(dfOther) > 0)
      .select(col("id"), col("n"), col("gram"), col("rn"), col("m"),
        greatest(lit(1), col("rho_raw")).as("rho"))
    // dense (ρ ≤ 0 ⟺ u ≥ ⌈t·n⌉) needs only the COMMON postings — a
    // broadcast-join aggregate, NOT another run of the window pipeline:
    // this frame is evaluated four times inside the final plan (budget
    // count + cross rows, both sides) and the common-gram set is
    // vocab-capped, so each evaluation is one cheap scan-side aggregate
    val dense = sets.select(col("id"), col("n"), explode(col("g")).as("gram"))
      .join(broadcast(dfreq.filter(col("is_common")).select("gram")), "gram")
      .groupBy("id", "n").agg(count(lit(1)).as("u"))
      .filter(ceilT(threshold, col("n")) <= col("u"))
      .select(col("id"), col("n"))
    Side(sets, prefix, dense)
  }

  /** All (left id, right id, jaccard) pairs with char-k-gram Jaccard
    * ≥ `threshold` between `left.textCol` and `right.textCol`.
    *
    * @param stopGramFraction grams present on both sides whose union df
    *   exceeds this fraction of |L|+|R| are stop-grams: excluded from
    *   candidate generation, accounted for exactly via the dense path.
    * @param maxDensePairs fail-loud budget on the dense×dense cross —
    *   a corpus where many records consist mostly of stop-grams at a
    *   low threshold has no sub-quadratic exact answer; refuse loudly
    *   rather than run one silently. The refusal is IN-PLAN (a
    *   `raise_error` guard): it surfaces when the returned DataFrame
    *   EXECUTES, wrapped by Spark in a `SparkException` whose message
    *   contains "maxDensePairs" — not as a plan-time
    *   IllegalArgumentException at fuzzyJoin() call time (the pre-r12
    *   behavior, which cost an extra eager count). Callers handling
    *   the budget should match on the MESSAGE, not the exception
    *   class.
    * @param broadcastRight pin the plan when the right table is known
    *   small (dimension-sized): its prefix postings and gram sets are
    *   broadcast, making the candidate join and verify shuffle-free on
    *   the left side. */
  def fuzzyJoin(left: DataFrame, leftId: String, leftText: String,
                right: DataFrame, rightId: String, rightText: String,
                k: Int = 3, threshold: Double = 0.8,
                stopGramFraction: Double = 0.25,
                maxDensePairs: Long = 10000000L,
                broadcastRight: Boolean = false,
                candidateSink: Option[String] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "fuzzyJoin: threshold must be in (0, 1]")
    require(stopGramFraction > 0.0 && stopGramFraction <= 1.0,
      "fuzzyJoin: stopGramFraction must be in (0, 1]")
    def rawSets(df: DataFrame, id: String, text: String) =
      df.select(col(id).as("id"), charGrams(col(text), k).as("g"))
        .withColumn("n", size(col("g")))
        .filter(col("n") > 0)
    // cap sizing uses RAW row counts (no gram extraction): the cap is a
    // heuristic cut point — exactness never depends on it (any cap only
    // shifts grams between the prefix and dense handling, both exact).
    // Both counts ride ONE broadcast 1×1-row aggregate inside the plan
    // instead of two driver-side count() jobs.
    val nRow = broadcast(left.agg(count(lit(1)).as("cnt_l"))
      .crossJoin(right.agg(count(lit(1)).as("cnt_r"))))
    // one pass over both sides' postings → per-gram (df_l, df_r);
    // vocab-scale (char-k-grams are alphabet-bounded). MATERIALIZED
    // once (the one eager action left in this method): six downstream
    // consumers — both prepares' broadcasts, both dense subtrees, the
    // dense-count guard — would otherwise each re-run this two-corpus
    // aggregate (a fully-lazy form measured 2.6× SLOWER at the sf0.1
    // gate: with two DIFFERENT input tables the exchange-reuse sharing
    // that makes the self-join ngram plan one-pass never fires). At
    // 100 TB this is one metadata-scale artifact, same as an index.
    val postAll = rawSets(left, leftId, leftText)
      .select(explode(col("g")).as("gram")).withColumn("side", lit("L"))
      .unionByName(rawSets(right, rightId, rightText)
        .select(explode(col("g")).as("gram")).withColumn("side", lit("R")))
    val dfreq = Blocks.copyOut(postAll.groupBy("gram").agg(
        sum(when(col("side") === "L", 1L).otherwise(0L)).as("df_l"),
        sum(when(col("side") === "R", 1L).otherwise(0L)).as("df_r"))
      .withColumn("df_total", col("df_l") + col("df_r"))
      .crossJoin(nRow)
      .withColumn("is_common",
        col("df_l") > 0 && col("df_r") > 0 && col("df_total") >
          greatest(lit(2L), ceil(lit(stopGramFraction) *
            (col("cnt_l") + col("cnt_r"))).cast("long")))
      .drop("cnt_l", "cnt_r"))
    val lhs = prepare(left, leftId, leftText, k, threshold,
      broadcast(dfreq), "df_r")
    val rhs = prepare(right, rightId, rightText, k, threshold,
      broadcast(dfreq), "df_l")

    val lenOk = col("n_b").between(
      ceilT(threshold, col("n_a")),
      floor(col("n_a") / threshold + lit(1e-9)).cast("int"))
    val pl = lhs.prefix.select(col("id").as("id_a"), col("n").as("n_a"),
      col("gram"), col("rn").as("rn_a"), col("m").as("m_a"),
      col("rho").as("rho_a"))
    val pr0 = rhs.prefix.select(col("id").as("id_b"), col("n").as("n_b"),
      col("gram"), col("rn").as("rn_b"), col("m").as("m_b"),
      col("rho").as("rho_b"))
    val pr = if (broadcastRight) broadcast(pr0) else pr0
    // PPJoin+ positional filter: a match on this gram can contribute at
    // most the rare grams from its position onward on EACH side, so the
    // rare overlap is ≤ min(m−rn)+1 — below the pair's rho requirement,
    // the match cannot witness a qualifying pair. Exact: a qualifying
    // pair's FIRST shared rare gram is inside both prefixes (positions
    // are monotone in the one global order) and every shared gram sits
    // at or after it, so that match's bound ≥ the true overlap ≥ rho —
    // the pair always survives via its first witness.
    val positionalOk = least(col("m_a") - col("rn_a"),
      col("m_b") - col("rn_b")) + 1 >= greatest(col("rho_a"), col("rho_b"))
    val candPrefix = pl.join(pr, Seq("gram")).filter(lenOk && positionalOk)
      .select("id_a", "id_b")

    // dense×dense: small by construction on natural corpora (records
    // made mostly of stop-grams). Budget refusal INSIDE the plan: each
    // left dense row is checked against the broadcast dense counts
    // before it may cross — past the budget the job fails with the
    // message below instead of running a silent quadratic. An empty
    // left dense set never evaluates the check (no rows), and an empty
    // right side crosses to zero pairs — both exactly right.
    val denseCounts = broadcast(
      lhs.dense.agg(count(lit(1)).as("n_dl"))
        .crossJoin(rhs.dense.agg(count(lit(1)).as("n_dr"))))
    val budgetOk = col("n_dl") * col("n_dr") <= maxDensePairs
    val candDense = lhs.dense.crossJoin(denseCounts)
      .filter(when(budgetOk, lit(true)).otherwise(raise_error(concat(
        lit("fuzzyJoin: dense-record cross of "), col("n_dl"),
        lit(" x "), col("n_dr"),
        lit(s" exceeds maxDensePairs=$maxDensePairs — raise the " +
          "threshold, lower stopGramFraction, or raise the budget " +
          "explicitly")))))
      .select(col("id").as("id_a"), col("n").as("n_a"))
      .crossJoin(broadcast(
        rhs.dense.select(col("id").as("id_b"), col("n").as("n_b"))))
      .filter(lenOk).select("id_a", "id_b")

    val candidates0 = candPrefix.unionByName(candDense).distinct()
    // candidateSink: persist the blocked candidate-pair set so callers
    // (and the blocking-budget spec) can AUDIT the fan-out the prefix
    // filter actually produced — blocking quality asserted, not hoped
    val candidates = candidateSink match {
      case None => candidates0
      case Some(path) =>
        candidates0.write.mode("overwrite").parquet(path)
        left.sparkSession.read.parquet(path)
    }
    // exact verification — blocking never decides membership. The
    // intersection lands behind a projection alias so the interpreted
    // set op evaluates once per candidate, not once per reference.
    val rsets = if (broadcastRight) broadcast(rhs.sets) else rhs.sets
    candidates
      .join(lhs.sets.select(col("id").as("id_a"), col("g").as("g_a"),
        col("n").as("n_a")), "id_a")
      .join(rsets.select(col("id").as("id_b"), col("g").as("g_b"),
        col("n").as("n_b")), "id_b")
      .withColumn("__i", size(array_intersect(col("g_a"), col("g_b"))))
      .withColumn("jaccard", col("__i").cast("double") /
        (col("n_a") + col("n_b") - col("__i")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }
}
