package graft

import graft.operators.{Blocks, Dedup, Similarity}
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, sf0001, "documents")
  private lazy val embs = Tables.load(spark, sf0001, "embeddings")

  test("containment: blocked join equals brute force; catches the quote-expansion shape Jaccard misses") {
    // blocked ≡ brute on the fixture corpus (the prefix lemma loses nothing)
    val blocked = Dedup.containmentPairs(docs, "doc_id", "text",
      k = 3, threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sh = graft.functions.TextFunctions.shingleSet(col("text"), 3)
    val sets = docs.select(col("doc_id"), sh.as("sh"))
      .filter(size(col("sh")) > 0)
    val a = sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val brute = a.crossJoin(b).filter(col("id_a") =!= col("id_b"))
      .withColumn("c", size(array_intersect(col("sh_a"), col("sh_b")))
        .cast("double") / size(col("sh_a")).cast("double"))
      .filter(col("c") >= 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(blocked === brute)
    // quote-expansion: a short doc fully quoted inside a long one —
    // containment fires (C = 1.0) where Jaccard stays far below 0.8
    val quote = "the original short statement about spark shuffles"
    val expansion = "as one commentator put it " + quote +
      " which deserves a much longer discussion of partitioning " +
      "strategies broadcast joins and adaptive execution at scale"
    val two = Seq((1L, quote), (2L, expansion)).toDF("doc_id", "text")
    val cPairs = Dedup.containmentPairs(two, "doc_id", "text",
      k = 3, threshold = 0.8)
      .select("id_a", "id_b", "containment")
      .as[(Long, Long, Double)].collect().toSeq
    assert(cPairs === Seq((1L, 2L, 1.0)), "short-in-long, one direction")
    val jPairs = Dedup.ngramJaccardPairs(two, "doc_id", "text",
      k = 3, threshold = 0.8).count()
    assert(jPairs === 0L, "Jaccard at the same threshold misses it")
  }

  test("hard negatives: top-k below the positive cut, exactly brute force minus positives") {
    val probes = embs.filter($"vec_id" < 10)
    val hard = Similarity.hardNegatives(embs, probes, "vec_id", "embedding",
      k = 5, posThreshold = 0.98)
    val rows = hard.select("probe_id", "neighbor_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(rows.forall(_._3 < 0.98), "no near-positive leaks into the negatives")
    assert(rows.groupBy(_._1).forall(_._2.map(_._4).sorted == (1 to 5)),
      "k contiguous ranks per anchor")
    // reference: exhaustively rank with a big-k brute force, drop
    // positives, re-rank — must agree pair-for-pair
    val n = embs.count().toInt
    val ref = Similarity.bruteForceTopK(embs, probes, "vec_id", "embedding",
      k = n)
      .filter($"cosine" < 0.98)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"probe_id")
          .orderBy($"cosine".desc, $"neighbor_id")))
      .filter($"rank" <= 5)
      .select("probe_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(rows.map(r => (r._1, r._2, r._4)).toSet === ref)
  }

  test("two-level IVF: one coarse cell degenerates to flat IVF; default config ranks exactly") {
    val probes = embs.filter($"vec_id" < 10)
    // nCoarse=1 → every vector shares the coarse cell, the fine seeds
    // are the corpus's first-by-id — EXACTLY a flat IVF with
    // nCells=nFinePerCell, nProbe=nProbeFine
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._3)).toSeq
    val twoLevel = rows(Similarity.ivfTwoLevelTopK(embs, probes,
      "vec_id", "embedding", k = 5, nCoarse = 1, nFinePerCell = 16,
      nProbeCoarse = 1, nProbeFine = 3))
    val flat = rows(Similarity.ivfTopK(embs, probes,
      "vec_id", "embedding", k = 5, nCells = 16, nProbe = 3))
    assert(twoLevel === flat)
    // default config: deterministic, k rows per probe, exact rerank
    val d = Similarity.ivfTwoLevelTopK(embs, probes, "vec_id", "embedding", k = 5)
    assert(d.groupBy("probe_id").count()
      .filter($"count" =!= 5L).count() == 0, "k rows per probe")
    assert(rows(d) === rows(
      Similarity.ivfTwoLevelTopK(embs, probes, "vec_id", "embedding", k = 5)))
  }

  test("Lloyd-refined IVF centroids preserve recall and per-probe result size") {
    val probes = embs.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(embs, probes, "vec_id", "embedding", 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      df.select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
        .intersect(exact).size.toDouble / exact.size
    val cents = Similarity.ivfCentroidsRefined(embs, "vec_id", "embedding",
      nCells = 16, iters = 2)
    assert(cents.count() == 16, "every cell keeps a centroid (empty cells fall back)")
    val refined = Similarity.ivfTopKWith(cents, embs, probes, "vec_id", "embedding", 5)
    assert(refined.groupBy("probe_id").count()
      .filter($"count" =!= 5L).count() == 0, "k rows per probe")
    val base = recall(Similarity.ivfTopK(embs, probes, "vec_id", "embedding", 5))
    val ref = recall(refined)
    // fixture embeddings are structureless (no clusters), so refinement
    // can't help — but it must not collapse the cell structure either
    assert(ref >= base - 0.15, s"refined recall $ref vs seed recall $base")
  }

  test("IVF with a stored assignment index equals the one-shot path") {
    val probes = embs.filter($"vec_id" < 10)
    val cents = Similarity.ivfCentroidsRefined(embs, "vec_id", "embedding",
      nCells = 16, iters = 1)
    // the persisted index round-trips through parquet like a real deployment
    val idxPath = tmpDir("ivf_idx")
    Similarity.ivfAssignments(cents, embs, "vec_id", "embedding")
      .write.mode("overwrite").parquet(idxPath)
    val stored = spark.read.parquet(idxPath)
    val pre = Similarity.ivfTopKPreassigned(cents, stored, embs, probes,
      "vec_id", "embedding", 5)
      .select("probe_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val oneShot = Similarity.ivfTopKWith(cents, embs, probes,
      "vec_id", "embedding", 5)
      .select("probe_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(pre == oneShot, s"index path diverged: ${pre.diff(oneShot)} / ${oneShot.diff(pre)}")
  }

  test("incremental IVF: per-batch index fold equals one-shot; staleness is detected") {
    val probes = embs.filter($"vec_id" < 10)
    val batches = (0 until 3).map(i => embs.filter($"vec_id" % 3 === i))
    // centroid generation seeded from the FIRST batch — the deployment
    // has no future knowledge of later arrivals
    val cents = Similarity.seedCentroids(batches(0), "vec_id", "embedding", 16)
    val folded = batches
      .map(b => Similarity.ivfAssignments(cents, b, "vec_id", "embedding"))
      .reduce(_ unionByName _)
    val oneShot = Similarity.ivfAssignments(cents, embs, "vec_id", "embedding")
    assert(folded.as[(Long, Long)].collect().toSet ==
      oneShot.as[(Long, Long)].collect().toSet,
      "per-row assignment must make the fold order-insensitive")
    val viaFold = Similarity.ivfTopKPreassigned(cents, folded, embs, probes,
      "vec_id", "embedding", 5)
      .select("probe_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val viaOneShot = Similarity.ivfTopKWith(cents, embs, probes,
      "vec_id", "embedding", 5)
      .select("probe_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(viaFold == viaOneShot)
    // a STALE index (batch 2 never appended) must fail fast, not shrink
    // the search space silently
    val stale = folded.filter($"id" % 3 =!= 2)
    intercept[IllegalArgumentException] {
      Similarity.ivfTopKPreassigned(cents, stale, embs, probes,
        "vec_id", "embedding", 5)
    }
    // the opt-out knowingly searches the indexed subset only
    val subset = Similarity.ivfTopKPreassigned(cents, stale, embs, probes,
      "vec_id", "embedding", 5, requireComplete = false)
    assert(subset.filter($"neighbor_id" % 3 === 2).count() == 0)
  }

  test("cell-partitioned embedding lake prunes the candidate scan to probed cells") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val probes = embs.filter($"vec_id" < 3) // few probes → few probed cells
    val cents = Similarity.seedCentroids(embs, "vec_id", "embedding", 16)
    val lake = tmpDir("cell_lake")
    Similarity.writeCellPartitioned(cents, embs, "vec_id", "embedding", lake)
    assert(spark.read.parquet(lake).count() == embs.count(),
      "the clustered rewrite must preserve every row")
    val clustered = Similarity.ivfTopKCellPartitioned(spark, lake, cents, probes,
      "vec_id", "embedding", 5)
    val viaLake = clustered
      .select("probe_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val oneShot = Similarity.ivfTopKWith(cents, embs, probes, "vec_id", "embedding", 5)
      .select("probe_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(viaLake == oneShot, "cell routing must not change the result")
    // pruning evidence: the LAKE scan emitted only the probed cells'
    // rows — the candidate fetch is O(probed cells), not O(corpus).
    // AQE hides executed scans inside query stages; walk them explicitly.
    clustered.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    val lakeScans = scans(clustered.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("cell_lake")))
    assert(lakeScans.nonEmpty, "the lake scan must be visible in the executed plan")
    val scanned = lakeScans.map(_.metrics("numOutputRows").value).sum
    val total = embs.count()
    assert(scanned > 0 && scanned < total,
      s"scan must be partition-pruned: read $scanned of $total corpus rows")
  }

  test("scalar quantization: bounded per-dim error, high recall vs uncompressed") {
    val probes = embs.filter($"vec_id" < 10)
    val bounds = Similarity.scalarQuantizeBounds(embs, "embedding")
    val codes = Similarity.scalarQuantize(embs, "vec_id", "embedding", bounds)
    // every code is a valid 8-bit value
    val codeRange = codes.select(
      min(array_min(col("code"))).as("lo"), max(array_max(col("code"))).as("hi"))
      .collect().head
    assert(codeRange.getInt(0) >= 0 && codeRange.getInt(1) <= 255)
    // dequantization error per dim is bounded by half a code step:
    // |dq - x| <= (mx-mn)/255/2 (+ float slack)
    val b = bounds.collect().head
    val (mns, mxs) = (b.getSeq[Double](0), b.getSeq[Double](1))
    val orig = embs.select(col("vec_id"),
      graft.functions.VectorFunctions.toDouble(col("embedding")).as("e"))
      .as[(Long, Seq[Double])].collect().toMap
    val maxErrByDim = (mxs, mns).zipped.map((mx, mn) => (mx - mn) / 510.0 + 1e-12)
    codes.as[(Long, Seq[Int])].collect().foreach { case (id, qs) =>
      qs.zipWithIndex.foreach { case (q, i) =>
        val dq = mns(i) + q.toDouble / 255.0 * (mxs(i) - mns(i))
        assert(math.abs(dq - orig(id)(i)) <= maxErrByDim(i),
          s"dim $i of vec $id outside the half-step bound")
      }
    }
    // asymmetric search over the compressed corpus keeps high recall
    val exact = Similarity.bruteForceTopK(embs, probes, "vec_id", "embedding", 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val sq = Similarity.sqTopK(codes, probes, "vec_id", "embedding", bounds, 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = sq.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"SQ8 recall@5 = $recall")
  }

  test("PQ: valid codes, deterministic encode, ADC beats random ranking") {
    val probes = embs.filter($"vec_id" < 10)
    val cb = Similarity.pqCodebooks(embs, "vec_id", "embedding", nSub = 8, nCodes = 16)
    val codes = Similarity.pqEncode(embs, "vec_id", "embedding", cb)
    // every code addresses a real codebook entry
    val r = codes.select(min(array_min(col("codes"))).as("lo"),
      max(array_max(col("codes"))).as("hi"), count(lit(1)).as("n")).collect().head
    assert(r.getInt(0) >= 0 && r.getInt(1) < 16 && r.getLong(2) == embs.count())
    // encode is deterministic (re-run equals itself)
    val again = Similarity.pqEncode(embs, "vec_id", "embedding", cb)
    assert(codes.exceptAll(again).isEmpty && again.exceptAll(codes).isEmpty)
    // ADC ranking carries real signal: recall@10 of the exact-L2 top-5
    // far above the random-baseline ~10/500 per probe
    val exact = Similarity.bruteForceTopK(embs, probes, "vec_id", "embedding", 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(codes, probes, "vec_id", "embedding", cb, 10)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(pq.contains).toDouble / exact.size
    assert(recall >= 0.3, s"PQ ADC recall@10 of exact top-5 = $recall")
  }

  test("PQ Lloyd refinement reduces total reconstruction distortion") {
    import graft.functions.{VectorFunctions => VF}
    def distortion(cb: org.apache.spark.sql.DataFrame): Double = {
      val codes = Similarity.pqEncode(embs, "vec_id", "embedding", cb)
      Similarity.pqDecode(codes, "vec_id", cb)
        .join(embs.select(col("vec_id"), VF.toDouble(col("embedding")).as("e")), "vec_id")
        .select(aggregate(zip_with(col("decoded"), col("e"),
          (a, b) => (a - b) * (a - b)), lit(0.0), (acc, d) => acc + d).as("d2"))
        .agg(sum(col("d2"))).collect().head.getDouble(0)
    }
    val seeded = distortion(
      Similarity.pqCodebooks(embs, "vec_id", "embedding", 8, 16))
    val refined = distortion(
      Similarity.pqCodebooksRefined(embs, "vec_id", "embedding", 8, 16, iters = 2))
    assert(refined < seeded,
      s"Lloyd refinement must reduce distortion: $refined vs $seeded")
    // the refined books still encode valid codes and zero residual storage
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "refinement must not pin block-manager storage")
  }

  test("SQ8 codes store substantially smaller than the float vectors") {
    val dir = tmpDir("sq_size")
    val bounds = Similarity.scalarQuantizeBounds(embs, "embedding")
    embs.select("vec_id", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/full")
    Similarity.scalarQuantize(embs, "vec_id", "embedding", bounds)
      // int codes 0..255: a production lake packs them to a binary
      // column; cast to byte-equivalent here so the parquet byte width
      // reflects the 8-bit payload, not the int32 logical type
      .select(col("vec_id"),
        transform(col("code"), c => (c - 128).cast("tinyint")).as("code"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codes")
    def bytes(p: String): Long = {
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(p))
        .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    }
    val (full, codes) = (bytes(s"$dir/full"), bytes(s"$dir/codes"))
    assert(codes.toDouble / full <= 0.5,
      s"SQ8 codes $codes B vs float vectors $full B — expected <= 0.5x")
  }

  test("exact dedup collapses planted exact duplicates") {
    val planted = docs.limit(5).union(docs.limit(2)) // 2 exact dups
    val out = Dedup.exact(planted, Seq("text"), "doc_id")
    assert(out.count() == 5)
    assert(out.agg(sum($"n_copies")).as[Long].head() == 7)
  }

  test("ngram jaccard blocking is exact when stop-shingle and dense paths engage") {
    // Fixture engineered so EVERY branch of the stop-shingle-aware
    // blocking fires: a ubiquitous template (df = all docs ≫ 5% cut) so
    // template shingles classify COMMON; template-dominated docs whose
    // ρ = ⌈t·n⌉ − u ≤ 0 (dense path); planted pairs sharing RARE
    // shingles (df=2 prefix path); and unique-tail docs (df=1 cut).
    val template = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val rows = (0 until 40).map { i =>
      val p = i / 2
      // partners differ ONLY in the last word: 13 of 14 shingles shared
      // → J = 13/15 ≈ 0.87 ≥ 0.8, and the shared pair-shingles have df=2
      val last = if (i % 2 == 0) s"u$i" else s"x$i"
      (i.toLong, s"$template pair${p}a pair${p}b pair${p}c pair${p}d $last")
    } ++ (100 until 110).map(i => (i.toLong, s"solo$i only$i words$i here$i"))
    val fixture = rows.toDF("doc_id", "text")
    // brute force over all pairs (50 docs — fine in a test)
    val sets = Dedup.withShingleSets(fixture, "doc_id", "text", 3)
    val a = sets.select($"doc_id".as("id_a"), $"sh".as("sh_a"))
    val b = sets.select($"doc_id".as("id_b"), $"sh".as("sh_b"))
    def pairsAt(t: Double): Set[(Long, Long)] =
      a.join(b, $"id_a" < $"id_b")
        .withColumn("j", graft.functions.TextFunctions.jaccard($"sh_a", $"sh_b"))
        .filter($"j" >= t).select("id_a", "id_b")
        .as[(Long, Long)].collect().toSet
    for (t <- Seq(0.5, 0.8)) {
      val blocked = Dedup.ngramJaccardPairs(fixture, "doc_id", "text", 3, t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val brute = pairsAt(t)
      assert(brute.nonEmpty, s"fixture must contain pairs at t=$t")
      assert(blocked == brute,
        s"t=$t lost ${brute -- blocked} / invented ${blocked -- brute}")
    }
    // the dense path genuinely engaged at t=0.5 (template-dominated docs
    // have ρ ≤ 0) — prove it by watching the budget refuse. The refusal
    // is a raise_error INSIDE the plan (no driver-side count action), so
    // it surfaces as a SparkException chain around the budget message.
    val densePairs = intercept[Exception] {
      Dedup.ngramJaccardPairs(fixture, "doc_id", "text", 3, 0.5,
        maxDensePairs = 0L)
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ chain(e.getCause))
    assert(chain(densePairs).exists(_.contains("dense-record cross")),
      s"expected the dense-budget refusal, got: ${chain(densePairs)}")
  }

  test("blocking budget: ngram/minhash/simhash candidates stay far under all-pairs") {
    // The cross-table path audits its blocking fan-out via candidateSink
    // (EntityResolutionSpec); same discipline for the self-join family at
    // gate scale (sf0.01 documents): each blocker's candidate-pair count
    // must stay well under all-pairs, so blocking quality is ASSERTED,
    // not hoped.
    val d = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val n = d.count()
    val allPairs = n * (n - 1) / 2
    // ngram: the stop-shingle-aware PPJoin+ prefix join
    val sets = Dedup.withShingleSets(d, "doc_id", "text", 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the candidate generator enrolls its dfreq checkpoint in the
    // caller's release scope
    val ngramCands = Blocks.scope {
      Dedup.ngramJaccardCandidates(sets, "doc_id", 0.8).count()
    }
    sets.unpersist(blocking = true)
    // minhash: band-bucket collisions
    val idx = Dedup.minhashBandIndex(d, "doc_id", "text")
    val mhCands = idx.select($"id".as("id_a"), $"band", $"bucket")
      .join(idx.select($"id".as("id_b"), $"band", $"bucket"), Seq("band", "bucket"))
      .filter($"id_a" < $"id_b").select("id_a", "id_b").distinct().count()
    // simhash: chunk-key collisions at the scale-default radius
    val sigs = Dedup.simhashSignatures(d, "doc_id", "text", 2)
    val sims = Dedup.simhashPairsFromSigs(sigs, "doc_id", 3)
    // simhashPairsFromSigs filters exactly; audit the PRE-filter collision
    // count via a raw chunk join on the same 4-chunk split
    val chunkW = Seq(16, 16, 16, 16)
    val offs = chunkW.scanLeft(0)(_ + _)
    val banded = sigs.select($"doc_id".as("id"), $"simhash",
      posexplode(array((0 until 4).map(c =>
        shiftrightunsigned($"simhash", offs(c))
          .bitwiseAND(lit((1L << chunkW(c)) - 1))): _*)))
    val shCands = banded.select($"id".as("id_a"), $"pos", $"col")
      .join(banded.select($"id".as("id_b"), $"pos", $"col"), Seq("pos", "col"))
      .filter($"id_a" < $"id_b").select("id_a", "id_b").distinct().count()
    info(s"allPairs=$allPairs ngram=$ngramCands minhash=$mhCands simhash=$shCands")
    assert(sims.count() >= 0) // force the exact path too (plan sanity)
    assert(ngramCands < (allPairs * 6) / 10,
      s"ngram blocking produced $ngramCands of $allPairs")
    assert(mhCands < (allPairs * 6) / 10,
      s"minhash blocking produced $mhCands of $allPairs")
    assert(shCands < (allPairs * 6) / 10,
      s"simhash blocking produced $shCands of $allPairs")
  }

  test("minhash+LSH near-dup pairs equal exact n-gram jaccard pairs") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashNearDupPairs(docs, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "test corpus should contain planted near-dups")
    assert(lsh == exact)
  }

  test("incremental near-dup equals full pairs restricted to new-side pairs") {
    val corpus = docs.filter($"doc_id" % 10 < 8)
    val fresh = docs.filter($"doc_id" % 10 >= 8)
    val idx = Dedup.minhashBandIndex(corpus, "doc_id", "text")
    val inc = Dedup.incrementalNearDupPairs(fresh, corpus, idx, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val full = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = full.filter { case (a, b) => a % 10 >= 8 || b % 10 >= 8 }
    assert(expected.nonEmpty, "fixture must have pairs with a new side")
    assert(inc == expected,
      s"missed ${expected -- inc} / invented ${inc -- expected}")
    // corpus-internal pairs must NOT be emitted
    assert(inc.forall { case (a, b) => a % 10 >= 8 || b % 10 >= 8 })
  }

  test("incremental dedup tolerates re-delivery and rejects a mismatched index") {
    val corpus = docs.filter($"doc_id" % 10 < 8)
    // the batch re-delivers three docs the corpus already holds
    val fresh = docs.filter($"doc_id" % 10 >= 8)
      .unionByName(corpus.orderBy("doc_id").limit(3))
    val idx = Dedup.minhashBandIndex(corpus, "doc_id", "text")
    val inc = Dedup.incrementalNearDupPairs(fresh, corpus, idx, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(inc.forall { case (a, b) => a < b }, "self-pairs must be filtered")
    assert(inc.length == inc.distinct.length, "re-delivery must not duplicate rows")
    // an index built with different banding must fail fast, not return
    // an empty (silently wrong) result
    intercept[IllegalArgumentException] {
      Dedup.incrementalNearDupPairs(fresh, corpus,
        Dedup.minhashBandIndex(corpus, "doc_id", "text", bands = 32, rowsPerBand = 2),
        "doc_id", "text")
    }
    // SAME band count but different rowsPerBand hashes different signature
    // slices — equally silently wrong, must also fail fast
    intercept[IllegalArgumentException] {
      Dedup.incrementalNearDupPairs(fresh, corpus,
        Dedup.minhashBandIndex(corpus, "doc_id", "text", bands = 16, rowsPerBand = 8),
        "doc_id", "text")
    }
  }

  test("a persisted index clustered by (band, bucket) passes the banding guard") {
    // the docstring-recommended at-rest layout: sorted by (band, bucket),
    // written to parquet, read back — the first rows are all band 0, which
    // a row-order sample guard would spuriously reject
    val corpus = docs.filter($"doc_id" % 10 < 8)
    val fresh = docs.filter($"doc_id" % 10 >= 8)
    val dir = tmpDir("bandidx")
    Dedup.minhashBandIndex(corpus, "doc_id", "text")
      .orderBy("band", "bucket").write.mode("overwrite").parquet(dir)
    val persisted = spark.read.parquet(dir)
    val viaPersisted = Dedup.incrementalNearDupPairs(fresh, corpus, persisted,
      "doc_id", "text").select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val viaFresh = Dedup.incrementalNearDupPairs(fresh, corpus,
      Dedup.minhashBandIndex(corpus, "doc_id", "text"), "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(viaPersisted == viaFresh)
    // an index without its embedded parameters is refused outright
    val legacyNarrow = Dedup.minhashBandIndex(corpus, "doc_id", "text",
      bands = 8, rowsPerBand = 8).drop("bands", "rows_per_band")
      .orderBy("band", "bucket")
    intercept[IllegalArgumentException] {
      Dedup.incrementalNearDupPairs(fresh, corpus, legacyNarrow, "doc_id", "text")
    }
  }

  test("simhash banding is exact within the radius at the scale default (h=3)") {
    // The pigeonhole banding guarantee: banded output == brute-force
    // Hamming-radius pairs, exactly. Asserted at the scale-safe default
    // radius the driver query ships with.
    val sigs = Dedup.simhashSignatures(docs, "doc_id", "text", 2)
    val a = sigs.select($"doc_id".as("id_a"), $"simhash".as("sa"))
    val b = sigs.select($"doc_id".as("id_b"), $"simhash".as("sb"))
    val brute = a.join(b, $"id_a" < $"id_b")
      .filter(bit_count($"sa".bitwiseXOR($"sb")) <= 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val banded = Dedup.simhashNearDupPairs(docs, "doc_id", "text", 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty, "fixture must contain in-radius pairs")
    assert(banded == brute, s"banding lost ${brute -- banded} / invented ${banded -- brute}")
  }

  test("wide-radius simhash recovers the planted short-doc near-dups") {
    // Short fixture docs (10-99 words) leave tight per-bit majority
    // margins, so jaccard~0.98 pairs land up to ~10 bits apart — the
    // regime where the wide radius (13 narrow chunks, small-corpus only;
    // see Dedup.simhashNearDupPairs doc) is the right setting.
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text", 2, maxHamming = 12)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.subsetOf(pairs), s"simhash missed ${exact -- pairs}")
  }

  test("LSH top-k achieves reasonable recall vs brute force") {
    val probes = embs.filter($"vec_id" < 20)
    val exact = Similarity.bruteForceTopK(embs, probes, "vec_id", "embedding", 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.lshTopK(embs, probes, "vec_id", "embedding", 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.5, s"ANN recall too low: $recall")
    // OR-amplification: three independent tables must not lose recall,
    // and should recover most single-table misses
    val ann3 = Similarity.lshTopK(embs, probes, "vec_id", "embedding", 5, nTables = 3)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall3 = (exact & ann3).size.toDouble / exact.size
    assert(recall3 >= recall, s"multi-table recall $recall3 < single $recall")
    assert(recall3 >= 0.7, s"3-table recall too low: $recall3")
  }

  test("query-directed multi-probe concentrates recall into fewer buckets") {
    val probes = embs.filter($"vec_id" < 20)
    val exact = Similarity.bruteForceTopK(embs, probes, "vec_id", "embedding", 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def ann(nProbes: Int) =
      Similarity.lshTopK(embs, probes, "vec_id", "embedding", 5, nProbes = nProbes)
        .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val full = ann(0) // exhaustive: all 22 masks within Hamming 2 of 6 bits
    // probing every mask through the margin-ranking path is a pure
    // reordering — identical output proves the directed machinery correct
    assert(ann(22) == full, "directed probing of all masks must equal exhaustive")
    // The fixture embeddings are STRUCTURELESS (no clusters), where recall
    // is proportional to the scanned corpus fraction for ANY probe choice
    // — the hardest case for directed probing. The property that must
    // hold even here: margin-ranked buckets beat a proportional scan
    // (10/22 of the budget must retain MORE than 10/22 of the recall,
    // because boundary-split neighbors concentrate in low-margin buckets).
    // On clustered real embeddings the gap widens to near-equal recall.
    val directed = ann(10)
    val rFull = (exact & full).size.toDouble / exact.size
    val rDirected = (exact & directed).size.toDouble / exact.size
    info(s"recall full(22 probes)=$rFull directed(10 probes)=$rDirected")
    assert(rDirected > rFull * (10.0 / 22.0),
      s"directed probing must beat proportional scanning: $rDirected vs $rFull")
    assert(rDirected >= 0.3, s"directed recall too low: $rDirected")
  }

  test("LSH-blocked embedding near-dup achieves high recall vs exact") {
    val exact = Dedup.embeddingNearDupPairs(embs, "vec_id", "embedding", 0.35)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingNearDupPairsLsh(embs, "vec_id", "embedding", 0.35)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert(lsh.subsetOf(exact), "LSH path must never invent pairs")
    val recall = (exact & lsh).size.toDouble / exact.size
    // threshold 0.35 is ~70 deg — far pairs, so recall tracks the scanned
    // fraction (P[<=2 of 6 bits agree-flip] ~ 0.57); true near-dups
    // (cosine >= 0.9) collide with probability ~1
    assert(recall >= 0.4, s"LSH near-dup recall too low: $recall")
  }

  test("IVF top-k achieves reasonable recall vs brute force") {
    val probes = embs.filter($"vec_id" < 20)
    val exact = Similarity.bruteForceTopK(embs, probes, "vec_id", "embedding", 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(embs, probes, "vec_id", "embedding", 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.2, s"IVF recall too low: $recall")
  }

  test("brute-force top-k ranks by true cosine") {
    val out = Similarity.bruteForceTopK(embs, embs.filter($"vec_id" === 0),
      "vec_id", "embedding", 3)
      .select("rank", "cosine").as[(Int, Double)].collect().sortBy(_._1)
    assert(out.length == 3)
    assert(out.sliding(2).forall { case Array(a, b) => a._2 >= b._2 })
  }

  test("host-keyed exact dedup: same content collapses within a host, never across hosts") {
    val df = Seq(
      (1L, "hostA", "Hello   world test"),
      (2L, "hostA", "hello world test".replace("h", "H")), // normalizes equal to 1
      (3L, "hostB", "Hello world test"),                   // same content, other host
      (4L, "hostA", "entirely different content here")
    ).toDF("doc_id", "source", "text")
    val out = Dedup.exactByHostKey(df, "doc_id", "source", "text")
      .as[(String, Long, Long)].collect().toSet
    assert(out == Set(("hostA", 1L, 2L), ("hostB", 3L, 1L), ("hostA", 4L, 1L)),
      s"whitespace-normalized dup must collapse within hostA only, got $out")
  }

  test("cluster report: distribution covers the corpus; representatives are component minima") {
    val canon = Dedup.canonicalize(docs, "doc_id", "text")
    val report = Dedup.clusterReport(canon)
      .select("cluster_size", "n_clusters", "n_docs", "min_canonical_id")
      .as[(Long, Long, Long, Long)].collect()
    assert(report.map(_._3).sum == docs.count(),
      "size buckets must partition the corpus")
    assert(report.forall { case (size, n, docs_, _) => docs_ == size * n })
    // the representative policy: every canonical id is the min of its
    // cluster, so a cluster of size >= 2 has members above the canonical
    val labels = canon.as[(Long, Long)].collect()
    assert(labels.forall { case (id, c) => c <= id },
      "canonical must be the component min")
  }

  test("cluster representatives carry the cluster's maximum quality logit") {
    import org.apache.spark.sql.functions._
    val reps = graft.queries.Extensions.dedupClusterRepresentatives(spark, sf0001)
    val canon = Dedup.canonicalize(docs, "doc_id", "text", k = 3, threshold = 0.8)
    val scores = graft.operators.TextAnalysis
      .qualityScore(docs, "doc_id", "text").select($"doc_id", $"quality_logit")
    val truth = canon.join(scores, "doc_id").groupBy("canonical_id")
      .agg(max($"quality_logit").as("mx"), count(lit(1)).cast("long").as("n"))
    // every cluster appears exactly once, with the max logit and true size
    assert(reps.count() == truth.count())
    val bad = reps.join(truth, "canonical_id")
      .filter($"rep_logit" =!= $"mx" || $"cluster_size" =!= $"n")
    assert(bad.isEmpty, s"mismatched representatives: ${bad.head(3).mkString}")
    // the representative is a member of its own cluster
    val nonMember = reps.select($"canonical_id", $"rep_doc_id".as("doc_id"))
      .join(canon, Seq("doc_id", "canonical_id"), "left_anti")
    assert(nonMember.isEmpty)
  }

  test("cross-encoder rerank: batch-size invariant, shortlist-scoped, rank-coherent") {
    import graft.functions.{VectorFunctions => VF}
    import org.apache.spark.sql.functions._
    val probes = embs.filter($"vec_id" === 0)
    val short = Similarity.bruteForceTopK(embs, probes, "vec_id", "embedding", 20)
      .withColumnRenamed("rank", "ann_rank")
    val vecs = embs.select($"vec_id", VF.toDouble($"embedding").as("e"),
      $"label".cast("double").as("lab"))
    val withSides = short
      .join(vecs.select($"vec_id".as("probe_id"), $"e".as("p_e"),
        $"lab".as("p_lab")), "probe_id")
      .join(vecs.select($"vec_id".as("neighbor_id"), $"e".as("c_e"),
        $"lab".as("c_lab")), "neighbor_id")
      .withColumn("label_gap", abs($"p_lab" - $"c_lab"))
    def run(bs: Int) = Similarity.crossEncoderRerank(withSides, batchSize = bs,
        topK = 10).orderBy("ce_rank")
      .select("neighbor_id", "ann_rank", "ce_score", "ce_rank")
      .as[(Long, Int, Double, Int)].collect().toSeq
    val b1 = run(1); val b8 = run(8); val b64 = run(64)
    // batching is pure plumbing: any batch size gives bit-identical output
    assert(b1 == b8 && b8 == b64)
    assert(b8.length == 10 && b8.map(_._4) == (1 to 10))
    // the reranker only reorders the shortlist — every survivor came from it
    assert(b8.forall(_._2 <= 20))
    // zero-gap candidates keep their cosine order; damping can only demote
    // relative to ann order when gaps differ — sanity: scores descend
    assert(b8.map(_._3) == b8.map(_._3).sorted.reverse)
  }

  test("threshold sweep: one candidate pass equals per-threshold joins; strict end keeps its zero row") {
    val ts = Seq(0.6, 0.8, 0.95)
    val sweep = Dedup.thresholdSweep(docs, "doc_id", "text", k = 3,
      thresholds = ts)
      .as[(Double, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(sweep.map(_._1) === ts.sorted, "every sweep point keeps a row")
    val nDocs = docs.count()
    assert(sweep.forall(_._4 == nDocs), "corpus size rides along")
    // reference: the full near-dup join run once PER threshold — the
    // single loosest-threshold candidate pass must lose nothing at any
    // tighter point (the PPJoin prefix at t_min is a superset)
    for ((t, np, nd, _) <- sweep) {
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        k = 3, threshold = t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(np == pairs.size.toLong, s"n_pairs at $t")
      assert(nd == pairs.flatMap(p => Seq(p._1, p._2)).size.toLong,
        s"n_dup_docs at $t")
    }
    // tightening the threshold never adds pairs or participating docs
    assert(sweep.sliding(2).forall {
      case Seq(a, b) => b._2 <= a._2 && b._3 <= a._3
      case _ => true
    })
  }

  test("containment sweep: one candidate pass equals per-threshold joins") {
    val ts = Seq(0.6, 0.85, 1.0)
    val sweep = Dedup.containmentSweep(docs, "doc_id", "text", k = 3,
      thresholds = ts)
      .as[(Double, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(sweep.map(_._1) === ts.sorted)
    for ((t, np, nc, _) <- sweep) {
      val pairs = Dedup.containmentPairs(docs, "doc_id", "text",
        k = 3, threshold = t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(np == pairs.size.toLong, s"n_pairs at $t")
      assert(nc == pairs.map(_._1).size.toLong, s"n_contained_docs at $t")
    }
  }

  test("weighted-jaccard sweep: one candidate pass equals per-threshold joins") {
    val ts = Seq(0.5, 0.8, 0.95)
    val sweep = Dedup.weightedJaccardSweep(docs, "doc_id", "text", k = 3,
      thresholds = ts)
      .as[(Double, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(sweep.map(_._1) === ts.sorted)
    for ((t, np, nd, _) <- sweep) {
      val pairs = Dedup.weightedJaccardPairs(docs, "doc_id", "text",
        k = 3, threshold = t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(np == pairs.size.toLong, s"n_pairs at $t")
      assert(nd == pairs.flatMap(p => Seq(p._1, p._2)).size.toLong,
        s"n_dup_docs at $t")
    }
  }
}
