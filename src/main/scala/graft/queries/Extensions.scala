package graft.queries

import graft.{GraftSession, Overlap, Tables}
import graft.GraftSession.freshDir
import graft.operators.{Blocks, Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The training-data pipeline operator surface: dedup, similarity search,
  * text analysis, multimodal plumbing. SQL-expressible entries carry a
  * DuckDB oracle built on the same deterministic arithmetic (sequential
  * double folds ≡ `list_reduce`, integer counts, modular hashes);
  * approximate/hash-dependent ops (simhash, LSH top-k, xxhash features)
  * are rows-only checked here and recall-tested in ScalaTest.
  */
object Extensions {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")
  private def embs(s: SparkSession, d: String) = Tables.load(s, d, "embeddings")

  /** SPLIT-PHASE ORACLE support: the four queries whose candidate
    * generation rides the engine's xxhash sketch family (DuckDB cannot
    * replicate the hashes) persist that hash-dependent half — simhash
    * codes, LSH candidate pairs, minhash signatures — to this fixed
    * per-scale-factor path during the query run; their oracle SQL
    * `read_parquet`s the SAME artifact and exactly verifies everything
    * downstream of the hash family (Hamming-radius pair sets, cosine
    * scoring/ranking, Jaccard-estimate arithmetic). */
  private def splitDir(d: String): String =
    s"${GraftSession.scratchRoot}/split_phase/${new java.io.File(d).getName}"

  /** The gate always runs at sf0.01 (TESTDATA.md contract), so the static
    * oracle SQL pins that artifact path; Bench runs at other SFs write
    * sibling dirs and never clobber the gated artifact. */
  private val oracleSplitDir = s"${GraftSession.scratchRoot}/split_phase/sf0.01"

  // ---- dedup ----

  def dedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exact(docs(s, d), Seq("text"), "doc_id")
      .select(col("doc_id"), col("n_copies"))
      .orderBy("doc_id")

  def dedupNgram(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text", k = 3, threshold = 0.8)
      .orderBy("id_a", "id_b")

  /** tf-WEIGHTED (multiset) Jaccard near-dup pairs — exact, no hash
    * family; the string-keyed oracle certifies the xxhash64 type key. */
  def dedupWeightedJaccard(s: SparkSession, d: String): DataFrame =
    Dedup.weightedJaccardPairs(docs(s, d), "doc_id", "text",
      k = 3, threshold = 0.8)
      .orderBy("id_a", "id_b")

  /** Dup-rate curve across candidate near-dup thresholds — ONE
    * candidate pass at the loosest point serves the whole sweep
    * (policy selection without re-paying the corpus-scale join per
    * threshold). */
  def dedupThresholdSweep(s: SparkSession, d: String): DataFrame =
    Dedup.thresholdSweep(docs(s, d), "doc_id", "text", k = 3,
      thresholds = Seq(0.6, 0.7, 0.8, 0.9))

  def dedupMinhash(s: SparkSession, d: String): DataFrame =
    Dedup.minhashNearDupPairs(docs(s, d), "doc_id", "text", k = 3, threshold = 0.8)
      .orderBy("id_a", "id_b")

  /** Split-phase gated: codes persist, then the banded pair extraction
    * runs over the READ-BACK codes; the oracle brute-forces the
    * Hamming-radius pair set over the same artifact — since banding is
    * pigeonhole-exact within the radius, this gates the banding too. */
  def dedupSimhash(s: SparkSession, d: String): DataFrame = {
    val path = s"${splitDir(d)}/simhash_codes"
    Dedup.simhashSignatures(docs(s, d), "doc_id", "text", k = 2)
      .coalesce(1).write.mode("overwrite").parquet(path)
    Dedup.simhashPairsFromSigs(s.read.parquet(path), "doc_id")
      .orderBy("id_a", "id_b")
  }

  /** Incremental dedup gate: corpus = 80% of docs (doc_id % 10 < 8), new
    * batch = the rest. The corpus is touched only through its
    * PRECOMPUTED band index plus the broadcast-pruned candidate fetch —
    * the streaming-ingest dedup shape. Oracle = exact Jaccard pairs with
    * at least one new side (LSH prunes, verification is exact). */
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val corpus = all.filter(col("doc_id") % 10 < 8)
    val fresh = all.filter(col("doc_id") % 10 >= 8)
    Dedup.incrementalNearDupPairs(fresh, corpus,
      Dedup.minhashBandIndex(corpus, "doc_id", "text"), "doc_id", "text")
      .orderBy("id_a", "id_b")
  }

  /** The index-ACCUMULATION loop (what the streaming ingest runs): three
    * arriving batches, each deduped against the index of everything
    * before it, then appended to the index. The accumulated pair log
    * must equal the one-shot full-corpus computation — the proof that
    * per-batch incremental dedup with a persistent band index converges
    * to the batch semantics (its oracle IS dedup_ngram_jaccard's SQL). */
  def dedupIncrementalFold(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val batches = (0 until 3).map(i => all.filter(col("doc_id") % 3 === i))
    val empty = all.filter(lit(false))
    val (_, _, pairLog) = batches.foldLeft(
      (empty, Dedup.minhashBandIndex(empty, "doc_id", "text"),
        Seq.empty[DataFrame])) { case ((corpus, index, logs), batch) =>
      // each batch's index is built ONCE (used for this round's collision
      // join AND appended to the accumulator); the accumulated index is
      // copied out per step like a real deployment would persist it —
      // lineage must not re-derive every prior batch's signatures per
      // round, and the accumulator must not pin block-manager storage
      // across steps (Blocks.copyOut = disk-backed, zero block residency)
      val batchIndex = Dedup.minhashBandIndex(batch, "doc_id", "text")
      val Seq(nextIndex, pairs) = Overlap.all(
        () => Blocks.copyOut(index.unionByName(batchIndex)),
        () => Dedup.incrementalNearDupPairs(batch, corpus, index,
          "doc_id", "text", newIndex = Some(batchIndex)))
      (corpus.unionByName(batch), nextIndex, logs :+ pairs)
    }
    pairLog.reduce(_ unionByName _).orderBy("id_a", "id_b")
  }

  /** The streaming fixtures' crash-replay protocol: `start` runs to
    * completion, the final epoch's STREAM commit vanishes (the restart
    * re-delivers that batch) and `start` runs again; every idempotent
    * epoch commit downstream must keep its artifact exact (no
    * duplicates, no loss). `afterPass(replayed)` runs after each pass. */
  private[graft] def crashReplay(s: SparkSession, base: String,
      afterPass: Boolean => Unit = _ => ())(
      start: () => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    graft.streaming.StreamingIngest.awaitWithRestartRetry(start)
    afterPass(false)
    val commits = new org.apache.hadoop.fs.Path(s"$base/ckpt/commits")
    val fs = commits.getFileSystem(s.sparkContext.hadoopConfiguration)
    val last = fs.listStatus(commits).map(_.getPath.getName)
      .filterNot(_.startsWith(".")).map(_.toLong).max
    graft.streaming.StreamingIngest.dropCommit(s, s"$base/ckpt", last)
    graft.streaming.StreamingIngest.awaitWithRestartRetry(start)
    afterPass(true)
  }

  /** [[crashReplay]] over `rows` (doc_id, text) replayed as a three-file
    * json stream under `base`/in — file i holds doc_id % 3 = i, passed
    * through `shape(i, _)` — one file per trigger. */
  private def crashReplayDocs(s: SparkSession, base: String, rows: DataFrame,
      shape: (Int, DataFrame) => DataFrame = (_, b) => b,
      afterPass: Boolean => Unit = _ => ())(
      start: DataFrame => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    (0 until 3).foreach(i => shape(i, rows.filter(col("doc_id") % 3 === i))
      .coalesce(1).write.mode("append").json(s"$base/in"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    crashReplay(s, base, afterPass)(() => start(s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(s"$base/in")))
  }

  /** STREAMING incremental dedup gate — the deployment integration the
    * batch fold (`dedup_incremental_fold`) models: the documents table
    * replayed as a 3-file json stream (≈one micro-batch per file), each
    * batch deduped against the accumulated TRANSACTIONAL corpus + band
    * index, with a FORCED crash replay of the final epoch (stream commit
    * deleted, restart re-delivers). The committed pair log must equal
    * the one-shot full-corpus near-dup pairs — set equality is
    * batching-independent (every pair has a later-arriving side), so the
    * oracle is the same plain SQL as the batch operator, now proven
    * through the streaming shape with exactly-once artifacts. */
  def dedupStreamingIndex(s: SparkSession, d: String): DataFrame = {
    val base = freshDir(s, "sdedup", d)
    crashReplayDocs(s, base, docs(s, d).select(col("doc_id"), col("text"))) { in =>
      graft.streaming.StreamingDedup.start(in, "doc_id", "text", base,
        s"$base/ckpt", org.apache.spark.sql.streaming.Trigger.AvailableNow())
    }
    graft.streaming.StreamingDedup.pairLog(s, base).orderBy("id_a", "id_b")
  }

  /** STREAMING substring-index gate: the documents replayed as a 3-file
    * json stream into [[graft.streaming.StreamingDedup.startSubstringIndex]],
    * with a FORCED crash replay of the final epoch (stream commit
    * deleted, batch re-delivered). The served per-doc longest repeat
    * must equal the one-shot whole-corpus answer — the oracle is
    * literally `text_dedup_substrings`' SQL. */
  def dedupStreamingSubstrings(s: SparkSession, d: String): DataFrame = {
    val base = freshDir(s, "ssub", d)
    crashReplayDocs(s, base, docs(s, d).select(col("doc_id"), col("text"))) { in =>
      graft.streaming.StreamingDedup.startSubstringIndex(in, "doc_id", "text",
        s"$base/idx", s"$base/ckpt", org.apache.spark.sql.streaming.Trigger.AvailableNow())
    }
    Dedup.longestDupSubstringsFromIndex(s, s"$base/idx").orderBy("doc_id")
  }

  /** STREAMING decontamination gate: the train docs (doc_id % 10 != 0)
    * replayed as a 3-file json stream, each micro-batch flagged against
    * the static eval set, with a FORCED crash replay of the final epoch.
    * The committed quarantine log must equal the one-shot batch
    * decontamination — same oracle as `text_decontaminate`. */
  def dedupStreamingDecon(s: SparkSession, d: String): DataFrame = {
    val base = freshDir(s, "sdecon", d)
    val all = docs(s, d).select(col("doc_id"), col("text"))
    val evalSet = all.filter(col("doc_id") % 10 === 0)
    crashReplayDocs(s, base, all.filter(col("doc_id") % 10 =!= 0)) { in =>
      graft.streaming.StreamingDedup.startDecontaminate(in, evalSet,
        "doc_id", "text", base, s"$base/ckpt", org.apache.spark.sql.streaming.Trigger.AvailableNow())
    }
    graft.streaming.StreamingDedup.quarantineLog(s, base).orderBy("train_id")
  }

  /** Streaming FUZZY decontamination gate: the same three-batch stream
    * + forced crash replay as the exact variant, with the MinHash-banded
    * cross-set pass per batch — the accumulated log must equal the
    * one-shot fuzzy join over the whole train corpus (the batch oracle). */
  def dedupStreamingFuzzyDecon(s: SparkSession, d: String): DataFrame = {
    val base = freshDir(s, "sfdecon", d)
    val all = docs(s, d).select(col("doc_id"), col("text"))
    val evalSet = all.filter(col("doc_id") % 10 === 0)
    crashReplayDocs(s, base, all.filter(col("doc_id") % 10 =!= 0)) { in =>
      graft.streaming.StreamingDedup.startDecontaminateFuzzy(in, evalSet,
        "doc_id", "text", base, s"$base/ckpt", org.apache.spark.sql.streaming.Trigger.AvailableNow())
    }
    graft.streaming.StreamingDedup.fuzzyQuarantineLog(s, base)
      .orderBy("train_id", "eval_id")
  }

  /** STREAMING QUALITY CIRCUIT-BREAKER gate: three micro-batches, the
    * middle one poisoned by a truncating producer (every text cut to 20
    * chars — individually parseable rows, statistically broken batch).
    * The per-batch violation fraction (rule: text shorter than 40
    * chars, which NO healthy doc triggers) trips the breaker at 50%:
    * the poisoned batch lands complete in the quarantine lake, healthy
    * batches commit normally, and a forced crash replay of the final
    * stream epoch must contract to a no-op (same verdict re-derived,
    * idempotent epoch commit). Output: every doc with the lake it
    * actually reached. */
  def pipeStreamingCircuit(s: SparkSession, d: String): DataFrame = {
    val base = freshDir(s, "scirc", d)
    crashReplayDocs(s, base, docs(s, d).select(col("doc_id"), col("text")),
      shape = (i, b) =>
        if (i == 1) b.withColumn("text", substring(col("text"), 1, 20)) else b) { in =>
      graft.streaming.QualityGate.start(in,
        violation = length(col("text")) < 40,
        maxViolationFrac = 0.5,
        s"$base/lake", s"$base/quarantine", s"$base/ckpt", org.apache.spark.sql.streaming.Trigger.AvailableNow())
    }
    val T = graft.sources.TransactionalLake
    T.readCommitted(s, s"$base/lake")
      .select(col("doc_id"), lit("lake").as("route"))
      .unionByName(T.readCommitted(s, s"$base/quarantine")
        .select(col("doc_id"), lit("quarantine").as("route")))
      .orderBy("doc_id")
  }

  def dedupCanonical(s: SparkSession, d: String): DataFrame =
    Dedup.canonicalize(docs(s, d), "doc_id", "text", k = 3, threshold = 0.8)
      .orderBy("doc_id")

  /** INCREMENTAL canonicalization gate: three arriving batches, each
    * deduped against the accumulated band index (the
    * [[dedupIncrementalFold]] machinery) and FOLDED into the maintained
    * (id → canonical_id) map via `Dedup.canonicalizeIncremental` —
    * per-batch cost O(batch + touched components), never O(corpus). The
    * folded map must equal the one-shot [[dedupCanonical]] closure over
    * the union — the same recursive-CTE oracle gates both.
    *
    * TIMING CAVEAT: this gate's wall time is FOLD-CONSTRUCTION overhead
    * — it builds a fresh MinHash band index per batch and replays all
    * three folds inside one invocation — and runs ~3x the one-shot
    * [[dedupCanonical]] at gate scale. That is NOT the production
    * per-batch cost: steady state maintains the index and map
    * incrementally (see `train_corpus_prep_v4`, which consumes the
    * maintained map and beats the re-dedup flagship, and
    * `pipe_keyed_view`'s O(changes) refresh contract). */
  def dedupCanonicalIncremental(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val batches = (0 until 3).map(i => all.filter(col("doc_id") % 3 === i))
    val empty = all.filter(lit(false))
    val emptyMap = all.select(col("doc_id"), col("doc_id").as("canonical_id"))
      .filter(lit(false))
    // per step, three independent materializations overlap: the
    // accumulated-index copyOut, this batch's pairs, and the fold of the
    // PREVIOUS batch's pairs into the map (map(i) needs pairs(i), never
    // index(i)); the last batch's fold runs after the loop. The map and
    // index are copied out per step (file-backed): lineage must not
    // re-derive every prior batch's work per round
    def fold(map: DataFrame, step: Option[(DataFrame, DataFrame)]): DataFrame =
      step.fold(map) { case (batch, pairs) =>
        Blocks.copyOut(Dedup.canonicalizeIncremental(map, batch, pairs, "doc_id"))
      }
    val (_, _, map, last) = batches.foldLeft((empty,
      Dedup.minhashBandIndex(empty, "doc_id", "text"), emptyMap,
      Option.empty[(DataFrame, DataFrame)])) {
      case ((corpus, index, map, prev), batch) =>
        val batchIndex = Dedup.minhashBandIndex(batch, "doc_id", "text")
        val Seq(nextIndex, pairs, nextMap) = Overlap.all(
          () => Blocks.copyOut(index.unionByName(batchIndex)),
          // pairs file-backed before the fold step consumes them twice
          // (endpoint scan + label join) — mirrors the streaming path,
          // where the canonical maintenance reads the COMMITTED pair epoch
          () => Blocks.copyOut(Dedup.incrementalNearDupPairs(batch, corpus,
            index, "doc_id", "text", newIndex = Some(batchIndex))),
          () => fold(map, prev))
        (corpus.unionByName(batch), nextIndex, nextMap, Some((batch, pairs)))
    }
    fold(map, last).orderBy("doc_id")
  }

  /** CONTINUOUS-MAINTENANCE CHAIN gate — the full derived-artifact
    * cascade a 100 TB corpus deployment runs under ONE ingest stream:
    * micro-batches commit corpus/index/pair epochs (StreamingDedup),
    * each committed pair epoch advances the canonical map by an
    * O(changes) delta (maintainCanonical), each canonical delta mirrors
    * into a MERGE lake as doc → (cluster, text-mass) upserts, and the
    * hash-bucketed keyed view refreshes per epoch (O(changes + touched
    * buckets)) into per-cluster doc counts and mass. Every stage is
    * exactly-once: after a FORCED crash replay of the final stream
    * epoch, the second maintenance pass must contract to a no-op (the
    * view cursor may not advance). Nothing in the chain ever rewrites
    * or rescans the corpus — the one deliberate exception is the mass
    * lookup join (O(changes) broadcast against the corpus lake; a
    * production deployment carries the mass inside the corpus epoch
    * and prunes the scan, or keeps it in the key index).
    *
    * Oracle: the one-shot connected-component closure joined back to
    * the documents table — per-cluster counts and total characters. */
  def dedupCanonicalChain(s: SparkSession, d: String): DataFrame = {
    val base = freshDir(s, "schain", d)
    val croot = graft.streaming.StreamingDedup.canonicalRoot(base)
    val mroot = s"$base/clusterlake"
    val vroot = s"$base/clusterview"
    import graft.sources.{KeyedView, TransactionalLake}
    def maintain(): Unit = {
      val t0 = System.nanoTime()
      graft.streaming.StreamingDedup.maintainCanonical(s, base, "doc_id")
      System.err.println(
        f"[chain]   maintainCanonical ${(System.nanoTime() - t0) / 1e9}%.2f s")
      val mirrored = TransactionalLake.committedEpochs(s, mroot).toSet
      val todo = TransactionalLake.committedEpochs(s, croot).sorted
        .filterNot(mirrored)
      if (todo.nonEmpty) {
        // ONE corpus snapshot for the whole pass: every delta's doc_id
        // is already in the committed corpus (the stream run finished
        // before maintenance), so the mass lookup need not re-scan the
        // corpus text per epoch — materialized (doc_id, mass) once,
        // reused by each epoch's O(changes) broadcast join
        val mass = graft.operators.Blocks.copyOut(
          TransactionalLake.readCommitted(s,
            graft.streaming.StreamingDedup.corpusRoot(base))
            .select(col("doc_id"), length(col("text")).cast("long").as("mass")))
        todo.foreach { e =>
          val te = System.nanoTime()
          val delta = TransactionalLake.readCommitted(s, croot)
            .filter(col("epoch").cast("long") === e).drop("epoch")
          val up = delta.join(mass, "doc_id")
            .select(col("doc_id"), col("canonical_id").as("cluster"), col("mass"))
          TransactionalLake.mergeCommit(up,
            up.select(col("doc_id")).limit(0), mroot, e, Seq("doc_id"))
          val tm = System.nanoTime()
          KeyedView.refresh(s, mroot, vroot, "doc_id", "cluster", "mass")
          System.err.println(f"[chain]   mirror-$e merge ${(tm - te) / 1e9}%.2f" +
            f" s view ${(System.nanoTime() - tm) / 1e9}%.2f s")
        }
      }
    }
    // per-stage wall times to stderr: the entry's bench spread is
    // dominated by stream-machinery overhead, and a single 3x outlier
    // run must be attributable to a STAGE, not guessed at
    def staged[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      System.err.println(
        f"[chain] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    // the crash replay re-delivers the final batch; every chained
    // artifact must stay exact and the view cursor may not advance
    var before = -1L
    crashReplayDocs(s, base, docs(s, d).select(col("doc_id"), col("text")),
      afterPass = replayed =>
        if (replayed) staged("maintain-2")(maintain())
        else { staged("maintain-1")(maintain()); before = KeyedView.cursor(s, vroot) }) { in =>
      graft.streaming.StreamingDedup.start(in, "doc_id", "text", base,
        s"$base/ckpt", org.apache.spark.sql.streaming.Trigger.AvailableNow())
    }
    require(KeyedView.cursor(s, vroot) == before,
      "replayed chain maintenance must be a no-op")
    KeyedView.read(s, vroot)
      .select(col("g").as("canonical_id"), col("cnt").as("n_docs"),
        col("total").cast("double").as("total_chars"))
      .orderBy("canonical_id")
  }

  /** Cluster-size distribution + representative policy over the
    * canonical closure — `Dedup.clusterReport` on `Dedup.canonicalize`. */
  def dedupClusterReport(s: SparkSession, d: String): DataFrame =
    Dedup.clusterReport(
      Dedup.canonicalize(docs(s, d), "doc_id", "text", k = 3, threshold = 0.8))
      .orderBy("cluster_size")

  /** MODEL-SCORED REPRESENTATIVE selection — the near-dup cluster keeps
    * its BEST member, not its lowest id: the quality-classifier logit
    * picks the representative per canonical cluster (ties break on id).
    * This is the policy step between dedup and the training corpus —
    * "for each duplicate group, which copy survives". Composes the
    * canonical closure with [[TextAnalysis.qualityScore]]; one window
    * over cluster-keyed rows after corpus-scale feature extraction. */
  def dedupClusterRepresentatives(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dd = docs(s, d)
    val canon = Dedup.canonicalize(dd, "doc_id", "text", k = 3, threshold = 0.8)
    val scores = TextAnalysis.qualityScore(dd, "doc_id", "text")
      .select(col("doc_id"), col("quality_logit"))
    val w = Window.partitionBy(col("canonical_id"))
      .orderBy(col("quality_logit").desc, col("doc_id"))
    canon.join(scores, "doc_id")
      .withColumn("rn", row_number().over(w))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("canonical_id"))).cast("long"))
      .filter(col("rn") === 1)
      .select(col("canonical_id"), col("doc_id").as("rep_doc_id"),
        col("quality_logit").as("rep_logit"), col("cluster_size"))
      .orderBy("canonical_id")
  }

  /** Host/URL-keyed exact dedup after text normalization —
    * `Dedup.exactByHostKey` with `source` playing the host role. */
  def dedupHostKeys(s: SparkSession, d: String): DataFrame =
    Dedup.exactByHostKey(docs(s, d), "doc_id", "source", "text")
      .orderBy("host", "doc_id")

  def dedupEmbedding(s: SparkSession, d: String): DataFrame =
    Dedup.embeddingNearDupPairs(embs(s, d), "vec_id", "embedding", threshold = 0.4)
      .orderBy("id_a", "id_b")

  /** Source-level set similarity via the mergeable MinHash AGGREGATE:
    * one signature per source (map-side-combinable), then a tiny pairwise
    * compare of 20 signatures — group-level dedup/similarity without ever
    * joining documents. Estimator output is an exact multiple of 1/64 →
    * deterministic (rows-only check: hash-family dependent). */
  def dedupSourceSimilarity(s: SparkSession, d: String): DataFrame = {
    import graft.plans.MinHashAgg
    // split-phase gated: the mergeable per-source sketches (the
    // TypedImperativeAggregate's output — the xxhash-dependent half)
    // persist, and the pairwise Jaccard-estimate arithmetic runs over the
    // read-back signatures; the oracle recomputes it from the same file
    val path = s"${splitDir(d)}/source_sigs"
    docs(s, d)
      .select(col("source"), graft.functions.TextFunctions.shingleSet(col("text"), 3).as("sh"))
      .groupBy(col("source"))
      .agg(MinHashAgg.minhashAgg(col("sh"), 64).as("sig"))
      .coalesce(1).write.mode("overwrite").parquet(path)
    val sigs = s.read.parquet(path)
    val a = sigs.select(col("source").as("source_a"), col("sig").as("sig_a"))
    val b = sigs.select(col("source").as("source_b"), col("sig").as("sig_b"))
    a.join(b, col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        MinHashAgg.estimatedJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .orderBy("source_a", "source_b")
  }

  // ---- similarity search ----

  def simTopKExact(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      .orderBy("probe_id", "rank")
  }

  /** Two-stage retrieval gate: exact-cosine shortlist (k=20) for probe 0,
    * then the batched cross-encoder stub rescores each (probe, candidate)
    * pair — cosine damped by the label gap — and cuts to top-10. */
  def simRerankCrossenc(s: SparkSession, d: String): DataFrame = {
    import graft.functions.{VectorFunctions => VF}
    val e = embs(s, d)
    val short = Similarity.bruteForceTopK(e, e.filter(col("vec_id") === 0),
      "vec_id", "embedding", k = 20)
      .withColumnRenamed("rank", "ann_rank")
    val vecs = e.select(col("vec_id"), VF.toDouble(col("embedding")).as("e"),
      col("label").cast("double").as("lab"))
    val withSides = short
      .join(vecs.select(col("vec_id").as("probe_id"), col("e").as("p_e"),
        col("lab").as("p_lab")), "probe_id")
      .join(vecs.select(col("vec_id").as("neighbor_id"), col("e").as("c_e"),
        col("lab").as("c_lab")), "neighbor_id")
      .withColumn("label_gap", abs(col("p_lab") - col("c_lab")))
    Similarity.crossEncoderRerank(withSides, batchSize = 8, topK = 10)
      .select("probe_id", "neighbor_id", "ann_rank", "ce_score", "ce_rank")
      .orderBy("probe_id", "ce_rank")
  }

  def simTopKLsh(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    // query-directed multi-probe: 12 margin-ranked buckets of the 22
    // within the Hamming-2 radius — the scale path (see Similarity.lshTopK).
    // Split-phase gated: the probed-bucket candidate pairs persist and the
    // cosine ranking reruns over the read-back artifact for the oracle.
    Similarity.lshTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, nProbes = 12,
      candidateSink = Some(s"${splitDir(d)}/lsh_topk_cands"))
      .orderBy("probe_id", "rank")
  }

  def simTopKIvf(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      .orderBy("probe_id", "rank")
  }

  /** Two-level (coarse→fine) IVF — hierarchical routing for cell counts
    * a flat broadcast can't carry; see `Similarity.ivfTwoLevelTopK`. */
  def simTopKIvf2(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    Similarity.ivfTwoLevelTopK(e, e.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5)
      .orderBy("probe_id", "rank")
  }

  /** Incremental ANN index maintenance — the similarity twin of
    * [[dedupIncrementalFold]]: three arriving embedding batches, each
    * assigned against the deployment's centroid generation (seeded from
    * the FIRST batch — no future knowledge) and appended to a persistent
    * assignment index (copied out per step like a real deployment would
    * persist it); search then runs through [[Similarity.ivfTopKPreassigned]]
    * over the accumulated index, completeness-guarded. Assignment is
    * per-row, so the fold must equal a one-shot index build — and every
    * step (centroid choice, argmin tiebreak, probe fan-out, cosines) is
    * deterministic double math, so the whole index LIFECYCLE is
    * oracle-checkable, not just one search. Periodic centroid
    * regeneration (refine + full re-assign) is Spark-vs-Spark pinned in
    * DedupSimilaritySpec. */
  def simTopKIvfIncremental(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    val batches = (0 until 3).map(i => e.filter(col("vec_id") % 3 === i))
    val cents = Similarity.seedCentroids(batches(0), "vec_id", "embedding", nCells = 16)
    val empty = Similarity.ivfAssignments(cents, e.filter(lit(false)), "vec_id", "embedding")
    val index = batches.foldLeft(empty) { (idx, b) =>
      Blocks.copyOut(idx.unionByName(
        Similarity.ivfAssignments(cents, b, "vec_id", "embedding")))
    }
    Similarity.ivfTopKPreassigned(cents, index, e, e.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5)
      .orderBy("probe_id", "rank")
  }

  /** STREAMING ANN-ingest gate — the similarity twin of
    * [[dedupStreamingIndex]]: the embeddings replayed as a 3-file stream,
    * each micro-batch assigned against the first batch's centroid
    * generation and committed into the transactional IVF index, with a
    * FORCED crash replay of the final epoch. Searching the committed
    * index must equal the one-shot build — same deterministic lifecycle
    * as `sim_topk_ivf_incremental`, so the SAME oracle SQL gates it
    * (centroids seeded from vec_id % 3 = 0, the first batch). */
  def simStreamingIndex(s: SparkSession, d: String): DataFrame = {
    val base = freshDir(s, "ssim", d)
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val e = embs(s, d).select(col("vec_id"), col("embedding"))
    // one parquet file per batch, mtimes pinned: the file source orders
    // by modification time and the centroid seed comes from the FIRST
    // delivered batch, so delivery order must be deterministic
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/in"))
    (0 until 3).foreach { i =>
      val stage = s"$base/stage$i"
      e.filter(col("vec_id") % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(stage))
        .map(_.getPath).find(_.getName.startsWith("part-")).get
      val dst = new org.apache.hadoop.fs.Path(s"$base/in/batch-$i.parquet")
      require(fs.rename(part, dst), s"stage move failed for batch $i")
      fs.setTimes(dst, 1700000000000L + i * 60000L, -1L)
      fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    }
    // the crash replay must keep corpus, centroid generation, and index
    // exact
    crashReplay(s, base)(() => graft.streaming.StreamingSimilarity.start(
      s.readStream.schema(e.schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$base/in"),
      "vec_id", "embedding", base, s"$base/ckpt",
      org.apache.spark.sql.streaming.Trigger.AvailableNow()))
    // DELETE-THEN-QUERY (offboarding/re-canonicalization): tombstone
    // vec_id % 17 = 3, CRASH-REPLAY the delete epoch (second commit is a
    // no-op), and search — the oracle excludes the deleted ids from the
    // candidate set, so the hash gate proves deleted ids never surface
    // in top-k while centroids and probe routing stay untouched
    val del = embs(s, d).filter(col("vec_id") % 17 === 3).select("vec_id")
    graft.streaming.StreamingSimilarity.commitDeletes(s, base, del, "vec_id", 0L)
    graft.streaming.StreamingSimilarity.commitDeletes(s, base, del, "vec_id", 0L)
    graft.streaming.StreamingSimilarity.searchCommitted(
      s, base, embs(s, d).filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      .orderBy("probe_id", "rank")
  }

  /** The AT-REST half of the IVF lifecycle: the corpus rewritten
    * partitioned by cell ([[Similarity.writeCellPartitioned]]), searched
    * with a partition-pruned candidate fetch — each probe reads its
    * nProbe cell DIRECTORIES, not the corpus. Same deterministic
    * routing as `sim_topk_ivf`, so the same oracle gates byte equality;
    * the pruning itself is metric-asserted in DedupSimilaritySpec. */
  def simTopKIvfClustered(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    val lake = freshDir(s, "celllake", d)
    val cents = Similarity.seedCentroids(e, "vec_id", "embedding", 16)
    Similarity.writeCellPartitioned(cents, e, "vec_id", "embedding", lake)
    Similarity.ivfTopKCellPartitioned(s, lake, cents, e.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5)
      .orderBy("probe_id", "rank")
  }

  /** Compressed-vector search gate: the corpus scalar-quantized to 8-bit
    * codes against corpus-wide per-dim bounds, searched asymmetrically
    * (full-precision probes vs dequantized corpus). Quantization is pure
    * IEEE arithmetic + floor, so compression AND search are
    * oracle-checked bit-for-bit; recall vs the uncompressed baseline is
    * pinned in DedupSimilaritySpec. */
  def simTopKSq(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    val bounds = Similarity.scalarQuantizeBounds(e, "embedding")
    val codes = Similarity.scalarQuantize(e, "vec_id", "embedding", bounds)
    Similarity.sqTopK(codes, e.filter(col("vec_id") < 10), "vec_id", "embedding",
      bounds, k = 5)
      .orderBy("probe_id", "rank")
  }

  /** Product-quantization search gate: deterministic codebooks (seeded
    * from the lowest-id vectors, [[Similarity.pqCodebooks]]), per-row
    * encoding, asymmetric ADC search — 64 float dims become 8 code ids,
    * the second compression tier after SQ8. Every step is sequential
    * double folds + first-minimum argmins, so codebook build, encode,
    * AND search replicate bit-for-bit in the oracle. */
  def simTopKPq(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    val cb = Similarity.pqCodebooks(e, "vec_id", "embedding", nSub = 8, nCodes = 16)
    val codes = Similarity.pqEncode(e, "vec_id", "embedding", cb)
    Similarity.pqTopK(codes, e.filter(col("vec_id") < 10), "vec_id", "embedding",
      cb, k = 5)
      .orderBy("probe_id", "rank")
  }

  /** IVF→PQ composition gate — the billion-scale ANN shape: the IVF
    * index prunes to each probe's 3 cells, PQ's ADC fold ranks the
    * survivors; at query time the corpus side is (cell, 8 codes) per
    * row. Routing and scoring are the two already-verified operators
    * unchanged, so the composition is hash-gated end to end. */
  def simTopKIvfPq(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    val cents = Similarity.seedCentroids(e, "vec_id", "embedding", nCells = 16)
    val assigns = Similarity.ivfAssignments(cents, e, "vec_id", "embedding")
    val cb = Similarity.pqCodebooks(e, "vec_id", "embedding", nSub = 8, nCodes = 16)
    val codes = Similarity.pqEncode(e, "vec_id", "embedding", cb)
    Similarity.ivfPqTopK(cents, assigns, codes, e.filter(col("vec_id") < 10),
      "vec_id", "embedding", cb, k = 5)
      .orderBy("probe_id", "rank")
  }

  /** IVF→PQ→exact-rerank — the recall fix for the composed index's ADC
    * ceiling; see `Similarity.ivfPqTopKReranked`. */
  def simTopKIvfPqRerank(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    val cents = Similarity.seedCentroids(e, "vec_id", "embedding", nCells = 16)
    val assigns = Similarity.ivfAssignments(cents, e, "vec_id", "embedding")
    val cb = Similarity.pqCodebooks(e, "vec_id", "embedding", nSub = 8, nCodes = 16)
    val codes = Similarity.pqEncode(e, "vec_id", "embedding", cb)
    Similarity.ivfPqTopKReranked(cents, assigns, codes, e,
      e.filter(col("vec_id") < 10), "vec_id", "embedding", cb,
      k = 5, nProbe = 3, shortlist = 50)
      .orderBy("probe_id", "rank")
  }

  /** [[simTopKIvfPqRerank]] with the shortlist SCALED to the probe
    * budget (50·nProbe) instead of fixed — the fixed shortlist dilutes
    * as probed candidates grow (more ADC-misranked impostors compete
    * for the same slots; measured on the ×8 synth corpus: recall 0.49 →
    * 0.23 across the nProbe sweep where the scaled form holds
    * 0.87–0.93). Same exact-rerank machinery, one knob. */
  def simTopKIvfPqRerankScaled(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    val cents = Similarity.seedCentroids(e, "vec_id", "embedding", nCells = 16)
    val assigns = Similarity.ivfAssignments(cents, e, "vec_id", "embedding")
    val cb = Similarity.pqCodebooks(e, "vec_id", "embedding", nSub = 8, nCodes = 16)
    val codes = Similarity.pqEncode(e, "vec_id", "embedding", cb)
    Similarity.ivfPqTopKReranked(cents, assigns, codes, e,
      e.filter(col("vec_id") < 10), "vec_id", "embedding", cb,
      k = 5, nProbe = 3, shortlist = 150)
      .orderBy("probe_id", "rank")
  }

  /** Split-phase gated: the LSH-blocked candidate pairs persist and the
    * cosine + threshold half reruns over the read-back artifact. */
  def dedupEmbeddingLsh(s: SparkSession, d: String): DataFrame =
    Dedup.embeddingNearDupPairsLsh(embs(s, d), "vec_id", "embedding", threshold = 0.4,
      candidateSink = Some(s"${splitDir(d)}/emb_lsh_cands"))
      .orderBy("id_a", "id_b")

  /** As-of join: each click matched to the user's most recent purchase
    * at-or-before it. Purchases deduped to one per (user, instant) with
    * the max event id — the same tie rule as the oracle's ASOF JOIN. */
  def asofClickPurchase(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.load(s, d, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("purchase_id"))
    graft.operators.AsOfJoin.leftAsOf(clicks, purchases, Seq("user_id"),
      "ts", "ts", Seq("purchase_id"), "purchase_id")
      .select("click_id", "purchase_id")
      .orderBy("click_id")
  }

  // ---- text analysis ----

  def textStats(s: SparkSession, d: String): DataFrame =
    TextAnalysis.stats(docs(s, d), "doc_id", "text").orderBy("doc_id")

  def textLangId(s: SparkSession, d: String): DataFrame =
    TextAnalysis.languageId(docs(s, d), "doc_id", "text").orderBy("doc_id")

  def textTokens(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tokenCounts(docs(s, d), "doc_id", "text").orderBy("doc_id")

  def textTermFreq(s: SparkSession, d: String): DataFrame =
    TextAnalysis.termFrequency(docs(s, d), "doc_id", "text", topK = 5)
      .orderBy("doc_id", "rank")

  def textRepetition(s: SparkSession, d: String): DataFrame =
    TextAnalysis.repetition(docs(s, d), "doc_id", "text").orderBy("doc_id")

  def textHeavyHitters(s: SparkSession, d: String): DataFrame =
    TextAnalysis.heavyHitters(docs(s, d), "text", topK = 20)

  def textFingerprint(s: SparkSession, d: String): DataFrame =
    TextAnalysis.fingerprints(docs(s, d), "doc_id", "text").orderBy("doc_id")

  /** Boilerplate-prefix report over the per-source corpus — groups of
    * docs opening with the same 3 words within one source (the
    * shared-navigation signal exact/near dedup both miss). */
  def textBoilerplate(s: SparkSession, d: String): DataFrame =
    TextAnalysis.boilerplatePrefixes(docs(s, d), "doc_id", "text",
      "source", k = 3, minDocs = 2L)
      .select(col("grp").as("source"), col("prefix"), col("n_docs"),
        col("min_doc_id"))
      .orderBy("source", "prefix")

  /** Benchmark decontamination gate: eval set = every 10th doc, train =
    * the rest; train docs sharing any 8-gram with an eval doc are
    * flagged (the standard pre-training hygiene pass). The eval postings
    * broadcast — the train corpus is never shuffled. */
  def textDecontaminate(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    Dedup.decontaminate(all.filter(col("doc_id") % 10 =!= 0),
        all.filter(col("doc_id") % 10 === 0), "doc_id", "text", k = 8)
      .orderBy("train_id")
  }

  /** FUZZY decontamination: MinHash-banded train↔eval doc similarity at
    * Jaccard ≥ 0.5 over 3-shingles — catches paraphrased/partial eval
    * leakage the exact 8-gram passes miss. The oracle is the EXACT
    * cross-set join, so the gate also certifies the banding (b=32, r=2)
    * missed nothing at test scale. */
  def textDecontaminateFuzzy(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    Dedup.decontaminateFuzzy(all.filter(col("doc_id") % 10 =!= 0),
        all.filter(col("doc_id") % 10 === 0), "doc_id", "text",
        k = 3, threshold = 0.5)
      .orderBy("train_id", "eval_id")
  }

  def textQualityFilter(s: SparkSession, d: String): DataFrame =
    TextAnalysis.qualityFilter(docs(s, d), "doc_id", "text").orderBy("doc_id")

  /** Model-based quality scoring gate: frozen linear classifier over the
    * rule-filter features, logit + decision beside the rule verdict. */
  def textQualityClassifier(s: SparkSession, d: String): DataFrame =
    TextAnalysis.qualityScore(docs(s, d), "doc_id", "text").orderBy("doc_id")

  /** TRAINED quality probe: least-squares GD distillation of the rule
    * gate into a linear scorer, run as exact-decimal full-batch
    * iterations on the engine ([[graft.operators.QualityProbe]]); the
    * oracle replays the identical arithmetic as unrolled CTEs. */
  def textQualityProbe(s: SparkSession, d: String): DataFrame =
    graft.operators.QualityProbe.trainAndScore(docs(s, d), "doc_id", "text")
      .orderBy("doc_id")

  /** HELD-OUT-LABEL probe: labels come from the perplexity-LM gate (the
    * EXPENSIVE external signal — reference-likeness at the corpus-median
    * 3.55 surprisal, ~46/54 split), the probe trains on the doc_id%5!=0
    * slice, and exactly the held-out 20% is scored. Demonstrates the
    * transfer MACHINERY (external-label join, split-disciplined GD,
    * holdout scoring) with the same decimal-deterministic oracle; the
    * driver corpus is feature-blind w.r.t. external labels (measured
    * |r| < 0.11 for every surface-feature/label pair — uniform word
    * salad), so ranking QUALITY of the learned probe is pinned by
    * `HoldoutProbeSpec` on a planted-signal fixture instead. */
  def textQualityProbeHoldout(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val labels = TextAnalysis.perplexityFilter(all,
        all.filter(col("doc_id") % 10 === 1), "doc_id", "text",
        threshold = 3.55)
      .select(col("doc_id"), col("keep").cast("double").as("y"))
    graft.operators.QualityProbe.trainAndScoreHoldout(all, "doc_id", "text",
      labels, holdout = col("doc_id") % 5 === 0)
      .orderBy("doc_id")
  }

  /** Composition-drift gate: per-source mix across 3 id-derived epochs,
    * share movement + per-epoch total-variation distance. */
  def textCompositionDrift(s: SparkSession, d: String): DataFrame =
    TextAnalysis.compositionDrift(docs(s, d), "doc_id", "text", "source",
      nEpochs = 3)
      .orderBy("epoch", "source")

  /** Per-source duplication dashboard over the substring-repeat pass. */
  def textDupReport(s: SparkSession, d: String): DataFrame =
    TextAnalysis.duplicationReport(docs(s, d), "doc_id", "text", "source",
      minWords = 8).orderBy("source")

  /** Quality-first token budget: the trained probe ranks each source's
    * documents and the per-source budget is spent best-first (id
    * tiebreak, <= 1 doc overshoot; unbudgeted sources dropped). */
  def sampleProbeBudget(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.probeBudgetSample(docs(s, d), "doc_id",
      "source", "text",
      Map("src0" -> 800L, "src1" -> 800L, "src2" -> 800L))
      .orderBy("doc_id")

  /** CCNet-shape perplexity gate: a smoothed bigram LM trained on the
    * doc_id % 10 == 1 reference slice scores EVERY document; docs whose
    * mean surprisal exceeds the threshold are gated out. */
  def textPerplexityFilter(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    TextAnalysis.perplexityFilter(all,
      all.filter(col("doc_id") % 10 === 1), "doc_id", "text",
      threshold = 3.8) // cuts the reference-unlike tail (~1% at sf0.01)
      .orderBy("doc_id")
  }

  /** Maintained-LM perplexity gate: the reference slice's LM count
    * deltas accumulate over three epochs (replay of the middle epoch is
    * a no-op), survive a retention fold, and the maintained-LM scoring
    * must equal the one-shot — the oracle is literally
    * `text_perplexity_filter`'s SQL. */
  def textPerplexityIncremental(s: SparkSession, d: String): DataFrame = {
    val root = freshDir(s, "lm", d)
    val all = docs(s, d)
    val ref = all.filter(col("doc_id") % 10 === 1)
    (0 until 3).foreach(i => TextAnalysis.commitLmBatch(
      ref.filter(col("doc_id") % 3 === i), "text", root, i.toLong))
    // crash replay: a re-delivered epoch must not double-count
    TextAnalysis.commitLmBatch(ref.filter(col("doc_id") % 3 === 1), "text",
      root, 1L)
    require(TextAnalysis.foldLm(s, root, upTo = 1L) == ((2, 2)))
    TextAnalysis.perplexityFilterFromLm(all, "doc_id", "text", root,
      threshold = 3.8).orderBy("doc_id")
  }

  def textUnigramLogProb(s: SparkSession, d: String): DataFrame =
    TextAnalysis.unigramLogProb(docs(s, d), "doc_id", "text").orderBy("doc_id")

  def textTfidf(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tfidf(docs(s, d), "doc_id", "text", topK = 3)
      .orderBy("doc_id", "rank")

  /** BM25 top-k retrieval over the corpus. The query terms span the
    * frequency range of the fixture vocabulary so idf actually
    * discriminates; k1/b are the Robertson defaults. */
  def textBm25(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bm25(docs(s, d), "doc_id", "text",
      queryTerms = bm25Terms, topK = 15)

  private[queries] val bm25Terms = Seq("join", "vector", "stream", "window")

  /** Incremental inverted-index lifecycle gate: the index accumulates
    * over three disjoint document batches, survives a retention fold of
    * the aged epochs, and serves the SAME BM25 query — the oracle is
    * literally `text_bm25`'s SQL, so the gate is "index-served ≡
    * corpus-scan ≡ DuckDB", with document text never read at query
    * time. */
  def textBm25Incremental(s: SparkSession, d: String): DataFrame = {
    val root = freshDir(s, "textidx", d)
    val all = docs(s, d)
    (0 until 3).foreach(i => graft.operators.TextIndex.commitPostings(
      all.filter(col("doc_id") % 3 === i), "doc_id", "text", root, i.toLong))
    require(graft.operators.TextIndex.foldIndex(s, root, upTo = 1L) == ((2, 2)))
    graft.operators.TextIndex.bm25FromIndex(s, root, bm25Terms, topK = 15)
  }

  /** Windowed PMI co-occurrence profile of the corpus (window 4; pairs
    * seen >= 25 times at sf0.01 keep the output vocab²-bounded). */
  def textPmi(s: SparkSession, d: String): DataFrame =
    TextAnalysis.pmiCooccurrence(docs(s, d), "doc_id", "text",
      window = 4, minCount = 25)

  /** HYBRID RETRIEVAL via reciprocal-rank fusion — the standard modern
    * search composition: a sparse arm (BM25 top-20 over the corpus) and
    * a dense arm (exact cosine top-20 for probe vector 0) fused by
    * RRF(d) = Σ_arms 1/(60 + rank_arm(d)), top-10. Both arms are
    * already-gated operators; the fusion is rank arithmetic only —
    * rational constants, deterministic in both engines. */
  def simHybridRrf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = embs(s, d)
    val dense = Similarity.bruteForceTopK(e, e.filter(col("vec_id") === 0),
        "vec_id", "embedding", k = 20)
      .select(col("neighbor_id").as("doc_id"), col("rank").as("dense_rank"))
    val sparse = TextAnalysis.bm25(docs(s, d), "doc_id", "text",
        bm25Terms, topK = 20)
      // constant partition key: ranks the BM25 top-20 shortlist
      // (bounded); keeps WindowExec's no-partition warning meaningful.
      // doc_id*0 rather than lit(0): a foldable key is constant-folded
      // out of the window spec and the warning returns
      .select(col("doc_id"), row_number().over(
        Window.partitionBy(col("doc_id") * 0)
          .orderBy(col("score").desc, col("doc_id"))).as("sparse_rank"))
    def arm(r: org.apache.spark.sql.Column) =
      coalesce(lit(1.0) / (lit(60.0) + r.cast("double")), lit(0.0))
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("sparse_rank"), col("dense_rank"),
        round(arm(col("sparse_rank")) + arm(col("dense_rank")), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
  }

  /** BPE tokenizer training gate: 5 merge rounds learned from the word
    * frequency table. */
  def textBpeMerges(s: SparkSession, d: String): DataFrame =
    graft.operators.Bpe.learnMerges(docs(s, d), "text", rounds = 5)

  /** BPE ENCODE gate: tokenizer train + apply in one pipeline — 5 merges
    * learned from the word-frequency table, then applied on the
    * vocabulary and re-aggregated to per-document subword counts. */
  def textBpeEncode(s: SparkSession, d: String): DataFrame =
    graft.operators.Bpe.encode(docs(s, d), "doc_id", "text",
      graft.operators.Bpe.learnMerges(docs(s, d), "text", rounds = 5))
      .orderBy("doc_id")

  /** TOKENIZER FERTILITY report — the per-source subword economics a
    * tokenizer decision reads: bpe-tokens-per-word (fertility) and
    * chars-per-bpe-token by document source. High-fertility sources are
    * the ones the vocabulary serves poorly (cost multiplier at training
    * time). Composes [[textBpeEncode]]'s per-doc counts with the source
    * column — one extra metadata-scale aggregate. */
  def textTokenizerFertility(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val enc = graft.operators.Bpe.encode(dd, "doc_id", "text",
      graft.operators.Bpe.learnMerges(dd, "text", rounds = 5))
    enc.join(dd.select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("len")), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_words")).cast("long").as("n_words"),
        sum(col("n_bpe_tokens")).cast("long").as("n_bpe_tokens"),
        sum(col("len")).cast("long").as("__chars"))
      .select(col("source"), col("n_docs"), col("n_words"), col("n_bpe_tokens"),
        round(col("n_bpe_tokens").cast("double") / col("n_words").cast("double"), 6)
          .as("fertility"),
        round(col("__chars").cast("double") / col("n_bpe_tokens").cast("double"), 6)
          .as("chars_per_token"))
      .orderBy("source")
  }

  def textVocab(s: SparkSession, d: String): DataFrame =
    TextAnalysis.vocabulary(docs(s, d), "text", topK = 30)

  def textBigramLogProb(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bigramLogProb(docs(s, d), "doc_id", "text").orderBy("doc_id")

  /** Trainer-facing loss-mask artifact: per packed (shard, seq_id), a
    * '0'/'1' char per token slot — 0 where the token lies inside a
    * corpus-duplicated 8-gram span (loss-masked, not deleted). */
  def trainLossMask(s: SparkSession, d: String): DataFrame =
    TextAnalysis.packedLossMasks(docs(s, d), "doc_id", "text",
      k = 8, minOccurrences = 2, tokensPerSeq = 512, nShards = 8)
      .orderBy("shard", "seq_id")

  def textPackSequences(s: SparkSession, d: String): DataFrame =
    TextAnalysis.packSequences(docs(s, d), "doc_id", "text",
      tokensPerSeq = 512, nShards = 8)
      .orderBy("doc_id")

  /** Retrieval chunking gate: 64-word windows, 16-word overlap. */
  def textChunk(s: SparkSession, d: String): DataFrame =
    TextAnalysis.chunk(docs(s, d), "doc_id", "text",
      chunkWords = 64, overlapWords = 16)
      .orderBy("doc_id", "chunk_idx")

  /** Shard-manifest gate: the manifest over the standard pack. */
  def textShardManifest(s: SparkSession, d: String): DataFrame =
    TextAnalysis.shardManifest(
      TextAnalysis.packSequences(docs(s, d), "doc_id", "text",
        tokensPerSeq = 512, nShards = 8), "doc_id")
      .orderBy("shard")

  /** Threshold-fraction decontamination gate: same train/eval split as
    * `text_decontaminate`, scored by shared-gram fraction at tau=0.2. */
  def textDecontaminateFrac(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    Dedup.decontaminateFraction(
      all.filter(col("doc_id") % 10 =!= 0), all.filter(col("doc_id") % 10 === 0),
      "doc_id", "text", k = 8, tau = 0.2)
      .orderBy("train_id")
  }

  /** PII redaction gate. The fixture corpus is clean word soup, so the
    * query first PLANTS deterministic PII derived from doc_id (an email
    * for 2/3 of docs, an IPv4 for every even doc, a phone for all), then
    * proves the operator finds and replaces exactly those — counts per
    * type plus a byte-exact fingerprint of the redacted text. */
  def textPiiRedact(s: SparkSession, d: String): DataFrame = {
    val planted = docs(s, d).select(col("doc_id"), concat(
      col("text"),
      when(col("doc_id") % 3 =!= 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com"))).otherwise(lit("")),
      when(col("doc_id") % 2 === 0,
        concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
          lit(".0."), (col("doc_id") % 100).cast("string"))).otherwise(lit("")),
      lit(" call +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))
    TextAnalysis.piiRedact(planted, "doc_id", "text").orderBy("doc_id")
  }

  /** Deterministic content-hash train/val/test split + stratified
    * sample flag — reproducible in any engine that can fold the same
    * modular hash (oracle does). */
  def sampleSplit(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      graft.operators.Sampling.contentSplit(col("text")).as("split"),
      (graft.operators.Sampling.contentBucket(col("text")) < 20).as("in_20pct_sample"))
      .orderBy("doc_id")

  /** DSIR importance-resampling gate: target domain = source 'src0',
    * raw = the whole corpus; 256 hashed-bigram buckets. The model
    * (bucket log-likelihood ratios) and every per-doc fold are
    * replayed exactly by the oracle. */
  def sampleImportance(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.importanceScores(docs(s, d), "doc_id", "text",
      col("source") === "src0", buckets = 256)
      .orderBy("doc_id")

  /** NEAR-DUP-AWARE SPLIT gate: the train/val/test hash is computed on
    * the CLUSTER CANONICAL's text, so near-duplicate documents can never
    * straddle splits (content-hash splitting alone only protects against
    * byte-identical leakage). Composition of the verified canonical
    * closure (dedup_canonical) + the verified split hash (sample_split);
    * the per-doc buckets are computed scan-side and joined on the int
    * canonical key — the corpus text never shuffles. */
  def sampleSplitCanonical(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val canon = Dedup.canonicalize(dd, "doc_id", "text", k = 3, threshold = 0.8)
    val repBucket = dd.select(col("doc_id").as("canonical_id"),
      graft.operators.Sampling.contentBucket(col("text")).as("b"))
    canon.join(repBucket, "canonical_id")
      .select(col("doc_id"), col("canonical_id"),
        when(col("b") < 80, lit("train")).when(col("b") < 90, lit("val"))
          .otherwise(lit("test")).as("split"))
      .orderBy("doc_id")
  }

  /** Label-propagation communities over the k-NN graph — 4 synchronous
    * rounds, integer arithmetic throughout; the oracle unrolls the
    * rounds with the identical (max count, min label) tie-break. */
  /** CURRICULUM ASSIGNMENT: docs staged 1..4 by quality-score quartile
    * (stage 1 = highest quality — the curriculum-learning data order:
    * clean text first, noisier tail later). Deliberately NOT a global
    * ntile — a total-order window would single-partition 100 TB.
    * Instead the three exact quartile thresholds are computed as ONE
    * scalar aggregate (≡ quantile_cont, certified by `q_quantiles`),
    * broadcast, and applied at scan speed; ties at a threshold land in
    * the higher stage in any engine. */
  def sampleCurriculum(s: SparkSession, d: String): DataFrame = {
    val scored = TextAnalysis.qualityScore(docs(s, d), "doc_id", "text")
      .select(col("doc_id"), col("quality_logit"))
    val qs = scored.agg(
      percentile(col("quality_logit"), lit(0.75)).as("p75"),
      percentile(col("quality_logit"), lit(0.5)).as("p50"),
      percentile(col("quality_logit"), lit(0.25)).as("p25"))
    scored.crossJoin(broadcast(qs))
      .select(col("doc_id"), col("quality_logit"),
        when(col("quality_logit") >= col("p75"), lit(1))
          .when(col("quality_logit") >= col("p50"), lit(2))
          .when(col("quality_logit") >= col("p25"), lit(3))
          .otherwise(lit(4)).as("stage"))
      .orderBy("doc_id")
  }

  /** BLOCKING-QUALITY REPORT over the MinHash banding — the metadata a
    * curation team actually reviews before trusting a dedup run:
    * reduction ratio (how much of the O(n²) pair space the blocking
    * never generated) and pair precision (what fraction of generated
    * candidates verified). One row. The candidate pairs are split-phase
    * persisted (the hash-dependent half); verified pairs are the gated
    * `dedup_minhash` semantics (exact-Jaccard verification, banding
    * recall certified by that gate's equality with the exact operator);
    * all counts assemble as broadcast-scalar crossJoins — the report
    * itself is metadata-scale. */
  def dedupBlockingReport(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val idx = Dedup.minhashBandIndex(dd, "doc_id", "text")
    val cands = idx.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(idx.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val path = s"${splitDir(d)}/blocking_cands"
    cands.coalesce(1).write.mode("overwrite").parquet(path)
    val nAgg = dd.agg(count(lit(1)).as("n_docs"))
    val cAgg = s.read.parquet(path).agg(count(lit(1)).as("candidate_pairs"))
    val vAgg = Dedup.minhashNearDupPairs(dd, "doc_id", "text")
      .agg(count(lit(1)).as("verified_pairs"))
    nAgg.crossJoin(cAgg).crossJoin(vAgg)
      .withColumn("total_pairs",
        (col("n_docs") * (col("n_docs") - lit(1L)) / lit(2)).cast("long"))
      .withColumn("reduction_ratio",
        round(lit(1.0) - col("candidate_pairs") / col("total_pairs"), 6))
      .withColumn("pair_precision",
        round(col("verified_pairs").cast("double") / col("candidate_pairs"), 6))
      .select("n_docs", "total_pairs", "candidate_pairs", "verified_pairs",
        "reduction_ratio", "pair_precision")
  }

  /** Triangle count + clustering coefficient over the k-NN similarity
    * graph — [[graft.operators.Graph.triangles]]' degree-ordered wedge
    * join on the gated `sim_knn_graph` edge set. */
  def graphTriangles(s: SparkSession, d: String): DataFrame = {
    val edges = Similarity.knnGraphIvf(embs(s, d), "vec_id", "embedding",
      k = 3, nCells = 16).select(col("vec_id"), col("neighbor_id"))
    graft.operators.Graph.triangles(edges, "vec_id", "neighbor_id")
      .select(col("id").as("vec_id"), col("degree"), col("tri_count"),
        col("clustering"))
      .orderBy("vec_id")
  }

  /** INCREMENTAL GRAPH-METRIC MAINTENANCE gate — the graph analog of
    * [[dedupCanonicalIncremental]]: the same k-NN edge set arrives as
    * three epochs (split by edge hash, so triangles straddle epochs and
    * the exactly-once counting rule is exercised), each folded into the
    * maintained per-node (degree, tri_count) by
    * `Graph.incrementalTriangles` — O(Δ·degree) per epoch, the graph is
    * never re-enumerated. One epoch is REPLAYED (at-least-once
    * delivery) and must contract to a no-op. The folded state must
    * equal the one-shot [[graphTriangles]] — the same SQL oracle gates
    * both. */
  def graphIncrementalMetrics(s: SparkSession, d: String): DataFrame = {
    import graft.operators.{Blocks, Graph}
    val edges = Blocks.copyOut(
      Similarity.knnGraphIvf(embs(s, d), "vec_id", "embedding",
        k = 3, nCells = 16).select(col("vec_id"), col("neighbor_id")))
    val slice = abs(xxhash64(col("vec_id") + col("neighbor_id"))) % 3
    val batches = (0 until 3).map(i => edges.filter(slice === i))
    // accumulated-edge seed carries the canonical (u, v) shape
    val empty = edges.limit(0)
      .select(col("vec_id").as("u"), col("neighbor_id").as("v"))
    val emptyState = edges.select(col("vec_id").as("id"))
      .withColumn("degree", lit(0L)).withColumn("tri_count", lit(0L))
      .limit(0)
    // fold the three epochs; epoch 1 is delivered TWICE (replay) — the
    // anti-join against the accumulated edge set must no-op it.
    val (state, _) = (batches :+ batches(1)).foldLeft((emptyState, empty)) {
      case ((st, ed), b) =>
        val (st2, ed2) = Graph.incrementalTriangles(st, ed, b,
          "vec_id", "neighbor_id")
        val Seq(stOut, edOut) = Overlap.all(
          () => Blocks.copyOut(st2),
          () => Blocks.copyOut(ed2))
        (stOut, edOut)
    }
    Graph.triangleStateView(state)
      .select(col("id").as("vec_id"), col("degree"), col("tri_count"),
        col("clustering"))
      .orderBy("vec_id")
  }

  /** STREAMING graph-metric maintenance gate — the deployment form of
    * [[graphIncrementalMetrics]]: the k-NN edge set arrives as three
    * COMMITTED PAIR-LOG EPOCHS (the StreamingDedup artifact layout),
    * `StreamingDedup.maintainGraphMetrics` advances the per-node
    * (degree, tri_count) by an O(touched)-row delta commit per epoch,
    * a second maintenance pass must apply ZERO epochs (replay/cadence
    * no-op), and the latest-wins state read must equal the one-shot
    * enumeration — the same SQL oracle as `graph_triangles`. */
  def graphStreamingMetrics(s: SparkSession, d: String): DataFrame = {
    import graft.streaming.StreamingDedup
    val base = freshDir(s, "gsm", d)
    val edges = Similarity.knnGraphIvf(embs(s, d), "vec_id", "embedding",
      k = 3, nCells = 16)
      .select(col("vec_id").as("id_a"), col("neighbor_id").as("id_b"))
    val slice = abs(xxhash64(col("id_a") + col("id_b"))) % 3
    (0 until 3).foreach(i =>
      graft.sources.TransactionalLake.commitEpoch(
        edges.filter(slice === i), StreamingDedup.pairsRoot(base),
        i.toLong, partitionCols = Nil))
    val applied = StreamingDedup.maintainGraphMetrics(s, base)
    require(applied == Seq(0L, 1L, 2L),
      s"maintenance must apply the three pair epochs, got $applied")
    require(StreamingDedup.maintainGraphMetrics(s, base).isEmpty,
      "a second maintenance pass must be a no-op")
    graft.operators.Graph.triangleStateView(
      StreamingDedup.graphMetricState(s, base))
      .select(col("id").as("vec_id"), col("degree"), col("tri_count"),
        col("clustering"))
      .orderBy("vec_id")
  }

  /** 2-core of the exact-Jaccard near-dup graph — the density filter
    * that separates CYCLIC duplicate structure (template families,
    * mutual-copy rings) from mere pairwise matches: isolated pairs and
    * pendant chains peel away, cliques/cycles survive
    * ([[graft.operators.Graph.kCore]]). Converges-or-fails, so the
    * fixed-depth oracle's extra rounds are provably no-ops. */
  def graphKcore(s: SparkSession, d: String): DataFrame = {
    val edges = Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text",
      k = 3, threshold = 0.8).select(col("id_a"), col("id_b"))
    graft.operators.Graph.kCore(edges, "id_a", "id_b", k = 2)
      .select(col("id").as("doc_id"), col("core_degree"))
      .orderBy("doc_id")
  }

  /** 3-truss of the exact-Jaccard near-dup graph: edges surviving the
    * support-≥-1 peel, i.e. pairwise matches with mutual corroboration
    * ([[graft.operators.Graph.kTruss]]). */
  def graphKtruss(s: SparkSession, d: String): DataFrame = {
    val edges = Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text",
      k = 3, threshold = 0.8).select(col("id_a"), col("id_b"))
    graft.operators.Graph.kTruss(edges, "id_a", "id_b", k = 3)
      .select(col("u").as("id_a"), col("v").as("id_b"), col("support"))
      .orderBy("id_a", "id_b")
  }

  /** Personalized PageRank from the same seed set as [[graphBfs]] —
    * seed-relevance propagation over the k-NN graph. */
  def graphPpr(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    val edges = Similarity.knnGraphIvf(e, "vec_id", "embedding",
      k = 3, nCells = 16).select(col("vec_id"), col("neighbor_id"))
    graft.operators.Graph.personalizedPageRank(edges, "vec_id", "neighbor_id",
      e.filter(col("vec_id") % 100 === 0), "vec_id", iterations = 5)
      .select(col("id").as("vec_id"), col("rank").as("ppr"))
      .orderBy("vec_id")
  }

  /** Hop distances within 3 of the seed set (every 100th vector) over
    * the k-NN graph — [[graft.operators.Graph.bfsHops]]' seed-expansion
    * contract. */
  def graphBfs(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    val edges = Similarity.knnGraphIvf(e, "vec_id", "embedding",
      k = 3, nCells = 16).select(col("vec_id"), col("neighbor_id"))
    graft.operators.Graph.bfsHops(edges, "vec_id", "neighbor_id",
      e.filter(col("vec_id") % 100 === 0), "vec_id", maxDepth = 3)
      .select(col("id").as("vec_id"), col("dist"))
      .orderBy("vec_id")
  }

  def graphLpa(s: SparkSession, d: String): DataFrame = {
    val edges = Similarity.knnGraphIvf(embs(s, d), "vec_id", "embedding",
      k = 3, nCells = 16).select(col("vec_id"), col("neighbor_id"))
    graft.operators.Graph.labelPropagation(edges, "vec_id", "neighbor_id",
      iterations = 4)
      .select(col("id").as("vec_id"), col("community"))
      .orderBy("vec_id")
  }

  /** Repeated-span masking gate (word-8-gram ExactSubstr dedup): the
    * engine keys the occurrence count on xxhash64(gram), the oracle on
    * the gram string — hash-equality of the outputs certifies the
    * 8-byte shuffle key loses nothing at test scale. */
  def textDedupSpans(s: SparkSession, d: String): DataFrame =
    Dedup.maskRepeatedSpans(docs(s, d), "doc_id", "text", k = 8, minOccurrences = 2)
      .orderBy("doc_id")

  /** Suffix-array-class substring dedup gate: per doc, the longest
    * word-substring (>= 8 words) appearing verbatim in another doc —
    * anchored L-gram run-merge, string-keyed oracle certifies the
    * xxhash64 gram key. */
  def textDedupSubstrings(s: SparkSession, d: String): DataFrame =
    Dedup.longestDupSubstrings(docs(s, d), "doc_id", "text", minWords = 8)
      .orderBy("doc_id")

  /** Incremental substring-dedup index lifecycle gate: gram postings
    * and per-doc best-repeat deltas accumulate over three disjoint
    * batches, survive a retention fold of the aged epochs, and the
    * index-served answer must equal the one-shot whole-corpus
    * [[Dedup.longestDupSubstrings]] — the oracle is literally
    * `text_dedup_substrings`' SQL, so the gate is "index-served ≡
    * one-shot ≡ DuckDB" with nothing recomputed from raw text at
    * query time. */
  def textDedupSubstringsIncremental(s: SparkSession, d: String): DataFrame = {
    val root = freshDir(s, "ssidx", d)
    val all = docs(s, d)
    (0 until 3).foreach(i => Dedup.commitSubstringBatch(
      all.filter(col("doc_id") % 3 === i), "doc_id", "text", root, i.toLong))
    require(Dedup.foldSubstringIndex(s, root, upTo = 1L) == ((2, 2)))
    Dedup.longestDupSubstringsFromIndex(s, root).orderBy("doc_id")
  }

  /** SemDeDup gate: seeded centroids (same generation rule as the IVF
    * oracle), cell-blocked pairwise cosine, tau = the fixture's planted
    * near-dup band (matches dedup_embedding). */
  def dedupSemantic(s: SparkSession, d: String): DataFrame =
    Dedup.semanticDedup(embs(s, d), "vec_id", "embedding", nCells = 16, tau = 0.4)
      .orderBy("vec_id")

  /** PQ→exact-rerank gate: ADC shortlist of 50 per probe, exact cosine
    * re-rank to top-5 — both halves of the composition are the verified
    * sim_topk_pq / sim_topk_exact arithmetic. */
  def simTopKPqRerank(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    val cb = Similarity.pqCodebooks(e, "vec_id", "embedding", nSub = 8, nCodes = 16)
    val codes = Similarity.pqEncode(e, "vec_id", "embedding", cb)
    Similarity.pqTopKReranked(codes, e, e.filter(col("vec_id") < 10),
      "vec_id", "embedding", cb, k = 5, shortlist = 50)
      .orderBy("probe_id", "rank")
  }

  /** Domain-mixture sampling gate: upweight src0/src1 3×, src2 2× —
    * the binding strata keep everything, the rest keep the per-mille
    * prefix of their content-hash buckets. */
  def sampleMixture(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.mixtureSample(docs(s, d), "source", "text",
      Map("src0" -> 3.0, "src1" -> 3.0, "src2" -> 2.0))
      .select(col("doc_id"), col("source"), col("keep_permille"))
      .orderBy("doc_id")

  /** Token-budget mixture gate: "800 tokens of src0, 400 of src1, 200
    * of src2, nothing else" — the budgets bind at every SF (each
    * source carries ≥ ~1.1k tokens from sf0.01 up), so the kept set is
    * a strict content-ordered prefix per source. */
  def sampleTokenBudget(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.tokenBudgetSample(docs(s, d), "doc_id",
      "source", "text",
      Map("src0" -> 800L, "src1" -> 400L, "src2" -> 200L))
      .select(col("doc_id"), col("source"), col("n_tokens"))
      .orderBy("doc_id")

  /** Unicode normalization gate: the fixture text is pure ASCII (NFC
    * no-op), so the query PLANTS the dirt it must clean — a soft hyphen
    * (Cf), a decomposed e+U+0301 (NFC composes to é), doubled spaces, a
    * BEL control, a zero-width joiner and a tab — identically in both
    * engines, then both normalize independently. */
  def textNormalize(s: SparkSession, d: String): DataFrame = {
    val dirty = concat(lit("\u00ADe\u0301  "), col("text"), lit(" \u0007\u200D\t"))
    docs(s, d).select(col("doc_id"),
      length(dirty).cast("long").as("n_before"),
      graft.functions.TextFunctions.normalizeText(dirty).as("clean_text"))
      .withColumn("n_after", length(col("clean_text")).cast("long"))
      .select("doc_id", "n_before", "n_after", "clean_text")
      .orderBy("doc_id")
  }

  /** URL-canonicalization gate ([[graft.operators.TextAnalysis
    * .urlCanonicalize]]): two differently-mangled variants of each
    * document's URL — uppercase scheme/host + `www.` + default port +
    * a `utm_` param + fragment, vs lowercase + trailing slash + an
    * `fbclid` param + shuffled param order — must collapse to ONE
    * canonical URL per doc. `n_variants = 2` certifies the collapse;
    * the canonical string itself is hash-matched byte-for-byte against
    * DuckDB's independent re-derivation. */
  def textUrlCanonicalize(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), col("source"))
    val id = col("doc_id").cast("string")
    val m7 = pmod(col("doc_id"), lit(7)).cast("string")
    val varA = base.select(col("doc_id"), concat(
      lit("HTTPS://WWW."), col("source"), lit(".Example.COM:443/p/"), id,
      lit("?b=2&a="), m7, lit("&utm_source=feed#frag"), id).as("url"))
    val varB = base.select(col("doc_id"), concat(
      lit("https://"), col("source"), lit(".example.com/p/"), id,
      lit("/?a="), m7, lit("&fbclid=Q&b=2")).as("url"))
    graft.operators.TextAnalysis.urlCanonicalize(varA.unionByName(varB), "url")
      .groupBy(col("url_canon"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_variants"))
      .select("doc_id", "url_canon", "n_variants")
      .orderBy("doc_id")
  }

  /** Host-blocklist filter ([[graft.operators.TextAnalysis.urlHost]]) —
    * the domain-level exclusion pass every web-corpus prep runs before
    * content filtering: the doc's host is derived from its (mangled) URL
    * through the full canonicalization machinery, then blocklisted
    * domains drop via a BROADCAST anti-join (the blocklist is always
    * dim-sized; the corpus never shuffles). The oracle re-derives the
    * host directly from `source`, cross-checking the extraction path. */
  def textUrlFilter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val id = col("doc_id").cast("string")
    val urls = docs(s, d).select(col("doc_id"), concat(
      lit("HTTPS://WWW."), col("source"), lit(".Example.COM:443/p/"), id,
      lit("?utm_source=feed#f")).as("url"))
    val blocklist = Seq("src2.example.com", "src7.example.com").toDF("host")
    urls.withColumn("host", graft.operators.TextAnalysis.urlHost(col("url")))
      .join(broadcast(blocklist), Seq("host"), "left_anti")
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .orderBy("host")
  }

  /** Line-dedup gate: the fixture docs are single-line, so the query
    * derives the multi-line structure — a corpus-wide header line, a
    * per-source section line, a blank line, the (unique) body, a
    * corpus-wide footer — identically in both engines. First occurrence
    * survives: doc 0 keeps header+footer, the lowest doc_id per source
    * keeps its section line, blanks are exempt everywhere. */
  def textLineDedup(s: SparkSession, d: String): DataFrame = {
    val structured = docs(s, d).select(col("doc_id"),
      concat(lit("begin shared corpus header\n"),
        lit("section "), col("source"), lit("\n\n"),
        col("text"), lit("\nend shared corpus footer")).as("text2"))
    Dedup.dedupLines(structured, "doc_id", "text2").orderBy("doc_id")
  }

  /** k-NN graph gate: every vector's top-3 within its IVF cell — the
    * verified assignment + cosine arithmetic, ranked per id. */
  def simKnnGraph(s: SparkSession, d: String): DataFrame =
    Similarity.knnGraphIvf(embs(s, d), "vec_id", "embedding", k = 3, nCells = 16)
      .orderBy("vec_id", "rank")

  /** PageRank centrality over the document k-NN similarity graph — the
    * graph-importance signal for corpus curation. Edges are the gated
    * `sim_knn_graph` operator's output; 5 decimal-deterministic
    * iterations at damping 0.85 (the oracle replays the identical
    * arithmetic through unrolled CTEs). */
  def graphPagerank(s: SparkSession, d: String): DataFrame = {
    val edges = Similarity.knnGraphIvf(embs(s, d), "vec_id", "embedding",
      k = 3, nCells = 16).select(col("vec_id"), col("neighbor_id"))
    graft.operators.Graph.pageRank(edges, "vec_id", "neighbor_id",
      iterations = 5, damping = 0.85)
      .select(col("id").as("vec_id"), col("rank").as("pagerank"))
      .orderBy("vec_id")
  }

  /** Incremental CMS gate: the sketch accumulates over 3 disjoint
    * batches + a retention fold, then the exact top-20 terms (computed
    * only here, as ground truth) are checked against the committed
    * sketch's estimates — never-under must ALWAYS hold; the ε·N
    * envelope is deterministic for the fixed hash family. The driver
    * output carries exact counts + the two guarantee flags, so the
    * oracle (the plain exact top-20 with TRUE flags) hash-matches iff
    * the sketch honors its contract through epochs and folds. */
  def textCmsIncremental(s: SparkSession, d: String): DataFrame = {
    val root = freshDir(s, "cmsidx", d)
    val all = docs(s, d)
    val C = graft.operators.CmsIndex
    (0 until 3).foreach(i => C.commitBatch(
      all.filter(col("doc_id") % 3 === i), "text", root, i.toLong))
    require(graft.sources.TransactionalLake.foldCommittedEpochs(
      s, root, upTo = 1L, partitionCols = Nil) == 2)
    val exact = all.select(explode(
        graft.functions.TextFunctions.words(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).cast("long").as("n"))
      .orderBy(col("n").desc, col("term")).limit(20)
    val bound = (math.E / C.Width * C.totalCount(s, root)).toLong
    exact.join(C.estimate(s, root, exact.select("term")), "term")
      .select(col("term"), col("n"),
        (col("est") >= col("n")).as("cms_never_under"),
        (col("est") <= col("n") + bound).as("cms_within_envelope"))
      .orderBy(col("n").desc, col("term"))
  }

  /** Positional phrase search gate: the index is built incrementally
    * (3 disjoint batches + a fold), then the exact phrase "join hash"
    * is answered from posting-list position intersections alone — the
    * oracle scans tokens for the adjacency directly. */
  def textPhraseSearch(s: SparkSession, d: String): DataFrame = {
    val root = freshDir(s, "phraseidx", d)
    val all = docs(s, d)
    (0 until 3).foreach(i => graft.operators.TextIndex.commitPostings(
      all.filter(col("doc_id") % 3 === i), "doc_id", "text", root, i.toLong))
    require(graft.operators.TextIndex.foldIndex(s, root, upTo = 1L) == ((2, 2)))
    graft.operators.TextIndex.phraseSearch(s, root,
      Seq("join", "hash"), topK = 10)
  }

  /** Cross-table entity resolution gate: customer↔supplier name matching
    * on char-trigram Jaccard ≥ 0.32 (the fixture's shared `#NNNNNNNNN`
    * name shape makes digit grams the discriminative long tail). The
    * oracle is the naive cross product — the engine's prefix-blocked
    * form must return the identical pair set. */
  def dedupCrossEr(s: SparkSession, d: String): DataFrame =
    graft.operators.EntityResolution.fuzzyJoin(
      Tables.load(s, d, "customer"), "c_custkey", "c_name",
      Tables.load(s, d, "supplier"), "s_suppkey", "s_name",
      k = 3, threshold = 0.32, broadcastRight = true)
      .orderBy("id_a", "id_b")

  /** Cosine-weighted PageRank over the same k-NN graph — mass flows
    * preferentially to closest neighbors. */
  def graphPagerankWeighted(s: SparkSession, d: String): DataFrame = {
    val edges = Similarity.knnGraphIvf(embs(s, d), "vec_id", "embedding",
      k = 3, nCells = 16)
    graft.operators.Graph.pageRankWeighted(edges, "vec_id", "neighbor_id",
      "cosine", iterations = 5, damping = 0.85)
      .select(col("id").as("vec_id"), col("rank").as("pagerank"))
      .orderBy("vec_id")
  }

  /** Deterministic random walks over the k-NN graph — 4 hash-directed
    * steps from every node (the DeepWalk positive-pair sampler, made
    * reproducible). */
  def graphRandomWalks(s: SparkSession, d: String): DataFrame = {
    val edges = Similarity.knnGraphIvf(embs(s, d), "vec_id", "embedding",
      k = 3, nCells = 16)
    graft.operators.Graph.randomWalks(edges, "vec_id", "neighbor_id",
      "rank", steps = 4)
      .orderBy("walk_id", "step")
  }

  /** Diversity-sampling gate: at most 10 per semantic cell, id order. */
  def sampleDiverse(s: SparkSession, d: String): DataFrame =
    Similarity.diversitySample(embs(s, d), "vec_id", "embedding", cap = 10, nCells = 16)
      .orderBy("cell", "cell_rank")

  /** Temperature-sampling gate over the SKEWED stratum (lang: en 218 →
    * fr 64 at sf0.01): alpha=0.5 flattens toward uniform, the smallest
    * language binds and keeps everything, en keeps ~sqrt ratio. */
  def sampleTemperature(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.temperatureSample(docs(s, d), "lang", "text", alpha = 0.5)
      .select(col("doc_id"), col("lang"), col("keep_permille"))
      .orderBy("doc_id")

  /** The FLAGSHIP COMPOSITION: a training-corpus preparation pipeline —
    * near-dup canonicalization (keep one representative per cluster) →
    * language filter (en) → deterministic content-hash split → per-split
    * corpus stats. Every stage is an already-oracle-verified operator;
    * this query proves they COMPOSE (the reason the engine exists). One
    * plan: the dedup candidate join + CC rounds feed a broadcast-able
    * representative set; the text stages are per-row expressions; the
    * final rollup is one tiny aggregate. */
  def trainCorpusPrep(s: SparkSession, d: String): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    val all = docs(s, d)
    val reps = Dedup.canonicalize(all, "doc_id", "text")
      .filter(col("doc_id") === col("canonical_id")).select("doc_id")
      .join(all, "doc_id")
    // language id, token count, and split are per-row COLUMN expressions —
    // one projection, no join-back (the operator-level wrappers exist for
    // standalone use; composing at column level keeps the plan narrow)
    reps
      .filter(TF.langId(col("text")) === "en")
      .select(
        graft.operators.Sampling.contentSplit(col("text")).as("split"),
        size(TF.words(col("text"))).cast("long").as("ws_tokens"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ws_tokens")).as("total_tokens"))
      .orderBy("split")
  }

  /** FLAGSHIP v2 — the full modern pre-training data pipeline, every
    * stage an already-oracle-verified operator:
    * near-dup canonicalize → drop the eval split (doc_id % 10 == 0)
    * → benchmark DECONTAMINATION against it (8-gram overlap)
    * → Gopher/C4 QUALITY-RULE gate → language filter (en)
    * → content-hash split → per-split SEQUENCE PACKING
    * → per-split corpus stats (docs, tokens, packed sequences).
    * One composed plan: the dedup candidate join + CC rounds feed a
    * small representative set; decontamination joins it against
    * broadcast eval postings; quality/langid/split are per-row
    * expressions; packing is one window per (split, shard); the final
    * rollup is three rows. Nothing collects, nothing is all-pairs. */
  def trainCorpusPrepV2(s: SparkSession, d: String): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    val all = docs(s, d)
    val evalSet = all.filter(col("doc_id") % 10 === 0)
    val reps = Dedup.canonicalize(all, "doc_id", "text")
      .filter(col("doc_id") === col("canonical_id")).select("doc_id")
      .join(all, "doc_id")
      .filter(col("doc_id") % 10 =!= 0) // eval docs never train
    val contaminated = Dedup.decontaminate(reps, evalSet, "doc_id", "text", k = 8)
      .select(col("train_id").as("doc_id"))
    // clean survives into two consumers (metrics + the text join) and the
    // packers — materialize it once (small: surviving ids + text)
    val clean = Blocks.copyOut(
      reps.join(broadcast(contaminated), Seq("doc_id"), "left_anti"))
    // checkpoint the metrics BEFORE filtering on `keep`: a filter on a
    // projected flag is pushed through the projection by SUBSTITUTION,
    // re-running the quality counting kernel once per rule reference
    // inside the predicate (no CSE in a pushed filter) — measured ~8×
    // the one-pass metrics at sf0.001 (16.9 s vs 0.3 s at sf0.1 when the
    // rules were interpreted lambdas)
    // langid and text ride THROUGH the metrics pass (carryCols): the
    // kept set is a filter on this one checkpoint — no re-join, no
    // second checkpoint, and the en-filter composes with `keep`
    val metrics = Blocks.copyOut(
      TextAnalysis.qualityFilter(
        clean.withColumn("lang", TF.langId(col("text"))),
        "doc_id", "text", carryCols = Seq("lang", "text")))
    val kept = metrics.filter(col("keep") && col("lang") === "en")
      .select(col("doc_id"), col("text"),
        graft.operators.Sampling.contentSplit(col("text")).as("split"))
    val packed = TextAnalysis.packSequences(kept, "doc_id", "text",
      extraKeys = Seq("split"))
    packed.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        countDistinct(col("shard"), col("seq_id")).as("n_sequences"))
      .orderBy("split")
  }

  /** FLAGSHIP v3 — the full modern LLM-corpus pipeline, adding the
    * round-6 operators to v2's chain: near-dup canonicalization →
    * repeated-span MASKING (de-boilerplate; spans counted over the
    * post-canonical train candidates) → benchmark decontamination
    * (masked train 8-grams vs raw eval 8-grams) → quality rules over
    * the masked text → language ID → TEMPERATURE sampling over the
    * detected-language strata (alpha=0.5; replaces v2's en-only filter
    * — the multilingual mixture rebalance) → content-hash split →
    * per-(split, shard) sequence packing → per-split rollup.
    *
    * Masking runs BEFORE decontamination and quality on purpose:
    * repeated boilerplate is exactly what quality heuristics mis-score
    * and what spuriously matches eval 8-grams. Every stage is the
    * already-gated operator; nothing collects, nothing is all-pairs
    * (canonicalize is banded, masking/decon are hash-keyed aggregates,
    * sampling is a metadata-broadcast filter).
    *
    * The canonical map is a COMPUTE-ONCE-CONSUME-MANY artifact
    * ([[oneShotCanonicalMap]]): the first corpus-prep run pays the full
    * one-shot canonicalize and persists the (id → canonical_id) map;
    * every later prep run over the unchanged corpus — config sweeps,
    * new eval suites, sampling-temperature changes, exactly the re-prep
    * loop a training org runs daily — reads the map instead of
    * re-deduping 100 TB. The one-shot cost itself stays measured by
    * `dedup_canonical`; v3 measures the re-prep path, and the v3 − v4
    * bench delta isolates artifact-read vs incremental-maintenance
    * provenance over an identical downstream. */
  def trainCorpusPrepV3(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    corpusPrepPipeline(all,
      reps = oneShotCanonicalMap(s, d)
        .filter(col("doc_id") === col("canonical_id")).select("doc_id")
        .join(all, "doc_id")
        .filter(col("doc_id") % 10 =!= 0), // eval docs never train
      evalSet = all.filter(col("doc_id") % 10 === 0))
  }

  /** v3/v4's shared downstream — repeated-span masking → benchmark
    * decontamination → quality gate (langid riding the metrics pass) →
    * temperature sampling → content-hash split → per-(split, shard)
    * packing → per-split rollup. The two flagships differ ONLY in where
    * the canonical map comes from; one body keeps the measured
    * difference exactly that.
    *
    * Materialize-once contracts (measured, see the gated specs):
    *  - the TINY contaminated-id set is checkpointed (its production —
    *    the 8-gram postings join — is the heavy part), not the
    *    text-carrying anti-join result: `clean` is then a cheap
    *    (checkpointed masked × broadcast ids) join both consumers
    *    re-derive for less than the full-text checkpoint it replaces;
    *  - metrics are checkpointed BEFORE the keep-filter (predicate
    *    pushdown by substitution would re-derive the interpreted HOF
    *    quality expressions inside the predicate — measured 16.9 s vs
    *    0.3 s at sf0.1); langid and text ride THROUGH the metrics pass
    *    (carryCols), so the kept set is a filter on one checkpoint;
    *  - one packer window over (split, shard) — identical rows to
    *    packing each split separately, one pass instead of three. */
  private def corpusPrepPipeline(all: DataFrame, reps: DataFrame,
                                 evalSet: DataFrame): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    val masked = Blocks.copyOut(
      Dedup.maskRepeatedSpans(reps, "doc_id", "text", k = 8, minOccurrences = 2)
        .select(col("doc_id"), col("clean_text").as("text")))
    val contaminated = Blocks.copyOut(
      Dedup.decontaminate(masked, evalSet, "doc_id", "text", k = 8)
        .select(col("train_id").as("doc_id")))
    val clean = masked.join(broadcast(contaminated), Seq("doc_id"), "left_anti")
    val metrics = Blocks.copyOut(
      TextAnalysis.qualityFilter(
        clean.withColumn("lang", TF.langId(col("text"))),
        "doc_id", "text", carryCols = Seq("lang", "text")))
    val kept = metrics.filter(col("keep")).select("doc_id", "lang", "text")
    val sampled = graft.operators.Sampling
      .temperatureSample(kept, "lang", "text", alpha = 0.5)
      .select(col("doc_id"), col("text"),
        graft.operators.Sampling.contentSplit(col("text")).as("split"))
    val packed = TextAnalysis.packSequences(sampled, "doc_id", "text",
      extraKeys = Seq("split"))
    packed.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        countDistinct(col("shard"), col("seq_id")).as("n_sequences"))
      .orderBy("split")
  }

  /** The MAINTAINED canonical-map artifact — what a deployment persists
    * and keeps current per ingest batch (`StreamingDedup.maintainCanonical`
    * → `Dedup.canonicalizeIncremental`): built HERE once per corpus by
    * the 3-batch incremental fold (the `dedup_canonical_incremental`
    * machinery — the map's provenance IS the incremental path, never the
    * one-shot), persisted, and REUSED by every later caller. Staleness
    * is keyed on (row count, max id): two metadata-cheap probes answered
    * by parquet footers; a corpus change rebuilds. */
  private def maintainedCanonicalMap(s: SparkSession, d: String): DataFrame =
    canonicalMapArtifact(s, d, "canon_map")(dedupCanonicalIncremental(s, d))

  /** The ONE-SHOT canonical-map artifact v3 consumes: same
    * compute-once-consume-many persistence as [[maintainedCanonicalMap]]
    * but built by a single [[Dedup.canonicalize]] pass (cold-start
    * provenance — no incremental machinery involved), under its own
    * root so the two provenances never read each other's files. The
    * maps' CONTENTS are identical (`dedup_canonical_incremental`'s gate
    * pins incremental ≡ one-shot), which is what makes the v3 − v4
    * bench delta a pure provenance comparison. */
  private def oneShotCanonicalMap(s: SparkSession, d: String): DataFrame =
    canonicalMapArtifact(s, d, "canon_map_os")(
      Dedup.canonicalize(docs(s, d), "doc_id", "text", k = 3, threshold = 0.8))

  /** Shared staleness-keyed persistence for the canonical-map artifacts:
    * keyed on (row count, max id) — two metadata-cheap probes answered
    * by parquet footers; a corpus change rebuilds via `build`. */
  private def canonicalMapArtifact(s: SparkSession, d: String,
      prefix: String)(build: => DataFrame): DataFrame = {
    val base = s"${GraftSession.scratchRoot}/tmp/${prefix}_${GraftSession.tag(d)}"
    val all = docs(s, d)
    val key = {
      val r = all.agg(count(lit(1)), max(col("doc_id"))).head()
      s"${r.getLong(0)}:${r.getLong(1)}"
    }
    val marker = java.nio.file.Paths.get(s"$base/_OK")
    val fresh = java.nio.file.Files.exists(marker) &&
      java.nio.file.Files.readString(marker).trim == key
    if (!fresh) {
      build.write.mode("overwrite").parquet(s"$base/data")
      java.nio.file.Files.writeString(marker, key)
      ()
    }
    s.read.parquet(s"$base/data")
  }

  /** FLAGSHIP v4 — v3's pipeline in its STEADY-STATE deployment shape:
    * the canonical map comes from the maintained artifact
    * ([[maintainedCanonicalMap]] — kept current incrementally as batches
    * commit) instead of re-canonicalizing the lake, so the corpus-prep
    * run pays ZERO shingle/candidate/CC work — the 100 TB win the
    * incremental path exists for (re-preparing a corpus after config
    * changes, new eval suites, or sampling-temperature sweeps without
    * ever re-deduping). Output is IDENTICAL to v3 (same map content,
    * same downstream) — the same oracle gates both; the bench delta
    * v3 − v4 is the measured value of map maintenance. */
  def trainCorpusPrepV4(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    corpusPrepPipeline(all,
      reps = maintainedCanonicalMap(s, d)
        .filter(col("doc_id") === col("canonical_id")).select("doc_id")
        .join(all, "doc_id")
        .filter(col("doc_id") % 10 =!= 0), // eval docs never train
      evalSet = all.filter(col("doc_id") % 10 === 0))
  }

  /** TENANT-PURGE CASCADE over DERIVED artifacts, driver-gated
    * end-to-end — offboarding parity for everything the engine DERIVES
    * from tenant text, not just the lake rows (`pipe_tenant_purge`
    * covers those). Fixture: three tenants (`t<doc_id % 3>`), each with
    * its OWN substring gram/df/best index and BM25 postings index under
    * per-tenant roots ([[graft.sources.TenantArtifacts]] — cross-tenant
    * derived state would violate tenant isolation anyway), plus SHARED
    * per-file zone-map/bloom artifacts over a tenant-partitioned
    * transactional doc lake. Tenant t2 is then offboarded: per-tenant
    * roots scrubbed (commit markers kept), lake subtree purged,
    * stats/bloom rows naming t2 files dropped by row-level rewrite.
    *
    * The oracle derives each surviving tenant's per-doc longest repeat
    * from `documents` AS IF t2 NEVER EXISTED (tenant-scoped anchor
    * join), so the hash gate IS the invariant "post-purge index ≡ an
    * index built on a corpus that never had the tenant". Engine-side
    * asserts pin what the SQL cannot see: tombstones, scrubbed data
    * dirs, no stats/bloom row naming a t2 file, stats covering exactly
    * the surviving lake files, and CRASH-REPLAYED index batches for the
    * purged tenant staying total no-ops (data neither resurrects nor
    * crashes the replay — the reason the purge keeps commit markers). */
  def tenantPurgeDerived(s: SparkSession, d: String): DataFrame = {
    import graft.operators.{BloomIndex, TextIndex, ZoneMap}
    import graft.sources.{FileIndexLake, TenantArtifacts, TransactionalLake}
    val base = freshDir(s, "purgederiv", d)
    val fsys = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val all = docs(s, d).select(col("doc_id"), col("text"),
      concat(lit("t"), (col("doc_id") % 3).cast("string")).as("tenant"))
    val subBase = s"$base/substr"
    val bmBase = s"$base/bm25"
    val lroot = s"$base/lake"
    val zroot = s"$base/zstats"
    val broot = s"$base/bloom"
    // fixture: 3 tenants x 2 per-tenant index builds (disjoint roots,
    // each internally the single-writer commit protocol) + the lake/stats
    // track (epochs stay ordered inside it; zone-map and bloom read the
    // committed epoch and write disjoint roots). No track mutates session
    // conf: none of these commits calls MaintenanceExec.
    Overlap.all[Unit](Seq("t0", "t1", "t2").flatMap { t =>
      val td = all.filter(col("tenant") === t)
      Seq[() => Unit](
        () => Dedup.commitSubstringBatch(td, "doc_id", "text",
          TenantArtifacts.tenantRoot(subBase, t), 0L),
        () => TextIndex.commitPostings(td, "doc_id", "text",
          TenantArtifacts.tenantRoot(bmBase, t), 0L))
    } :+ (() => (0 until 2).foreach { e =>
      TransactionalLake.commitEpoch(
        all.filter(col("doc_id") % 2 === e)
          .select(col("doc_id"),
            length(col("text")).cast("long").as("n_chars"),
            col("tenant")),
        lroot, e.toLong, partitionCols = Seq("tenant"))
      FileIndexLake.append(s, lroot, zroot, e.toLong)(
        ZoneMap.buildStats(s, _, "doc_id"))
      FileIndexLake.append(s, lroot, broot, e.toLong)(
        BloomIndex.buildIndex(s, _, "doc_id"))
    }): _*)

    // ---- OFFBOARD t2 across every derived artifact: five disjoint roots ----
    Overlap.all[Unit](
      () => require(TenantArtifacts.purgeTenant(s, subBase, "t2") > 0,
        "substring-index purge must scrub data subtrees"),
      () => require(TenantArtifacts.purgeTenant(s, bmBase, "t2") > 0,
        "bm25-index purge must scrub data subtrees"),
      () => TransactionalLake.purgeTenant(s, lroot, "t2"),
      () => require(FileIndexLake.purgeTenant(s, zroot, "t2") > 0,
        "zone-map cascade must rewrite the stats epochs"),
      () => require(FileIndexLake.purgeTenant(s, broot, "t2") > 0,
        "bloom cascade must rewrite the index epochs"))

    // crash-replay after the purge: epoch 0 is committed in every lake,
    // so the replayed maintenance batches are TOTAL no-ops — the purged
    // tenant's derived data must neither resurrect nor crash the replay.
    // The read-only probes do not depend on the replays.
    val t2docs = all.filter(col("tenant") === "t2")
    Overlap.all[Unit](
      () => Dedup.commitSubstringBatch(t2docs, "doc_id", "text",
        TenantArtifacts.tenantRoot(subBase, "t2"), 0L),
      () => TextIndex.commitPostings(t2docs, "doc_id", "text",
        TenantArtifacts.tenantRoot(bmBase, "t2"), 0L),
      () => require(FileIndexLake.read(s, zroot)
        .filter(col("file").contains("/tenant=t2/")).isEmpty,
        "no zone-map row may reference a purged tenant file"),
      () => require(FileIndexLake.read(s, broot)
        .filter(col("file").contains("/tenant=t2/")).isEmpty,
        "no bloom row may reference a purged tenant file"),
      () => {
        val lakeFiles = TransactionalLake.readCommitted(s, lroot)
          .select(input_file_name().as("file")).distinct()
        val statFiles = FileIndexLake.read(s, zroot).select("file").distinct()
        require(statFiles.exceptAll(lakeFiles).isEmpty &&
          lakeFiles.exceptAll(statFiles).isEmpty,
          "zone-map rows must cover exactly the surviving lake files")
      },
      // survivors still serve: BM25 over t0's untouched index
      () => require(TextIndex.bm25FromIndex(s,
        TenantArtifacts.tenantRoot(bmBase, "t0"),
        Seq("the"), topK = 3).count() >= 0, "survivor index must serve"))
    Seq(s"${TenantArtifacts.tenantRoot(subBase, "t2")}/grams/data",
      s"${TenantArtifacts.tenantRoot(subBase, "t2")}/best/data",
      s"${TenantArtifacts.tenantRoot(subBase, "t2")}/df/data",
      s"${TenantArtifacts.tenantRoot(bmBase, "t2")}/postings/data").foreach { p =>
      require(!fsys.exists(new org.apache.hadoop.fs.Path(p)),
        s"purged derived data must not resurrect from replay: $p")
    }
    require(TenantArtifacts.isPurged(s, subBase, "t2") &&
      TenantArtifacts.isPurged(s, bmBase, "t2"), "tombstones must exist")
    require(TenantArtifacts.tenants(s, subBase) == Seq("t0", "t1"),
      "surviving tenants must remain listed")

    Seq("t0", "t1").map { t =>
      Dedup.longestDupSubstringsFromIndex(s,
        TenantArtifacts.tenantRoot(subBase, t))
        .withColumn("tenant", lit(t))
    }.reduce(_ unionByName _)
      .select(col("tenant"), col("doc_id"), col("dup_len"), col("dup_start"))
      .orderBy("doc_id")
  }

  /** The SQL FUNCTION SURFACE gated end-to-end: the engine's custom
    * codegen'd expressions registered through `GraftExtensions` and
    * driven from pure `spark.sql` — per-doc NFC-normalized length,
    * word-3-shingle count, and the shared-shingle count against the
    * NEXT doc id (a LINEAR equi-join, never all-pairs). DuckDB replays
    * the identical semantics (nfc_normalize, lowercased shingles, list
    * intersection), so registration, builders, and codegen are all
    * hash-gated, not just spec-asserted. */
  def qSqlSurface(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftExtensions.registerAll(s)
    docs(s, d).createOrReplaceTempView("g_documents")
    s.sql(
      """WITH sh AS (
        |  SELECT doc_id, graft_word_shingles(text, 3) AS sh FROM g_documents),
        |n AS (
        |  SELECT doc_id, CAST(length(graft_nfc(text)) AS BIGINT) AS norm_chars
        |  FROM g_documents)
        |SELECT a.doc_id, n.norm_chars,
        |  CAST(size(a.sh) AS BIGINT) AS n_shingles,
        |  CAST(graft_intersect_count(a.sh, b.sh) AS BIGINT) AS shared_next
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        |JOIN n ON n.doc_id = a.doc_id
        |ORDER BY a.doc_id""".stripMargin)
  }

  // ---- multimodal ----

  def multimodalMeta(s: SparkSession, d: String): DataFrame =
    Multimodal.asMediaTable(docs(s, d), "doc_id", "text")
      .select(col("media_id"), col("media_meta.mime").as("mime"),
        col("media_meta.n_bytes").as("n_bytes"))
      .orderBy("media_id")

  def multimodalFrames(s: SparkSession, d: String): DataFrame =
    Multimodal.sampleFrames(Multimodal.asMediaTable(docs(s, d), "doc_id", "text"))
      .select(col("media_id"), col("frame_offset"), col("frame_id"))
      .orderBy("media_id", "frame_offset")

  /** Real-codec gate: deterministic PNGs generated with encode-time
    * ground truth (Multimodal.ensurePngFixture); the query must DECODE
    * the PNG bytes with javax.imageio and reproduce the channel means
    * computed from the raw pixel arrays before encoding — a lossless
    * round-trip, so any codec defect breaks the hash match. */
  private val mmFixture = s"${GraftSession.scratchRoot}/multimodal_fixture"
  private val mmDedupFixture = s"${GraftSession.scratchRoot}/multimodal_neardup_fixture"
  private val mmMixedFixture = s"${GraftSession.scratchRoot}/multimodal_mixed_fixture"

  /** MIXED-CODEC gate ([[Multimodal.ensureMixedCodecFixture]]): PNG +
    * JPEG + planted undecodable payloads through ONE media table, the
    * real decode path, and the perceptual-hash path. The hash gate pins
    * (a) JPEG is REALLY decoded (decoded dims = encode-time dims,
    * channel means = the written file's decode — not the byte
    * fallback), and (b) the `dHash64Bytes`/`byteMeanFeatures` fallback
    * absorbs ONLY the planted garbage; an engine-side require makes the
    * decoded-fraction contract explicit before the oracle ever sees the
    * rows. */
  def multimodalMixedCodec(s: SparkSession, d: String): DataFrame = {
    Multimodal.ensureMixedCodecFixture(s, mmMixedFixture)
    val media = Multimodal.mixedMediaTable(s, mmMixedFixture)
    val feats = Multimodal.extractFeatures(s, media)
      .select(col("media_id"), col("width"), col("height"),
        element_at(col("features"), 3).as("r_mean"),
        element_at(col("features"), 4).as("g_mean"),
        element_at(col("features"), 5).as("b_mean"))
    val hashes = Multimodal.perceptualHashes(s, media)
      .select(col("media_id"), col("phash"), col("decoded"))
    val out = feats.join(hashes, "media_id")
    require(out.filter(
      col("decoded") =!= (col("media_id") % 3 =!= 2)).isEmpty,
      "codec fallback must fire for exactly the planted undecodable " +
        "payloads — a real format fell through to the byte lattice " +
        "(or garbage decoded)")
    out.select(col("media_id"), col("decoded"), col("width"),
        col("height"), col("r_mean"), col("g_mean"), col("b_mean"),
        col("phash"))
      .orderBy("media_id")
  }

  /** Perceptual image dedup: 64-bit dHash per PNG (real decode), pairs
    * via the pigeonhole-exact banded Hamming join at radius 6 — the
    * multimodal rendition of SimHash dedup. Split-phase oracle: the
    * codes persist during Verify; DuckDB brute-forces Hamming over the
    * SAME artifact, certifying the banding missed nothing. */
  def multimodalDedup(s: SparkSession, d: String): DataFrame = {
    Multimodal.ensurePngNearDupFixture(s, mmDedupFixture)
    val codes = Multimodal.perceptualHashes(s,
        Multimodal.pngMediaTable(s, mmDedupFixture))
      .select(col("media_id").as("doc_id"), col("phash").as("simhash"))
    val path = s"${splitDir(d)}/phash_codes"
    codes.coalesce(1).write.mode("overwrite").parquet(path)
    Dedup.simhashPairsFromSigs(s.read.parquet(path), "doc_id", maxHamming = 6)
      .orderBy("id_a", "id_b")
  }


  def multimodalFeatures(s: SparkSession, d: String): DataFrame = {
    Multimodal.ensurePngFixture(s, mmFixture)
    Multimodal.extractFeatures(s, Multimodal.pngMediaTable(s, mmFixture))
      .select(col("media_id"), col("width"), col("height"),
        element_at(col("features"), 3).as("r_mean"),
        element_at(col("features"), 4).as("g_mean"),
        element_at(col("features"), 5).as("b_mean"))
      .orderBy("media_id")
  }

  def multimodalResize(s: SparkSession, d: String): DataFrame = {
    Multimodal.ensurePngFixture(s, mmFixture)
    Multimodal.resizeMedia(s, Multimodal.pngMediaTable(s, mmFixture))
      .select(col("media_id"), col("res_width"), col("res_height"),
        col("res_r_mean"), col("res_g_mean"), col("res_b_mean"))
      .orderBy("media_id")
  }

  /** Multimodal retrieval composition: PNG media table → batch decode +
    * feature extraction (real javax.imageio codec inside the
    * mapPartitions plumbing) → exact cosine top-k over the feature
    * vectors. Every arithmetic step is bit-reproducible by the oracle
    * (decoded channel means → float lanes → sequential double folds), so
    * the end-to-end media-retrieval pipeline is hash-gated over real
    * decoded pixels. */
  def multimodalRetrieval(s: SparkSession, d: String): DataFrame = {
    Multimodal.ensurePngFixture(s, mmFixture)
    val feats = Multimodal.extractFeatures(s, Multimodal.pngMediaTable(s, mmFixture))
    Similarity.bruteForceTopK(feats, feats.filter(col("media_id") < 5),
      "media_id", "features", k = 3)
      .orderBy("probe_id", "rank")
  }

  /** Containment near-superset gate: ordered (a, b) pairs where ≥ 80 %
    * of a's 3-word shingles appear in b — the quote-expansion shape
    * Jaccard under-scores. The oracle is the naive cross product; the
    * engine's prefix-blocked form must return the identical pair set. */
  def dedupContainment(s: SparkSession, d: String): DataFrame =
    Dedup.containmentPairs(docs(s, d), "doc_id", "text", k = 3,
      threshold = 0.8)
      .orderBy("id_a", "id_b")

  /** One-candidate-pass containment sweep (the [[dedupThresholdSweep]]
    * trick on the ordered metric — policy curve before picking a
    * containment cutoff). */
  def dedupContainmentSweep(s: SparkSession, d: String): DataFrame =
    Dedup.containmentSweep(docs(s, d), "doc_id", "text", k = 3,
      thresholds = Seq(0.6, 0.8, 0.9, 1.0))

  /** One-candidate-pass weighted-Jaccard sweep (multiset Σmin/Σmax —
    * the repetition-aware policy curve). */
  def dedupWeightedJaccardSweep(s: SparkSession, d: String): DataFrame =
    Dedup.weightedJaccardSweep(docs(s, d), "doc_id", "text", k = 3,
      thresholds = Seq(0.5, 0.7, 0.8, 0.9))

  /** Hard-negative mining gate: per anchor (vec_id < 10), exact top-5
    * most-similar vectors below the cosine-0.98 positive cut — the
    * contrastive-batch sampler with near-dup false negatives excluded. */
  def simHardNegatives(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    Similarity.hardNegatives(e, e.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, posThreshold = 0.98)
      .orderBy("probe_id", "rank")
  }

  /** Corpus-uniqueness gate: per doc, the fraction of its distinct
    * 3-word shingles with corpus df = 1 (novel prose vs template). */
  def textNgramNovelty(s: SparkSession, d: String): DataFrame =
    TextAnalysis.ngramNovelty(docs(s, d), "doc_id", "text", k = 3)
      .orderBy("doc_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Entries.toMapUnique("Extensions.queries", Seq(
    "dedup_containment" -> (dedupContainment _),
    "sim_hard_negatives" -> (simHardNegatives _),
    "text_ngram_novelty" -> (textNgramNovelty _),
    "multimodal_resize" -> (multimodalResize _),
    "sample_split" -> (sampleSplit _),
    "sample_importance" -> (sampleImportance _),
    "sample_curriculum" -> (sampleCurriculum _),
    "pipe_streaming_circuit" -> (pipeStreamingCircuit _),
    "sample_split_canonical" -> (sampleSplitCanonical _),
    "graph_lpa" -> (graphLpa _),
    "graph_triangles" -> (graphTriangles _),
    "graph_incremental_metrics" -> (graphIncrementalMetrics _),
    "graph_streaming_metrics" -> (graphStreamingMetrics _),
    "dedup_blocking_report" -> (dedupBlockingReport _),
    "graph_kcore" -> (graphKcore _),
    "graph_ktruss" -> (graphKtruss _),
    "graph_bfs" -> (graphBfs _),
    "graph_ppr" -> (graphPpr _),
    "dedup_exact" -> (dedupExact _),
    "dedup_ngram_jaccard" -> (dedupNgram _),
    "dedup_minhash" -> (dedupMinhash _),
    "dedup_incremental" -> (dedupIncremental _),
    "dedup_incremental_fold" -> (dedupIncrementalFold _),
    "dedup_streaming_index" -> (dedupStreamingIndex _),
    "dedup_streaming_decon" -> (dedupStreamingDecon _),
    "dedup_streaming_fuzzy_decon" -> (dedupStreamingFuzzyDecon _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_canonical" -> (dedupCanonical _),
    "dedup_canonical_incremental" -> (dedupCanonicalIncremental _),
    "dedup_canonical_chain" -> (dedupCanonicalChain _),
    "dedup_cluster_report" -> (dedupClusterReport _),
    "dedup_host_keys" -> (dedupHostKeys _),
    "dedup_embedding" -> (dedupEmbedding _),
    "sim_topk_exact" -> (simTopKExact _),
    "sim_rerank_crossenc" -> (simRerankCrossenc _),
    "sim_topk_lsh" -> (simTopKLsh _),
    "sim_topk_ivf" -> (simTopKIvf _),
    "sim_topk_ivf2" -> (simTopKIvf2 _),
    "sim_topk_ivf_incremental" -> (simTopKIvfIncremental _),
    "sim_streaming_index" -> (simStreamingIndex _),
    "sim_topk_ivf_clustered" -> (simTopKIvfClustered _),
    "sim_topk_sq" -> (simTopKSq _),
    "sim_topk_pq" -> (simTopKPq _),
    "sim_topk_ivfpq" -> (simTopKIvfPq _),
    "sim_topk_ivfpq_rerank" -> (simTopKIvfPqRerank _),
    "sim_topk_ivfpq_rerank_scaled" -> (simTopKIvfPqRerankScaled _),
    "dedup_embedding_lsh" -> (dedupEmbeddingLsh _),
    "q_asof_join" -> (asofClickPurchase _),
    "dedup_source_similarity" -> (dedupSourceSimilarity _),
    "text_stats" -> (textStats _),
    "text_langid" -> (textLangId _),
    "text_tokens" -> (textTokens _),
    "text_term_freq" -> (textTermFreq _),
    "text_heavy_hitters" -> (textHeavyHitters _),
    "text_repetition" -> (textRepetition _),
    "text_fingerprint" -> (textFingerprint _),
    "text_boilerplate" -> (textBoilerplate _),
    "text_decontaminate" -> (textDecontaminate _),
    "text_decontaminate_fuzzy" -> (textDecontaminateFuzzy _),
    "text_quality_filter" -> (textQualityFilter _),
    "text_quality_classifier" -> (textQualityClassifier _),
    "text_composition_drift" -> (textCompositionDrift _),
    "text_tfidf" -> (textTfidf _),
    "text_unigram_logprob" -> (textUnigramLogProb _),
    "text_pack_sequences" -> (textPackSequences _),
    "train_loss_mask" -> (trainLossMask _),
    "text_chunk" -> (textChunk _),
    "text_shard_manifest" -> (textShardManifest _),
    "text_decontaminate_frac" -> (textDecontaminateFrac _),
    "q_sql_surface" -> (qSqlSurface _),
    "text_pii_redact" -> (textPiiRedact _),
    "multimodal_meta" -> (multimodalMeta _),
    "multimodal_dedup" -> (multimodalDedup _),
    "multimodal_frames" -> (multimodalFrames _),
    "multimodal_features" -> (multimodalFeatures _),
    "multimodal_mixed_codec" -> (multimodalMixedCodec _),
    "multimodal_retrieval" -> (multimodalRetrieval _),
    "train_corpus_prep" -> (trainCorpusPrep _),
    "train_corpus_prep_v2" -> (trainCorpusPrepV2 _),
    "train_corpus_prep_v3" -> (trainCorpusPrepV3 _),
    "train_corpus_prep_v4" -> (trainCorpusPrepV4 _),
    "pipe_tenant_purge_derived" -> (tenantPurgeDerived _),
    "text_dedup_spans" -> (textDedupSpans _),
    "text_dedup_substrings" -> (textDedupSubstrings _),
    "dedup_semantic" -> (dedupSemantic _),
    "sim_topk_pq_rerank" -> (simTopKPqRerank _),
    "sample_mixture" -> (sampleMixture _),
    "sample_token_budget" -> (sampleTokenBudget _),
    "text_normalize" -> (textNormalize _),
    "text_url_canonicalize" -> (textUrlCanonicalize _),
    "text_url_filter" -> (textUrlFilter _),
    "text_line_dedup" -> (textLineDedup _),
    "sample_temperature" -> (sampleTemperature _),
    "sim_knn_graph" -> (simKnnGraph _),
    "sample_diverse" -> (sampleDiverse _),
    "text_bm25" -> (textBm25 _),
    "text_pmi" -> (textPmi _),
    "graph_pagerank" -> (graphPagerank _),
    "text_bm25_incremental" -> (textBm25Incremental _),
    "text_vocab" -> (textVocab _),
    "text_bigram_logprob" -> (textBigramLogProb _),
    "sim_hybrid_rrf" -> (simHybridRrf _),
    "text_bpe_merges" -> (textBpeMerges _),
    "text_bpe_encode" -> (textBpeEncode _),
    "text_tokenizer_fertility" -> (textTokenizerFertility _),
    "dedup_cluster_representatives" -> (dedupClusterRepresentatives _),
    "graph_random_walks" -> (graphRandomWalks _),
    "dedup_cross_er" -> (dedupCrossEr _),
    "text_phrase_search" -> (textPhraseSearch _),
    "graph_pagerank_weighted" -> (graphPagerankWeighted _),
    "text_cms_incremental" -> (textCmsIncremental _),
    "text_quality_probe" -> (textQualityProbe _),
    "text_quality_probe_holdout" -> (textQualityProbeHoldout _),
    "text_dedup_substrings_incremental" -> (textDedupSubstringsIncremental _),
    "dedup_streaming_substrings" -> (dedupStreamingSubstrings _),
    "text_perplexity_filter" -> (textPerplexityFilter _),
    "sample_probe_budget" -> (sampleProbeBudget _),
    "text_dup_report" -> (textDupReport _),
    "dedup_weighted_jaccard" -> (dedupWeightedJaccard _),
    "dedup_threshold_sweep" -> (dedupThresholdSweep _),
    "dedup_containment_sweep" -> (dedupContainmentSweep _),
    "dedup_weighted_sweep" -> (dedupWeightedJaccardSweep _),
    "text_perplexity_incremental" -> (textPerplexityIncremental _)))

  private val tokensCte =
    """WITH w AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks
      |  FROM documents
      |)""".stripMargin

  private val shingleCte =
    tokensCte +
      """, s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[]) ELSE
        |      list_distinct(list_transform(range(1, len(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        |    END AS sh
        |  FROM w
        |)""".stripMargin

  /** k-core oracle: symmetrized distinct edges, then `rounds` unrolled
    * synchronous peels (drop nodes with degree < k, drop their edges).
    * The Spark operator converges-or-fails, and peeling is monotone, so
    * any fixed depth ≥ the convergence depth replays it exactly — the
    * extra rounds are no-ops. Pure integer arithmetic. */
  private def kcoreSql: String = {
    val k = 2; val rounds = 8
    // MATERIALIZED: each round references the previous one three times
    // (direct + both alive-joins); inlined CTEs would expand 3^rounds
    // copies of the base scan
    val base = shingleCte +
      """, jp AS MATERIALIZED (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) /
        |      CAST(len(a.sh) + len(b.sh)
        |           - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) AS jaccard
        |    FROM s a JOIN s b ON a.doc_id < b.doc_id
        |    WHERE len(a.sh) > 0 AND len(b.sh) > 0)
        |  WHERE jaccard >= 0.8
        |), und AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT id_a AS src, id_b AS dst FROM jp
        |    UNION ALL SELECT id_b AS src, id_a AS dst FROM jp)
        |  WHERE src <> dst
        |), e0 AS MATERIALIZED (SELECT src, dst FROM und)""".stripMargin
    val peels = (1 to rounds).map { i =>
      s""",
         |a$i AS MATERIALIZED (
         |  SELECT src AS id FROM e${i - 1} GROUP BY src HAVING count(*) >= $k),
         |e$i AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM e${i - 1} e
         |  JOIN a$i x ON e.src = x.id
         |  JOIN a$i y ON e.dst = y.id)""".stripMargin
    }.mkString
    base + peels +
      s"""
         |SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS core_degree
         |FROM e$rounds GROUP BY src ORDER BY doc_id""".stripMargin
  }

  /** Personalized-PageRank oracle: [[pageRankSql]]'s unrolled decimal
    * iterations with the teleport vector restricted to the seed set —
    * the 1−d constant is interpolated from the SAME Scala double the
    * operator uses (Double.toString round-trips, so DuckDB divides the
    * identical IEEE value by the seed count). */
  private def pprSql: String = {
    val damping = 0.85; val iters = 5
    val oneMinusD = 1.0 - damping
    val base = knnEdgesCte +
      """, gn AS (
        |  SELECT DISTINCT id FROM (
        |    SELECT src AS id FROM eg UNION ALL SELECT dst AS id FROM eg
        |    UNION ALL SELECT vec_id AS id FROM n WHERE vec_id % 100 = 0)
        |), od AS (SELECT src, CAST(count(*) AS BIGINT) AS out_deg FROM eg GROUP BY 1),
        |sd AS (SELECT vec_id AS id FROM n WHERE vec_id % 100 = 0),
        |ns AS (SELECT CAST(count(*) AS DOUBLE) AS nseeds FROM sd),
        |tv AS (
        |""".stripMargin +
      s"""  SELECT gn.id, CASE WHEN sd.id IS NOT NULL
         |    THEN $oneMinusD / nseeds ELSE 0.0 END AS tele
         |  FROM gn LEFT JOIN sd ON sd.id = gn.id, ns),
         |r0 AS (SELECT id, round(CASE WHEN tele > 0
         |  THEN 1.0 / nseeds ELSE 0.0 END, 12) AS rank FROM tv, ns)""".stripMargin
    val iterCtes = (1 to iters).map { i =>
      s""",
         |c$i AS (
         |  SELECT dst, sum(CAST(round(r.rank / CAST(out_deg AS DOUBLE), 12)
         |    AS DECIMAL(26,12))) AS m
         |  FROM eg JOIN od USING (src) JOIN r${i - 1} r ON r.id = eg.src
         |  GROUP BY 1),
         |r$i AS (
         |  SELECT tv.id, round(tele + $damping * coalesce(CAST(m AS DOUBLE), 0.0), 12) AS rank
         |  FROM tv LEFT JOIN c$i ON c$i.dst = tv.id)""".stripMargin
    }.mkString
    base + iterCtes +
      s"\nSELECT id AS vec_id, rank AS ppr FROM r$iters ORDER BY vec_id"
  }

  /** BFS oracle: seeds at distance 0, then `depth` unrolled frontier
    * expansions (adjacent ∖ settled), MATERIALIZED per level. */
  private def bfsSql: String = {
    val depth = 3
    val base = knnEdgesCte +
      """, und AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM eg
        |    UNION ALL SELECT dst AS src, src AS dst FROM eg)
        |  WHERE src <> dst
        |), d0 AS MATERIALIZED (
        |  SELECT vec_id AS id, CAST(0 AS BIGINT) AS dist
        |  FROM n WHERE vec_id % 100 = 0)""".stripMargin
    val levels = (1 to depth).map { i =>
      val p = i - 1
      s""",
         |d$i AS MATERIALIZED (
         |  SELECT id, dist FROM d$p
         |  UNION ALL
         |  SELECT id, CAST($i AS BIGINT) AS dist FROM (
         |    SELECT DISTINCT e.dst AS id
         |    FROM und e JOIN d$p f ON f.id = e.src AND f.dist = $p
         |  ) x WHERE id NOT IN (SELECT id FROM d$p))""".stripMargin
    }.mkString
    base + levels +
      s"""
         |SELECT id AS vec_id, dist FROM d$depth ORDER BY vec_id""".stripMargin
  }

  /** One-shot per-node triangle metrics over the k-NN graph — shared by
    * `graph_triangles` AND `graph_incremental_metrics` (the fold must
    * converge to exactly the one-shot enumeration). */
  private lazy val triangleOracleSql: String = knnEdgesCte +
    """, und AS (
      |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      |  FROM eg WHERE src <> dst
      |), dgr AS (
      |  SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
      |    SELECT u AS id FROM und UNION ALL SELECT v AS id FROM und)
      |  GROUP BY id
      |), o AS (
      |  SELECT CASE WHEN du.degree * 1000000000000 + u
      |                 < dv.degree * 1000000000000 + v
      |              THEN u ELSE v END AS lo,
      |         CASE WHEN du.degree * 1000000000000 + u
      |                 < dv.degree * 1000000000000 + v
      |              THEN v ELSE u END AS hi
      |  FROM und JOIN dgr du ON du.id = u JOIN dgr dv ON dv.id = v
      |), ohi AS (
      |  SELECT o.lo, o.hi, d.degree * 1000000000000 + o.hi AS hkey
      |  FROM o JOIN dgr d ON d.id = o.hi
      |), tri AS (
      |  SELECT a.lo AS x, a.hi AS y, b.hi AS z
      |  FROM ohi a JOIN ohi b ON a.lo = b.lo AND a.hkey < b.hkey
      |  JOIN o c ON c.lo = a.hi AND c.hi = b.hi
      |), tcnt AS (
      |  SELECT id, CAST(count(*) AS BIGINT) AS tri_count FROM (
      |    SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
      |    UNION ALL SELECT z FROM tri)
      |  GROUP BY id)
      |SELECT dgr.id AS vec_id, dgr.degree,
      |  CAST(coalesce(tri_count, 0) AS BIGINT) AS tri_count,
      |  CASE WHEN dgr.degree > 1 THEN
      |    round(2.0 * coalesce(tri_count, 0)
      |      / (dgr.degree * (dgr.degree - 1.0)), 6)
      |  ELSE 0.0 END AS clustering
      |FROM dgr LEFT JOIN tcnt ON tcnt.id = dgr.id
      |ORDER BY vec_id""".stripMargin

  /** k-truss oracle: the same canonical-edge frame as [[kcoreSql]],
    * then `rounds` unrolled support-peels, each re-enumerating
    * triangles with the degree-ordered orientation (the
    * `graph_triangles` construction) and dropping edges below k−2
    * supports. Monotone + Spark-side converge-or-fail ⇒ any fixed
    * depth ≥ the convergence depth replays it exactly. */
  private def kTrussSql: String = {
    val k = 3; val rounds = 4
    val base = shingleCte +
      """, jp AS MATERIALIZED (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) /
        |      CAST(len(a.sh) + len(b.sh)
        |           - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) AS jaccard
        |    FROM s a JOIN s b ON a.doc_id < b.doc_id
        |    WHERE len(a.sh) > 0 AND len(b.sh) > 0)
        |  WHERE jaccard >= 0.8
        |), e0 AS MATERIALIZED (SELECT DISTINCT id_a AS u, id_b AS v FROM jp)""".stripMargin
    val peels = (1 to rounds).map { i =>
      val p = i - 1
      s""",
         |dg$i AS MATERIALIZED (
         |  SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
         |    SELECT u AS id FROM e$p UNION ALL SELECT v AS id FROM e$p)
         |  GROUP BY id),
         |o$i AS MATERIALIZED (
         |  SELECT CASE WHEN du.degree * 1000000000000 + u
         |                 < dv.degree * 1000000000000 + v
         |              THEN u ELSE v END AS lo,
         |         CASE WHEN du.degree * 1000000000000 + u
         |                 < dv.degree * 1000000000000 + v
         |              THEN v ELSE u END AS hi
         |  FROM e$p JOIN dg$i du ON du.id = u JOIN dg$i dv ON dv.id = v),
         |oh$i AS MATERIALIZED (
         |  SELECT o.lo, o.hi, d.degree * 1000000000000 + o.hi AS hkey
         |  FROM o$i o JOIN dg$i d ON d.id = o.hi),
         |tr$i AS MATERIALIZED (
         |  SELECT a.lo AS x, a.hi AS y, b.hi AS z
         |  FROM oh$i a JOIN oh$i b ON a.lo = b.lo AND a.hkey < b.hkey
         |  JOIN o$i c ON c.lo = a.hi AND c.hi = b.hi),
         |sp$i AS MATERIALIZED (
         |  SELECT least(p1, p2) AS u, greatest(p1, p2) AS v,
         |    CAST(count(*) AS BIGINT) AS support
         |  FROM (
         |    SELECT x AS p1, y AS p2 FROM tr$i
         |    UNION ALL SELECT x, z FROM tr$i
         |    UNION ALL SELECT y, z FROM tr$i)
         |  GROUP BY 1, 2),
         |e$i AS MATERIALIZED (
         |  SELECT e.u, e.v, s.support FROM e$p e
         |  JOIN sp$i s ON s.u = e.u AND s.v = e.v
         |  WHERE s.support >= ${k - 2})""".stripMargin
    }.mkString
    base + peels +
      s"""
         |SELECT u AS id_a, v AS id_b, support
         |FROM e$rounds ORDER BY id_a, id_b""".stripMargin
  }

  private val ngramJaccardSql: String =
    shingleCte +
      """
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) /
        |    CAST(len(a.sh) + len(b.sh)
        |         - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) AS jaccard
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0)
        |WHERE jaccard >= 0.8
        |ORDER BY id_a, id_b""".stripMargin

  /** Threshold-sweep ground truth: the exact all-pairs Jaccard join
    * once (MATERIALIZED — pc and dc both consume it), then the
    * per-threshold rollup the one-candidate-pass operator must match.
    * Thresholds CAST to DOUBLE (DuckDB list literals default to
    * DECIMAL); zero-pair thresholds keep their row via the left join. */
  private val thresholdSweepSql: String = shingleCte +
    """, p AS MATERIALIZED (
      |  SELECT id_a, id_b, jaccard FROM (
      |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |      CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) /
      |      CAST(len(a.sh) + len(b.sh)
      |           - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) AS jaccard
      |    FROM s a JOIN s b ON a.doc_id < b.doc_id
      |    WHERE len(a.sh) > 0 AND len(b.sh) > 0)
      |  WHERE jaccard >= 0.6
      |),
      |t AS (SELECT CAST(unnest([0.6, 0.7, 0.8, 0.9]) AS DOUBLE) AS threshold),
      |pt AS MATERIALIZED (
      |  SELECT t.threshold, p.id_a, p.id_b
      |  FROM t JOIN p ON p.jaccard >= t.threshold),
      |pc AS (SELECT threshold, count(*) AS n_pairs FROM pt GROUP BY threshold),
      |dc AS (SELECT threshold, count(DISTINCT doc) AS n_dup_docs FROM (
      |  SELECT threshold, unnest([id_a, id_b]) AS doc FROM pt) GROUP BY threshold),
      |n AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT t.threshold,
      |  CAST(coalesce(pc.n_pairs, 0) AS BIGINT) AS n_pairs,
      |  CAST(coalesce(dc.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
      |  n.n_docs
      |FROM t LEFT JOIN pc USING (threshold) LEFT JOIN dc USING (threshold)
      |CROSS JOIN n
      |ORDER BY threshold""".stripMargin

  /** Containment-sweep oracle: exact ordered cross product at the
    * loosest threshold, then per-threshold rollups — the contained-doc
    * count keys on the a (subset) side. */
  private val containmentSweepSql: String = shingleCte +
    """, p AS MATERIALIZED (
      |  SELECT id_a, id_b, containment FROM (
      |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |      CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) /
      |      CAST(len(a.sh) AS DOUBLE) AS containment
      |    FROM s a JOIN s b ON a.doc_id <> b.doc_id
      |    WHERE len(a.sh) > 0 AND len(b.sh) > 0)
      |  WHERE containment >= 0.6
      |),
      |t AS (SELECT CAST(unnest([0.6, 0.8, 0.9, 1.0]) AS DOUBLE) AS threshold),
      |pt AS MATERIALIZED (
      |  SELECT t.threshold, p.id_a
      |  FROM t JOIN p ON p.containment >= t.threshold),
      |pc AS (SELECT threshold, count(*) AS n_pairs FROM pt GROUP BY threshold),
      |dc AS (SELECT threshold, count(DISTINCT id_a) AS n_contained_docs
      |       FROM pt GROUP BY threshold),
      |n AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT t.threshold,
      |  CAST(coalesce(pc.n_pairs, 0) AS BIGINT) AS n_pairs,
      |  CAST(coalesce(dc.n_contained_docs, 0) AS BIGINT) AS n_contained_docs,
      |  n.n_docs
      |FROM t LEFT JOIN pc USING (threshold) LEFT JOIN dc USING (threshold)
      |CROSS JOIN n
      |ORDER BY threshold""".stripMargin

  /** Weighted-Jaccard-sweep oracle: the exact multiset Σmin/Σmax pair
    * set at the loosest threshold, then per-threshold rollups. */
  private val weightedSweepSql: String = tokensCte +
    """, sb AS (
      |  SELECT doc_id, sh, CAST(count(*) AS BIGINT) AS w FROM (
      |    SELECT doc_id, unnest(CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[]) ELSE
      |      list_transform(range(1, len(toks) - 1),
      |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
      |    FROM w) GROUP BY 1, 2),
      |tt AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS tot FROM sb GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(sum(least(a.w, b.w)) AS BIGINT) AS i
      |  FROM sb a JOIN sb b USING (sh) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
      |p AS MATERIALIZED (
      |  SELECT id_a, id_b, jaccard FROM (
      |    SELECT id_a, id_b,
      |      round(CAST(i AS DOUBLE) / CAST(ta.tot + tb.tot - i AS DOUBLE), 6) AS jaccard
      |    FROM inter JOIN tt ta ON ta.doc_id = id_a JOIN tt tb ON tb.doc_id = id_b)
      |  WHERE jaccard >= 0.5),
      |t AS (SELECT CAST(unnest([0.5, 0.7, 0.8, 0.9]) AS DOUBLE) AS threshold),
      |pt AS MATERIALIZED (
      |  SELECT t.threshold, p.id_a, p.id_b
      |  FROM t JOIN p ON p.jaccard >= t.threshold),
      |pc AS (SELECT threshold, count(*) AS n_pairs FROM pt GROUP BY threshold),
      |dc AS (SELECT threshold, count(DISTINCT doc) AS n_dup_docs FROM (
      |  SELECT threshold, unnest([id_a, id_b]) AS doc FROM pt) GROUP BY threshold),
      |n AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT t.threshold,
      |  CAST(coalesce(pc.n_pairs, 0) AS BIGINT) AS n_pairs,
      |  CAST(coalesce(dc.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
      |  n.n_docs
      |FROM t LEFT JOIN pc USING (threshold) LEFT JOIN dc USING (threshold)
      |CROSS JOIN n
      |ORDER BY threshold""".stripMargin

  /** Exact cross-set (train % 10 != 0 vs eval % 10 = 0) 3-shingle
    * Jaccard join at 0.5 — the fuzzy-decontamination ground truth
    * shared by the batch and streaming gates (hash match certifies the
    * banding missed nothing). */
  private val fuzzyDeconSql: String = shingleCte +
    """
      |SELECT train_id, eval_id, jaccard FROM (
      |  SELECT a.doc_id AS train_id, b.doc_id AS eval_id,
      |    CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) /
      |    CAST(len(a.sh) + len(b.sh)
      |         - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) AS jaccard
      |  FROM s a JOIN s b ON a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
      |  WHERE len(a.sh) > 0 AND len(b.sh) > 0)
      |WHERE jaccard >= 0.5
      |ORDER BY train_id, eval_id""".stripMargin

  private val vecCte =
    """WITH v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings
      |), n AS (
      |  SELECT vec_id, e,
      |    sqrt(list_reduce(list_transform(e, x -> x*x), (a,b) -> a+b)) AS nrm
      |  FROM v
      |)""".stripMargin

  private val markers: Map[String, Seq[String]] =
    graft.functions.TextFunctions.langMarkers.toMap

  /** Distinct word-8-gram sets per doc (`s8(doc_id, sh)`) — shared by
    * the decontamination oracles. */
  private val s8Cte: String = tokensCte +
    """, s8 AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) < 8 THEN CAST([] AS VARCHAR[]) ELSE
      |      list_distinct(list_transform(range(1, len(toks) - 6),
      |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
      |          || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7]))
      |    END AS sh
      |  FROM w)""".stripMargin

  /** Benchmark decontamination (8-gram train/eval overlap) — shared by
    * the batch operator gate and the streaming quarantine-log gate. */
  private val decontaminateSql: String = s8Cte +
    """,
      |tr AS (SELECT doc_id AS train_id, unnest(sh) AS g FROM s8 WHERE doc_id % 10 <> 0),
      |ev AS (SELECT doc_id AS eval_id, unnest(sh) AS g FROM s8 WHERE doc_id % 10 = 0)
      |SELECT train_id,
      |  count(DISTINCT g) AS n_shared_ngrams,
      |  count(DISTINCT eval_id) AS n_eval_docs
      |FROM tr JOIN ev USING (g)
      |GROUP BY 1 ORDER BY train_id""".stripMargin

  /** Threshold-fraction decontamination: shared-gram fraction per train
    * doc, flagged at tau=0.2 — `Dedup.decontaminateFraction`'s oracle. */
  private val decontaminateFracSql: String = s8Cte +
    """,
      |tr AS (SELECT doc_id AS train_id, CAST(len(sh) AS BIGINT) AS n_grams,
      |         unnest(sh) AS g
      |       FROM s8 WHERE doc_id % 10 <> 0 AND len(sh) > 0),
      |ev AS (SELECT DISTINCT unnest(sh) AS g FROM s8 WHERE doc_id % 10 = 0)
      |SELECT train_id, n_grams,
      |  count(DISTINCT g) AS n_shared_ngrams,
      |  CAST(count(DISTINCT g) AS DOUBLE) / CAST(n_grams AS DOUBLE) AS shared_frac,
      |  (CAST(count(DISTINCT g) AS DOUBLE) / CAST(n_grams AS DOUBLE)) >= 0.2 AS flagged
      |FROM tr JOIN ev USING (g)
      |GROUP BY train_id, n_grams ORDER BY train_id""".stripMargin

  private def markerListSql(ms: Seq[String]): String =
    ms.map(m => s"'$m'").mkString("[", ", ", "]")

  /** The frozen linear quality-logit expression over the feature frame's
    * columns — shared by the classifier and representative oracles. */
  private val qualityLogitSql: String =
    """round(-1.0 + 0.45 * round(ln(1.0 + CAST(n_words AS DOUBLE)), 6)
      |    + 1.2 * CAST(has_stopword AS DOUBLE)
      |    - 3.5 * round(top_word_frac, 6)
      |    - 4.0 * round(dup_bigram_frac, 6)
      |    - 0.2 * round(abs(mean_word_len - 5.0), 6), 6)""".stripMargin

  /** Longest-dup-substring replay (anchored 8-gram run-merge on the
    * gram STRING — certifying the engine's compact xxhash64 key) —
    * shared by the one-shot and incremental-index gates, which must
    * serve identical answers. */
  // lazy: textual order puts the CTE chain below this definition
  private lazy val dedupSubstringsSql: String = dedupSubstringsCtes +
    """
      |SELECT doc_id, dup_len, dup_start FROM perdoc
      |ORDER BY doc_id""".stripMargin

  /** The substring-repeat CTE chain ending in a per-doc `perdoc` CTE —
    * shared by the one-shot/incremental/streaming gates and the
    * per-source duplication report. */
  private val dedupSubstringsCtes: String = dedupSubstringsCtesWhere("")

  /** [[dedupSubstringsCtes]] with an extra predicate on the anchor
    * self-join — the tenant-scoped cascade gate appends tenant equality
    * (per-tenant indexes must only see WITHIN-tenant repeats). */
  private def dedupSubstringsCtesWhere(extraPred: String): String = tokensCte +
    s""", kg AS (
      |  SELECT doc_id, r.p, array_to_string(toks[r.p:r.p+7], ' ') AS g
      |  FROM w, LATERAL (SELECT unnest(range(1, greatest(len(toks) - 6, 1))) AS p) r
      |), m AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.p AS pa, a.p - b.p AS diag
      |  FROM kg a JOIN kg b USING (g)
      |  WHERE a.doc_id <> b.doc_id$extraPred
      |), runs AS (
      |  SELECT id_a, count(*) + 7 AS len, min(pa) - 1 AS start
      |  FROM (
      |    SELECT id_a, id_b, diag, pa,
      |      pa - row_number() OVER (PARTITION BY id_a, id_b, diag ORDER BY pa) AS isl
      |    FROM m)
      |  GROUP BY id_a, id_b, diag, isl
      |), perdoc AS (
      |  SELECT doc_id, dup_len, dup_start FROM (
      |    SELECT id_a AS doc_id, CAST(len AS BIGINT) AS dup_len,
      |      CAST(start AS BIGINT) AS dup_start,
      |      row_number() OVER (PARTITION BY id_a ORDER BY len DESC, start ASC) AS rnk
      |    FROM runs)
      |  WHERE rnk = 1)""".stripMargin

  /** The trained-probe oracle: DuckDB replays QualityProbe's exact
    * arithmetic — 6-dp features off the shared `m` frame, then
    * `iterations` UNROLLED weight CTEs, each one aggregate of 9-dp
    * DECIMAL(28,9) gradient sums with the scalar weights referenced by
    * subquery, then the 6-dp scoring pass. Bit-parity holds because
    * every cross-engine float op is either IEEE-identical on identical
    * inputs or rounded before reuse (the pageRank recipe). */
  /** Perplexity replay shared by the one-shot and maintained-LM gates. */
  /** The perplexity-LM CTE chain (reference slice → smoothed bigram LM →
    * per-doc mean surprisal `pd`) — threshold-free; shared by the gate
    * oracle and the held-out-label probe oracle. */
  private lazy val perplexityCtes: String = """
        |, refw AS (SELECT toks FROM w WHERE doc_id % 10 = 1),
        |rbg AS MATERIALIZED (
        |  SELECT bg, CAST(count(*) AS BIGINT) AS c12 FROM (
        |    SELECT unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[]) ELSE
        |      list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END) AS bg
        |    FROM refw) GROUP BY 1),
        |pref AS MATERIALIZED (
        |  SELECT string_split(bg, ' ')[1] AS w1, CAST(sum(c12) AS BIGINT) AS c1,
        |    CAST(count(*) AS BIGINT) AS k1
        |  FROM rbg GROUP BY 1),
        |uni AS MATERIALIZED (
        |  SELECT w2, CAST(count(*) AS BIGINT) AS cu FROM (
        |    SELECT unnest(toks) AS w2 FROM refw) GROUP BY 1),
        |nv AS MATERIALIZED (SELECT CAST(sum(cu) AS BIGINT) AS N, CAST(count(*) AS BIGINT) AS V FROM uni),
        |g AS (
        |  SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2 FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[]) ELSE
        |      list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END) AS bg
        |    FROM w)),
        |sc AS (
        |  SELECT doc_id, CAST(round(-ln(p), 6) AS DECIMAL(18,6)) AS nlp FROM (
        |    SELECT doc_id,
        |      CASE WHEN c1 IS NULL THEN pu ELSE
        |        greatest(CAST(coalesce(c12, 0) AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE)) / CAST(c1 AS DOUBLE)
        |          + CAST(0.75 AS DOUBLE) * CAST(k1 AS DOUBLE) / CAST(c1 AS DOUBLE) * pu END AS p
        |    FROM (
        |      SELECT doc_id, c12, c1, k1,
        |        (CAST(coalesce(cu, 0) AS DOUBLE) + CAST(1 AS DOUBLE)) / CAST(N + V AS DOUBLE) AS pu
        |      FROM g LEFT JOIN rbg USING (bg) LEFT JOIN pref USING (w1)
        |        LEFT JOIN uni USING (w2), nv))),
        |pd AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    round(CAST(sum(nlp) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_nlp
        |  FROM sc GROUP BY doc_id)""".stripMargin

  private lazy val perplexityFilterSql: String = tokensCte + perplexityCtes +
    """
        |SELECT w.doc_id,
        |  coalesce(n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
        |  coalesce(mean_nlp, CAST(0 AS DOUBLE)) AS mean_neg_logprob,
        |  (n_bigrams IS NOT NULL AND mean_nlp <= CAST(3.8 AS DOUBLE)) AS keep
        |FROM w LEFT JOIN pd USING (doc_id)
        |ORDER BY doc_id""".stripMargin

  private def qualityProbeSql(iterations: Int, lr: Double): String =
    qualityProbeCtes(iterations, lr) + """
      |SELECT doc_id, y = CAST(1 AS DOUBLE) AS rule_keep, probe_score,
      |  probe_score >= 0.5 AS probe_keep
      |FROM scores ORDER BY doc_id""".stripMargin

  /** The probe CTE chain ending in a `scores` CTE — shared by the probe
    * gate and the probe-budget sampler oracle. */
  private def qualityProbeCtes(iterations: Int, lr: Double): String = {
    val scale = lr * 2.0 // exact in IEEE for the default 0.1
    val scaleSql = s"CAST(${scale.toString} AS DOUBLE)"
    def wRef(k: Int, j: Int) = s"(SELECT w_$j FROM w$k)"
    def pred(k: Int, prec: Int) =
      s"round(${wRef(k, 0)} + ${wRef(k, 1)} * x1 + ${wRef(k, 2)} * x2 + " +
        s"${wRef(k, 3)} * x3 + ${wRef(k, 4)} * x4 + ${wRef(k, 5)} * x5, $prec)"
    val featureCte =
      """, f AS MATERIALIZED (
        |  SELECT doc_id,
        |    round(ln(1.0 + CAST(n_words AS DOUBLE)), 6) / CAST(10 AS DOUBLE) AS x1,
        |    round(top_word_frac, 6) AS x2,
        |    round(dup_bigram_frac, 6) AS x3,
        |    round(abs(mean_word_len - 5.0), 6) / CAST(10 AS DOUBLE) AS x4,
        |    CAST(has_stopword AS DOUBLE) AS x5,
        |    CAST((n_words > 0 AND n_words BETWEEN 20 AND 10000
        |      AND mean_word_len BETWEEN 3.0 AND 10.0 AND has_stopword
        |      AND top_word_frac <= 0.2 AND dup_bigram_frac <= 0.1) AS DOUBLE) AS y
        |  FROM m),
        |nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
        |w0 AS (SELECT """.stripMargin +
        (0 to 5).map(j => s"CAST(0 AS DOUBLE) AS w_$j").mkString(", ") + ")"
    val iterCtes = (1 to iterations).map { k =>
      val terms = Seq("r", "x1 * r", "x2 * r", "x3 * r", "x4 * r", "x5 * r")
      val cols = terms.zipWithIndex.map { case (t, j) =>
        s"round(${wRef(k - 1, j)} + $scaleSql * " +
          s"CAST(sum(CAST(round($t, 9) AS DECIMAL(28,9))) AS DOUBLE)" +
          s" / (SELECT n FROM nn), 9) AS w_$j"
      }.mkString(",\n    ")
      s""",
         |w$k AS MATERIALIZED (
         |  SELECT $cols
         |  FROM (SELECT x1, x2, x3, x4, x5,
         |        y - ${pred(k - 1, 9)} AS r FROM f) t)""".stripMargin
    }.mkString
    qualityFeatureCte + featureCte + iterCtes +
      s""",
         |scores AS MATERIALIZED (
         |  SELECT doc_id, y, ${pred(iterations, 6)} AS probe_score FROM f)""".stripMargin
  }

  /** Held-out-label probe oracle: perplexity-LM labels (threshold 3.55),
    * GD over the doc_id%5!=0 train split only, holdout rows scored —
    * the same unrolled-MATERIALIZED-CTE replay as `qualityProbeSql`,
    * with the training frame swapped for the external-label join. */
  private def qualityProbeHoldoutSql(iterations: Int, lr: Double): String = {
    val scale = lr * 2.0 // exact in IEEE for the default 0.1
    val scaleSql = s"CAST(${scale.toString} AS DOUBLE)"
    def wRef(k: Int, j: Int) = s"(SELECT h_$j FROM h$k)"
    def pred(k: Int, prec: Int) =
      s"round(${wRef(k, 0)} + ${wRef(k, 1)} * x1 + ${wRef(k, 2)} * x2 + " +
        s"${wRef(k, 3)} * x3 + ${wRef(k, 4)} * x4 + ${wRef(k, 5)} * x5, $prec)"
    val fCte =
      """, f AS MATERIALIZED (
        |  SELECT doc_id,
        |    round(ln(1.0 + CAST(n_words AS DOUBLE)), 6) / CAST(10 AS DOUBLE) AS x1,
        |    round(top_word_frac, 6) AS x2,
        |    round(dup_bigram_frac, 6) AS x3,
        |    round(abs(mean_word_len - 5.0), 6) / CAST(10 AS DOUBLE) AS x4,
        |    CAST(has_stopword AS DOUBLE) AS x5,
        |    CAST((n_words > 0 AND n_words BETWEEN 20 AND 10000
        |      AND mean_word_len BETWEEN 3.0 AND 10.0 AND has_stopword
        |      AND top_word_frac <= 0.2 AND dup_bigram_frac <= 0.1) AS DOUBLE) AS y
        |  FROM m),
        |lab AS MATERIALIZED (
        |  SELECT w.doc_id,
        |    CAST((n_bigrams IS NOT NULL AND mean_nlp <= CAST(3.55 AS DOUBLE)) AS DOUBLE) AS yl
        |  FROM w LEFT JOIN pd USING (doc_id)),
        |ftr AS MATERIALIZED (
        |  SELECT f.doc_id, x1, x2, x3, x4, x5, yl AS y
        |  FROM f JOIN lab USING (doc_id) WHERE doc_id % 5 <> 0),
        |nn2 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM ftr),
        |h0 AS (SELECT """.stripMargin +
        (0 to 5).map(j => s"CAST(0 AS DOUBLE) AS h_$j").mkString(", ") + ")"
    val iterCtes = (1 to iterations).map { k =>
      val terms = Seq("r", "x1 * r", "x2 * r", "x3 * r", "x4 * r", "x5 * r")
      val cols = terms.zipWithIndex.map { case (t, j) =>
        s"round(${wRef(k - 1, j)} + $scaleSql * " +
          s"CAST(sum(CAST(round($t, 9) AS DECIMAL(28,9))) AS DOUBLE)" +
          s" / (SELECT n FROM nn2), 9) AS h_$j"
      }.mkString(",\n    ")
      s""",
         |h$k AS MATERIALIZED (
         |  SELECT $cols
         |  FROM (SELECT x1, x2, x3, x4, x5,
         |        y - ${pred(k - 1, 9)} AS r FROM ftr) t)""".stripMargin
    }.mkString
    tokensCte + perplexityCtes + qualityMCte + fCte + iterCtes +
      s"""
         |SELECT f.doc_id, yl = CAST(1 AS DOUBLE) AS label_keep,
         |  f.y = CAST(1 AS DOUBLE) AS rule_keep,
         |  ${pred(iterations, 6)} AS probe_score,
         |  ${pred(iterations, 6)} >= CAST(0.5 AS DOUBLE) AS probe_keep
         |FROM f JOIN lab USING (doc_id) WHERE doc_id % 5 = 0
         |ORDER BY doc_id""".stripMargin
  }

  /** qualityFilter's feature frame (`m`) — shared by the rule-filter and
    * classifier oracles. */
  private def qualityFeatureCte: String = tokensCte + qualityMCte

  /** The `m` CTE alone (no tokens prefix) — for oracles that splice the
    * feature frame after other `w`-consuming chains. */
  private def qualityMCte: String =
    """, m AS (
      |  SELECT doc_id,
      |    CAST(len(toks) AS BIGINT) AS n_words,
      |    CASE WHEN len(toks) > 0 THEN
      |      CAST(list_reduce(list_transform(toks, t -> len(t)), (a,b) -> a+b) AS DOUBLE)
      |        / CAST(len(toks) AS DOUBLE)
      |    ELSE CAST(0 AS DOUBLE) END AS mean_word_len,
      |    len(list_filter(toks, t -> list_contains(""".stripMargin +
    markerListSql(markers.values.flatten.toSeq) +
    """, t))) >= 1 AS has_stopword,
      |    CASE WHEN len(toks) > 0 THEN
      |      CAST(list_max(list_transform(list_distinct(toks),
      |          t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE)
      |        / CAST(len(toks) AS DOUBLE)
      |    ELSE CAST(0 AS DOUBLE) END AS top_word_frac,
      |    CASE WHEN len(toks) >= 2 THEN
      |      CAST(1 AS DOUBLE) - CAST(len(list_distinct(list_transform(range(1, len(toks)),
      |        i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE) / CAST(len(toks) - 1 AS DOUBLE)
      |    ELSE CAST(0 AS DOUBLE) END AS dup_bigram_frac
      |  FROM w)""".stripMargin

  /** Compressed-domain machinery shared by the IVF-PQ oracles: coarse
    * cells, assignments, probe routing, seeded codebooks, encodes, and
    * per-probe ADC tables — the rerank variant appends an exact tail. */
  /** The IVF→PQ→exact-rerank replay at a given ADC shortlist depth —
    * shared by the fixed (50) and probe-scaled (150 = 50·nProbe) gated
    * forms, which differ ONLY in this knob. */
  private def rerankOracle(depth: Int): String = ivfPqCtes +
    s""", short AS (
       |  SELECT probe_id, neighbor_id FROM (
       |    SELECT pa.p_id AS probe_id, ca.c_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY pa.p_id ORDER BY
       |        list_reduce(list_transform(range(0, 8),
       |          s -> ptab[s*16 + codes[s+1] + 1]), (x,y) -> x+y) ASC,
       |        ca.c_id) AS srank
       |    FROM pa JOIN ca USING (cell)
       |    JOIN enc ON enc.vec_id = ca.c_id
       |    JOIN pt ON pt.p_id = pa.p_id
       |    WHERE ca.c_id <> pa.p_id)
       |  WHERE srank <= $depth
       |)
       |SELECT probe_id, neighbor_id, cosine,
       |  CAST(row_number() OVER (PARTITION BY probe_id
       |    ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
       |FROM (
       |  SELECT s.probe_id, s.neighbor_id,
       |    list_reduce(list_transform(range(1, len(p.e)+1), i -> p.e[i]*c.e[i]),
       |      (x,y) -> x+y) / (p.nrm * c.nrm) AS cosine
       |  FROM short s JOIN n c ON c.vec_id = s.neighbor_id
       |  JOIN n p ON p.vec_id = s.probe_id)
       |QUALIFY rank <= 5
       |ORDER BY probe_id, rank""".stripMargin

  private val ivfPqCtes: String = vecCte +
      """, cents AS (
        |  SELECT vec_id AS cent_id, e AS cent_e, nrm AS cent_nrm
        |  FROM n ORDER BY vec_id LIMIT 16
        |), ca0 AS (
        |  SELECT a.vec_id AS c_id, b.cent_id AS cell,
        |    list_reduce(list_transform(range(1, len(a.e)+1), i -> a.e[i]*b.cent_e[i]),
        |      (x,y) -> x+y) / (a.nrm * b.cent_nrm) AS cos
        |  FROM n a CROSS JOIN cents b
        |), ca AS (
        |  SELECT c_id, cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY c_id
        |      ORDER BY cos DESC, cell) AS rn FROM ca0)
        |  WHERE rn = 1
        |), pa AS (
        |  SELECT p_id, cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY p_id
        |      ORDER BY cos DESC, cell) AS rn FROM (
        |      SELECT a.vec_id AS p_id, b.cent_id AS cell,
        |        list_reduce(list_transform(range(1, len(a.e)+1), i -> a.e[i]*b.cent_e[i]),
        |          (x,y) -> x+y) / (a.nrm * b.cent_nrm) AS cos
        |      FROM n a CROSS JOIN cents b WHERE a.vec_id < 10))
        |  WHERE rn <= 3
        |), seeds AS (
        |  SELECT e, row_number() OVER (ORDER BY vec_id) - 1 AS rnk
        |  FROM v ORDER BY vec_id LIMIT 16
        |), cbs AS (
        |  SELECT s.s AS sub, r.rnk AS code,
        |    list_slice(r.e, s.s*8 + 1, s.s*8 + 8) AS cv
        |  FROM seeds r, (SELECT unnest(range(0, 8)) AS s) s
        |), cbflat AS (
        |  SELECT list(cv ORDER BY sub, code) AS cb FROM cbs
        |), enc AS (
        |  SELECT vec_id,
        |    list_transform(range(0, 8), s ->
        |      CAST(list_position(
        |        list_transform(range(0, 16), c ->
        |          list_reduce(list_transform(range(1, 9),
        |            i -> (e[s*8+i] - cb[s*16+c+1][i]) * (e[s*8+i] - cb[s*16+c+1][i])),
        |            (x,y) -> x+y)),
        |        list_min(list_transform(range(0, 16), c ->
        |          list_reduce(list_transform(range(1, 9),
        |            i -> (e[s*8+i] - cb[s*16+c+1][i]) * (e[s*8+i] - cb[s*16+c+1][i])),
        |            (x,y) -> x+y)))) - 1 AS INT)) AS codes
        |  FROM v, cbflat
        |), pt AS (
        |  SELECT p.vec_id AS p_id,
        |    flatten(list_transform(range(0, 8), s ->
        |      list_transform(range(0, 16), c ->
        |        list_reduce(list_transform(range(1, 9),
        |          i -> (p.e[s*8+i] - cb[s*16+c+1][i]) * (p.e[s*8+i] - cb[s*16+c+1][i])),
        |          (x,y) -> x+y)))) AS ptab
        |  FROM v p, cbflat WHERE p.vec_id < 10
      |)""".stripMargin

  /** The full IVF lifecycle in SQL (centroid seed → cell assignment →
    * probe fan-out → exact rerank) — shared by the one-shot and the
    * incremental-fold oracles (the fold differs only in which rows seed
    * the centroid generation). */
  private val ivfSql: String = vecCte +
    """, cents AS (
      |  SELECT vec_id AS cent_id, e AS cent_e, nrm AS cent_nrm
      |  FROM n ORDER BY vec_id LIMIT 16
      |), ca0 AS (
      |  SELECT a.vec_id AS c_id, a.e AS c_e, a.nrm AS c_nrm, b.cent_id AS cell,
      |    list_reduce(list_transform(range(1, len(a.e)+1), i -> a.e[i]*b.cent_e[i]),
      |      (x,y) -> x+y) / (a.nrm * b.cent_nrm) AS cos
      |  FROM n a CROSS JOIN cents b
      |), ca AS (
      |  SELECT c_id, c_e, c_nrm, cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY c_id
      |      ORDER BY cos DESC, cell) AS rn FROM ca0)
      |  WHERE rn = 1
      |), pa AS (
      |  SELECT p_id, p_e, p_nrm, cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY p_id
      |      ORDER BY cos DESC, cell) AS rn FROM (
      |      SELECT a.vec_id AS p_id, a.e AS p_e, a.nrm AS p_nrm, b.cent_id AS cell,
      |        list_reduce(list_transform(range(1, len(a.e)+1), i -> a.e[i]*b.cent_e[i]),
      |          (x,y) -> x+y) / (a.nrm * b.cent_nrm) AS cos
      |      FROM n a CROSS JOIN cents b WHERE a.vec_id < 10))
      |  WHERE rn <= 3
      |)
      |SELECT probe_id, neighbor_id, cosine,
      |  CAST(row_number() OVER (PARTITION BY probe_id
      |    ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
      |FROM (
      |  SELECT pa.p_id AS probe_id, ca.c_id AS neighbor_id,
      |    list_reduce(list_transform(range(1, len(pa.p_e)+1), i -> pa.p_e[i]*ca.c_e[i]),
      |      (x,y) -> x+y) / (pa.p_nrm * ca.c_nrm) AS cosine
      |  FROM pa JOIN ca USING (cell) WHERE pa.p_id <> ca.c_id)
      |QUALIFY rank <= 5
      |ORDER BY probe_id, rank""".stripMargin

  /** Two-level IVF: coarse seed cells (first 4 by id), per-cell fine
    * seeds (first 4 members by id), nested deterministic argmins, probe
    * routes 2 coarse → 3 fine — replayed in full. */
  private val ivf2Sql: String = vecCte +
    """, cents AS (
      |  SELECT vec_id AS cent_id, e AS cent_e, nrm AS cent_nrm
      |  FROM n ORDER BY vec_id LIMIT 4
      |), ca AS (
      |  SELECT c_id, c_e, c_nrm, cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY c_id
      |      ORDER BY cos DESC, cell) AS rn FROM (
      |      SELECT a.vec_id AS c_id, a.e AS c_e, a.nrm AS c_nrm,
      |        b.cent_id AS cell,
      |        list_reduce(list_transform(range(1, len(a.e)+1), i -> a.e[i]*b.cent_e[i]),
      |          (x,y) -> x+y) / (a.nrm * b.cent_nrm) AS cos
      |      FROM n a CROSS JOIN cents b))
      |  WHERE rn = 1
      |), fcents AS (
      |  SELECT cell AS f_coarse, c_id AS f_id, c_e AS f_e, c_nrm AS f_nrm
      |  FROM (
      |    SELECT *, row_number() OVER (PARTITION BY cell ORDER BY c_id) AS rn
      |    FROM ca)
      |  WHERE rn <= 4
      |), fa AS (
      |  SELECT c_id, c_e, c_nrm, cell, fine FROM (
      |    SELECT ca.c_id, ca.c_e, ca.c_nrm, ca.cell, f.f_id AS fine,
      |      row_number() OVER (PARTITION BY ca.c_id ORDER BY
      |        list_reduce(list_transform(range(1, len(ca.c_e)+1), i -> ca.c_e[i]*f.f_e[i]),
      |          (x,y) -> x+y) / (ca.c_nrm * f.f_nrm) DESC, f.f_id) AS rn
      |    FROM ca JOIN fcents f ON f.f_coarse = ca.cell)
      |  WHERE rn = 1
      |), pcoarse AS (
      |  SELECT p_id, p_e, p_nrm, cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY p_id
      |      ORDER BY cos DESC, cell) AS rn FROM (
      |      SELECT a.vec_id AS p_id, a.e AS p_e, a.nrm AS p_nrm,
      |        b.cent_id AS cell,
      |        list_reduce(list_transform(range(1, len(a.e)+1), i -> a.e[i]*b.cent_e[i]),
      |          (x,y) -> x+y) / (a.nrm * b.cent_nrm) AS cos
      |      FROM n a CROSS JOIN cents b WHERE a.vec_id < 10))
      |  WHERE rn <= 2
      |), pf AS (
      |  SELECT p_id, p_e, p_nrm, cell, fine FROM (
      |    SELECT pc.p_id, pc.p_e, pc.p_nrm, pc.cell, f.f_id AS fine,
      |      row_number() OVER (PARTITION BY pc.p_id ORDER BY
      |        list_reduce(list_transform(range(1, len(pc.p_e)+1), i -> pc.p_e[i]*f.f_e[i]),
      |          (x,y) -> x+y) / (pc.p_nrm * f.f_nrm) DESC, f.f_id) AS rn
      |    FROM pcoarse pc JOIN fcents f ON f.f_coarse = pc.cell)
      |  WHERE rn <= 3
      |)
      |SELECT probe_id, neighbor_id, cosine,
      |  CAST(row_number() OVER (PARTITION BY probe_id
      |    ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
      |FROM (
      |  SELECT pf.p_id AS probe_id, fa.c_id AS neighbor_id,
      |    list_reduce(list_transform(range(1, len(pf.p_e)+1), i -> pf.p_e[i]*fa.c_e[i]),
      |      (x,y) -> x+y) / (pf.p_nrm * fa.c_nrm) AS cosine
      |  FROM pf JOIN fa USING (cell, fine) WHERE pf.p_id <> fa.c_id)
      |QUALIFY rank <= 5
      |ORDER BY probe_id, rank""".stripMargin

  /** Connected-component closure over the exact Jaccard-0.8 pair set as
    * a recursive CTE ending in a `canon(doc_id, canonical_id)` relation —
    * shared by the one-shot (`dedup_canonical`), incremental-fold
    * (`dedup_canonical_incremental`), and cluster-report
    * (`dedup_cluster_report`) gates. */
  private val canonicalCoreSql: String =
    shingleCte.replaceFirst("WITH w AS", "WITH RECURSIVE w AS") +
      """, pairs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) /
        |      CAST(len(a.sh) + len(b.sh)
        |           - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) AS jaccard
        |    FROM s a JOIN s b ON a.doc_id < b.doc_id
        |    WHERE len(a.sh) > 0 AND len(b.sh) > 0)
        |  WHERE jaccard >= 0.8
        |), edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs
        |), reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.src, reach.r FROM reach JOIN edges e ON reach.id = e.dst
        |), canon AS (
        |  SELECT id AS doc_id, min(r) AS canonical_id
        |  FROM reach GROUP BY id
        |)""".stripMargin

  private val canonicalSql: String = canonicalCoreSql +
    "\nSELECT doc_id, canonical_id FROM canon ORDER BY doc_id"

  /** The sequence-packing computation (8 shards, 512-token sequences) as
    * a CTE chain ending in `packed(doc_id, shard, n_tokens, seq_id,
    * seq_offset)` — shared by the per-doc gate and the shard manifest. */
  private val packCoreSql: String = tokensCte +
    """, t AS (
      |  SELECT doc_id, doc_id % 8 AS shard,
      |    CAST(len(toks) AS BIGINT) AS n_tokens
      |  FROM w),
      |c AS (
      |  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
      |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |    0) AS BIGINT) AS cum_before
      |  FROM t),
      |packed AS (
      |  SELECT doc_id, shard, n_tokens,
      |    CAST(cum_before // 512 AS BIGINT) AS seq_id,
      |    CAST(cum_before % 512 AS BIGINT) AS seq_offset
      |  FROM c)""".stripMargin

  /** Oracle SQL as an entry LIST folded into a Map through a uniqueness
    * guard: a duplicate key in a `Map(...)` literal silently keeps only the
    * last definition (it happened in round 1 — three keys were defined
    * twice and the earlier copies were dead). `toMapUnique` fails fast. */
  private val oracleEntries: Seq[(String, String)] = Seq(
    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,
    "dedup_ngram_jaccard" -> ngramJaccardSql,
    "dedup_threshold_sweep" -> thresholdSweepSql,
    "dedup_containment_sweep" -> containmentSweepSql,
    "dedup_weighted_sweep" -> weightedSweepSql,
    // containment is ASYMMETRIC (|A∩B| / |A|): ordered pairs, a ≠ b —
    // the naive cross product is the oracle for the prefix-blocked join
    "dedup_containment" -> (shingleCte +
      """
        |SELECT id_a, id_b, containment FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) /
        |    CAST(len(a.sh) AS DOUBLE) AS containment
        |  FROM s a JOIN s b ON a.doc_id <> b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0)
        |WHERE containment >= 0.8
        |ORDER BY id_a, id_b""".stripMargin),
    "sim_hard_negatives" -> (vecCte +
      """
        |SELECT probe_id, neighbor_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY probe_id
        |    ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
        |FROM (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_transform(range(1, len(p.e)+1), i -> p.e[i]*c.e[i]),
        |      (x,y) -> x+y) / (p.nrm * c.nrm) AS cosine
        |  FROM n p JOIN n c ON c.vec_id <> p.vec_id
        |  WHERE p.vec_id < 10)
        |WHERE cosine < 0.98
        |QUALIFY rank <= 5
        |ORDER BY probe_id, rank""".stripMargin),
    "text_ngram_novelty" -> (shingleCte +
      """, post AS (
        |  SELECT doc_id, unnest(sh) AS shingle FROM s WHERE len(sh) > 0
        |), novel AS (
        |  SELECT min(doc_id) AS doc_id, count(*) AS df
        |  FROM post GROUP BY shingle HAVING count(*) = 1
        |)
        |SELECT s.doc_id, CAST(len(s.sh) AS BIGINT) AS n_shingles,
        |  coalesce(nv.n_novel, 0) AS n_novel,
        |  CAST(coalesce(nv.n_novel, 0) AS DOUBLE) /
        |    CAST(len(s.sh) AS DOUBLE) AS novelty
        |FROM s LEFT JOIN (
        |  SELECT doc_id, count(*) AS n_novel FROM novel GROUP BY doc_id
        |) nv USING (doc_id)
        |WHERE len(s.sh) > 0
        |ORDER BY s.doc_id""".stripMargin),
    // the fold over arriving batches must reproduce the one-shot
    // full-corpus pair set exactly — same oracle as the batch operator
    "dedup_incremental_fold" -> ngramJaccardSql,
    // ... and so must the STREAMING integration, across a forced crash
    // replay (exactly-once pair log)
    "dedup_streaming_index" -> ngramJaccardSql,
    // derived from the SHARED pair SQL (single source of truth), with the
    // corpus/new split predicate spliced in — pairs with >= 1 new side
    "dedup_incremental" -> ngramJaccardSql.replaceFirst(
      "WHERE jaccard >= 0\\.8",
      "WHERE jaccard >= 0.8\n  AND NOT (id_a % 10 < 8 AND id_b % 10 < 8)"),
    "dedup_canonical" -> canonicalSql,
    // the 3-batch incremental fold must converge to the one-shot
    // canonical closure — same oracle
    "dedup_canonical_incremental" -> canonicalSql,
    // stream → pair log → canonical deltas → merge mirror → keyed view:
    // the final view state must equal the closure joined to the corpus
    "dedup_canonical_chain" -> (canonicalCoreSql +
      """
        |SELECT canonical_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(length(text)) AS DOUBLE) AS total_chars
        |FROM canon JOIN documents USING (doc_id)
        |GROUP BY canonical_id ORDER BY canonical_id""".stripMargin),
    "dedup_cluster_report" -> (canonicalCoreSql +
      """
        |SELECT cluster_size, count(*) AS n_clusters,
        |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
        |  min(canonical_id) AS min_canonical_id
        |FROM (SELECT canonical_id, count(*) AS cluster_size
        |      FROM canon GROUP BY 1)
        |GROUP BY cluster_size ORDER BY cluster_size""".stripMargin),
    // host-keyed exact dedup: the oracle repeats the normalize chain
    // (same regexes as text_normalize — valid in Java regex and RE2)
    "dedup_host_keys" ->
      """WITH n AS (
        |  SELECT doc_id, source AS host,
        |    trim(regexp_replace(regexp_replace(nfc_normalize(text),
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F\p{Cf}]', '', 'g'),
        |      '\s+', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT host, min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM n GROUP BY host, norm ORDER BY host, doc_id""".stripMargin,
    // minhash+LSH verifies candidates exactly, so its output semantics
    // equal the exact n-gram pairs — same oracle.
    "dedup_minhash" -> ngramJaccardSql,
    // ---- split-phase oracles: the four hash-family-dependent queries.
    // The Spark query persists the hash half (codes / candidate pairs /
    // signatures) under target/split_phase during the Verify run; the SQL
    // reads the SAME artifact and exactly recomputes the downstream half.
    // dedup_simhash: banding is pigeonhole-exact within the radius, so
    // the banded pair set must equal brute-force Hamming over the codes.
    "multimodal_dedup" ->
      s"""WITH s AS (SELECT doc_id, simhash
         |  FROM read_parquet('$oracleSplitDir/phash_codes/*.parquet'))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
         |ORDER BY id_a, id_b""".stripMargin,
    "dedup_simhash" ->
      s"""WITH s AS (SELECT doc_id, simhash
         |  FROM read_parquet('$oracleSplitDir/simhash_codes/*.parquet'))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,
    "dedup_embedding_lsh" -> (vecCte +
      s"""
         |, cand AS (SELECT id_a, id_b
         |    FROM read_parquet('$oracleSplitDir/emb_lsh_cands/*.parquet'))
         |SELECT id_a, id_b, cosine FROM (
         |  SELECT cand.id_a, cand.id_b,
         |    list_reduce(list_transform(range(1, len(a.e)+1), i -> a.e[i]*b.e[i]),
         |      (x,y) -> x+y) / (a.nrm * b.nrm) AS cosine
         |  FROM cand JOIN n a ON a.vec_id = cand.id_a
         |            JOIN n b ON b.vec_id = cand.id_b)
         |WHERE cosine >= 0.4
         |ORDER BY id_a, id_b""".stripMargin),
    "sim_topk_lsh" -> (vecCte +
      s"""
         |, cand AS (SELECT p_id, c_id
         |    FROM read_parquet('$oracleSplitDir/lsh_topk_cands/*.parquet'))
         |SELECT probe_id, neighbor_id, cosine,
         |  CAST(row_number() OVER (PARTITION BY probe_id
         |    ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
         |FROM (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |    list_reduce(list_transform(range(1, len(p.e)+1), i -> p.e[i]*c.e[i]),
         |      (x,y) -> x+y) / (p.nrm * c.nrm) AS cosine
         |  FROM cand JOIN n p ON p.vec_id = cand.p_id
         |            JOIN n c ON c.vec_id = cand.c_id)
         |QUALIFY rank <= 5
         |ORDER BY probe_id, rank""".stripMargin),
    "dedup_source_similarity" ->
      s"""WITH s AS (SELECT source, sig
         |  FROM read_parquet('$oracleSplitDir/source_sigs/*.parquet'))
         |SELECT a.source AS source_a, b.source AS source_b,
         |  CAST(len(list_filter(range(1, len(a.sig)+1), i -> a.sig[i] = b.sig[i])) AS DOUBLE)
         |    / CAST(len(a.sig) AS DOUBLE) AS est_jaccard
         |FROM s a JOIN s b ON a.source < b.source
         |ORDER BY source_a, source_b""".stripMargin,
    "dedup_embedding" -> (vecCte +
      """
        |SELECT id_a, id_b, cosine FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_reduce(list_transform(range(1, len(a.e)+1), i -> a.e[i]*b.e[i]),
        |      (x,y) -> x+y) / (a.nrm * b.nrm) AS cosine
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
        |WHERE cosine >= 0.4
        |ORDER BY id_a, id_b""".stripMargin),
    // IVF is approximate only in WHICH candidates it scores — centroid
    // choice (first 16 ids), cell assignment, probe fan-out, and the
    // final cosines are all deterministic double math, so the full
    // operator is oracle-checkable with the same sequential-fold recipe
    // as sim_topk_exact.
    "sim_topk_ivf" -> ivfSql,
    "sim_topk_ivf2" -> ivf2Sql,
    // the per-batch index-accumulation fold must converge to the one-shot
    // build — same search SQL, with the centroid generation seeded from
    // the FIRST batch (vec_id % 3 = 0), exactly as the deployment would
    "sim_topk_ivf_incremental" -> ivfSql.replaceFirst(
      "FROM n ORDER BY vec_id LIMIT 16",
      "FROM n WHERE vec_id % 3 = 0 ORDER BY vec_id LIMIT 16"),
    // the streaming ingest accumulates the same per-batch assignments the
    // incremental fold models, through transactional epochs + a forced
    // crash replay — identical deterministic lifecycle, identical oracle
    // seed = first batch's vectors; deleted ids (vec_id % 17 = 3) are
    // excluded from CANDIDATES only — centroids and probe routing are
    // built before/independent of the deletions, exactly the engine's
    // tombstone semantics
    "sim_streaming_index" -> ivfSql.replaceFirst(
      "FROM n ORDER BY vec_id LIMIT 16",
      "FROM n WHERE vec_id % 3 = 0 ORDER BY vec_id LIMIT 16")
      .replaceFirst(java.util.regex.Pattern.quote(
        "FROM pa JOIN ca USING (cell) WHERE pa.p_id <> ca.c_id"),
        "FROM pa JOIN ca USING (cell) WHERE pa.p_id <> ca.c_id " +
          "AND ca.c_id % 17 <> 3"),
    // the cell-partitioned lake changes WHERE candidates are read from
    // (pruned directories), never WHICH are scored — identical routing,
    // identical SQL
    "sim_topk_ivf_clustered" -> ivfSql,
    // product quantization: seeded codebooks + first-minimum argmin
    // encode + sequential ADC folds — the whole compress/search pipeline
    // is deterministic double math, oracle-checked end to end
    "sim_topk_pq" -> (vecCte +
      """, seeds AS (
        |  SELECT e, row_number() OVER (ORDER BY vec_id) - 1 AS rnk
        |  FROM v ORDER BY vec_id LIMIT 16
        |), cbs AS (
        |  SELECT s.s AS sub, r.rnk AS code,
        |    list_slice(r.e, s.s*8 + 1, s.s*8 + 8) AS cv
        |  FROM seeds r, (SELECT unnest(range(0, 8)) AS s) s
        |), cbflat AS (
        |  SELECT list(cv ORDER BY sub, code) AS cb FROM cbs
        |), enc AS (
        |  SELECT vec_id,
        |    list_transform(range(0, 8), s ->
        |      CAST(list_position(
        |        list_transform(range(0, 16), c ->
        |          list_reduce(list_transform(range(1, 9),
        |            i -> (e[s*8+i] - cb[s*16+c+1][i]) * (e[s*8+i] - cb[s*16+c+1][i])),
        |            (x,y) -> x+y)),
        |        list_min(list_transform(range(0, 16), c ->
        |          list_reduce(list_transform(range(1, 9),
        |            i -> (e[s*8+i] - cb[s*16+c+1][i]) * (e[s*8+i] - cb[s*16+c+1][i])),
        |            (x,y) -> x+y)))) - 1 AS INT)) AS codes
        |  FROM v, cbflat
        |), pt AS (
        |  SELECT p.vec_id AS p_id,
        |    flatten(list_transform(range(0, 8), s ->
        |      list_transform(range(0, 16), c ->
        |        list_reduce(list_transform(range(1, 9),
        |          i -> (p.e[s*8+i] - cb[s*16+c+1][i]) * (p.e[s*8+i] - cb[s*16+c+1][i])),
        |          (x,y) -> x+y)))) AS ptab
        |  FROM v p, cbflat WHERE p.vec_id < 10
        |)
        |SELECT probe_id, neighbor_id, adc_dist,
        |  CAST(row_number() OVER (PARTITION BY probe_id
        |    ORDER BY adc_dist ASC, neighbor_id) AS INT) AS rank
        |FROM (
        |  SELECT pt.p_id AS probe_id, enc.vec_id AS neighbor_id,
        |    list_reduce(list_transform(range(0, 8),
        |      s -> ptab[s*16 + codes[s+1] + 1]), (x,y) -> x+y) AS adc_dist
        |  FROM pt, enc WHERE enc.vec_id <> pt.p_id)
        |QUALIFY rank <= 5
        |ORDER BY probe_id, rank""".stripMargin),
    // IVF→PQ composition: ivfSql's cell routing (cents/ca0/ca/pa CTEs,
    // verbatim) prunes the candidates; sim_topk_pq's codebook/encode/ADC
    // CTEs (verbatim) rank them — the two verified halves composed
    "sim_topk_ivfpq" -> (ivfPqCtes +
      """SELECT probe_id, neighbor_id, adc_dist,
        |  CAST(row_number() OVER (PARTITION BY probe_id
        |    ORDER BY adc_dist ASC, neighbor_id) AS INT) AS rank
        |FROM (
        |  SELECT pa.p_id AS probe_id, ca.c_id AS neighbor_id,
        |    list_reduce(list_transform(range(0, 8),
        |      s -> ptab[s*16 + codes[s+1] + 1]), (x,y) -> x+y) AS adc_dist
        |  FROM pa JOIN ca USING (cell)
        |  JOIN enc ON enc.vec_id = ca.c_id
        |  JOIN pt ON pt.p_id = pa.p_id
        |  WHERE ca.c_id <> pa.p_id)
        |QUALIFY rank <= 5
        |ORDER BY probe_id, rank""".stripMargin),
    // IVF-prune -> ADC shortlist -> exact-cosine re-rank: the same
    // compressed-domain machinery, one exact tail. Depth 50 = the fixed
    // form; 150 = shortlist scaled to the probe budget (50*nProbe).
    "sim_topk_ivfpq_rerank" -> rerankOracle(50),
    "sim_topk_ivfpq_rerank_scaled" -> rerankOracle(150),
    // scalar quantization is pure IEEE arithmetic + floor → the full
    // compress/dequantize/search pipeline replicates exactly
    "sim_topk_sq" -> (vecCte +
      """, dims AS (
        |  SELECT i, min(e[i]) AS mn, max(e[i]) AS mx
        |  FROM v, range(1, 65) t(i) GROUP BY i
        |), b AS (
        |  SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM dims
        |), dq AS (
        |  SELECT vec_id,
        |    list_transform(range(1, 65), i ->
        |      CASE WHEN mxs[i] = mns[i] THEN mns[i]
        |      ELSE mns[i] + CAST(CAST(floor((e[i]-mns[i])/(mxs[i]-mns[i])*255 + 0.5) AS INT) AS DOUBLE)/255.0*(mxs[i]-mns[i])
        |      END) AS e
        |  FROM v, b
        |), cq AS (
        |  SELECT vec_id, e,
        |    sqrt(list_reduce(list_transform(e, x -> x*x), (a,b) -> a+b)) AS nrm
        |  FROM dq
        |)
        |SELECT probe_id, neighbor_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY probe_id
        |    ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
        |FROM (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_transform(range(1, len(p.e)+1), i -> p.e[i]*c.e[i]),
        |      (x,y) -> x+y) / (p.nrm * c.nrm) AS cosine
        |  FROM n p JOIN cq c ON c.vec_id <> p.vec_id
        |  WHERE p.vec_id < 10)
        |QUALIFY rank <= 5
        |ORDER BY probe_id, rank""".stripMargin),
    "sim_topk_exact" -> (vecCte +
      """
        |SELECT probe_id, neighbor_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY probe_id
        |    ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
        |FROM (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_transform(range(1, len(p.e)+1), i -> p.e[i]*c.e[i]),
        |      (x,y) -> x+y) / (p.nrm * c.nrm) AS cosine
        |  FROM n p JOIN n c ON c.vec_id <> p.vec_id
        |  WHERE p.vec_id < 10)
        |QUALIFY rank <= 5
        |ORDER BY probe_id, rank""".stripMargin),
    // the stub reranker's arithmetic is full-precision sequential-fold
    // cosine (identical to sim_topk_exact's) damped by the label gap,
    // rounded at 6 dp — exactly replicable in SQL
    "sim_rerank_crossenc" -> (vecCte +
      """, lab AS (SELECT vec_id, CAST(label AS DOUBLE) AS lab FROM embeddings),
        |sc AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_transform(range(1, len(p.e)+1), i -> p.e[i]*c.e[i]),
        |      (x,y) -> x+y) / (p.nrm * c.nrm) AS cosx
        |  FROM n p JOIN n c ON c.vec_id <> p.vec_id
        |  WHERE p.vec_id = 0),
        |short AS (
        |  SELECT probe_id, neighbor_id,
        |    CAST(row_number() OVER (ORDER BY cosx DESC, neighbor_id) AS INT) AS ann_rank,
        |    cosx
        |  FROM sc ORDER BY cosx DESC, neighbor_id LIMIT 20),
        |ce AS (
        |  SELECT s.probe_id, s.neighbor_id, s.ann_rank,
        |    round(s.cosx / (1.0 + abs(pl.lab - cl.lab)), 6) AS ce_score
        |  FROM short s JOIN lab pl ON pl.vec_id = s.probe_id
        |               JOIN lab cl ON cl.vec_id = s.neighbor_id)
        |SELECT probe_id, neighbor_id, ann_rank, ce_score,
        |  CAST(row_number() OVER (PARTITION BY probe_id
        |    ORDER BY ce_score DESC, neighbor_id) AS INT) AS ce_rank
        |FROM ce
        |QUALIFY ce_rank <= 10
        |ORDER BY probe_id, ce_rank""".stripMargin),
    "text_stats" -> (tokensCte +
      """
        |SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
        |  CAST(list_reduce(list_transform(toks, t -> len(t)), (a,b) -> a+b) AS DOUBLE)
        |    / CAST(len(toks) AS DOUBLE) AS mean_token_len,
        |  CAST(len(list_filter(toks, t -> list_contains(""".stripMargin +
      markerListSql(markers.values.flatten.toSeq) +
      """, t))) AS DOUBLE)
        |    / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
        |  CAST(len(list_distinct(toks)) AS DOUBLE)
        |    / CAST(len(toks) AS DOUBLE) AS type_token_ratio
        |FROM w ORDER BY doc_id""".stripMargin),
    "text_langid" -> (tokensCte +
      s""", sc AS (
         |  SELECT doc_id,
         |    len(list_filter(toks, t -> list_contains(${markerListSql(markers("en"))}, t))) AS s_en,
         |    len(list_filter(toks, t -> list_contains(${markerListSql(markers("de"))}, t))) AS s_de,
         |    len(list_filter(toks, t -> list_contains(${markerListSql(markers("fr"))}, t))) AS s_fr,
         |    len(list_filter(toks, t -> list_contains(${markerListSql(markers("es"))}, t))) AS s_es
         |  FROM w
         |)
         |SELECT doc_id,
         |  CASE WHEN greatest(s_en, s_de, s_fr, s_es) <= 0 THEN 'und'
         |       WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
         |       WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
         |       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
         |       WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
         |       ELSE 'und' END AS detected_lang
         |FROM sc ORDER BY doc_id""".stripMargin),
    "text_tokens" -> (tokensCte +
      """
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpeish_tokens
        |FROM w ORDER BY doc_id""".stripMargin),
    "q_asof_join" ->
      """WITH clicks AS (
        |  SELECT event_id AS click_id, user_id, ts FROM events
        |  WHERE event_type = 'click'
        |), purch AS (
        |  SELECT user_id, ts, max(event_id) AS purchase_id FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1, 2
        |)
        |SELECT c.click_id, p.purchase_id
        |FROM clicks c ASOF LEFT JOIN purch p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY click_id""".stripMargin,
    "text_repetition" -> (tokensCte +
      """
        |, r AS (
        |  SELECT doc_id,
        |    CAST(len(list_transform(range(len(toks)-1),
        |      i -> toks[i+1] || ' ' || toks[i+2])) AS BIGINT) AS n2,
        |    CAST(len(list_distinct(list_transform(range(len(toks)-1),
        |      i -> toks[i+1] || ' ' || toks[i+2]))) AS BIGINT) AS d2,
        |    CAST(len(list_transform(range(len(toks)-2),
        |      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS BIGINT) AS n3,
        |    CAST(len(list_distinct(list_transform(range(len(toks)-2),
        |      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS BIGINT) AS d3
        |  FROM w)
        |SELECT doc_id, n2, d2,
        |  CASE WHEN n2 > 0 THEN CAST(1 AS DOUBLE) - CAST(d2 AS DOUBLE) / CAST(n2 AS DOUBLE)
        |       ELSE CAST(0 AS DOUBLE) END AS dup2_frac,
        |  n3, d3,
        |  CASE WHEN n3 > 0 THEN CAST(1 AS DOUBLE) - CAST(d3 AS DOUBLE) / CAST(n3 AS DOUBLE)
        |       ELSE CAST(0 AS DOUBLE) END AS dup3_frac
        |FROM r ORDER BY doc_id""".stripMargin),
    "text_heavy_hitters" -> (tokensCte +
      """
        |, t AS (SELECT unnest(toks) AS term FROM w)
        |SELECT term, count(*) AS n,
        |  TRUE AS cms_never_under, TRUE AS cms_within_envelope
        |FROM t GROUP BY term
        |ORDER BY n DESC, term LIMIT 20""".stripMargin),
    "text_term_freq" -> (tokensCte +
      """
        |, toks2 AS (SELECT doc_id, unnest(toks) AS term FROM w),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks2 GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df
        |       FROM (SELECT DISTINCT doc_id, term FROM toks2) GROUP BY 1)
        |SELECT doc_id, term, tf, df, rank FROM (
        |  SELECT doc_id, term, tf,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tf DESC, term) AS INT) AS rank
        |  FROM tf) t
        |JOIN df USING (term)
        |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin),
    "text_decontaminate" -> decontaminateSql,
    "text_decontaminate_fuzzy" -> fuzzyDeconSql,
    // the streamed log must equal the one-shot fuzzy pass
    "dedup_streaming_fuzzy_decon" -> fuzzyDeconSql,
    "text_decontaminate_frac" -> decontaminateFracSql,
    // the SQL-surface gate: nfc + shingles + intersect count replayed
    // natively in DuckDB over the same linear next-doc join
    "q_sql_surface" -> (shingleCte +
      """, n AS (
        |  SELECT doc_id, CAST(length(nfc_normalize(text)) AS BIGINT) AS norm_chars
        |  FROM documents)
        |SELECT a.doc_id, n.norm_chars,
        |  CAST(len(a.sh) AS BIGINT) AS n_shingles,
        |  CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS BIGINT) AS shared_next
        |FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
        |JOIN n ON n.doc_id = a.doc_id
        |ORDER BY a.doc_id""".stripMargin),
    // the streaming quarantine log accumulates exactly the same flags —
    // per-doc against a static eval set, batching-independent, so the
    // batch operator's SQL is the oracle (proven across a crash replay)
    "dedup_streaming_decon" -> decontaminateSql,
    "text_quality_filter" -> (qualityFeatureCte +
      """
        |SELECT doc_id, n_words, mean_word_len, has_stopword, top_word_frac, dup_bigram_frac,
        |  n_words > 0 AND n_words BETWEEN 20 AND 10000 AND mean_word_len BETWEEN 3.0 AND 10.0
        |    AND has_stopword AND top_word_frac <= 0.2 AND dup_bigram_frac <= 0.1 AS keep
        |FROM m ORDER BY doc_id""".stripMargin),
    // one (epoch, source) aggregate, densified over the source×epoch
    // spine; shares carried as DECIMAL(18,6) through the delta/TVD sums
    "text_composition_drift" ->
      """WITH b AS (
        |  SELECT source, CAST(doc_id % 3 AS INT) AS epoch,
        |    CAST(len(list_filter(string_split(lower(text), ' '), x -> len(x) > 0))
        |      AS BIGINT) AS n_toks
        |  FROM documents),
        |a AS (SELECT epoch, source, CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(n_toks) AS BIGINT) AS n_tokens FROM b GROUP BY 1, 2),
        |spine AS (SELECT source, epoch
        |  FROM (SELECT DISTINCT source FROM a), (SELECT unnest([0,1,2]) AS epoch)),
        |d AS (SELECT spine.epoch, spine.source,
        |        coalesce(n_docs, 0) AS n_docs, coalesce(n_tokens, 0) AS n_tokens
        |      FROM spine LEFT JOIN a USING (epoch, source)),
        |t AS (SELECT epoch, sum(n_docs) AS tot_docs, sum(n_tokens) AS tot_toks
        |      FROM d GROUP BY 1),
        |s AS (SELECT d.*, CAST(round(CAST(n_docs AS DOUBLE) / CAST(tot_docs AS DOUBLE), 6)
        |        AS DECIMAL(18,6)) AS doc_share_dec,
        |      CAST(round(CAST(n_tokens AS DOUBLE) / CAST(tot_toks AS DOUBLE), 6)
        |        AS DECIMAL(18,6)) AS token_share_dec
        |      FROM d JOIN t USING (epoch)),
        |l AS (SELECT *,
        |        lag(doc_share_dec) OVER (PARTITION BY source ORDER BY epoch) AS prev_dec,
        |        doc_share_dec - lag(doc_share_dec)
        |          OVER (PARTITION BY source ORDER BY epoch) AS delta_dec
        |      FROM s)
        |SELECT epoch, source, n_docs, n_tokens,
        |  CAST(doc_share_dec AS DOUBLE) AS doc_share,
        |  CAST(token_share_dec AS DOUBLE) AS token_share,
        |  CAST(prev_dec AS DOUBLE) AS prev_doc_share,
        |  CAST(delta_dec AS DOUBLE) AS share_delta,
        |  round(CAST(sum(abs(delta_dec)) OVER (PARTITION BY epoch) AS DOUBLE) / 2.0, 6)
        |    AS epoch_tvd
        |FROM l ORDER BY epoch, source""".stripMargin,
    // classifier = frozen linear weights over the SAME feature CTE; terms
    // rounded to 6 dp and combined in the engine's exact left-assoc order
    "text_quality_classifier" -> (qualityFeatureCte +
      s"""
        |SELECT doc_id, n_words,
        |  n_words > 0 AND n_words BETWEEN 20 AND 10000 AND mean_word_len BETWEEN 3.0 AND 10.0
        |    AND has_stopword AND top_word_frac <= 0.2 AND dup_bigram_frac <= 0.1 AS rule_keep,
        |  $qualityLogitSql AS quality_logit,
        |  $qualityLogitSql >= 0.0 AS pred_keep
        |FROM m ORDER BY doc_id""".stripMargin),
    // representative policy: the canonical closure joined to the model
    // logit; per cluster the highest-scoring member survives (id ties)
    "dedup_cluster_representatives" -> (canonicalCoreSql +
      qualityFeatureCte.stripPrefix(tokensCte) +
      s""",
        |scored AS (SELECT doc_id, $qualityLogitSql AS quality_logit FROM m)
        |SELECT canonical_id, rep_doc_id, rep_logit, cluster_size FROM (
        |  SELECT c.canonical_id, sc.doc_id AS rep_doc_id,
        |    sc.quality_logit AS rep_logit,
        |    row_number() OVER (PARTITION BY c.canonical_id
        |      ORDER BY sc.quality_logit DESC, sc.doc_id) AS rn,
        |    CAST(count(*) OVER (PARTITION BY c.canonical_id) AS BIGINT) AS cluster_size
        |  FROM canon c JOIN scored sc USING (doc_id))
        |WHERE rn = 1 ORDER BY canonical_id""".stripMargin),
    "text_tfidf" -> (tokensCte +
      """, toks2 AS (SELECT doc_id, unnest(toks) AS term FROM w),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks2 GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df
        |       FROM (SELECT DISTINCT doc_id, term FROM toks2) GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |sc AS (
        |  SELECT doc_id, term, tf, df,
        |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score
        |  FROM tf JOIN df USING (term), nd)
        |SELECT doc_id, term, tf, df, score, rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term) AS INT) AS rank
        |  FROM sc)
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),
    // per-term surprisal rounded to 6 dp then DECIMAL(18,6): the per-doc
    // sum is exact in both engines regardless of summation order
    "text_unigram_logprob" -> (tokensCte +
      """, t AS (SELECT doc_id, unnest(toks) AS term FROM w),
        |tf AS (SELECT term, count(*) AS cnt FROM t GROUP BY 1),
        |tot AS (SELECT sum(cnt) AS total FROM tf),
        |sc AS (
        |  SELECT term,
        |    CAST(round(-ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)), 6)
        |      AS DECIMAL(18,6)) AS nlp
        |  FROM tf, tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(nlp) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |    AS mean_neg_logprob
        |FROM t JOIN sc USING (term)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "train_loss_mask" -> (packCoreSql +
      """, kg AS (
        |  SELECT doc_id, r.p, array_to_string(toks[r.p:r.p+7], ' ') AS g
        |  FROM w, LATERAL (SELECT unnest(range(1, greatest(len(toks) - 6, 1))) AS p) r
        |), dup AS (
        |  SELECT g FROM kg GROUP BY g HAVING count(*) >= 2
        |), cov AS (
        |  SELECT DISTINCT kg.doc_id, c.p2
        |  FROM kg JOIN dup USING (g),
        |    LATERAL (SELECT unnest(range(kg.p, kg.p + 8)) AS p2) c
        |), tok AS (
        |  SELECT doc_id, unnest(toks) AS word, generate_subscripts(toks, 1) AS pos FROM w
        |), placed AS (
        |  SELECT packed.shard,
        |    CAST((packed.seq_id * 512 + packed.seq_offset + t.pos - 1) // 512 AS BIGINT) AS seq_id,
        |    CAST((packed.seq_id * 512 + packed.seq_offset + t.pos - 1) % 512 AS BIGINT) AS pos_in_seq,
        |    CASE WHEN c.p2 IS NULL THEN '1' ELSE '0' END AS m
        |  FROM tok t JOIN packed USING (doc_id)
        |  LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.p2 = t.pos)
        |SELECT shard, seq_id,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(*) FILTER (WHERE m = '0') AS BIGINT) AS n_masked,
        |  string_agg(m, '' ORDER BY pos_in_seq) AS loss_mask
        |FROM placed GROUP BY shard, seq_id
        |ORDER BY shard, seq_id""".stripMargin),
    "text_pack_sequences" -> (packCoreSql +
      "\nSELECT doc_id, shard, n_tokens, seq_id, seq_offset FROM packed ORDER BY doc_id"),
    // manifest = one aggregate over the same pack; checksum is the
    // commutative bit_xor fold both engines define identically
    "text_shard_manifest" -> (packCoreSql +
      """
        |SELECT shard, count(*) AS n_docs,
        |  count(DISTINCT seq_id) AS n_sequences,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
        |  bit_xor(doc_id + 131 * n_tokens) AS content_checksum
        |FROM packed GROUP BY shard ORDER BY shard""".stripMargin),
    // chunking: closed-form chunk count, inclusive list_slice bounds
    "text_chunk" -> (tokensCte +
      """, n AS (
        |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS len,
        |    CASE WHEN len(toks) <= 64 THEN 1
        |         ELSE CAST(ceil((len(toks) - 64) / 48.0) AS BIGINT) + 1 END AS nc
        |  FROM w WHERE len(toks) > 0),
        |g AS (
        |  SELECT doc_id, toks, len, unnest(range(0, nc)) AS i FROM n)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  CAST(i * 48 AS BIGINT) AS start_word,
        |  CAST(least(64, len - i * 48) AS BIGINT) AS n_words,
        |  array_to_string(list_slice(toks, i * 48 + 1,
        |    i * 48 + least(64, len - i * 48)), ' ') AS chunk_text
        |FROM g ORDER BY doc_id, chunk_idx""".stripMargin),
    "text_pii_redact" ->
      """WITH p AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 <> 0
        |      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 2 = 0
        |      THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR)
        |      ELSE '' END ||
        |    ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        |  FROM documents),
        |r AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |    CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |    CAST(len(regexp_extract_all(t, '\+1-\d{3}-\d{4}')) AS BIGINT) AS n_phones,
        |    regexp_replace(regexp_replace(regexp_replace(t,
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
        |      '\+1-\d{3}-\d{4}', '[PHONE]', 'g') AS red
        |  FROM p)
        |SELECT doc_id, n_emails, n_ips, n_phones,
        |  list_reduce(list_transform(string_split(red, ''), c -> CAST(ascii(c) AS BIGINT)),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS redacted_fingerprint
        |FROM r ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_boilerplate" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, source, array_to_string(toks[1:3], ' ') AS prefix
        |  FROM w WHERE len(toks) >= 3)
        |SELECT source, prefix, count(*) AS n_docs, min(doc_id) AS min_doc_id
        |FROM p GROUP BY source, prefix HAVING count(*) >= 2
        |ORDER BY source, prefix""".stripMargin,
    // DSIR importance resampling: the oracle rebuilds the hashed-bigram
    // bucket model (exact integer counts, add-one smoothing) and replays
    // each document's sequential log-ratio fold over the same list.
    "sample_importance" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, source,
        |    CASE WHEN len(toks) < 2 THEN CAST([] AS INT[]) ELSE
        |      list_transform(range(1, len(toks)),
        |        i -> CAST(list_reduce(
        |          list_transform(string_split(toks[i] || ' ' || toks[i+1], ''),
        |            c -> CAST(ascii(c) AS BIGINT)),
        |          (a, b) -> (a * 31 + b) % 1000000007) % 256 AS INT))
        |    END AS bks
        |  FROM w),
        |cnt AS (
        |  SELECT b, CAST(count(*) AS BIGINT) AS n_raw,
        |    CAST(count(*) FILTER (WHERE source = 'src0') AS BIGINT) AS n_t
        |  FROM (SELECT source, unnest(bks) AS b FROM bg)
        |  GROUP BY b),
        |tot AS (SELECT CAST(sum(n_raw) AS DOUBLE) + 256.0 AS tr,
        |               CAST(sum(n_t) AS DOUBLE) + 256.0 AS tt FROM cnt),
        |lr AS (
        |  SELECT bb.b,
        |    ln((COALESCE(c.n_t, 0) + 1.0) / tt)
        |      - ln((COALESCE(c.n_raw, 0) + 1.0) / tr) AS v
        |  FROM (SELECT unnest(range(0, 256)) AS b) bb
        |  LEFT JOIN cnt c ON c.b = bb.b CROSS JOIN tot),
        |model AS (SELECT list(v ORDER BY b) AS m FROM lr),
        |sc AS (
        |  SELECT doc_id,
        |    CASE WHEN len(bks) = 0 THEN 0.0 ELSE
        |      round(list_reduce(list_transform(bks, x -> m[x + 1]), (a, b) -> a + b)
        |        / CAST(len(bks) AS DOUBLE), 6)
        |    END AS score
        |  FROM bg CROSS JOIN model)
        |SELECT doc_id, score, score > 0.0 AS keep FROM sc ORDER BY doc_id""".stripMargin,
    // near-dup-aware split: canonical closure + the split hash of the
    // CANONICAL document's text — near-dups cannot straddle splits
    "sample_split_canonical" -> (canonicalCoreSql +
      """, rb AS (
        |  SELECT doc_id AS canonical_id,
        |    list_reduce(
        |      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
        |      (a, b) -> (a * 31 + b) % 1000000007) % 100 AS b
        |  FROM documents)
        |SELECT c.doc_id, c.canonical_id,
        |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |FROM canon c JOIN rb USING (canonical_id)
        |ORDER BY c.doc_id""".stripMargin),
    "graph_lpa" -> lpaSql,
    "graph_kcore" -> kcoreSql,
    "graph_ktruss" -> kTrussSql,
    "graph_bfs" -> bfsSql,
    "graph_ppr" -> pprSql,
    // whole-batch routing by the deterministic poisoning: batch
    // doc_id%3=1 was truncated → 100% violations → quarantined
    "pipe_streaming_circuit" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 1 THEN 'quarantine' ELSE 'lake' END AS route
        |FROM documents ORDER BY doc_id""".stripMargin,
    // quartile thresholds via quantile_cont (the q_quantiles-certified
    // equivalence with Spark's exact percentile), applied at scan speed
    "sample_curriculum" -> (qualityFeatureCte +
      s""",
         |sc AS (SELECT doc_id, $qualityLogitSql AS quality_logit FROM m),
         |qs AS (SELECT quantile_cont(quality_logit, 0.75) AS p75,
         |  quantile_cont(quality_logit, 0.5) AS p50,
         |  quantile_cont(quality_logit, 0.25) AS p25 FROM sc)
         |SELECT doc_id, quality_logit,
         |  CAST(CASE WHEN quality_logit >= p75 THEN 1
         |            WHEN quality_logit >= p50 THEN 2
         |            WHEN quality_logit >= p25 THEN 3
         |            ELSE 4 END AS INT) AS stage
         |FROM sc, qs ORDER BY doc_id""".stripMargin),
    // candidates from the split-phase artifact (the hash half); verified
    // = the exact-Jaccard pair set the dedup_minhash gate certifies the
    // banding recovers completely at these parameters
    "dedup_blocking_report" -> (shingleCte +
      s"""
         |, vp AS (
         |  SELECT CAST(count(*) AS BIGINT) AS verified_pairs FROM (
         |    SELECT a.doc_id
         |    FROM s a JOIN s b ON a.doc_id < b.doc_id
         |    WHERE len(a.sh) > 0 AND len(b.sh) > 0
         |      AND CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) /
         |          CAST(len(a.sh) + len(b.sh)
         |            - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
         |          >= 0.8)),
         |cd AS (
         |  SELECT CAST(count(*) AS BIGINT) AS candidate_pairs
         |  FROM read_parquet('$oracleSplitDir/blocking_cands/*.parquet')),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |tp AS (SELECT n_docs,
         |  CAST(n_docs * (n_docs - 1) / 2 AS BIGINT) AS total_pairs FROM nd)
         |SELECT n_docs, total_pairs, candidate_pairs, verified_pairs,
         |  round(1.0 - candidate_pairs / CAST(total_pairs AS DOUBLE), 6)
         |    AS reduction_ratio,
         |  round(CAST(verified_pairs AS DOUBLE) / candidate_pairs, 6)
         |    AS pair_precision
         |FROM tp, cd, vp""".stripMargin),
    // degree-ordered orientation replayed literally: the composite
    // (degree, id) order is one BIGINT key, wedges at the lowest-ordered
    // vertex, closure on the oriented edge set
    "graph_triangles" -> triangleOracleSql,
    // the incremental fold must converge to the one-shot enumeration —
    // the IDENTICAL oracle gates both
    "graph_incremental_metrics" -> triangleOracleSql,
    "graph_streaming_metrics" -> triangleOracleSql,
    "sample_split" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
        |      (a, b) -> (a * 31 + b) % 1000000007) % 100 AS b
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
        |  b < 20 AS in_20pct_sample
        |FROM f ORDER BY doc_id""".stripMargin,
    // encode-time ground truth vs decoded pixels: the PNG round-trip is
    // lossless, so the decoded nearest-neighbor resample's channel means
    // must equal the generator's pre-encode values exactly.
    "multimodal_resize" ->
      s"""SELECT media_id, res_width, res_height,
         |  res_r_mean, res_g_mean, res_b_mean
         |FROM read_parquet('$mmFixture/expected/*.parquet')
         |ORDER BY media_id""".stripMargin,
    "multimodal_features" ->
      s"""SELECT media_id, width, height, r_mean, g_mean, b_mean
         |FROM read_parquet('$mmFixture/expected/*.parquet')
         |ORDER BY media_id""".stripMargin,
    // mixed PNG/JPEG/undecodable: decode-or-fallback per planted codec
    // (PNG truth encode-time, JPEG truth decode-time, garbage truth =
    // the byte-lattice fallback)
    "multimodal_mixed_codec" ->
      s"""SELECT media_id, decodable AS decoded, width, height,
         |  r_mean, g_mean, b_mean, dhash AS phash
         |FROM read_parquet('$mmMixedFixture/expected/*.parquet')
         |ORDER BY media_id""".stripMargin,
    // the retrieval composition reuses multimodal_features' byte-mean
    // derivation and sim_topk_exact's fold arithmetic verbatim
    // decoded-feature retrieval: the oracle builds each image's feature
    // vector from the ENCODE-TIME ground truth (dims + channel means) —
    // Spark must reproduce it from the decoded pixels, then both engines
    // run the same sequential-fold cosine/rank arithmetic.
    "multimodal_retrieval" ->
      s"""WITH v AS (
         |  SELECT media_id,
         |    [CAST(CAST(width AS FLOAT) AS DOUBLE), CAST(CAST(height AS FLOAT) AS DOUBLE),
         |     CAST(r_mean AS DOUBLE), CAST(g_mean AS DOUBLE), CAST(b_mean AS DOUBLE)] AS e
         |  FROM read_parquet('$mmFixture/expected/*.parquet')),
         |n AS (
         |  SELECT media_id, e,
         |    sqrt(list_reduce(list_transform(e, x -> x*x), (a,b) -> a+b)) AS nrm
         |  FROM v)
         |SELECT probe_id, neighbor_id, cosine,
         |  CAST(row_number() OVER (PARTITION BY probe_id
         |    ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
         |FROM (
         |  SELECT p.media_id AS probe_id, c.media_id AS neighbor_id,
         |    list_reduce(list_transform(range(1, len(p.e)+1), i -> p.e[i]*c.e[i]),
         |      (x,y) -> x+y) / (p.nrm * c.nrm) AS cosine
         |  FROM n p JOIN n c ON c.media_id <> p.media_id
         |  WHERE p.media_id < 5)
         |QUALIFY rank <= 3
         |ORDER BY probe_id, rank""".stripMargin,
    // flagship composition — assembled verbatim from the verified pieces:
    // canonical closure (dedup_canonical), language scores (text_langid,
    // en wins ties), whitespace tokens (text_stats/tokens), split hash
    // (sample_split)
    "train_corpus_prep" -> (shingleCte.replaceFirst("WITH w AS", "WITH RECURSIVE w AS") +
      s""", pairs AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |      CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) /
         |      CAST(len(a.sh) + len(b.sh)
         |           - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) AS jaccard
         |    FROM s a JOIN s b ON a.doc_id < b.doc_id
         |    WHERE len(a.sh) > 0 AND len(b.sh) > 0)
         |  WHERE jaccard >= 0.8
         |), edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |), reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, reach.r FROM reach JOIN edges e ON reach.id = e.dst
         |), canon AS (
         |  SELECT id AS doc_id, min(r) AS canonical_id FROM reach GROUP BY id
         |), reps AS (
         |  SELECT d.doc_id, d.text,
         |    list_filter(string_split(lower(d.text), ' '), x -> len(x) > 0) AS toks
         |  FROM documents d JOIN canon c ON d.doc_id = c.doc_id
         |  WHERE c.doc_id = c.canonical_id
         |), lang AS (
         |  SELECT doc_id,
         |    len(list_filter(toks, t -> list_contains(${markerListSql(markers("en"))}, t))) AS s_en,
         |    len(list_filter(toks, t -> list_contains(${markerListSql(markers("de"))}, t))) AS s_de,
         |    len(list_filter(toks, t -> list_contains(${markerListSql(markers("fr"))}, t))) AS s_fr,
         |    len(list_filter(toks, t -> list_contains(${markerListSql(markers("es"))}, t))) AS s_es
         |  FROM reps
         |), en AS (
         |  SELECT r.doc_id, r.text, len(r.toks) AS ws_tokens
         |  FROM reps r JOIN lang l ON r.doc_id = l.doc_id
         |  WHERE greatest(s_en, s_de, s_fr, s_es) > 0
         |    AND s_en = greatest(s_en, s_de, s_fr, s_es)
         |), f AS (
         |  SELECT doc_id, ws_tokens,
         |    list_reduce(
         |      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
         |      (a, b) -> (a * 31 + b) % 1000000007) % 100 AS b
         |  FROM en)
         |SELECT
         |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
         |  COUNT(*) AS n_docs, CAST(SUM(ws_tokens) AS BIGINT) AS total_tokens
         |FROM f GROUP BY 1 ORDER BY split""".stripMargin),
    // flagship v2 — canonical closure + 8-gram decontamination + quality
    // rules + langid + split + per-(split,shard) packing, each fragment
    // lifted verbatim from its stand-alone verified oracle
    "train_corpus_prep_v2" -> (shingleCte.replaceFirst("WITH w AS", "WITH RECURSIVE w AS") +
      s""", pairs AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |      CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) /
         |      CAST(len(a.sh) + len(b.sh)
         |           - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) AS jaccard
         |    FROM s a JOIN s b ON a.doc_id < b.doc_id
         |    WHERE len(a.sh) > 0 AND len(b.sh) > 0)
         |  WHERE jaccard >= 0.8
         |), edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |), reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, reach.r FROM reach JOIN edges e ON reach.id = e.dst
         |), canon AS (
         |  SELECT id AS doc_id, min(r) AS canonical_id FROM reach GROUP BY id
         |), reps AS (
         |  SELECT d.doc_id, d.text, ww.toks
         |  FROM documents d
         |  JOIN canon c ON d.doc_id = c.doc_id
         |  JOIN w ww ON ww.doc_id = d.doc_id
         |  WHERE c.doc_id = c.canonical_id AND d.doc_id % 10 <> 0
         |), s8 AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) < 8 THEN CAST([] AS VARCHAR[]) ELSE
         |      list_distinct(list_transform(range(1, len(toks) - 6),
         |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
         |          || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7]))
         |    END AS sh
         |  FROM w
         |), ev8 AS (SELECT doc_id AS eid, unnest(sh) AS g FROM s8 WHERE doc_id % 10 = 0),
         |tr8 AS (SELECT doc_id, unnest(sh) AS g FROM s8 WHERE doc_id % 10 <> 0),
         |contaminated AS (SELECT DISTINCT tr8.doc_id FROM tr8 JOIN ev8 USING (g)),
         |clean AS (
         |  SELECT * FROM reps
         |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
         |), q AS (
         |  SELECT doc_id, text, toks FROM clean
         |  WHERE len(toks) BETWEEN 20 AND 10000
         |    AND CAST(list_reduce(list_transform(toks, t -> len(t)), (a,b) -> a+b) AS DOUBLE)
         |        / CAST(len(toks) AS DOUBLE) BETWEEN 3.0 AND 10.0
         |    AND len(list_filter(toks, t -> list_contains(${markerListSql(markers.values.flatten.toSeq)}, t))) >= 1
         |    AND CAST(list_max(list_transform(list_distinct(toks),
         |          t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE)
         |        / CAST(len(toks) AS DOUBLE) <= 0.2
         |    AND (CASE WHEN len(toks) >= 2 THEN
         |          CAST(1 AS DOUBLE) - CAST(len(list_distinct(list_transform(range(1, len(toks)),
         |            i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE) / CAST(len(toks) - 1 AS DOUBLE)
         |        ELSE CAST(0 AS DOUBLE) END) <= 0.1
         |), lang AS (
         |  SELECT doc_id,
         |    len(list_filter(toks, t -> list_contains(${markerListSql(markers("en"))}, t))) AS s_en,
         |    len(list_filter(toks, t -> list_contains(${markerListSql(markers("de"))}, t))) AS s_de,
         |    len(list_filter(toks, t -> list_contains(${markerListSql(markers("fr"))}, t))) AS s_fr,
         |    len(list_filter(toks, t -> list_contains(${markerListSql(markers("es"))}, t))) AS s_es
         |  FROM q
         |), en AS (
         |  SELECT q.doc_id, q.text, len(q.toks) AS n_tokens
         |  FROM q JOIN lang l ON q.doc_id = l.doc_id
         |  WHERE greatest(s_en, s_de, s_fr, s_es) > 0
         |    AND s_en = greatest(s_en, s_de, s_fr, s_es)
         |), f AS (
         |  SELECT doc_id, n_tokens,
         |    CASE WHEN list_reduce(
         |        list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
         |        (a, b) -> (a * 31 + b) % 1000000007) % 100 < 80 THEN 'train'
         |      WHEN list_reduce(
         |        list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
         |        (a, b) -> (a * 31 + b) % 1000000007) % 100 < 90 THEN 'val'
         |      ELSE 'test' END AS split
         |  FROM en
         |), packed AS (
         |  SELECT split, doc_id % 8 AS shard, n_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY split, doc_id % 8
         |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS BIGINT) // 512 AS seq_id
         |  FROM f)
         |SELECT split, count(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  count(DISTINCT (shard, seq_id)) AS n_sequences
         |FROM packed GROUP BY 1 ORDER BY split""".stripMargin),
    "multimodal_meta" ->
      """SELECT doc_id AS media_id, 'image/fake' AS mime,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY media_id""".stripMargin,
    "multimodal_frames" ->
      """SELECT doc_id AS media_id, frame_offset,
        |  CAST(doc_id AS VARCHAR) || '_' || CAST(frame_offset AS VARCHAR) AS frame_id
        |FROM (
        |  SELECT doc_id, unnest(range(0, CAST(octet_length(encode(text)) AS BIGINT), 64)) AS frame_offset
        |  FROM documents)
        |ORDER BY media_id, frame_offset""".stripMargin,
    // repeated-span masking: the oracle counts k-gram occurrences on the
    // gram STRING (the engine shuffles an xxhash64 of it — hash-equality
    // of the masked output certifies the 8-byte key loses nothing here)
    "text_dedup_spans" -> (tokensCte +
      """, kg AS (
        |  SELECT doc_id, r.p, array_to_string(toks[r.p:r.p+7], ' ') AS g
        |  FROM w, LATERAL (SELECT unnest(range(1, greatest(len(toks) - 6, 1))) AS p) r
        |), dup AS (
        |  SELECT g FROM kg GROUP BY g HAVING count(*) >= 2
        |), cov AS (
        |  SELECT DISTINCT kg.doc_id, c.p2
        |  FROM kg JOIN dup USING (g),
        |    LATERAL (SELECT unnest(range(kg.p, kg.p + 8)) AS p2) c
        |), tok AS (
        |  SELECT doc_id, unnest(toks) AS word, generate_subscripts(toks, 1) AS pos FROM w
        |)
        |SELECT t.doc_id,
        |  count(*) AS n_words,
        |  count(*) FILTER (WHERE c.p2 IS NOT NULL) AS n_removed,
        |  coalesce(string_agg(t.word, ' ' ORDER BY t.pos) FILTER (WHERE c.p2 IS NULL), '')
        |    AS clean_text
        |FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.p2
        |GROUP BY t.doc_id
        |ORDER BY t.doc_id""".stripMargin),
    // longest cross-doc duplicated substring: anchors on the 8-gram
    // STRING (the engine joins on xxhash64 of it — hash-equality of the
    // per-doc maxima certifies the compact key), runs of consecutive
    // aligned anchors per (pair, diagonal) via gaps-and-islands.
    // DuckDB positions are 1-based (range(1, ...)), the engine's are
    // 0-based sequence(0, ...) — the `- 1` on start aligns them.
    "text_dedup_substrings" -> dedupSubstringsSql,
    // the incremental index and the streamed index must both serve the
    // IDENTICAL whole-corpus answer
    "text_dedup_substrings_incremental" -> dedupSubstringsSql,
    "dedup_streaming_substrings" -> dedupSubstringsSql,
    // post-purge derived indexes ≡ indexes built on a corpus that never
    // had tenant t2: the anchor join is TENANT-SCOPED (per-tenant
    // indexes only see within-tenant repeats) and t2 is absent
    "pipe_tenant_purge_derived" -> (dedupSubstringsCtesWhere(
      " AND a.doc_id % 3 = b.doc_id % 3 AND a.doc_id % 3 <> 2") +
      """
        |SELECT 't' || CAST(doc_id % 3 AS VARCHAR) AS tenant,
        |  doc_id, dup_len, dup_start
        |FROM perdoc ORDER BY doc_id""".stripMargin),

    // SemDeDup: seeded centroids + argmin cell assignment (the verified
    // IVF CTEs), then within-cell max cosine to any LOWER id — drop list
    "dedup_semantic" -> (vecCte +
      """, cents AS (
        |  SELECT vec_id AS cent_id, e AS cent_e, nrm AS cent_nrm
        |  FROM n ORDER BY vec_id LIMIT 16
        |), ca AS (
        |  SELECT c_id, cell FROM (
        |    SELECT a.vec_id AS c_id, b.cent_id AS cell,
        |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |        list_reduce(list_transform(range(1, len(a.e)+1), i -> a.e[i]*b.cent_e[i]),
        |          (x,y) -> x+y) / (a.nrm * b.cent_nrm) DESC, b.cent_id) AS rn
        |    FROM n a CROSS JOIN cents b)
        |  WHERE rn = 1
        |)
        |SELECT vec_id, cell, max_cos_prior FROM (
        |  SELECT cb.c_id AS vec_id, cb.cell,
        |    max(list_reduce(list_transform(range(1, len(na.e)+1), i -> na.e[i]*nb.e[i]),
        |      (x,y) -> x+y) / (na.nrm * nb.nrm)) AS max_cos_prior
        |  FROM ca cb JOIN ca aa ON aa.cell = cb.cell AND aa.c_id < cb.c_id
        |  JOIN n na ON na.vec_id = aa.c_id
        |  JOIN n nb ON nb.vec_id = cb.c_id
        |  GROUP BY cb.c_id, cb.cell)
        |WHERE max_cos_prior >= 0.4
        |ORDER BY vec_id""".stripMargin),
    // PQ shortlist (the verified sim_topk_pq CTEs at depth 50) → exact
    // cosine re-rank over only the shortlist survivors
    "sim_topk_pq_rerank" -> (vecCte +
      """, seeds AS (
        |  SELECT e, row_number() OVER (ORDER BY vec_id) - 1 AS rnk
        |  FROM v ORDER BY vec_id LIMIT 16
        |), cbs AS (
        |  SELECT s.s AS sub, r.rnk AS code,
        |    list_slice(r.e, s.s*8 + 1, s.s*8 + 8) AS cv
        |  FROM seeds r, (SELECT unnest(range(0, 8)) AS s) s
        |), cbflat AS (
        |  SELECT list(cv ORDER BY sub, code) AS cb FROM cbs
        |), enc AS (
        |  SELECT vec_id,
        |    list_transform(range(0, 8), s ->
        |      CAST(list_position(
        |        list_transform(range(0, 16), c ->
        |          list_reduce(list_transform(range(1, 9),
        |            i -> (e[s*8+i] - cb[s*16+c+1][i]) * (e[s*8+i] - cb[s*16+c+1][i])),
        |            (x,y) -> x+y)),
        |        list_min(list_transform(range(0, 16), c ->
        |          list_reduce(list_transform(range(1, 9),
        |            i -> (e[s*8+i] - cb[s*16+c+1][i]) * (e[s*8+i] - cb[s*16+c+1][i])),
        |            (x,y) -> x+y)))) - 1 AS INT)) AS codes
        |  FROM v, cbflat
        |), pt AS (
        |  SELECT p.vec_id AS p_id,
        |    flatten(list_transform(range(0, 8), s ->
        |      list_transform(range(0, 16), c ->
        |        list_reduce(list_transform(range(1, 9),
        |          i -> (p.e[s*8+i] - cb[s*16+c+1][i]) * (p.e[s*8+i] - cb[s*16+c+1][i])),
        |          (x,y) -> x+y)))) AS ptab
        |  FROM v p, cbflat WHERE p.vec_id < 10
        |), sl AS (
        |  SELECT probe_id, neighbor_id FROM (
        |    SELECT pt.p_id AS probe_id, enc.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY pt.p_id ORDER BY
        |        list_reduce(list_transform(range(0, 8),
        |          s -> ptab[s*16 + codes[s+1] + 1]), (x,y) -> x+y) ASC,
        |        enc.vec_id) AS rnk
        |    FROM pt, enc WHERE enc.vec_id <> pt.p_id)
        |  WHERE rnk <= 50
        |)
        |SELECT probe_id, neighbor_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY probe_id
        |    ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
        |FROM (
        |  SELECT sl.probe_id, sl.neighbor_id,
        |    list_reduce(list_transform(range(1, len(a.e)+1), i -> a.e[i]*b.e[i]),
        |      (x,y) -> x+y) / (a.nrm * b.nrm) AS cosine
        |  FROM sl JOIN n a ON a.vec_id = sl.probe_id
        |  JOIN n b ON b.vec_id = sl.neighbor_id)
        |QUALIFY rank <= 5
        |ORDER BY probe_id, rank""".stripMargin),
    // domain-mixture sampling: per-stratum keep-rates from counts and
    // weights (same double arithmetic order), selection by the modular
    // content-hash per-mille bucket
    "sample_token_budget" -> (tokensCte +
      """, t AS (
        |  SELECT w.doc_id, d.source,
        |    CAST(len(w.toks) AS BIGINT) AS n_tokens, md5(d.text) AS h
        |  FROM w JOIN documents d ON d.doc_id = w.doc_id
        |), r AS (
        |  SELECT doc_id, source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - n_tokens AS cum_before
        |  FROM t WHERE source IN ('src0', 'src1', 'src2')
        |)
        |SELECT doc_id, source, n_tokens FROM r
        |WHERE (source = 'src0' AND cum_before < 800)
        |   OR (source = 'src1' AND cum_before < 400)
        |   OR (source = 'src2' AND cum_before < 200)
        |ORDER BY doc_id""".stripMargin),
    "sample_mixture" ->
      """WITH b AS (
        |  SELECT doc_id, source,
        |    list_reduce(
        |      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
        |      (a, b) -> (a * 31 + b) % 1000000007) % 1000 AS bkt
        |  FROM documents),
        |c AS (
        |  SELECT source, count(*) AS n,
        |    CASE WHEN source IN ('src0', 'src1') THEN 3.0
        |         WHEN source = 'src2' THEN 2.0 ELSE 1.0 END AS wt
        |  FROM documents GROUP BY source),
        |k AS (SELECT min(CAST(n AS DOUBLE) / wt) AS kk FROM c),
        |r AS (
        |  SELECT source,
        |    least(CAST(floor(wt * kk * 1000.0 / CAST(n AS DOUBLE)) AS BIGINT), 1000)
        |      AS keep_permille
        |  FROM c, k)
        |SELECT b.doc_id, b.source, r.keep_permille
        |FROM b JOIN r USING (source)
        |WHERE b.bkt < r.keep_permille
        |ORDER BY doc_id""".stripMargin,
    // FLAGSHIP v3: v2 chain + span masking (kg/dup/cov over reps) +
    // temperature sampling over detected lang (c/k/rr/samp CTEs)
    "train_corpus_prep_v3" ->
      """WITH RECURSIVE w AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[]) ELSE
        |      list_distinct(list_transform(range(1, len(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        |    END AS sh
        |  FROM w
        |), pairs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) /
        |      CAST(len(a.sh) + len(b.sh)
        |           - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) AS jaccard
        |    FROM s a JOIN s b ON a.doc_id < b.doc_id
        |    WHERE len(a.sh) > 0 AND len(b.sh) > 0)
        |  WHERE jaccard >= 0.8
        |), edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs
        |), reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.src, reach.r FROM reach JOIN edges e ON reach.id = e.dst
        |), canon AS (
        |  SELECT id AS doc_id, min(r) AS canonical_id FROM reach GROUP BY id
        |), reps AS (
        |  SELECT d.doc_id, ww.toks
        |  FROM documents d
        |  JOIN canon c ON d.doc_id = c.doc_id
        |  JOIN w ww ON ww.doc_id = d.doc_id
        |  WHERE c.doc_id = c.canonical_id AND d.doc_id % 10 <> 0
        |), kg AS (
        |  SELECT doc_id, r.p, array_to_string(toks[r.p:r.p+7], ' ') AS g
        |  FROM reps, LATERAL (SELECT unnest(range(1, greatest(len(toks) - 6, 1))) AS p) r
        |), dup AS (
        |  SELECT g FROM kg GROUP BY g HAVING count(*) >= 2
        |), cov AS (
        |  SELECT DISTINCT kg.doc_id, c.p2
        |  FROM kg JOIN dup USING (g),
        |    LATERAL (SELECT unnest(range(kg.p, kg.p + 8)) AS p2) c
        |), rtok AS (
        |  SELECT doc_id, unnest(toks) AS word, generate_subscripts(toks, 1) AS pos FROM reps
        |), m AS (
        |  SELECT t.doc_id,
        |    coalesce(string_agg(t.word, ' ' ORDER BY t.pos) FILTER (WHERE c.p2 IS NULL), '')
        |      AS text
        |  FROM rtok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.p2
        |  GROUP BY t.doc_id
        |), mt AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |  FROM m
        |), s8e AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 8 THEN CAST([] AS VARCHAR[]) ELSE
        |      list_distinct(list_transform(range(1, len(toks) - 6),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
        |          || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7]))
        |    END AS sh
        |  FROM w WHERE doc_id % 10 = 0
        |), ev8 AS (SELECT DISTINCT unnest(sh) AS g FROM s8e),
        |tr8 AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(toks) < 8 THEN CAST([] AS VARCHAR[]) ELSE
        |      list_distinct(list_transform(range(1, len(toks) - 6),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
        |          || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7]))
        |    END) AS g
        |  FROM mt
        |), contaminated AS (SELECT DISTINCT tr8.doc_id FROM tr8 JOIN ev8 USING (g)),
        |clean AS (
        |  SELECT * FROM mt
        |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
        |), q AS (
        |  SELECT doc_id, text, toks FROM clean
        |  WHERE len(toks) BETWEEN 20 AND 10000
        |    AND CAST(list_reduce(list_transform(toks, t -> len(t)), (a,b) -> a+b) AS DOUBLE)
        |        / CAST(len(toks) AS DOUBLE) BETWEEN 3.0 AND 10.0
        |    AND len(list_filter(toks, t -> list_contains(['the', 'a', 'is', 'of', 'and', 'to', 'der', 'die', 'und', 'das', 'ist', 'ein', 'le', 'la', 'et', 'les', 'des', 'est', 'el', 'de', 'que', 'los', 'es', 'una'], t))) >= 1
        |    AND CAST(list_max(list_transform(list_distinct(toks),
        |          t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE)
        |        / CAST(len(toks) AS DOUBLE) <= 0.2
        |    AND (CASE WHEN len(toks) >= 2 THEN
        |          CAST(1 AS DOUBLE) - CAST(len(list_distinct(list_transform(range(1, len(toks)),
        |            i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE) / CAST(len(toks) - 1 AS DOUBLE)
        |        ELSE CAST(0 AS DOUBLE) END) <= 0.1
        |), lscore AS (
        |  SELECT doc_id,
        |    len(list_filter(toks, t -> list_contains(['the', 'a', 'is', 'of', 'and', 'to'], t))) AS s_en,
        |    len(list_filter(toks, t -> list_contains(['der', 'die', 'und', 'das', 'ist', 'ein'], t))) AS s_de,
        |    len(list_filter(toks, t -> list_contains(['le', 'la', 'et', 'les', 'des', 'est'], t))) AS s_fr,
        |    len(list_filter(toks, t -> list_contains(['el', 'de', 'que', 'los', 'es', 'una'], t))) AS s_es
        |  FROM q
        |), langed AS (
        |  SELECT q.doc_id, q.text, len(q.toks) AS n_tokens,
        |    CASE WHEN greatest(s_en, s_de, s_fr, s_es) <= 0 THEN 'und'
        |      WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
        |      WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
        |      WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
        |      ELSE 'es' END AS lang
        |  FROM q JOIN lscore l ON q.doc_id = l.doc_id
        |), c AS (
        |  SELECT lang, count(*) AS n, round(pow(count(*), 0.5), 6) AS wt
        |  FROM langed GROUP BY lang
        |), k AS (SELECT min(CAST(n AS DOUBLE) / wt) AS kk FROM c),
        |rr AS (
        |  SELECT lang,
        |    least(CAST(floor(wt * kk * 1000.0 / CAST(n AS DOUBLE)) AS BIGINT), 1000)
        |      AS keep_permille
        |  FROM c, k
        |), samp AS (
        |  SELECT langed.doc_id, langed.text, langed.n_tokens
        |  FROM langed JOIN rr USING (lang)
        |  WHERE list_reduce(
        |      list_transform(string_split(text, ''), ch -> CAST(ascii(ch) AS BIGINT)),
        |      (a, b) -> (a * 31 + b) % 1000000007) % 1000 < keep_permille
        |), f AS (
        |  SELECT doc_id, n_tokens,
        |    CASE WHEN list_reduce(
        |        list_transform(string_split(text, ''), ch -> CAST(ascii(ch) AS BIGINT)),
        |        (a, b) -> (a * 31 + b) % 1000000007) % 100 < 80 THEN 'train'
        |      WHEN list_reduce(
        |        list_transform(string_split(text, ''), ch -> CAST(ascii(ch) AS BIGINT)),
        |        (a, b) -> (a * 31 + b) % 1000000007) % 100 < 90 THEN 'val'
        |      ELSE 'test' END AS split
        |  FROM samp
        |), packed AS (
        |  SELECT split, doc_id % 8 AS shard, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY split, doc_id % 8
        |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS BIGINT) // 512 AS seq_id
        |  FROM f)
        |SELECT split, count(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  count(DISTINCT (shard, seq_id)) AS n_sequences
        |FROM packed GROUP BY 1 ORDER BY split""".stripMargin,
    // normalization: both engines plant the same dirt, clean independently;
    // the char-class regex is valid in Java regex AND RE2 verbatim
    "text_normalize" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    chr(173) || 'e' || chr(769) || '  ' || text || ' ' || chr(7) || chr(8205) || chr(9) AS dirty
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(dirty) AS BIGINT) AS n_before,
        |  CAST(length(clean_text) AS BIGINT) AS n_after,
        |  clean_text
        |FROM (
        |  SELECT doc_id, dirty,
        |    trim(regexp_replace(regexp_replace(nfc_normalize(dirty),
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F\p{Cf}]', '', 'g'),
        |      '\s+', ' ', 'g')) AS clean_text
        |  FROM d)
        |ORDER BY doc_id""".stripMargin,
    // url canonicalization: DuckDB re-derives the canonical form with its
    // own regex/list engine (RE2 + list_* lambdas); NOTE
    // array_to_string([]) is NULL in DuckDB → coalesce to '' to mirror
    // Spark's array_join
    "text_url_canonicalize" ->
      """WITH base AS (SELECT doc_id, source FROM documents),
        |raw AS (
        |  SELECT doc_id, 'HTTPS://WWW.' || source || '.Example.COM:443/p/'
        |    || doc_id || '?b=2&a=' || (doc_id % 7)
        |    || '&utm_source=feed#frag' || doc_id AS url FROM base
        |  UNION ALL
        |  SELECT doc_id, 'https://' || source || '.example.com/p/' || doc_id
        |    || '/?a=' || (doc_id % 7) || '&fbclid=Q&b=2' AS url FROM base),
        |c1 AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_replace(regexp_replace(url, '#.*$', ''),
        |      '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
        |  FROM raw),
        |c2 AS (
        |  SELECT doc_id, scheme,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(rest, '^([^/?]*)', 1)),
        |      '^.*@', ''), '^www\.', '') AS auth,
        |    regexp_replace(rest, '^[^/?]*', '') AS pathq
        |  FROM c1),
        |c3 AS (
        |  SELECT doc_id, scheme,
        |    CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80$', '')
        |         WHEN scheme = 'https' THEN regexp_replace(auth, ':443$', '')
        |         ELSE auth END AS host,
        |    regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$', '') AS path,
        |    coalesce(array_to_string(list_sort(list_filter(
        |      string_split(regexp_extract(pathq, '\?(.*)$', 1), '&'),
        |      p -> p <> '' AND NOT regexp_matches(p,
        |        '^(utm_[^=]*|gclid|fbclid|ref)='))), '&'), '') AS qs
        |  FROM c2),
        |c4 AS (
        |  SELECT doc_id, scheme || '://' || host || path ||
        |    CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS url_canon
        |  FROM c3)
        |SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, url_canon,
        |  count(*) AS n_variants
        |FROM c4 GROUP BY url_canon ORDER BY doc_id""".stripMargin,
    // host blocklist: oracle derives the host directly from source —
    // the Spark side must land on the same string via URL extraction
    "text_url_filter" ->
      """SELECT source || '.example.com' AS host,
        |  count(*) AS n_docs, CAST(min(doc_id) AS BIGINT) AS first_doc
        |FROM documents WHERE source NOT IN ('src2', 'src7')
        |GROUP BY host ORDER BY host""".stripMargin,
    // line dedup: oracle elects first occurrence on the line STRING (the
    // engine shuffles xxhash64 of it); blanks exempt both sides
    "text_line_dedup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    'begin shared corpus header' || chr(10) || 'section ' || source || chr(10) || chr(10) || text || chr(10) || 'end shared corpus footer' AS t
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, unnest(string_split(t, chr(10))) AS line,
        |    generate_subscripts(string_split(t, chr(10)), 1) AS pos
        |  FROM d),
        |w AS (
        |  SELECT doc_id, pos, line, trim(line) = '' AS blank,
        |    row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
        |  FROM l)
        |SELECT doc_id,
        |  count(*) AS n_lines,
        |  count(*) FILTER (WHERE NOT (blank OR rn = 1)) AS n_removed,
        |  coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE blank OR rn = 1), '') AS clean_text
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // temperature sampling over the skewed lang stratum: wt = round(n^0.5, 6)
    // both sides (6dp rounding absorbs any libm-vs-JVM pow ulp)
    "sample_temperature" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    list_reduce(
        |      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
        |      (a, b) -> (a * 31 + b) % 1000000007) % 1000 AS bkt
        |  FROM documents),
        |c AS (
        |  SELECT lang, count(*) AS n, round(pow(count(*), 0.5), 6) AS wt
        |  FROM documents GROUP BY lang),
        |k AS (SELECT min(CAST(n AS DOUBLE) / wt) AS kk FROM c),
        |r AS (
        |  SELECT lang,
        |    least(CAST(floor(wt * kk * 1000.0 / CAST(n AS DOUBLE)) AS BIGINT), 1000)
        |      AS keep_permille
        |  FROM c, k)
        |SELECT b.doc_id, b.lang, r.keep_permille
        |FROM b JOIN r USING (lang)
        |WHERE b.bkt < r.keep_permille
        |ORDER BY doc_id""".stripMargin,
    // k-NN graph: the dedup_semantic cents/ca CTEs + per-id ranked cosine
    "sim_knn_graph" -> (vecCte +
      """, cents AS (
        |  SELECT vec_id AS cent_id, e AS cent_e, nrm AS cent_nrm
        |  FROM n ORDER BY vec_id LIMIT 16
        |), ca AS (
        |  SELECT c_id, cell FROM (
        |    SELECT a.vec_id AS c_id, b.cent_id AS cell,
        |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |        list_reduce(list_transform(range(1, len(a.e)+1), i -> a.e[i]*b.cent_e[i]),
        |          (x,y) -> x+y) / (a.nrm * b.cent_nrm) DESC, b.cent_id) AS rn
        |    FROM n a CROSS JOIN cents b)
        |  WHERE rn = 1
        |)
        |SELECT vec_id, neighbor_id, cell, cosine, CAST(rank AS INT) AS rank FROM (
        |  SELECT vec_id, neighbor_id, cell, cosine,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM (
        |    SELECT aa.c_id AS vec_id, bb.c_id AS neighbor_id, aa.cell AS cell,
        |      list_reduce(list_transform(range(1, len(na.e)+1), i -> na.e[i]*nb.e[i]),
        |        (x,y) -> x+y) / (na.nrm * nb.nrm) AS cosine
        |    FROM ca aa JOIN ca bb ON aa.cell = bb.cell AND aa.c_id <> bb.c_id
        |    JOIN n na ON na.vec_id = aa.c_id
        |    JOIN n nb ON nb.vec_id = bb.c_id))
        |WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin),
    // diversity sampling: per-cell quota over the same assignment
    "sample_diverse" -> (vecCte +
      """, cents AS (
        |  SELECT vec_id AS cent_id, e AS cent_e, nrm AS cent_nrm
        |  FROM n ORDER BY vec_id LIMIT 16
        |), ca AS (
        |  SELECT c_id, cell FROM (
        |    SELECT a.vec_id AS c_id, b.cent_id AS cell,
        |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |        list_reduce(list_transform(range(1, len(a.e)+1), i -> a.e[i]*b.cent_e[i]),
        |          (x,y) -> x+y) / (a.nrm * b.cent_nrm) DESC, b.cent_id) AS rn
        |    FROM n a CROSS JOIN cents b)
        |  WHERE rn = 1
        |)
        |SELECT vec_id, cell, cell_rank FROM (
        |  SELECT c_id AS vec_id, cell,
        |    CAST(row_number() OVER (PARTITION BY cell ORDER BY c_id) AS INT) AS cell_rank
        |  FROM ca)
        |WHERE cell_rank <= 10 ORDER BY cell, cell_rank""".stripMargin),
    "text_bm25" -> bm25Sql,
    // index-served BM25 must equal the corpus-scan form exactly
    "text_bm25_incremental" -> bm25Sql,
    "text_vocab" -> (tokensCte +
      """, t AS (SELECT unnest(toks) AS term FROM w),
        |c AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
        |top AS (SELECT term, n FROM c ORDER BY n DESC, term LIMIT 30)
        |SELECT term, n, rank, cum_coverage FROM (
        |  SELECT term, n,
        |    CAST(row_number() OVER (ORDER BY n DESC, term) AS INT) AS rank,
        |    round(CAST(sum(n) OVER (ORDER BY n DESC, term
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |      / CAST(total AS DOUBLE), 6) AS cum_coverage
        |  FROM top, tot)
        |ORDER BY rank""".stripMargin),
    "text_bigram_logprob" -> (tokensCte +
      """, g AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[]) ELSE
        |      list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
        |    END) AS bg
        |  FROM w),
        |bc AS (SELECT bg, count(*) AS cnt FROM g GROUP BY 1),
        |pc AS (SELECT string_split(bg, ' ')[1] AS p1, sum(cnt) AS pcnt
        |       FROM bc GROUP BY 1),
        |sc AS (
        |  SELECT bg, CAST(round(-ln(CAST(cnt AS DOUBLE) / CAST(pcnt AS DOUBLE)), 6)
        |    AS DECIMAL(18,6)) AS nlp
        |  FROM bc JOIN pc ON string_split(bc.bg, ' ')[1] = pc.p1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(CAST(sum(nlp) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |    AS mean_bigram_surprisal
        |FROM g JOIN sc USING (bg)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "graph_pagerank" -> pageRankSql,
    "graph_pagerank_weighted" -> pageRankWeightedSql,
    "sim_hybrid_rrf" -> hybridRrfSql,
    "text_bpe_merges" -> bpeMergesSql,
    "text_bpe_encode" -> bpeEncodeSql,
    // per-source fertility = the encode oracle re-aggregated over source
    "text_tokenizer_fertility" -> (bpeChainCte(5) +
      """,
        |enc AS (
        |  SELECT word, CAST(len(list_filter(string_split(str, chr(1)),
        |    x -> len(x) > 0)) AS BIGINT) AS n_syms
        |  FROM v5),
        |tok AS (SELECT doc_id, unnest(toks) AS word FROM w),
        |per_doc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |    CAST(sum(n_syms) AS BIGINT) AS n_bpe
        |  FROM tok JOIN enc USING (word) GROUP BY doc_id)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS n_words,
        |  CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
        |  round(CAST(sum(n_bpe) AS DOUBLE) / CAST(sum(n_words) AS DOUBLE), 6)
        |    AS fertility,
        |  round(CAST(sum(length(text)) AS DOUBLE) / CAST(sum(n_bpe) AS DOUBLE), 6)
        |    AS chars_per_token
        |FROM per_doc JOIN documents USING (doc_id)
        |GROUP BY source ORDER BY source""".stripMargin),
    "graph_random_walks" -> randomWalksSql,
    // exact top-20 + TRUE guarantee flags (engine computes the flags
    // from the committed sketch; the same pattern as text_heavy_hitters)
    "text_cms_incremental" -> (tokensCte +
      """
        |, t AS (SELECT unnest(toks) AS term FROM w)
        |SELECT term, CAST(count(*) AS BIGINT) AS n,
        |  TRUE AS cms_never_under, TRUE AS cms_within_envelope
        |FROM t GROUP BY term
        |ORDER BY n DESC, term LIMIT 20""".stripMargin),
    "text_perplexity_filter" -> perplexityFilterSql,
    // the maintained LM must serve the IDENTICAL scoring
    "text_perplexity_incremental" -> perplexityFilterSql,
    "sample_probe_budget" -> (qualityProbeCtes(
      graft.operators.QualityProbe.DefaultIterations,
      graft.operators.QualityProbe.DefaultLr) + """
        |, t AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split(lower(text), ' '),
        |      x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL),
        |b AS (SELECT * FROM (VALUES ('src0', 800), ('src1', 800),
        |  ('src2', 800)) v(source, budget)),
        |r AS (
        |  SELECT t.doc_id, t.source, s.probe_score, t.n_tokens,
        |    sum(t.n_tokens) OVER (PARTITION BY t.source
        |      ORDER BY s.probe_score DESC, t.doc_id
        |      ROWS UNBOUNDED PRECEDING) - t.n_tokens AS cum_before,
        |    budget
        |  FROM t JOIN scores s USING (doc_id) JOIN b USING (source))
        |SELECT doc_id, source, probe_score, n_tokens
        |FROM r WHERE cum_before < budget ORDER BY doc_id""".stripMargin),
    "text_dup_report" -> (dedupSubstringsCtes + """
        |, t AS (
        |  SELECT w.doc_id, d.source, CAST(len(w.toks) AS BIGINT) AS n_tokens
        |  FROM w JOIN documents d USING (doc_id))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(dup_len) AS BIGINT) AS n_dup_docs,
        |  coalesce(max(dup_len), CAST(0 AS BIGINT)) AS max_dup_len,
        |  round(CAST(coalesce(sum(dup_len), 0) AS DOUBLE)
        |    / CAST(sum(n_tokens) AS DOUBLE), 6) AS dup_token_frac
        |FROM t LEFT JOIN perdoc USING (doc_id)
        |GROUP BY source ORDER BY source""".stripMargin),
    "dedup_weighted_jaccard" -> (tokensCte + """
        |, sb AS (
        |  SELECT doc_id, sh, CAST(count(*) AS BIGINT) AS w FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[]) ELSE
        |      list_transform(range(1, len(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        |    FROM w) GROUP BY 1, 2),
        |tt AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS tot FROM sb GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(sum(least(a.w, b.w)) AS BIGINT) AS i
        |  FROM sb a JOIN sb b USING (sh) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT id_a, id_b,
        |    round(CAST(i AS DOUBLE) / CAST(ta.tot + tb.tot - i AS DOUBLE), 6) AS jaccard
        |  FROM inter JOIN tt ta ON ta.doc_id = id_a JOIN tt tb ON tb.doc_id = id_b)
        |WHERE jaccard >= 0.8 ORDER BY id_a, id_b""".stripMargin),
    "text_quality_probe" -> qualityProbeSql(
      graft.operators.QualityProbe.DefaultIterations,
      graft.operators.QualityProbe.DefaultLr),
    "text_quality_probe_holdout" -> qualityProbeHoldoutSql(
      graft.operators.QualityProbe.DefaultIterations,
      graft.operators.QualityProbe.DefaultLr),
    "text_phrase_search" -> (tokensCte +
      """
        |SELECT doc_id, phrase_tf FROM (
        |  SELECT doc_id,
        |    CAST(len(list_filter(range(1, len(toks)),
        |      i -> toks[i] = 'join' AND toks[i+1] = 'hash')) AS BIGINT)
        |      AS phrase_tf
        |  FROM w)
        |WHERE phrase_tf > 0
        |ORDER BY phrase_tf DESC, doc_id LIMIT 10""".stripMargin),
    // cross-table ER: the naive cross product IS the oracle; the
    // engine's prefix-blocked join must return the identical pair set
    "dedup_cross_er" ->
      """WITH cg AS (
        |  SELECT c_custkey AS id,
        |    list_distinct(list_transform(range(1, len(lower(c_name)) - 1),
        |      i -> substr(lower(c_name), i, 3))) AS g
        |  FROM customer WHERE len(c_name) >= 3),
        |sg AS (
        |  SELECT s_suppkey AS id,
        |    list_distinct(list_transform(range(1, len(lower(s_name)) - 1),
        |      i -> substr(lower(s_name), i, 3))) AS g
        |  FROM supplier WHERE len(s_name) >= 3)
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT cg.id AS id_a, sg.id AS id_b,
        |    CAST(len(list_filter(cg.g, x -> list_contains(sg.g, x))) AS DOUBLE) /
        |    CAST(len(cg.g) + len(sg.g)
        |      - len(list_filter(cg.g, x -> list_contains(sg.g, x))) AS DOUBLE)
        |      AS jaccard
        |  FROM cg, sg)
        |WHERE jaccard >= 0.32
        |ORDER BY id_a, id_b""".stripMargin,
    "text_pmi" -> (tokensCte +
      """
        |, pr AS (
        |  SELECT unnest(flatten(list_transform(range(1, len(toks)+1), i ->
        |    list_transform(range(i+1, least(i+4, len(toks))+1), j ->
        |      CASE WHEN toks[i] <= toks[j] THEN {'a': toks[i], 'b': toks[j]}
        |           ELSE {'a': toks[j], 'b': toks[i]} END)))) AS p
        |  FROM w),
        |pc AS (SELECT p.a AS a, p.b AS b, CAST(count(*) AS BIGINT) AS n_pair
        |       FROM pr GROUP BY 1, 2),
        |uni AS (SELECT term, CAST(count(*) AS BIGINT) AS n_term
        |        FROM (SELECT unnest(toks) AS term FROM w) GROUP BY 1),
        |tot AS (SELECT (SELECT CAST(sum(n_pair) AS BIGINT) FROM pc) AS t_pairs,
        |               (SELECT CAST(sum(n_term) AS BIGINT) FROM uni) AS t_uni)
        |SELECT a, b, n_pair, ua.n_term AS n_a, ub.n_term AS n_b,
        |  round(ln((CAST(n_pair AS DOUBLE) / CAST(t_pairs AS DOUBLE)) /
        |    ((CAST(ua.n_term AS DOUBLE) / CAST(t_uni AS DOUBLE)) *
        |     (CAST(ub.n_term AS DOUBLE) / CAST(t_uni AS DOUBLE)))), 6) AS pmi
        |FROM pc JOIN uni ua ON pc.a = ua.term
        |        JOIN uni ub ON pc.b = ub.term, tot
        |WHERE n_pair >= 25
        |ORDER BY a, b""".stripMargin))

  /** PageRank oracle — the sim_knn_graph edge derivation (already
    * oracle-matched) feeding 5 UNROLLED power-iteration CTEs generated by
    * the same Scala loop shape the operator runs. Per-edge contributions
    * round to DECIMAL(26,12) before the per-destination sum (exact in any
    * order) and each rank re-rounds to 12 dp — the identical arithmetic,
    * association order, and interpolated IEEE constants as the engine. */
  /** The sim_knn_graph edge derivation as a CTE chain ending in
    * `eg(src, dst, rank)` — shared by the PageRank and random-walk
    * oracles. */
  private def knnEdgesCte: String = vecCte +
    """, cents AS (
      |  SELECT vec_id AS cent_id, e AS cent_e, nrm AS cent_nrm
      |  FROM n ORDER BY vec_id LIMIT 16
      |), ca AS (
      |  SELECT c_id, cell FROM (
      |    SELECT a.vec_id AS c_id, b.cent_id AS cell,
      |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
      |        list_reduce(list_transform(range(1, len(a.e)+1), i -> a.e[i]*b.cent_e[i]),
      |          (x,y) -> x+y) / (a.nrm * b.cent_nrm) DESC, b.cent_id) AS rn
      |    FROM n a CROSS JOIN cents b)
      |  WHERE rn = 1
      |), eg AS (
      |  SELECT src, dst, rank, cosine FROM (
      |    SELECT vec_id AS src, neighbor_id AS dst, cosine,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rank
      |    FROM (
      |      SELECT aa.c_id AS vec_id, bb.c_id AS neighbor_id,
      |        list_reduce(list_transform(range(1, len(na.e)+1), i -> na.e[i]*nb.e[i]),
      |          (x,y) -> x+y) / (na.nrm * nb.nrm) AS cosine
      |      FROM ca aa JOIN ca bb ON aa.cell = bb.cell AND aa.c_id <> bb.c_id
      |      JOIN n na ON na.vec_id = aa.c_id
      |      JOIN n nb ON nb.vec_id = bb.c_id))
      |  WHERE rank <= 3
      |)""".stripMargin

  /** Label-propagation oracle: symmetrized distinct edge set, then 4
    * unrolled synchronous rounds of the (max neighbor-label count, min
    * label) argmax — pure integer arithmetic, no FP anywhere. */
  private def lpaSql: String = {
    val iters = 4
    val base = knnEdgesCte +
      """, ue AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM eg UNION ALL SELECT dst AS src, src AS dst FROM eg)
        |  WHERE src <> dst
        |), gn AS (SELECT DISTINCT src AS id FROM ue),
        |l0 AS (SELECT id, id AS label FROM gn)""".stripMargin
    val iterCtes = (1 to iters).map { i =>
      s""",
         |c$i AS (
         |  SELECT ue.dst, l.label, CAST(count(*) AS BIGINT) AS cnt
         |  FROM ue JOIN l${i - 1} l ON l.id = ue.src
         |  GROUP BY ue.dst, l.label),
         |l$i AS (
         |  SELECT dst AS id, label FROM (
         |    SELECT dst, label, row_number() OVER (PARTITION BY dst
         |      ORDER BY cnt DESC, label) AS rn
         |    FROM c$i) WHERE rn = 1)""".stripMargin
    }.mkString
    base + iterCtes +
      s"\nSELECT id AS vec_id, label AS community FROM l$iters ORDER BY vec_id"
  }

  private def pageRankSql: String = {
    val damping = 0.85; val iters = 5
    val oneMinusD = 1.0 - damping // interpolated: Double.toString round-trips
    val base = knnEdgesCte +
      """, gn AS (
        |  SELECT DISTINCT id FROM (
        |    SELECT src AS id FROM eg UNION ALL SELECT dst AS id FROM eg)
        |), od AS (SELECT src, CAST(count(*) AS BIGINT) AS out_deg FROM eg GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |""".stripMargin +
      s"              $oneMinusD / CAST(count(*) AS DOUBLE) AS tele FROM gn),\n" +
      "r0 AS (SELECT id, round(1.0 / n, 12) AS rank FROM gn, nn)"
    val iterCtes = (1 to iters).map { i =>
      s""",
         |c$i AS (
         |  SELECT dst, sum(CAST(round(r.rank / CAST(out_deg AS DOUBLE), 12)
         |    AS DECIMAL(26,12))) AS m
         |  FROM eg JOIN od USING (src) JOIN r${i - 1} r ON r.id = eg.src
         |  GROUP BY 1),
         |r$i AS (
         |  SELECT id, round(tele + $damping * coalesce(CAST(m AS DOUBLE), 0.0), 12) AS rank
         |  FROM gn LEFT JOIN c$i ON c$i.dst = gn.id, nn)""".stripMargin
    }.mkString
    base + iterCtes +
      s"\nSELECT id AS vec_id, rank AS pagerank FROM r$iters ORDER BY vec_id"
  }

  /** BM25 scoring CTE chain (w → … → bm25agg), shared by the retrieval
    * oracles — constants are interpolated from the SAME Scala doubles
    * the operator uses (Double.toString round-trips, so DuckDB parses the
    * identical IEEE value) and the arithmetic is written in the operator's
    * exact association order; contributions round to DECIMAL(18,6) before
    * the per-doc sum, so the ranking is bit-stable cross-engine.
    * `bm25agg` columns: doc_id, doc_len, n_terms_matched, score, and the
    * exact decimal sum `sx` for ordering. */
  private def bm25Cte: String = {
    val k1 = 1.2; val b = 0.75
    val termList = bm25Terms.map(t => s"'$t'").mkString("[", ", ", "]")
    tokensCte + s"""
      |, t AS (
      |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
      |    unnest(list_filter(toks, x -> list_contains($termList, x))) AS term
      |  FROM w),
      |p AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
      |      FROM t GROUP BY 1, 2, 3),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |              CAST(sum(len(toks)) AS BIGINT) AS sum_dl FROM w),
      |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY 1),
      |sc AS (
      |  SELECT doc_id, dl,
      |    CAST(round(
      |      ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
      |         / (CAST(df AS DOUBLE) + 0.5) + 1.0)
      |      * (CAST(tf AS DOUBLE) * ${k1 + 1.0})
      |      / (CAST(tf AS DOUBLE) + $k1 * (1.0 - $b + $b * CAST(dl AS DOUBLE)
      |          / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))), 6)
      |      AS DECIMAL(18,6)) AS contrib
      |  FROM p JOIN dfq USING (term), st),
      |bm25agg AS (
      |  SELECT doc_id, dl AS doc_len,
      |    CAST(count(*) AS BIGINT) AS n_terms_matched,
      |    CAST(sum(contrib) AS DOUBLE) AS score, sum(contrib) AS sx
      |  FROM sc GROUP BY 1, 2)""".stripMargin
  }

  private def bm25Sql: String = bm25Cte +
    """
      |SELECT doc_id, doc_len, n_terms_matched, score FROM bm25agg
      |ORDER BY sx DESC, doc_id LIMIT 15""".stripMargin

  /** Weighted-PageRank oracle — pageRankSql with the uniform 1/deg
    * share replaced by the cosine-weighted `rank · (w / Σw)` share;
    * weights round to DECIMAL(18,6) pre-sum, same arithmetic order as
    * the operator. */
  private def pageRankWeightedSql: String = {
    val damping = 0.85; val iters = 5
    val oneMinusD = 1.0 - damping
    val base = knnEdgesCte +
      """, ew AS (
        |  SELECT src, dst, CAST(round(cosine, 6) AS DECIMAL(18,6)) AS w
        |  FROM eg),
        |ow AS (SELECT src, sum(w) AS sw FROM ew GROUP BY 1),
        |gn AS (
        |  SELECT DISTINCT id FROM (
        |    SELECT src AS id FROM eg UNION ALL SELECT dst AS id FROM eg)
        |), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |""".stripMargin +
      s"              $oneMinusD / CAST(count(*) AS DOUBLE) AS tele FROM gn),\n" +
      "r0 AS (SELECT id, round(1.0 / n, 12) AS rank FROM gn, nn)"
    val iterCtes = (1 to iters).map { i =>
      s""",
         |c$i AS (
         |  SELECT dst, sum(CAST(round(r.rank *
         |      (CAST(w AS DOUBLE) / CAST(sw AS DOUBLE)), 9)
         |    AS DECIMAL(26,9))) AS m
         |  FROM ew JOIN ow USING (src) JOIN r${i - 1} r ON r.id = ew.src
         |  GROUP BY 1),
         |r$i AS (
         |  SELECT id, round(tele + $damping * coalesce(CAST(m AS DOUBLE), 0.0), 12) AS rank
         |  FROM gn LEFT JOIN c$i ON c$i.dst = gn.id, nn)""".stripMargin
    }.mkString
    base + iterCtes +
      s"\nSELECT id AS vec_id, rank AS pagerank FROM r$iters ORDER BY vec_id"
  }

  /** Random-walk oracle: the shared k-NN edge CTE + `steps` unrolled
    * frontier joins with the identical hash-directed neighbor pick
    * (1 + (node·7919 + step·104729) mod deg — positive operands, so `%`
    * ≡ pmod). Integer arithmetic only — exact cross-engine. */
  private def randomWalksSql: String = {
    val steps = 4
    val base = knnEdgesCte +
      """, dg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM eg GROUP BY 1),
        |ew AS (SELECT eg.src, eg.dst, CAST(eg.rank AS BIGINT) AS rnk, dg.deg
        |       FROM eg JOIN dg USING (src)),
        |f0 AS (SELECT DISTINCT src AS walk_id, src AS node FROM eg)""".stripMargin
    val iter = (1 to steps).map { s =>
      s""",
         |f$s AS (
         |  SELECT f.walk_id, ew.dst AS node
         |  FROM f${s - 1} f JOIN ew ON f.node = ew.src
         |  WHERE ew.rnk = 1 + (f.node * 7919 + $s * 104729) % ew.deg)""".stripMargin
    }.mkString
    val rows = (0 to steps).map(s =>
      s"SELECT walk_id, CAST($s AS INT) AS step, node FROM f$s")
      .mkString("\n", "\nUNION ALL\n", "\n")
    base + iter + rows + "ORDER BY walk_id, step"
  }

  /** BPE oracle: the word-frequency table in the engine's sentinel-
    * delimited representation (chr(1)-wrapped symbols), then `rounds`
    * UNROLLED merge rounds generated by the same loop shape the operator
    * runs — per round an adjacent-pair weighted count, the argmax pair
    * (count desc, lexicographic), and the identical boundary-safe
    * literal replace. Pure integer counts — exact cross-engine. */
  /** The unrolled BPE learning CTE chain (v0..v`rounds` word encodings,
    * m1..m`rounds` winning merges) — shared by the merge-table oracle and
    * the encode oracle (v`rounds` IS the vocabulary in its final merged
    * form, so the apply oracle needs no re-derivation). */
  private def bpeChainCte(rounds: Int): String = {
    val base = tokensCte +
      """, v0 AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS cnt,
        |    chr(1) || array_to_string(string_split(word, ''), chr(1) || chr(1))
        |      || chr(1) AS str
        |  FROM (SELECT unnest(toks) AS word FROM w) GROUP BY 1)""".stripMargin
    val iter = (1 to rounds).map { i =>
      s""",
         |p$i AS (
         |  SELECT cnt, unnest(list_transform(range(1, len(syms)),
         |    k -> {'l': syms[k], 'r': syms[k+1]})) AS pr
         |  FROM (SELECT cnt, list_filter(string_split(str, chr(1)),
         |          x -> len(x) > 0) AS syms FROM v${i - 1})),
         |m$i AS (
         |  SELECT pr.l AS l, pr.r AS r, CAST(sum(cnt) AS BIGINT) AS c
         |  FROM p$i GROUP BY 1, 2 ORDER BY c DESC, l, r LIMIT 1),
         |v$i AS (
         |  SELECT word, cnt,
         |    replace(str, chr(1) || l || chr(1) || chr(1) || r || chr(1),
         |                 chr(1) || l || r || chr(1)) AS str
         |  FROM v${i - 1}, m$i)""".stripMargin
    }.mkString
    base + iter
  }

  private def bpeMergesSql: String = {
    val rounds = 5
    val rows = (1 to rounds).map(i =>
      s"""SELECT CAST($i AS INT) AS round, l AS "left", r AS "right",
         |  c AS pair_count FROM m$i""".stripMargin)
      .mkString("\n", "\nUNION ALL\n", "\n")
    bpeChainCte(rounds) + rows + "ORDER BY round"
  }

  /** Encode oracle: the final vocabulary encoding v5 gives each word's
    * merged symbol count; the token stream joins against it and
    * re-aggregates per document — identical integers to the engine's
    * vocab-side apply. */
  private def bpeEncodeSql: String = {
    val rounds = 5
    bpeChainCte(rounds) +
      s""",
         |enc AS (
         |  SELECT word, CAST(len(list_filter(string_split(str, chr(1)),
         |    x -> len(x) > 0)) AS BIGINT) AS n_syms
         |  FROM v$rounds),
         |tok AS (SELECT doc_id, unnest(toks) AS word FROM w)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens
         |FROM tok JOIN enc USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Hybrid RRF oracle: the BM25 CTE chain + the embedding CTE chain
    * (vecCte spliced in as continuation CTEs) + rank fusion. */
  private def hybridRrfSql: String = bm25Cte +
    ", " + vecCte.stripPrefix("WITH ") +
    """, sparse AS (
      |  SELECT doc_id, CAST(row_number() OVER (ORDER BY sx DESC, doc_id) AS INT)
      |    AS sparse_rank
      |  FROM (SELECT * FROM bm25agg ORDER BY sx DESC, doc_id LIMIT 20)),
      |dense AS (
      |  SELECT doc_id, CAST(rank AS INT) AS dense_rank FROM (
      |    SELECT c.vec_id AS doc_id,
      |      row_number() OVER (ORDER BY
      |        list_reduce(list_transform(range(1, len(p.e)+1), i -> p.e[i]*c.e[i]),
      |          (x,y) -> x+y) / (p.nrm * c.nrm) DESC, c.vec_id) AS rank
      |    FROM n p JOIN n c ON c.vec_id <> p.vec_id
      |    WHERE p.vec_id = 0)
      |  WHERE rank <= 20)
      |SELECT doc_id, sparse_rank, dense_rank,
      |  round(coalesce(1.0 / (60.0 + CAST(sparse_rank AS DOUBLE)), 0.0)
      |    + coalesce(1.0 / (60.0 + CAST(dense_rank AS DOUBLE)), 0.0), 6) AS rrf
      |FROM sparse FULL JOIN dense USING (doc_id)
      |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin

  val oracles: Map[String, String] = Entries.toMapUnique("Extensions.oracles",
    oracleEntries ++ Seq(
      // v4 = v3's pipeline fed by the MAINTAINED canonical map; the map
      // content equals the one-shot closure (dedup_canonical_incremental
      // gate), so the pipeline output — and therefore the oracle — is
      // exactly v3's
      "train_corpus_prep_v4" ->
        oracleEntries.find(_._1 == "train_corpus_prep_v3").get._2))
}

/** Shared fail-fast Map builder for query/oracle registries. */
object Entries {
  def toMapUnique[V](what: String, entries: Seq[(String, V)]): Map[String, V] = {
    val dups = entries.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }
    require(dups.isEmpty, s"$what has duplicate keys: ${dups.mkString(", ")}")
    entries.toMap
  }
}
