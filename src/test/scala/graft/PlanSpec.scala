package graft

import org.apache.spark.sql.functions._

/** Physical-plan shape assertions — the "is this the plan you'd want at
  * 100 TB" checks (builder rule: .explain and iterate until it's the plan
  * you'd want, then lock it in). */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  test("q5: all five dimension joins are broadcast (no shuffle joins)") {
    val p = plan("q5_local_supplier")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "dimension join must not sort-merge")
  }

  test("q1: filter and column pruning reach the parquet scan") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"shipdate filter not pushed:\n$p")
    assert(!p.contains("l_comment") && !p.contains("l_shipmode"))
    assert(p.contains("ReadSchema"))
  }

  test("q7: both nation copies + supplier/customer broadcast; one fact-fact shuffle join") {
    val p = plan("q7_volume_shipping")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 4, p)
    assert(p.linesIterator.count(_.contains("SortMergeJoin")) <= 1,
      "only lineitem-orders may shuffle")
  }

  test("q2: correlated scalar-min decorrelates to broadcast joins, no shuffle join") {
    val p = plan("q2_min_balance_supplier")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "the decorrelated min-aggregate and both dims must broadcast")
  }

  test("q6: all three predicates reach the scan; ungrouped two-phase aggregate") {
    // formatted mode: the plain plan string truncates long PushedFilters
    val p = SparkEntry.queries("q6_forecast_revenue")(spark, sf0001)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "shipdate range not pushed")
    assert(p.contains("GreaterThanOrEqual(l_discount"), "discount range not pushed")
    assert(p.contains("LessThan(l_quantity"), "quantity bound not pushed")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      "partial+final aggregate expected")
  }

  test("q10: customer and nation broadcast; at most one fact-fact shuffle join; TakeOrdered top-20") {
    val p = plan("q10_returned_items")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2, p)
    assert(p.linesIterator.count(_.contains("SortMergeJoin")) <= 1,
      "only lineitem-orders may shuffle")
    assert(p.contains("TakeOrderedAndProject"), "top-20 must not global-sort")
  }

  test("top-k plans TakeOrderedAndProject, not global sort") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$p")
  }

  test("semi/anti joins plan as semi/anti, not inner+dedup") {
    val p = plan("q_semi_anti_join")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"))
  }

  test("ingest pipeline is a single narrow stage (no exchange)") {
    val p = SparkEntry.queries("pipe_enrich")(spark, sf0001)
      .queryExecution.executedPlan.toString
    // orderBy adds one exchange at the edge; the stage chain itself
    // (parse/enrich/derive) must not shuffle
    assert(p.linesIterator.count(_.contains("Exchange")) <= 2, p)
  }

  test("custom expressions appear inside whole-stage codegen") {
    val df = Tables.load(spark, sf0001, "embeddings")
      .select(graft.plans.VectorExpressions.dotF64(
        graft.functions.VectorFunctions.toDouble(col("embedding")),
        graft.functions.VectorFunctions.toDouble(col("embedding"))).as("d"))
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.CodegenMode)
    assert(formatted.contains("WholeStageCodegen"), formatted.take(500))
  }

  test("q9: all four dimensions broadcast; only lineitem-orders shuffles") {
    val p = plan("q9_product_profit")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 3, p)
    assert(p.linesIterator.count(_.contains("SortMergeJoin")) <= 1,
      "only lineitem-orders may shuffle")
  }

  test("q21: the EXISTS/NOT-EXISTS pair is one orderkey aggregate, not self-joins") {
    val p = plan("q21_waiting_supplier")
    // one fact-fact shuffle join (lineitem-orders), supplier broadcast,
    // and NO lineitem-lineitem self-join pass
    assert(p.linesIterator.count(_.contains("SortMergeJoin")) <= 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), "top-20 must not global-sort")
  }

  test("decontaminate: the eval postings broadcast; the train corpus never shuffles") {
    val all = Tables.load(spark, sf0001, "documents")
    val p = graft.operators.Dedup.decontaminate(
      all.filter(col("doc_id") % 10 =!= 0), all.filter(col("doc_id") % 10 === 0),
      "doc_id", "text", k = 8)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "train postings must stream against the broadcast eval n-gram map")
  }

  test("quality filter and pii redaction run at scan speed (no exchange)") {
    val docs = Tables.load(spark, sf0001, "documents")
    val q = graft.operators.TextAnalysis.qualityFilter(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!q.contains("Exchange"), q)
    val r = graft.operators.TextAnalysis.piiRedact(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!r.contains("Exchange"), r)
  }

  test("a pushed quality `keep` filter calls the kernel at most twice per row") {
    val docs = Tables.load(spark, sf0001, "documents")
    val plan = graft.operators.TextAnalysis.qualityFilter(docs, "doc_id", "text")
      .filter(col("keep")).queryExecution.optimizedPlan
    val calls = plan.collect { case n =>
      n.expressions.map(_.collect { case _: graft.plans.QualityCounts => 1 }.sum).sum
    }.sum
    assert(calls >= 1 && calls <= 2, s"$calls quality_counts calls in\n$plan") // parent: 17
  }

  test("argmax-latest is one aggregate pair, no ranking window") {
    val p = plan("q_argmax_latest")
    assert(!p.contains("Window"), "latest-per-key must not rank")
    // max over a struct is not hash-aggregable — Sort/ObjectHashAggregate
    // is fine; the point is partial+final aggregation and no window pass
    assert(p.linesIterator.count(_.contains("Aggregate")) >= 2,
      "partial+final aggregate expected")
  }

  test("lsh bucketer runs inside whole-stage codegen (no interpreted HOF folds)") {
    val df = Tables.load(spark, sf0001, "embeddings")
      .select(graft.functions.VectorFunctions.lshBucket(
        graft.functions.VectorFunctions.toDouble(col("embedding")), 6).as("b"))
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.CodegenMode)
    assert(formatted.contains("WholeStageCodegen"), formatted.take(500))
    assert(formatted.contains("lsh_bucket"), formatted.take(500))
  }

  // every shuffle exchange in the plan, with its output schema — the
  // "what actually rides the wire" view for payload contracts
  private def shuffleOutputs(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p.collect { case n => n }.flatMap {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
        case n => Seq(n)
      }
    walk(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.output.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(",")
    }
  }

  test("mixture/temperature sampling: the document text never rides a shuffle") {
    val docs = Tables.load(spark, sf0001, "documents")
    for (df <- Seq(
        graft.operators.Sampling.mixtureSample(docs, "source", "text", Map("src0" -> 2.0)),
        graft.operators.Sampling.temperatureSample(docs, "lang", "text", 0.5))) {
      df.collect() // materialize so AQE finalizes the stages
      val leaks = shuffleOutputs(df).filter(_.contains("text:"))
      assert(leaks.isEmpty,
        s"only the |strata|-row count aggregate may shuffle, got: $leaks")
    }
  }

  test("repeated-span masking: the gram string never rides a shuffle (8-byte key only)") {
    val docs = Tables.load(spark, sf0001, "documents")
    val df = graft.operators.Dedup.maskRepeatedSpans(docs, "doc_id", "text", k = 8)
    df.collect()
    // shuffles may carry the 8-byte gkey, (doc,pos) pairs, and the final
    // per-doc reassembly structs — never a gram-sized string column
    val leaks = shuffleOutputs(df).filter(s => s.contains("gkey:string") || s.contains("gram"))
    assert(leaks.isEmpty, s"gram strings must stay map-side, got: $leaks")
    assert(shuffleOutputs(df).exists(_.contains("gkey:bigint")),
      "the occurrence count must key on the 8-byte hash")
  }

  test("line dedup: election shuffles the 8-byte line key, not the line") {
    val docs = Tables.load(spark, sf0001, "documents")
    val df = graft.operators.Dedup.dedupLines(docs, "doc_id", "text")
    df.collect()
    val electionExchanges = shuffleOutputs(df).filter(_.contains("lkey:bigint"))
    assert(electionExchanges.nonEmpty, "winner election must key on xxhash64(line)")
    assert(!electionExchanges.exists(_.contains("line:string")),
      s"the election aggregate must not carry the line string: $electionExchanges")
  }

  // ---- executed-scan audit: the round-7 scale-killer was the flagship
  // re-running the full-corpus shingle pass once per consumer (three
  // documents-text scans where one suffices). The fix shares ONE
  // materialized shingle frame; this audit is its regression tripwire.
  // It counts, across every listener-visible execution an invocation
  // runs, the FileSourceScans of documents.parquet that read the TEXT
  // column (the corpus-sized payload — id-only scans are metadata-cheap
  // and exempt), plus any CartesianProduct anywhere.
  private def scanAudit(body: => Unit): (Int, Int) = {
    import org.apache.spark.sql.execution.SparkPlan
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = { plans.add(qe.executedPlan); () }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // the listener rides an async bus — wait for the capture to settle
      var last = -1; var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val n = plans.size
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
    } finally spark.listenerManager.unregister(listener)
    // a persisted frame's scan runs inside whichever execution first
    // reads the cache: walk each cached plan once, so a scan behind a
    // persist counts like a scan behind a checkpoint (its own execution)
    val cachesSeen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def walk(p: SparkPlan): Seq[SparkPlan] =
      p.collect { case n => n }.flatMap {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
        case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          m +: (if (cachesSeen.add(m.relation.cacheBuilder)) walk(m.relation.cachedPlan)
                else Nil)
        case n => Seq(n)
      }
    import scala.jdk.CollectionConverters._
    val all = plans.asScala.toSeq.flatMap(walk)
    val textScans = all.count {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains("documents.parquet")) &&
          f.requiredSchema.fieldNames.contains("text")
      case _ => false
    }
    val cartesians = all.count(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec])
    (textScans, cartesians)
  }

  test("dedup_canonical: at most one corpus text scan per invocation; no cartesian product") {
    val (scans, cart) = scanAudit {
      SparkEntry.queries("dedup_canonical")(spark, sf0001).collect(); ()
    }
    println(s"[scan-audit] dedup_canonical text-scans=$scans cartesians=$cart")
    assert(scans <= 1,
      s"the shingle pass must read the corpus text ONCE (shared materialized " +
        s"sets frame) — counted $scans documents-text scans")
    assert(cart == 0, "no cartesian product anywhere in the dedup pipeline")
  }

  test("flagship v2/v3: bounded corpus text scans; no cartesian product") {
    // Legitimate text scans per invocation (each a column-pruned parquet
    // read — at 100 TB re-reading two pruned columns beats checkpointing
    // corpus-sized text): the shared SHINGLE pass reads the corpus once
    // into its checkpointed (or persisted: the audit walks a cached plan
    // once) sets frame, while reps (consumed by the decon train side AND
    // the clean join), the eval split, and the final join-back each scan
    // text once. A re-derived per-consumer shingle pass adds 2+ direct
    // scans — the tripwire bound is the current count, so any new corpus
    // re-scan fails this test.
    for ((name, bound) <- Seq("train_corpus_prep_v2" -> 5,
        "train_corpus_prep_v3" -> 3)) {
      val (scans, cart) = scanAudit {
        SparkEntry.queries(name)(spark, sf0001).collect(); ()
      }
      println(s"[scan-audit] $name text-scans=$scans cartesians=$cart")
      assert(scans <= bound,
        s"$name: counted $scans documents-text scans (bound $bound) — " +
          "a stage is re-scanning the corpus")
      assert(cart == 0, s"$name: no cartesian product allowed")
    }
  }

  test("flagship v4 steady state: maintained canonical map, no re-dedup scans, no cartesian") {
    // first call warms the maintained-map artifact; the audited call is
    // the STEADY-STATE run a deployment pays — its canonical labels come
    // from the persisted map, so no shingle/candidate/CC work may appear
    SparkEntry.queries("train_corpus_prep_v4")(spark, sf0001).collect()
    val (scans, cart) = scanAudit {
      SparkEntry.queries("train_corpus_prep_v4")(spark, sf0001).collect(); ()
    }
    println(s"[scan-audit] train_corpus_prep_v4(warm) text-scans=$scans cartesians=$cart")
    assert(scans <= 3,
      s"warm v4 counted $scans documents-text scans — the incremental path must not re-dedup")
    assert(cart == 0)
  }

  test("aggregate pushdown: min/max/count answered from parquet footers (DSv2)") {
    val conf = spark.conf
    val pAgg = conf.getOption("spark.sql.parquet.aggregatePushdown")
    val pV1 = conf.getOption("spark.sql.sources.useV1SourceList")
    def restore(key: String, prev: Option[String]): Unit =
      prev match { case Some(v) => conf.set(key, v); case None => conf.unset(key) }
    conf.set("spark.sql.parquet.aggregatePushdown", "true")
    conf.set("spark.sql.sources.useV1SourceList", "")
    try {
      val df = spark.read.parquet(s"$sf0001/lineitem.parquet")
        .agg(min(col("l_orderkey")).as("min_okey"),
          max(col("l_orderkey")).as("max_okey"),
          count(lit(1)).as("n_rows"))
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("PushedAggregation: [MIN(l_orderkey), MAX(l_orderkey), COUNT(*)]"),
        s"aggregate not pushed to the scan:\n${p.take(1500)}")
      // footer-stat answers must equal the data-page (v1, no-pushdown) scan
      val v1 = Tables.load(spark, sf0001, "lineitem")
        .agg(min(col("l_orderkey")), max(col("l_orderkey")), count(lit(1)))
        .collect().head
      assert(df.collect().head.toSeq === v1.toSeq)
    } finally {
      restore("spark.sql.parquet.aggregatePushdown", pAgg)
      restore("spark.sql.sources.useV1SourceList", pV1)
    }
  }

  test("z-ordered layout: exactly one data exchange (the range repartition)") {
    val li = Tables.load(spark, sf0001, "lineitem").select("l_orderkey", "l_partkey", "l_suppkey")
    val df = graft.operators.ZOrder.zOrdered(li, "l_partkey", "l_suppkey")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("rangepartitioning"), p.take(800))
    assert(p.linesIterator.count(_.contains("Exchange")) <= 1,
      "one range exchange only — the clustered-write cost")
  }
}
