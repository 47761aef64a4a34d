package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over operator-produced edge sets (k-NN graphs,
  * dedup-pair graphs): centrality for corpus curation — rank documents
  * by how "central" they are in the similarity graph and sample/weight
  * by importance (the graph-based quality signal used alongside
  * temperature/diversity sampling).
  */
object Graph {

  /** Canonical undirected edge set (u < v, loops dropped, directions
    * merged). */
  private def undirected(edges: DataFrame, srcCol: String,
                         dstCol: String): DataFrame =
    edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()

  /** Symmetric directed edge set (src, dst): both directions of every
    * edge, loops dropped, duplicates merged. */
  private def symmetric(edges: DataFrame, srcCol: String,
                        dstCol: String): DataFrame =
    edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .unionAll(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** Degree-ordered triangle enumeration over a canonical (u < v) edge
    * set: each triangle exactly once as (x, y, z) in ascending
    * (degree, id) order — the [[triangles]] engine, shared with
    * [[kTruss]]'s per-round support counting. */
  private def enumerateTriangles(und: DataFrame): DataFrame = {
    val dg = und.select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    // (degree, id) compared as a struct — lexicographic, exact for any
    // id range and degree (an encoded degree*C+id BIGINT silently breaks
    // the total order for ids >= C or negative ids, and overflows once
    // degree exceeds Long.MaxValue/C — plausible for web-scale hubs)
    def key(d: org.apache.spark.sql.Column, id: org.apache.spark.sql.Column) =
      struct(d, id)
    val o = und
      .join(dg.select(col("id").as("u"), col("degree").as("du")), "u")
      .join(dg.select(col("id").as("v"), col("degree").as("dv")), "v")
      .select(
        when(key(col("du"), col("u")) < key(col("dv"), col("v")), col("u"))
          .otherwise(col("v")).as("lo"),
        when(key(col("du"), col("u")) < key(col("dv"), col("v")), col("v"))
          .otherwise(col("u")).as("hi"))
    val ohi = o.join(dg.select(col("id").as("hi"), col("degree").as("hdeg")), "hi")
      .withColumn("hkey", key(col("hdeg"), col("hi")))
      .select("lo", "hi", "hkey")
    ohi.as("a")
      .join(ohi.as("b"),
        col("a.lo") === col("b.lo") && col("a.hkey") < col("b.hkey"))
      .join(o.as("c"),
        col("c.lo") === col("a.hi") && col("c.hi") === col("b.hi"))
      .select(col("a.lo").as("x"), col("a.hi").as("y"), col("b.hi").as("z"))
  }

  /** TRIANGLE COUNT + local clustering coefficient per node over an
    * edge list (directions ignored) — the graph-cohesion signal: in a
    * near-dup similarity graph, high clustering marks tight duplicate
    * communities, low clustering marks hub/template artifacts.
    *
    * DEGREE-ORDERED ORIENTATION (the MapReduce-classic hub killer):
    * each undirected edge is oriented from its lower-(degree, id)
    * endpoint to the higher one, so every triangle is generated exactly
    * once — as a wedge at its LOWEST-ordered vertex — and the wedge
    * join's per-node fanout is bounded by the ORIENTED out-degree
    * (O(√m) worst case), giving the O(m^1.5) total bound instead of the
    * O(Σ deg²) a naive wedge join pays on a hub. At 100 TB-graph scale
    * this is the difference between the hot key exploding and not
    * existing. Composite (degree, id) ordering compares as a struct —
    * lexicographic, exact for any id range and degree. Four shuffles
    * total: symmetrize +distinct, degree count, wedge self-join on the
    * pivot, closure equi-join. Pure integer arithmetic until the final
    * coefficient (rounded to 6 dp). */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
    val dg = und.select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    val tri = enumerateTriangles(und)
    val tc = tri.select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("tri_count"))
    dg.join(tc, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("tri_count"), lit(0L)).as("tri_count"),
        when(col("degree") > 1,
          round(lit(2.0) * coalesce(col("tri_count"), lit(0L)) /
            (col("degree") * (col("degree") - lit(1.0))), 6))
          .otherwise(lit(0.0)).as("clustering"))
  }

  /** INCREMENTAL triangle/degree maintenance — the graph analog of the
    * canonical-map fold: a batch of arriving edges advances maintained
    * per-node (degree, tri_count) WITHOUT re-enumerating the
    * accumulated graph's triangles. Per batch the cost is
    * O(Δ·avg-degree) — each genuinely-new edge joins the adjacency
    * twice to find its common neighbors — never O(E^1.5) over the
    * whole graph (what a re-run of [[triangles]] pays per batch).
    *
    * Exactly-once per triangle: a triangle gaining k ≥ 1 new edges this
    * batch must increment its three corners exactly once, so each
    * triangle is counted AT ITS HIGHEST-RANKED NEW EDGE (rank = the
    * canonical (u, v) struct, any total order works): a wedge leg
    * qualifies only if it is OLD or a new edge of lower rank. Edges
    * re-delivered across batches (at-least-once upstream) drop in the
    * anti-join against the accumulated edge set — replay is a no-op,
    * the idempotence the streaming pair-log integration needs.
    *
    * Returns (state', edges'): the advanced per-node state
    * (id, degree, tri_count) and the accumulated canonical edge set.
    * Callers copy both out per fold step ([[Blocks.copyOut]]) exactly
    * like the canonical-map fold; [[triangles]]-shaped output
    * (+clustering) is a cheap projection of state'. */
  def incrementalTriangles(prevState: DataFrame, prevEdges: DataFrame,
                           batch: DataFrame, srcCol: String,
                           dstCol: String): (DataFrame, DataFrame) = {
    val (fresh, degDelta, triDelta) =
      triangleDeltas(prevEdges, batch, srcCol, dstCol)
    val state = prevState
      .join(degDelta, Seq("id"), "full_outer")
      .join(triDelta, Seq("id"), "left")
      .select(col("id"),
        (coalesce(col("degree"), lit(0L)) + coalesce(col("dd"), lit(0L)))
          .as("degree"),
        (coalesce(col("tri_count"), lit(0L)) + coalesce(col("dt"), lit(0L)))
          .as("tri_count"))
    (state, prevEdges.unionByName(fresh))
  }

  /** DELTA form of [[incrementalTriangles]] — only the TOUCHED nodes'
    * advanced rows (O(changes) output, for per-epoch delta commits; the
    * full state is a latest-wins read over the delta epochs, exactly
    * the canonical-map contract). A node can gain a triangle without
    * gaining degree — the new edge closes a wedge whose far corner has
    * two OLD legs — so touched = degree-touched ∪ triangle-touched. */
  def incrementalTrianglesDelta(prevState: DataFrame, prevEdges: DataFrame,
                                batch: DataFrame, srcCol: String,
                                dstCol: String): DataFrame = {
    val (_, degDelta, triDelta) =
      triangleDeltas(prevEdges, batch, srcCol, dstCol)
    degDelta.join(triDelta, Seq("id"), "full_outer")
      .join(prevState, Seq("id"), "left")
      .select(col("id"),
        (coalesce(col("degree"), lit(0L)) + coalesce(col("dd"), lit(0L)))
          .as("degree"),
        (coalesce(col("tri_count"), lit(0L)) + coalesce(col("dt"), lit(0L)))
          .as("tri_count"))
  }

  /** Shared delta engine: (fresh canonical edges, per-node degree
    * delta, per-node triangle delta) for a batch against the
    * accumulated edge set. */
  private def triangleDeltas(prevEdges: DataFrame, batch: DataFrame,
                             srcCol: String, dstCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val fresh = undirected(batch, srcCol, dstCol)
      .join(prevEdges, Seq("u", "v"), "left_anti")
    // directed adjacency over old + fresh, each leg carrying its
    // canonical edge's rank and newness for the counting rule
    def adj(e: DataFrame, isNew: Boolean) = {
      val rk = struct(col("u"), col("v"))
      e.select(col("u").as("a"), col("v").as("b"),
        lit(isNew).as("nw"), rk.as("rk"))
        .unionAll(e.select(col("v").as("a"), col("u").as("b"),
          lit(isNew).as("nw"), rk.as("rk")))
    }
    val a = adj(prevEdges, isNew = false).unionAll(adj(fresh, isNew = true))
    val delta = fresh.select(col("u").as("eu"), col("v").as("ev"),
      struct(col("u"), col("v")).as("erk"))
    val tri = delta
      .join(a.as("x"), col("x.a") === col("eu") &&
        (!col("x.nw") || col("x.rk") < col("erk")))
      .select(col("eu"), col("ev"), col("erk"), col("x.b").as("w"),
        col("x.nw").as("xnw"))
      .join(a.as("y"), col("y.a") === col("ev") && col("y.b") === col("w") &&
        (!col("y.nw") || col("y.rk") < col("erk")))
      .select(col("eu"), col("ev"), col("w"))
    val triDelta = tri
      .select(explode(array(col("eu"), col("ev"), col("w"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("dt"))
    val degDelta = fresh
      .select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("dd"))
    (fresh, degDelta, triDelta)
  }

  /** [[triangles]]-shaped read of an [[incrementalTriangles]] state:
    * appends the clustering coefficient projection. */
  def triangleStateView(state: DataFrame): DataFrame =
    state.select(col("id"), col("degree"), col("tri_count"),
      when(col("degree") > 1,
        round(lit(2.0) * col("tri_count") /
          (col("degree") * (col("degree") - lit(1.0))), 6))
        .otherwise(lit(0.0)).as("clustering"))

  /** Distributed PageRank over an edge list — the classic iterative
    * join-aggregate: per round, every edge ships `rank(src)/outDeg(src)`
    * to its destination, destinations sum, and teleport mass tops up.
    * Cost is O(E) shuffle per iteration (the standard cluster PageRank
    * shape — no adjacency collection, no driver-side state beyond the
    * node count); lineage is truncated per round (localCheckpoint) and
    * every intermediate block is released, so repeated runs hold zero
    * residual storage (same hygiene contract as
    * [[Dedup.connectedComponents]]).
    *
    * DETERMINISM: per-edge contributions are rounded to 12 dp and summed
    * as DECIMAL(26,12) — exact in any aggregation order — and each new
    * rank is re-rounded to 12 dp, so every iteration's rank vector is
    * bit-identical across partitionings, retries, and engines (the
    * DuckDB oracle replays the identical arithmetic). Nodes with no
    * in-links keep exactly the teleport mass; dangling mass (nodes with
    * no out-edges) is dropped, the common simplification — out-degrees
    * are positive for every src by construction of an edge list. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int = 5, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, "pageRank: iterations must be >= 1")
    require(damping > 0.0 && damping < 1.0, "pageRank: damping must be in (0,1)")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val outDeg = e.groupBy("src").agg(count(lit(1)).cast("long").as("out_deg"))
    // edges ⋈ out-degree is reused every round — materialize once
    val withDeg = Blocks.copyOut(e.join(outDeg, "src"))
    val nodes = Blocks.copyOut(
      e.select(col("src").as("id")).unionAll(e.select(col("dst").as("id")))
        .distinct())
    // node count to the driver: ONE scalar (metadata-scale, justified —
    // it parameterizes the teleport term of every iteration)
    val n = nodes.count().toDouble
    val teleport = (1.0 - damping) / n
    var ranks = nodes
      .select(col("id"), round(lit(1.0) / lit(n), 12).as("rank"))
      .localCheckpoint(true)
    for (_ <- 1 to iterations) {
      val contrib = withDeg.join(ranks, col("src") === col("id"))
        .select(col("dst"),
          round(col("rank") / col("out_deg").cast("double"), 12)
            .cast("decimal(26,12)").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("in_mass"))
      val next = nodes.join(contrib, col("id") === col("dst"), "left")
        .select(col("id"),
          round(lit(teleport) +
            lit(damping) * coalesce(col("in_mass").cast("double"), lit(0.0)), 12)
            .as("rank"))
        .localCheckpoint(true)
      Blocks.release(ranks)
      ranks = next
    }
    val out = Blocks.copyOut(ranks)
    Blocks.release(ranks)
    out
  }

  /** WEIGHTED PageRank — contributions split by edge weight instead of
    * uniformly (for a k-NN graph: cosine-weighted, so a node's mass
    * flows mostly to its CLOSEST neighbors). Same determinism contract
    * as [[pageRank]], extended to the weights: weights round to
    * DECIMAL(18,6) at ingest, per-source weight totals sum exactly, and
    * each edge's share `rank · (w / Σw)` rounds to 9 dp before the
    * decimal per-destination sum (9, not 12: at scale 12 the two
    * engines' double-rounding paths — exact-BigDecimal vs
    * scaled-multiply — can disagree by 1 ulp on arbitrary products;
    * at 9 the boundary is out of reach). Requires positive weights (a zero
    * total would divide by zero — ranked-similarity edges satisfy
    * this). */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, iterations: Int = 5,
                       damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, "pageRankWeighted: iterations must be >= 1")
    require(damping > 0.0 && damping < 1.0,
      "pageRankWeighted: damping must be in (0,1)")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      round(col(weightCol), 6).cast("decimal(18,6)").as("w"))
    val outW = e.groupBy("src").agg(sum(col("w")).as("sw"))
    val withW = Blocks.copyOut(e.join(outW, "src"))
    val nodes = Blocks.copyOut(
      e.select(col("src").as("id")).unionAll(e.select(col("dst").as("id")))
        .distinct())
    val n = nodes.count().toDouble
    val teleport = (1.0 - damping) / n
    var ranks = nodes
      .select(col("id"), round(lit(1.0) / lit(n), 12).as("rank"))
      .localCheckpoint(true)
    for (_ <- 1 to iterations) {
      val contrib = withW.join(ranks, col("src") === col("id"))
        .select(col("dst"),
          round(col("rank") *
            (col("w").cast("double") / col("sw").cast("double")), 9)
            .cast("decimal(26,9)").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("in_mass"))
      val next = nodes.join(contrib, col("id") === col("dst"), "left")
        .select(col("id"),
          round(lit(teleport) +
            lit(damping) * coalesce(col("in_mass").cast("double"), lit(0.0)), 12)
            .as("rank"))
        .localCheckpoint(true)
      Blocks.release(ranks)
      ranks = next
    }
    val out = Blocks.copyOut(ranks)
    Blocks.release(ranks)
    out
  }

  /** SYNCHRONOUS LABEL PROPAGATION communities over an edge list (the
    * k-NN / near-dup graph): every node starts as its own community and
    * per round adopts the most frequent label among its neighbors —
    * the classic near-linear community detector (Raghavan et al. 2007),
    * used in corpus curation to group topically-coherent documents
    * beyond the near-dup clusters CC finds.
    *
    * DETERMINISTIC by construction: the update is synchronous (all nodes
    * flip on the same frozen label vector — no traversal-order
    * dependence) and the argmax tie-break is total (max count, then MIN
    * label), so the label vector after any fixed round count is a pure
    * function of the edge set and both engines replay it exactly (the
    * oracle unrolls the rounds as CTEs; all arithmetic is integer).
    * Synchronous LPA can 2-cycle on bipartite-ish structures, so the
    * contract is a FIXED round count, not convergence.
    *
    * Scale shape: per round one O(E) join of the frozen labels onto the
    * edges + one (dst, label) count + one per-dst argmax — all
    * key-partitioned shuffles, no driver state, no adjacency lists;
    * lineage truncated per round, zero residual blocks (the
    * [[pageRank]] hygiene contract). The input is symmetrized and
    * de-duplicated here — callers pass directed edges. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iterations: Int = 5): DataFrame = {
    require(iterations >= 1, "labelPropagation: iterations must be >= 1")
    val e = Blocks.copyOut(symmetric(edges, srcCol, dstCol))
    val nodes = Blocks.copyOut(e.select(col("src").as("id")).distinct())
    var labels = nodes.select(col("id"), col("id").as("label"))
      .localCheckpoint(true)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("dst").orderBy(col("cnt").desc, col("label").asc)
    for (_ <- 1 to iterations) {
      val best = e.join(labels, col("src") === col("id"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("dst").as("id"), col("label").as("new_label"))
      val next = labels.drop("label").join(
          best.withColumnRenamed("new_label", "label"), Seq("id"), "inner")
        .localCheckpoint(true)
      Blocks.release(labels)
      labels = next
    }
    val out = Blocks.copyOut(labels.select(col("id"), col("label").as("community")))
    Blocks.release(labels)
    out
  }

  /** PERSONALIZED PAGERANK: the teleport mass restarts at a SEED SET
    * instead of uniformly — the seed-relevance propagation primitive
    * ("how close is every document to these curated seeds, weighted by
    * all paths"), the smooth complement to [[bfsHops]]' hard hop
    * horizon, and the standard graph-based data-selection scorer.
    * Identical iteration shape and determinism contract as
    * [[pageRank]]: per round one O(E) contribution join + one node-set
    * left join; 12-dp rounding with DECIMAL(26,12) mass sums makes
    * every rank vector bit-identical across partitionings and engines.
    * Non-seed nodes get rank ONLY through link mass, so unreachable
    * nodes hold exactly 0 — rank concentrates around the seeds. */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedIdCol: String,
                           iterations: Int = 5,
                           damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, "personalizedPageRank: iterations must be >= 1")
    require(damping > 0.0 && damping < 1.0,
      "personalizedPageRank: damping must be in (0,1)")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val outDeg = e.groupBy("src").agg(count(lit(1)).cast("long").as("out_deg"))
    val withDeg = Blocks.copyOut(e.join(outDeg, "src"))
    val seedSet = Blocks.copyOut(
      seeds.select(col(seedIdCol).as("id")).distinct())
    val nodes = Blocks.copyOut(
      e.select(col("src").as("id")).unionAll(e.select(col("dst").as("id")))
        .unionAll(seedSet.select(col("id")))
        .distinct())
    val nSeeds = seedSet.count().toDouble
    require(nSeeds > 0, "personalizedPageRank: seed set is empty")
    val restart = (1.0 - damping) / nSeeds
    val withSeed = Blocks.copyOut(
      nodes.join(seedSet.withColumn("__s", lit(true)), Seq("id"), "left")
        .select(col("id"),
          when(col("__s"), lit(restart)).otherwise(lit(0.0)).as("tele")))
    var ranks = withSeed
      .select(col("id"),
        round(when(col("tele") > 0, lit(1.0) / lit(nSeeds)).otherwise(lit(0.0)),
          12).as("rank"))
      .localCheckpoint(true)
    for (_ <- 1 to iterations) {
      val contrib = withDeg.join(ranks, col("src") === col("id"))
        .select(col("dst"),
          round(col("rank") / col("out_deg").cast("double"), 12)
            .cast("decimal(26,12)").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("in_mass"))
      val next = withSeed.join(contrib, col("id") === col("dst"), "left")
        .select(col("id"),
          round(col("tele") +
            lit(damping) * coalesce(col("in_mass").cast("double"), lit(0.0)), 12)
            .as("rank"))
        .localCheckpoint(true)
      Blocks.release(ranks)
      ranks = next
    }
    val out = Blocks.copyOut(ranks)
    Blocks.release(ranks)
    out
  }

  /** BOUNDED-HORIZON BFS: minimum hop distance from a SEED SET to every
    * node reachable within `maxDepth` hops (directions ignored) — the
    * neighborhood-expansion primitive: "every document within h hops of
    * these curated seeds" is the graph form of seed-based data
    * selection, and hop histograms around known-good/known-bad seeds
    * are a standard corpus-audit signal. Classic frontier iteration:
    * per level, ONE equi-join of the frontier against the edges plus an
    * anti-join against the settled set — O(frontier edges) per level,
    * `maxDepth` shuffles total, no driver-side adjacency. Early-exits
    * when the frontier empties (component exhausted). The horizon is a
    * CONTRACT, not a truncation: output is exactly the nodes at
    * distance ≤ maxDepth, each with its true minimum hop count —
    * deterministic for any graph. Lineage truncated per level, zero
    * residual blocks. */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              sources: DataFrame, sourceIdCol: String,
              maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, "bfsHops: maxDepth must be >= 0")
    val e = Blocks.copyOut(symmetric(edges, srcCol, dstCol))
    // loop state is localCheckpoint-backed (memory blocks, freed per
    // level) like the pageRank ranks vector; only the FINAL dist set is
    // copied out to disk — per-level reliable checkpoints would write
    // O(levels x settled) rows of checkpoint I/O for no recovery benefit
    var dist = sources.select(col(sourceIdCol).as("id")).distinct()
      .withColumn("dist", lit(0L))
      .localCheckpoint(true)
    var frontier = dist.select("id")
    var depth = 0
    var frontierEmpty = frontier.isEmpty
    while (!frontierEmpty && depth < maxDepth) {
      depth += 1
      val next = frontier.join(e, col("id") === col("src"))
        .select(col("dst").as("id")).distinct()
        .join(dist.select("id"), Seq("id"), "left_anti")
        .withColumn("dist", lit(depth.toLong))
      val newDist = dist.unionByName(next).localCheckpoint(true)
      Blocks.release(dist)
      dist = newDist
      frontier = dist.filter(col("dist") === depth).select("id")
      frontierEmpty = frontier.isEmpty
    }
    val out = Blocks.copyOut(dist)
    Blocks.release(dist)
    out
  }

  /** K-TRUSS: the maximal subgraph where every EDGE sits in ≥ k−2
    * triangles — the edge-granular cohesion filter one level stronger
    * than [[kCore]] (a k-truss is always inside the (k−1)-core, but
    * additionally demands that each RELATION is triangle-reinforced;
    * in a near-dup graph the 3-truss is exactly the edges with mutual
    * corroboration, stripping spurious pairwise matches that survive
    * node-level filters). Synchronous peel: per round, triangles are
    * re-enumerated via the degree-ordered wedge join
    * ([[enumerateTriangles]] — the O(m^1.5) bound applies per round),
    * per-edge support counted, and edges below k−2 dropped; monotone,
    * so a round that drops nothing is final. FAIL-LOUD if not stable
    * within `maxRounds` (a truncated peel over-reports). Returns the
    * surviving canonical edges with their final support. */
  def kTruss(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
             maxRounds: Int = 20): DataFrame = {
    require(k >= 3, "kTruss: k must be >= 3 (k-2 triangles per edge)")
    var e: DataFrame = Blocks.copyOut(undirected(edges, srcCol, dstCol))
    var nEdges = e.count()
    var rounds = 0
    var stable = false
    while (!stable && rounds < maxRounds) {
      val tri = enumerateTriangles(e.select("u", "v"))
      val sup = tri.select(
          array(col("x"), col("y")).as("pr"))
        .unionAll(tri.select(array(col("x"), col("z")).as("pr")))
        .unionAll(tri.select(array(col("y"), col("z")).as("pr")))
        .select(least(col("pr")(0), col("pr")(1)).as("u"),
          greatest(col("pr")(0), col("pr")(1)).as("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("support"))
      val kept = Blocks.copyOut(
        e.select("u", "v").join(sup, Seq("u", "v"))
          .filter(col("support") >= k - 2))
      val nNext = kept.count()
      e = kept
      stable = nNext == nEdges
      nEdges = nNext
      rounds += 1
    }
    require(stable,
      s"kTruss(k=$k): peel not stable after $maxRounds rounds — raise " +
        "maxRounds; truncating would over-report the truss")
    e
  }

  /** K-CORE: the maximal subgraph where every node keeps degree ≥ k
    * (directions ignored) — the density filter of the graph-analytics
    * suite: in a similarity graph the k-core isolates genuinely dense
    * duplicate/topic communities that survive after peeling hub-touched
    * fringe. Synchronous peeling: each round drops every node whose
    * CURRENT degree is < k, then removes edges touching dropped nodes;
    * monotone, so once a round removes nothing the core is final.
    * Per round: one degree aggregate + one semi-join on each endpoint —
    * O(E) shuffle per round, O(peeling depth) rounds (≤ max degree, in
    * practice a handful); lineage truncated per round, zero residual
    * blocks (the [[pageRank]] hygiene contract). FAIL-LOUD if the core
    * is not stable within `maxRounds` — a truncated peel would silently
    * over-report the core. Returns (id, core_degree) for core members. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxRounds: Int = 20): DataFrame = {
    require(k >= 1, "kCore: k must be >= 1")
    var e = Blocks.copyOut(symmetric(edges, srcCol, dstCol))
    var nEdges = e.count()
    var rounds = 0
    var stable = false
    while (!stable && rounds < maxRounds) {
      val alive = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("id")
      val kept = e
        .join(alive.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(alive.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst")
      val next = Blocks.copyOut(kept)
      val nNext = next.count()
      e = next
      stable = nNext == nEdges
      nEdges = nNext
      rounds += 1
    }
    require(stable,
      s"kCore(k=$k): peel not stable after $maxRounds rounds — raise " +
        "maxRounds; truncating would over-report the core")
    Blocks.copyOut(
      e.groupBy(col("src").as("id")).agg(count(lit(1)).as("core_degree")))
  }

  /** DETERMINISTIC RANDOM WALKS over a ranked edge list (e.g. the k-NN
    * graph, whose edges carry `rank` 1..k) — the positive-pair sampler
    * of graph-based embedding training (DeepWalk/node2vec shape). Each
    * node starts one walk; at step s the walk at node v follows the
    * neighbor whose rank is `1 + (v·7919 + s·104729) mod deg(v)` — a
    * HASH-derived choice, so walks are reproducible across runs,
    * partitionings, and engines (no RNG state to ship), yet mix across
    * ranks like a uniform pick. Each step is ONE equi-join of the
    * frontier against the ranked edges on (node, rank) — O(walks) rows
    * per step, `steps` shuffles total, no collect, no adjacency in
    * driver memory. */
  def randomWalks(rankedEdges: DataFrame, srcCol: String, dstCol: String,
                  rankCol: String, steps: Int): DataFrame = {
    require(steps >= 1, "randomWalks: steps must be >= 1")
    val e = rankedEdges.select(col(srcCol).as("e_src"),
      col(dstCol).as("e_dst"), col(rankCol).cast("long").as("e_rank"))
    val deg = e.groupBy("e_src").agg(count(lit(1)).as("e_deg"))
    val edges = Blocks.copyOut(e.join(deg, "e_src"))
    var frontier = edges.select(col("e_src").as("walk_id"))
      .distinct().withColumn("node", col("walk_id"))
    var path = frontier.withColumn("step", lit(0))
    for (s <- 1 to steps) {
      val pick = lit(1) + pmod(col("node") * lit(7919L) + lit(s.toLong) * lit(104729L),
        col("e_deg"))
      frontier = frontier
        .join(edges, col("node") === col("e_src"))
        .filter(col("e_rank") === pick)
        .select(col("walk_id"), col("e_dst").as("node"))
      path = path.unionByName(frontier.withColumn("step", lit(s)))
    }
    Blocks.copyOut(path.select(col("walk_id"), col("step"), col("node")))
  }
}
