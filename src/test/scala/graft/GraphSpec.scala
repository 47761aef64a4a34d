package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._

/** PageRank: fixed points on known graphs, mass conservation, importance
  * ordering, bit-determinism across partitionings, and the zero-residual
  * block-hygiene contract shared with connectedComponents. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def edges(rows: (Long, Long)*) = rows.toDF("src", "dst")

  private def ranks(e: org.apache.spark.sql.DataFrame,
                    iters: Int = 5): Map[Long, Double] =
    Graph.pageRank(e, "src", "dst", iterations = iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("two-node cycle is the symmetric fixed point") {
    val r = ranks(edges(1L -> 2L, 2L -> 1L), iters = 10)
    assert(r == Map(1L -> 0.5, 2L -> 0.5))
  }

  test("star graph: the hub outranks the spokes, mass is conserved") {
    // 3 spokes -> hub, hub -> all spokes (no dangling nodes)
    val e = edges(1L -> 99L, 2L -> 99L, 3L -> 99L,
      99L -> 1L, 99L -> 2L, 99L -> 3L)
    val r = ranks(e, iters = 20)
    assert(r(99L) > r(1L) && r(1L) == r(2L) && r(2L) == r(3L))
    // no dangling nodes -> total mass stays 1 (up to the 12-dp rounding)
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
  }

  test("rank vector is bit-identical across shuffle partitionings") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .limit(60).select(col("vec_id").as("src"),
        (col("vec_id") * 7 % 60).as("dst"))
      .filter(col("src") =!= col("dst"))
    val a = ranks(e)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "11")
      assert(ranks(e) == a) // exact equality, not tolerance
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("weighted pageRank: equal weights agree with uniform; heavy edges attract mass") {
    import graft.operators.Graph
    val eq = Seq((1L, 2L, 1.0), (2L, 1L, 1.0), (1L, 3L, 1.0), (3L, 1L, 1.0))
      .toDF("src", "dst", "w")
    val uw = Graph.pageRank(eq.select("src", "dst"), "src", "dst", iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val wt = Graph.pageRankWeighted(eq, "src", "dst", "w", iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // identical structure, shares rounded at different scales (12 vs 9)
    for ((k, v) <- uw) assert(math.abs(wt(k) - v) < 1e-7, s"node $k: ${wt(k)} vs $v")
    // 1 sends 90% of its mass to 2: rank(2) must beat rank(3)
    val skewed = Seq((1L, 2L, 0.9), (1L, 3L, 0.1), (2L, 1L, 1.0), (3L, 1L, 1.0))
      .toDF("src", "dst", "w")
    val r = Graph.pageRankWeighted(skewed, "src", "dst", "w", iterations = 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(2L) > r(3L))
  }

  test("randomWalks: walks follow edges, terminate at sinks, and are deterministic") {
    // ranked edges: 1→{2,3}, 2→{3}, 3 is a sink
    val e = Seq((1L, 2L, 1), (1L, 3L, 2), (2L, 3L, 1)).toDF("src", "dst", "rank")
    val out = Graph.randomWalks(e, "src", "dst", "rank", steps = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // step 0 = every src node (1 and 2); walks from both reach sink 3 and stop
    assert(out.filter(_._2 == 0).map(_._1) == Set(1L, 2L))
    // every step-s>0 row is an edge from the walk's step-(s-1) node
    val edges = Set((1L, 2L), (1L, 3L), (2L, 3L))
    for ((w, s, n) <- out if s > 0) {
      val prev = out.find(r => r._1 == w && r._2 == s - 1).get._3
      assert(edges.contains((prev, n)), s"walk $w step $s: $prev -> $n not an edge")
    }
    // sink termination: no walk continues past node 3
    assert(!out.exists(r => r._2 > 0 && out.exists(p =>
      p._1 == r._1 && p._2 == r._2 - 1 && p._3 == 3L)))
    // hash-directed choice is reproducible bit-for-bit
    val again = Graph.randomWalks(e, "src", "dst", "rank", steps = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(again == out)
  }

  test("labelPropagation: disconnected cliques each converge to their min label") {
    // two triangles, no bridge: every node adopts its triangle's min id
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L,
      10L -> 11L, 11L -> 12L, 12L -> 10L)
    val out = Graph.labelPropagation(e, "src", "dst", iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("labelPropagation input is symmetrized: directed edges act undirected") {
    // 1→2→3→1 directed cycle must behave like the undirected triangle
    val directed = Graph.labelPropagation(edges(1L -> 2L, 2L -> 3L, 3L -> 1L),
      "src", "dst", iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(directed == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("labelPropagation is bit-identical across shuffle partitionings") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .limit(60).select(col("vec_id").as("src"),
        (col("vec_id") * 7 % 60).as("dst"))
      .filter(col("src") =!= col("dst"))
    def run(): Map[Long, Long] =
      Graph.labelPropagation(e, "src", "dst", iterations = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = run()
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "11")
      assert(run() == a)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("labelPropagation holds zero residual storage after returning") {
    val out = Graph.labelPropagation(edges(1L -> 2L, 2L -> 3L), "src", "dst",
      iterations = 3)
    out.count()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked blocks: ${spark.sparkContext.getPersistentRDDs.keys}")
  }

  test("pageRank holds zero residual storage after returning") {
    val out = Graph.pageRank(edges(1L -> 2L, 2L -> 3L, 3L -> 1L), "src", "dst")
    out.count()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked blocks: ${spark.sparkContext.getPersistentRDDs.keys}")
  }

  test("triangles: K4-minus-an-edge counts and coefficients, direction-blind") {
    // K4 on {1,2,3,4} without edge (1,4): triangles {1,2,3} and {2,3,4}.
    // Edges deliberately mixed-direction + a duplicate reverse edge.
    val e = edges(1L -> 2L, 3L -> 1L, 2L -> 3L, 3L -> 2L, 2L -> 4L, 4L -> 3L)
    val t = Graph.triangles(e, "src", "dst")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(t(1L) === ((2L, 1L, 1.0)))  // deg 2, one triangle, coeff 1
    assert(t(4L) === ((2L, 1L, 1.0)))
    assert(t(2L) === ((3L, 2L, 0.666667)))  // deg 3, two triangles, 4/6 @6dp
    assert(t(3L) === ((3L, 2L, 0.666667)))
  }

  test("incrementalTriangles: fold equals one-shot; cross-epoch triangles count once; replay no-ops") {
    import org.apache.spark.sql.DataFrame
    // K4 on {1,2,3,4} + a pendant 4-5: 4 triangles total. Delivered as
    // three epochs that SPLIT every triangle across epochs, plus one
    // re-delivered epoch (at-least-once) that must change nothing.
    val ep1 = edges(1L -> 2L, 3L -> 4L)
    val ep2 = edges(2L -> 3L, 4L -> 1L)           // mixed direction
    val ep3 = edges(1L -> 3L, 2L -> 4L, 4L -> 5L) // closes all 4 triangles
    val all = ep1.unionByName(ep2).unionByName(ep3)
    // accumulated-edge seed carries the canonical (u, v) shape
    val empty = all.limit(0).select(col("src").as("u"), col("dst").as("v"))
    val emptyState = all.select(col("src").as("id"))
      .withColumn("degree", lit(0L)).withColumn("tri_count", lit(0L)).limit(0)
    def fold(batches: Seq[DataFrame]): DataFrame =
      Graph.triangleStateView(
        batches.foldLeft((emptyState, empty)) { case ((st, ed), b) =>
          Graph.incrementalTriangles(st, ed, b, "src", "dst")
        }._1)
    def toMap(df: DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val oneShot = toMap(Graph.triangles(all, "src", "dst")
      .select("id", "degree", "tri_count"))
    val folded = toMap(fold(Seq(ep1, ep2, ep3)).select("id", "degree", "tri_count"))
    assert(folded === oneShot)
    // every K4 node sits in C(3,2)=3 triangles; the pendant in none
    assert(folded(1L) === ((3L, 3L)) && folded(5L) === ((1L, 0L)))
    assert(folded(4L) === ((4L, 3L))) // K4 degree 3 + the pendant edge
    // replayed epoch (and a reversed-direction duplicate) → no-op
    val replayed = toMap(fold(Seq(ep1, ep2, ep3, ep2,
      ep1.select(col("dst").as("src"), col("src").as("dst"))))
      .select("id", "degree", "tri_count"))
    assert(replayed === oneShot)
    // batching-independence: one batch, and per-edge batches
    assert(toMap(fold(Seq(all)).select("id", "degree", "tri_count")) === oneShot)
    val perEdge = Seq(1L -> 2L, 3L -> 4L, 2L -> 3L, 4L -> 1L, 1L -> 3L,
      2L -> 4L, 4L -> 5L).map(p => edges(p))
    assert(toMap(fold(perEdge).select("id", "degree", "tri_count")) === oneShot)
  }

  test("kCore: pendant chain peels away, the cycle survives with core degrees") {
    // triangle {1,2,3} with a pendant chain 3-4-5: the chain peels in
    // two cascading rounds, the triangle is the 2-core
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L, 4L -> 5L)
    val core = Graph.kCore(e, "src", "dst", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked blocks: ${spark.sparkContext.getPersistentRDDs.keys}")
  }

  test("pageRank runs at most 33 jobs to its whole result") {
    // copyOut's former two-step path (local, then reliable checkpoint) ran 35 here
    val e = edges(1L -> 99L, 2L -> 99L, 3L -> 99L, 99L -> 1L, 99L -> 2L, 99L -> 3L)
    val n = jobsIn(toResult(Graph.pageRank(e, "src", "dst")))
    info(s"pageRank: $n jobs")
    assert(n <= 33, s"pageRank ran $n jobs")
  }

  test("kCore runs at most 22 jobs to its whole result") {
    // copyOut's former two-step path (local, then reliable checkpoint) ran 26 here
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L, 4L -> 5L)
    val n = jobsIn(toResult(Graph.kCore(e, "src", "dst", k = 2)))
    info(s"kCore: $n jobs")
    assert(n <= 22, s"kCore ran $n jobs")
  }

  test("kCore: empty core and fail-loud on insufficient rounds") {
    // pure chain: 2-core is empty (converges to zero edges)
    assert(Graph.kCore(edges(1L -> 2L, 2L -> 3L, 3L -> 4L), "src", "dst",
      k = 2).count() === 0L)
    // a 6-chain needs 3 cascading rounds; maxRounds = 1 must refuse
    intercept[IllegalArgumentException] {
      Graph.kCore(edges(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 6L),
        "src", "dst", k = 2, maxRounds = 1).count()
    }
  }

  test("kTruss: supports on K4-minus-an-edge; chains dissolve; cascade peels") {
    // K4 \ (1,4): shared edge (2,3) sits in both triangles → support 2
    val e = edges(1L -> 2L, 1L -> 3L, 2L -> 3L, 2L -> 4L, 3L -> 4L)
    val t = Graph.kTruss(e, "src", "dst", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(t === Map((1L, 2L) -> 1L, (1L, 3L) -> 1L, (2L, 3L) -> 2L,
      (2L, 4L) -> 1L, (3L, 4L) -> 1L))
    // a pure chain has no triangles: 3-truss empty
    assert(Graph.kTruss(edges(1L -> 2L, 2L -> 3L), "src", "dst", k = 3)
      .count() === 0L)
    // cascade: two triangles sharing edge (2,3) plus a pendant triangle
    // edge — k=4 (support >= 2) keeps only the shared edge's first
    // round survivors... which then lose their triangles → empty
    assert(Graph.kTruss(e, "src", "dst", k = 4).count() === 0L)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked blocks: ${spark.sparkContext.getPersistentRDDs.keys}")
  }

  test("bfsHops: min distances, horizon cutoff, unreached excluded") {
    import spark.implicits._
    // path 1-2-3-4-5 plus shortcut 1-3; component {8,9} unreachable
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 1L -> 3L, 8L -> 9L)
    val seeds = Seq(1L).toDF("id")
    val d = Graph.bfsHops(e, "src", "dst", seeds, "id", maxDepth = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 3 via the shortcut is 1 hop, 4 is 2; 5 is beyond the horizon
    assert(d === Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
    // horizon larger than the component: early-exits, full distances
    val full = Graph.bfsHops(e, "src", "dst", seeds, "id", maxDepth = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full === Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked blocks: ${spark.sparkContext.getPersistentRDDs.keys}")
  }

  test("personalizedPageRank: mass stays near seeds; all-seeds == uniform PR") {
    import spark.implicits._
    // two components: chain 1→2→3, pair {8,9}; seed only node 1
    val e = edges(1L -> 2L, 2L -> 3L, 8L -> 9L, 9L -> 8L)
    val ppr = Graph.personalizedPageRank(e, "src", "dst",
      Seq(1L).toDF("id"), "id").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ppr(8L) === 0.0 && ppr(9L) === 0.0, "unreachable nodes hold zero")
    assert(ppr(1L) > ppr(2L) && ppr(2L) > ppr(3L),
      s"mass must decay along the chain away from the seed: $ppr")
    // seeding EVERY node degenerates to the uniform teleport — must
    // equal plain pageRank bit-for-bit (same rounding discipline)
    val all = Seq(1L, 2L, 3L, 8L, 9L).toDF("id")
    val uni = Graph.pageRank(e, "src", "dst").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val prs = Graph.personalizedPageRank(e, "src", "dst", all, "id").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(prs === uni)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked blocks: ${spark.sparkContext.getPersistentRDDs.keys}")
  }

  test("triangles: triangle-free star has zero triangles everywhere") {
    val t = Graph.triangles(edges(1L -> 2L, 1L -> 3L, 1L -> 4L), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(t === Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
  }
}
