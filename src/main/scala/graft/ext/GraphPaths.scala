package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize

/** Breadth-first reachability profiling — "how far is the graph from its
  * busiest hub?": BFS levels from a deterministic seed (the max-degree node,
  * ties by min id) up to a depth cap, reported as a level histogram. The
  * cheap structural fingerprint that catches a co-purchase graph fragmenting
  * (level-0 component shrinks) or collapsing into a hairball (everything at
  * level ≤ 2) between corpus drops.
  *
  * Scale shape: classic distributed frontier expansion — each round is ONE
  * equi-join of the (checkpointed) edge list against the previous frontier
  * plus an anti-join against the visited set, so round r touches only the
  * distance-r frontier; rounds are bounded by `maxDepth`. The visited set is
  * checkpointed per round (the [[Dedup.dupClustersWithStats]] discipline —
  * without it every round would re-run the whole upstream edge pipeline).
  * First discovery IS the minimum distance (BFS invariant), which is exactly
  * the `MIN(d)` the DuckDB recursive-CTE oracle states.
  */
object GraphPaths {

  /** BFS level histogram from the (max-degree, min-id) seed node.
    * Output: (level, n_nodes), level 0 = the seed, rows only for reached
    * levels ≤ maxDepth.
    */
  def bfsLevels(edges: DataFrame, srcCol: String, dstCol: String,
                maxDepth: Int = 10): DataFrame = {
    require(maxDepth >= 1, s"maxDepth ($maxDepth) must be >= 1")
    val e = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    // joined once per BFS round; the union's branches prune to the same
    // columns, so the distinct's exchange is reused across them inside this
    // one materialization job (a pre-union checkpoint measured slower, r16)
    val both = Materialize(e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))).df
    val seed = both.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("node"))
      .limit(1)
    var levels = Materialize(seed.select(col("node").as("id"), lit(0).as("level")))
    var d = 1
    var grew = true
    while (grew && d <= maxDepth) {
      val frontier = levels.df.filter(col("level") === d - 1)
        .select(col("id").as("u"))
      val next = both.join(frontier, Seq("u"))
        .select(col("v").as("id")).distinct()
        .join(levels.df, Seq("id"), "left_anti")
        .select(col("id"), lit(d).as("level"))
      val grown = Materialize(levels.df.union(next))
      grew = grown.rows > levels.rows
      levels = grown
      d += 1
    }
    levels.df.groupBy(col("level")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("level"))
  }

  /** Harmonic centrality of the `nSeeds` smallest node ids, truncated at
    * `maxDepth` hops (Boldi & Vigna, Internet Math 2014: H(s) =
    * Σ_{v≠s} 1/d(s,v), the centrality that handles disconnected graphs
    * where closeness breaks): one SIMULTANEOUS multi-source BFS — frontier
    * state is (seed, node, dist), each round one join against the
    * checkpointed symmetric edge list and one EXCEPT against visited — so
    * k seeds cost the same O(maxDepth) fixed-size plans as one. Truncation
    * is the standard large-graph practice (hops beyond a few contribute
    * ≤ 1/d each and the frontier saturates).
    *
    * Output per seed asc: (seed, n_d1, n_d2, n_d3, harmonic) with
    * harmonic = n_d1 + n_d2/2 + n_d3/3 (one fixed double formula over
    * integer counts — engine-exact). maxDepth is fixed at 3 here so the
    * oracle unrolls the rounds; generalize by adding rounds.
    */
  def harmonicCentrality(edges: DataFrame, srcCol: String, dstCol: String,
                         nSeeds: Int = 5): DataFrame = {
    require(nSeeds >= 1, s"nSeeds ($nSeeds) must be >= 1")
    val e = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    // joined once per BFS round; the union's branches prune to the same
    // columns, so the distinct's exchange is reused across them inside this
    // one materialization job (a pre-union checkpoint measured slower, r16)
    val both = Materialize(e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))).df
    val seeds = both.select(col("u").as("node")).distinct()
      .orderBy(col("node")).limit(nSeeds)
    var levels = Materialize(seeds
      .select(col("node").as("seed"), col("node").as("id"),
        lit(0).as("dist"))).df
    (1 to 3).foreach { d =>
      val frontier = levels.filter(col("dist") === d - 1)
        .select(col("seed"), col("id").as("u"))
      val next = both.join(frontier, Seq("u"))
        .select(col("seed"), col("v").as("id")).distinct()
        .join(levels.select(col("seed"), col("id")), Seq("seed", "id"),
          "left_anti")
        .select(col("seed"), col("id"), lit(d).as("dist"))
      levels = Materialize(levels.union(next)).df
    }
    levels.filter(col("dist") > 0)
      .groupBy(col("seed"))
      .agg(sum(when(col("dist") === 1, 1L).otherwise(0L)).as("n_d1"),
        sum(when(col("dist") === 2, 1L).otherwise(0L)).as("n_d2"),
        sum(when(col("dist") === 3, 1L).otherwise(0L)).as("n_d3"))
      .select(col("seed"), col("n_d1"), col("n_d2"), col("n_d3"),
        (col("n_d1").cast("double") + col("n_d2").cast("double") / 2.0 +
          col("n_d3").cast("double") / 3.0).as("harmonic"))
  }

  /** Percolation / attack-tolerance audit (Albert, Jeong & Barabási, Nature
    * 2000): how much of the graph's connectivity survives removing the
    * top-k hub nodes? Scale-free graphs are famously robust to random
    * failure but fragile to TARGETED hub removal — the number that matters
    * when the "hubs" are a platform's whale items or super-connectors.
    * Reports, per scenario (intact vs hubs-removed): node/edge counts, the
    * largest connected component, and its share of surviving nodes.
    *
    * Components come from [[Dedup.dupClusters]] (pointer-jumping min-label
    * propagation — O(log n) rounds); hubs are a `TakeOrderedAndProject`
    * top-k on the degree table, removed via two broadcast anti-joins on the
    * edge list. All counts integer.
    *
    * Output per scenario asc: (scenario, n_nodes, n_edges, largest_cc,
    * largest_cc_share).
    */
  def percolationAudit(edges: DataFrame, srcCol: String, dstCol: String,
                       topKHubs: Int): DataFrame = {
    require(topKHubs >= 1, s"topKHubs ($topKHubs) must be >= 1")
    // the edge list feeds the degree table, both anti-joins, and two CC
    // passes — checkpoint once so the upstream pipeline runs once
    val e = Materialize(edges.select(col(srcCol).as("id_a"), col(dstCol).as("id_b"))).df
    val deg = e.select(col("id_a").as("node"))
      .union(e.select(col("id_b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val hubs = deg.orderBy(col("deg").desc, col("node")).limit(topKHubs)
      .select(col("node"))
    val attacked = e
      .join(broadcast(hubs.select(col("node").as("id_a"))), Seq("id_a"),
        "left_anti")
      .join(broadcast(hubs.select(col("node").as("id_b"))), Seq("id_b"),
        "left_anti")
    def ccStats(label: String, pairs: DataFrame): DataFrame = {
      val labels = Dedup.dupClusters(pairs)
      val sizes = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      labels.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(pairs.agg(count(lit(1)).as("n_edges")))
        .crossJoin(sizes.agg(max(col("sz")).as("largest_cc")))
        .select(lit(label).as("scenario"), col("n_nodes"), col("n_edges"),
          col("largest_cc"),
          (col("largest_cc").cast("double") / col("n_nodes"))
            .as("largest_cc_share"))
    }
    ccStats("attacked", attacked).unionByName(ccStats("intact", e))
      .orderBy(col("scenario"))
  }

  /** Weighted single-source shortest paths by `rounds` Bellman-Ford
    * relaxation sweeps from the (max-degree, min-id) seed — the weighted
    * sibling of [[bfsLevels]] (hop counts lie when edges carry costs:
    * latency, inverse affinity, toll). After r sweeps dist(v) is exactly
    * the cheapest ≤ r-edge path cost — a monotone upper bound converging
    * to the true distance; unreached nodes are absent.
    *
    * Input edges are undirected (any orientation) with an integer weight;
    * parallel edges collapse to their MINIMUM weight, so distances stay
    * all-integer and both engines agree exactly.
    *
    * Scale shape: per sweep, one equi-join of the checkpointed symmetric
    * edge list against the current distance table and one min-merge
    * aggregate — the frontier-free form (no visited set needed: min-merge
    * is idempotent), 2 jobs per sweep.
    *
    * Output: (node, dist) for every node reached within `rounds` sweeps,
    * node ascending.
    */
  def ssspWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                   weightCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 10, s"rounds must be 1..10, got $rounds")
    val e = edges.select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"),
        col(weightCol).cast("long").as("w"))
      .filter(col("a") =!= col("b") && col("w") >= 0)
      .groupBy(col("a"), col("b")).agg(min(col("w")).as("w"))
    val both = Materialize(e.select(col("a").as("u"), col("b").as("v"), col("w"))
      .union(e.select(col("b").as("u"), col("a").as("v"), col("w")))).df
    val seed = both.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("node"))
      .limit(1)
    var dist = Materialize(seed.select(col("node").as("id"), lit(0L).as("d"))).df
    for (_ <- 1 to rounds) {
      val relaxed = both
        .join(dist.select(col("id").as("u"), col("d").as("du")), Seq("u"))
        .select(col("v").as("id"), (col("du") + col("w")).as("d"))
      dist = Materialize(dist.unionByName(relaxed)
        .groupBy(col("id")).agg(min(col("d")).as("d"))).df
    }
    dist.select(col("id").as("node"), col("d").as("dist"))
      .orderBy(col("node"))
  }
}
