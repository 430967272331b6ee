package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize

/** HyperANF (Boldi, Rosa & Vigna, WWW'11): the neighborhood function
  * N(t) = Σ_v |B(v,t)| — how many (node, reachable-node) pairs exist within
  * t hops — computed with ONE HLL register set per node instead of one
  * reachable SET per node. The recurrence is pure register algebra:
  * B(v,t) = {v} ∪ ⋃_{(v,u)∈E} B(u,t−1), and because an HLL register is a
  * MAX, the union is max-merging the neighbor registers — the insight that
  * turns all-pairs reachability (quadratic state, the exact-BFS shape that
  * cannot scale) into t rounds of an edge join over O(nodes·m) register
  * rows. N(t)'s growth curve is where average distance and effective
  * diameter are read off.
  *
  * Exactness/portability: the node hash is the repo's standard 32-bit md5
  * prefix ([[Sketches.hllRho]] — same register math the DuckDB oracle
  * replays), registers stay sparse ((node, idx, mreg) rows, absent = 0),
  * and the per-node estimates pool in DECIMAL(28,12) before the one final
  * rounding, so distributed summation order cannot drift the readout.
  *
  * Scale shape: per hop ONE equi-join of the src-keyed edge table against
  * the node-keyed register table and ONE (node, idx) max-aggregate —
  * fixed-size plans via a per-hop localCheckpoint (the PageRank/LPA
  * iteration discipline). State is nodes × m register rows regardless of
  * ball sizes — the whole point vs exact BFS frontiers.
  */
object HyperAnf {

  /** Neighborhood function of the directed edge table for hops 0..`hops`.
    * Output per hop: (hop, n_nodes, nf_est, avg_ball) where nf_est is the
    * HLL-estimated Σ_v |B(v,hop)| and avg_ball = nf_est / n_nodes.
    * Pass a symmetrized edge table for the undirected reading.
    */
  def neighborhoodFunction(edges: DataFrame, srcCol: String, dstCol: String,
                           hops: Int, b: Int = 4): DataFrame = {
    require(hops >= 1 && hops <= 8, s"hops must be 1..8, got $hops")
    require(b >= 4 && b <= 12, s"b=$b out of supported [4,12]")
    val m = 1 << b
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    // joined every hop; cut the lineage once
    val e = Materialize(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))).df
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // initial ball {v}: each node's own single-element register — the
    // [[Sketches.hllRho]] register math, keyed by node
    var regs = Materialize(nodes.select(col("node"),
        conv(substring(md5(col("node").cast("string")), 1, 8), 16, 10)
          .cast("long").as("__h"))
      .select(col("node"), (col("__h") % m).as("idx"),
        (col("__h") / m).cast("long").as("__w"))
      .select(col("node"), col("idx"),
        when(col("__w") === 0, lit(32 - b + 1))
          .otherwise(lit(32 - b + 1) - length(bin(col("__w")))).as("mreg"))).df

    def estimate(r: DataFrame, hop: Int): DataFrame = {
      val perNode = r.groupBy(col("node"))
        .agg(count(lit(1)).as("__cnt"),
          sum(pow(lit(2.0), -col("mreg").cast("double"))).as("__zpresent"))
        .select(col("node"),
          (lit(m.toDouble) - col("__cnt") + col("__zpresent")).as("__zsum"),
          (lit(m.toLong) - col("__cnt")).as("__vempty"))
      // α·(m·m)/z with the oracle's exact parenthesization (double products
      // round per grouping; shared literals, shared order)
      val raw = lit(alpha) * (lit(m.toDouble) * lit(m.toDouble)) / col("__zsum")
      val est = when(raw <= lit(2.5 * m) && col("__vempty") > 0,
        lit(m.toDouble) *
          log(lit(m.toDouble) / col("__vempty").cast("double")))
        .otherwise(raw)
      perNode.select(est.cast("decimal(28,12)").as("__est"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(col("__est")).cast("decimal(28,12)").as("__nf"))
        .select(lit(hop.toLong).as("hop"), col("n_nodes"),
          round(col("__nf").cast("double"), 6).as("nf_est"),
          round(col("__nf").cast("double") /
            col("n_nodes").cast("double"), 6).as("avg_ball"))
    }

    var out = estimate(regs, 0)
    var t = 1
    while (t <= hops) {
      val fromNeighbors = e
        .join(regs.withColumnRenamed("node", "dst"), "dst")
        .select(col("src").as("node"), col("idx"), col("mreg"))
      val merged = regs.select(col("node"), col("idx"), col("mreg"))
        .union(fromNeighbors)
        .groupBy(col("node"), col("idx")).agg(max(col("mreg")).as("mreg"))
      // the LAST hop's registers feed one estimate and nothing else — a
      // checkpoint there is a pure extra job (the tiny-iteration-table
      // lesson); every earlier hop is read twice (next hop's union + join)
      // and must stay fixed-size. The final hop's PREDECESSOR stays
      // persisted: the un-checkpointed last merge still reads its blocks.
      //
      // NO per-hop unpersist: Dataset.unpersist on a localCheckpointed
      // frame only clears CacheManager entries, not the checkpoint's RDD
      // blocks — and the per-hop estimates in `out` are LAZY, so those
      // blocks must in any case survive until the caller's action. The
      // suite-level reclaim is the caller's job (Verify/Bench unpersist
      // every persistent RDD after each query).
      regs =
        if (t < hops) Materialize(merged).df else merged
      out = out.union(estimate(regs, t))
      t += 1
    }
    out.orderBy(col("hop"))
  }
}
