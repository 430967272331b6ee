package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS hubs-and-authorities (Kleinberg, JACM 1999) over a DIRECTED edge
  * table — on a bipartite customer→item graph, hubs are broad consumers and
  * authorities are the items broad consumers converge on, a different (and
  * mutually-reinforcing) ranking than raw degree or [[PageRank]]'s random
  * walk.
  *
  * Update per iteration: a ← L1-normalized Σ_in h, then h ← L1-normalized
  * Σ_out a (the power iteration on AᵀA / AAᵀ). Exactness: every cross-row
  * sum — both the per-node gathers and the normalization totals — pools in
  * DECIMAL(18,9) (scores live in [0, 1] after the first normalization, so
  * the 1e-9 grid loses nothing either engine keeps), making each iteration's
  * doubles bit-identical across engines; the oracle unrolls the same
  * recurrence.
  *
  * Scale shape: above [[Hits.PartitionedCopyMinEdges]] edges, the distinct
  * edge table is checkpointed TWICE — once
  * hash-partitioned by src, once by dst (localCheckpoint preserves the
  * physical partitioning through LogicalRDD) — so each iteration's two
  * gathers shuffle only the node-sized score table into the matching edge
  * copy instead of re-shuffling the edge table every round; the remaining
  * per-iteration exchanges are the gather outputs' own groupBy keys, which
  * partial aggregation already shrinks. Two 1-row normalization crossJoins,
  * no driver-side graph, O(iterations) fixed-size plans (the PageRank
  * checkpoint discipline).
  */
object Hits {

  /** Edge count above which the per-key partitioned edge copies pay for
    * their two up-front shuffles (see the gate comment in [[hits]]).
    */
  val PartitionedCopyMinEdges: Long = 5000000L

  /** Returns (kind, node, score): kind 'authority' scores dst nodes, kind
    * 'hub' scores src nodes, after `iterations` full a-then-h rounds.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .localCheckpoint()
    // two partitioned copies: joins on src/dst reuse the edge-side layout
    // every iteration (only the node-sized score table moves). GATED on
    // edge count: the copies trade 2 up-front edge shuffles + 2 checkpoint
    // jobs for ~2·iterations in-loop edge shuffles — a clear win once the
    // edge shuffle costs real time, pure job overhead below it (measured:
    // the copies ADDED ~0.6 s at the sf0.1 tier's ~1M edges, where every
    // edge shuffle is milliseconds). The count is one fast job over the
    // already-materialized checkpoint blocks.
    val nEdges = e.count()
    val useCopies = nEdges >= PartitionedCopyMinEdges
    val eSrc = if (useCopies) e.repartition(col("src")).localCheckpoint() else e
    val eDst = if (useCopies) e.repartition(col("dst")).localCheckpoint() else e
    // Below the copy gate, hint the NODE-SIZED score table broadcast into
    // each gather join: the scores read back from localCheckpoint blocks
    // whose LogicalRDD carries the original edge-join-sized estimate, so
    // the planner sort-merged and re-shuffled the EDGE table by src/dst
    // every gather (the r17 Mis JobProbe finding; here ~4 × |E| records
    // per run at sf0.1). Scores are ≤ distinct src/dst ≤ |E|, so the edge
    // count bounds the score table for BroadcastGate's row gate; above the
    // copy gate the partitioned copies make the score shuffle the designed
    // cheap path, so no hint is forced there.
    val bcast: DataFrame => DataFrame =
      if (useCopies) identity else BroadcastGate.hint(nEdges)
    def l1Normalize(scores: DataFrame, valCol: String): DataFrame = {
      val total = scores.agg(
        sum(col(valCol).cast("decimal(18,9)")).cast("double").as("__s"))
      scores.crossJoin(broadcast(total))
        .select(col("node"), (col(valCol) / col("__s")).as(valCol))
    }
    var h: DataFrame = null
    var a: DataFrame = null
    for (i <- 1 to iterations) {
      // each edge-sized gather is materialized once: the normalization total
      // and the score rows (and the next gather, and the final union) all
      // read the node-sized checkpoint instead of re-running the join.
      // Iteration 1 folds h0 ≡ 1 away (r17): h0 holds 1.0 for EXACTLY the
      // distinct non-null srcs of e, so the gather's sum of decimal 1.0s
      // per dst is its non-null-src in-degree — count(*) — exactly
      // (decimal sum of N ones = N.000000000, double(N) exact below 2^53).
      // That drops iteration 1's distinct exchange + broadcast join over
      // the edge table; iterations 2+ are unchanged.
      val rawA =
        if (i == 1)
          eSrc.filter(col("src").isNotNull)
            .groupBy(col("dst").as("node"))
            .agg(count(lit(1)).cast("double").as("a"))
        else
          eSrc.join(bcast(h.withColumnRenamed("node", "src")), "src")
            .groupBy(col("dst").as("node"))
            .agg(sum(col("h").cast("decimal(18,9)")).cast("double").as("a"))
      a = l1Normalize(rawA.localCheckpoint(), "a")
      h = l1Normalize(
        eDst.join(bcast(a.withColumnRenamed("node", "dst")), "dst")
          .groupBy(col("src").as("node"))
          .agg(sum(col("a").cast("decimal(18,9)")).cast("double").as("h"))
          .localCheckpoint(),
        "h")
    }
    a.select(lit("authority").as("kind"), col("node"), col("a").as("score"))
      .unionByName(
        h.select(lit("hub").as("kind"), col("node"), col("h").as("score")))
  }
}
