package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Materialize, Materialized}

/** Temporal-graph analytics: reachability and motifs where edges carry
  * timestamps and paths must respect time order (Holme & Saramäki, "Temporal
  * networks", Phys. Rep. 2012; Paranjape/Benson/Leskovec, "Motifs in
  * temporal networks", WSDM 2017). A static-graph BFS over a temporal edge
  * set OVERSTATES reachability — u reaches w through v only if the v→w
  * contact happens AFTER the u→v contact. These are the diffusion/influence
  * primitives behind contact tracing, cascade analysis, and co-purchase
  * attribution.
  */
object TemporalGraph {

  /** Earliest-arrival reachability: from `seeds` (node, arr) — arr = the
    * day the node became "active" — propagate along temporal edges
    * (src, dst, day), where an edge is traversable only if its day is on or
    * after the current arrival at its source; the arrival at dst is the
    * edge's day. After `hops` rounds, each reached node carries the
    * EARLIEST day it can be reached by any time-respecting path of ≤ hops
    * edges (min-merge per round — Dijkstra-free because edge day IS the
    * arrival, so per-round min is exact).
    *
    * Scale shape: each hop is one equi-join on the source node + one
    * min-aggregate keyed by dst; the frontier state is (node, arr) rows
    * only. The state is materialized per hop — it is referenced twice
    * per round (join + merge), so an unchecked lineage doubles per hop
    * (2^hops plan leaves). Edges are checkpointed once up front for the
    * same reason.
    */
  def earliestArrival(edges: DataFrame, srcCol: String, dstCol: String,
                      dayCol: String, seeds: DataFrame, nodeCol: String,
                      arrCol: String, hops: Int): DataFrame = {
    require(hops >= 1 && hops <= 8, s"hops must be 1..8, got $hops")
    val Materialized(e0, _, edgeBytes) = Materialize(edges
      .select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"), col(dayCol).cast("long").as("d"))
      .distinct())
    var Materialized(state, _, stateBytes) = Materialize(seeds
      .select(col(nodeCol).cast("long").as("node"),
        col(arrCol).cast("long").as("arr"))
      .groupBy(col("node")).agg(min(col("arr")).as("arr")))
    // The hop join's state side is a checkpoint read (why hints:
    // [[graft.Materialize]]; unhinted, every hop re-shuffled the FULL edge
    // table by u, 3 × 1.2M-record exchanges at sf0.1). State rows number
    // ≤ 2·|E| + |seeds|, each narrower than an edge row, so the two
    // checkpoints' bytes bound the state for the whole run. Under the gate,
    // hint the state broadcast: zero exchanges per hop on either join side.
    // Over it (graphs where the state legitimately cannot broadcast),
    // checkpoint the edge table hash-partitioned by u ONCE so every hop's
    // sort-merge reuses the edge layout and shuffles only the node-sized
    // state — one up-front edge exchange instead of `hops` of them.
    val small = edgeBytes * 2 + stateBytes <= Materialize.MaxBroadcastBytes
    val e = if (small) e0 else Materialize(e0.repartition(col("u"))).df
    val bcast: DataFrame => DataFrame = if (small) broadcast else identity
    for (_ <- 1 to hops) {
      // raw (v, d) arrivals feed the state merge directly: the merge's own
      // groupBy(node).min partial-aggregates map-side, so a per-hop
      // pre-aggregate of the join output was a redundant second exchange
      // (min over the same multiset — identical result, one shuffle per hop)
      val reached = bcast(state).join(e, col("node") === col("u") &&
          col("d") >= col("arr"))
        .select(col("v").as("node"), col("d").as("arr"))
      state = Materialize(state.unionByName(reached)
        .groupBy(col("node")).agg(min(col("arr")).as("arr"))).df
    }
    state
  }

  /** Co-occurrence cascade wedges — the simplest temporal motif: actor `a`
    * touches item p on day d1, actor `b` touches the same p on day d2 with
    * 0 < d2 − d1 ≤ `windowDays` — the "b followed a through p" wedge of
    * cascade/influence analysis. Input rows are (actor, item, day);
    * duplicates collapse to each actor's FIRST day per item (the adoption
    * event). Output: one row per whole-week gap bucket with the wedge
    * count and how many distinct items carry any wedge at that gap.
    *
    * Scale shape: one self-equi-join keyed on the item — never actor² —
    * with the quadratic term bounded per item by (adopters within
    * windowDays)². The window predicate is part of the join condition, so
    * a skew-heavy item only pays for its in-window adopter pairs; at a
    * 100 TB corpus you additionally cap adopters-per-item (maxDf cut, the
    * [[Dedup]] discipline) before the join.
    */
  def cascadeWedges(touches: DataFrame, actorCol: String, itemCol: String,
                    dayCol: String, windowDays: Int): DataFrame = {
    require(windowDays >= 1, s"windowDays must be positive, got $windowDays")
    val first = Materialize(touches.select(col(actorCol).cast("long").as("actor"),
        col(itemCol).cast("long").as("item"),
        col(dayCol).cast("long").as("d"))
      .groupBy(col("actor"), col("item")).agg(min(col("d")).as("d"))).df
    val lhs = first.select(col("actor").as("a"), col("item"),
      col("d").as("d1"))
    val rhs = first.select(col("actor").as("b"), col("item").as("item2"),
      col("d").as("d2"))
    lhs.join(rhs, col("item") === col("item2") && col("a") =!= col("b") &&
        col("d2") > col("d1") && col("d2") <= col("d1") + windowDays)
      .select(col("item"), expr("(d2 - d1 - 1) div 7").as("gap_week"))
      .groupBy(col("gap_week"))
      .agg(count(lit(1)).as("n_wedges"),
        countDistinct(col("item")).as("n_items"))
  }
}
