package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{Materialize, Materialized}

/** Maximal independent set by Luby's algorithm (Luby, "A simple parallel
  * algorithm for the maximal independent set problem", SIAM J. Comput.
  * 1986) — the canonical symmetry-breaking primitive: pick a set of
  * mutually non-adjacent nodes such that every other node touches one.
  * Used for conflict-free scheduling, canonical-representative election in
  * dedup graphs, and as the inner step of distributed coloring.
  *
  * Luby's rounds need RANDOM priorities; here they are md5-derived —
  * `prio(v) = md5_32(v) · 2³¹ + v` (unique: the id tie-break) — so every
  * round is reproducible with no RNG state and no partition-order
  * sensitivity. A node enters the MIS when its priority beats every ACTIVE
  * neighbor's; the node and its neighbors then leave the active set. Each
  * round's expected kill fraction makes O(log n) rounds enough; a fixed
  * round budget leaves stragglers explicitly `undecided`.
  *
  * Scale shape: the ACTIVE-edge table is maintained directly (anti-join
  * shrink per round), so each round is one src-keyed min-aggregate plus
  * one checkpointed decision table — the edge set typically collapses
  * geometrically, and round r touches only surviving edges. Priorities
  * are pure expressions of the node id — no priority table, no extra
  * join.
  */
object Mis {

  private[ext] def prio(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long") *
      2147483648L + c

  /** Run `rounds` Luby rounds over a SYMMETRIZED edge table (pass both
    * directions; self-loops are dropped). Nodes are the distinct sources.
    * Output: (node, status, round) — status ∈ mis | dominated (a MIS
    * neighbor) | undecided (round budget exhausted; round = 0).
    *
    * Per round: one min-aggregate over the surviving ACTIVE-edge table,
    * one checkpointed (node, status) decision table, one checkpointed
    * anti-join shrink of the edge table — 2 jobs, not 4. Priorities ride
    * as columns computed once at ingest; the active node set is derived
    * (all nodes anti-join accumulated decisions), never re-materialized.
    * The last round skips the edge shrink entirely.
    */
  def luby(edges: DataFrame, srcCol: String, dstCol: String,
           rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 8, s"rounds must be 1..8, got $rounds")
    // pv rides as an edge column (the per-round min aggregates over it);
    // pu is NOT materialized per edge — node priorities are computed once
    // on the distinct node table (|V| md5s, not 2|E|). Edges are NOT
    // deduped: every per-round op is idempotent to edge multiplicity
    // (min-agg, semi/anti joins, distinct dominated), so the dedup shuffle
    // would buy nothing — callers with heavily duplicated inputs should
    // distinct upstream to keep |E| honest.
    val e0 = Materialize(edges.select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(col("u"), col("v"), prio(col("v")).as("pv"))).df
    val Materialized(nodes, _, nodeBytes) = Materialize(e0
      .select(col("u").as("node")).distinct()
      .select(col("node"), prio(col("node")).as("pn")))
    // the node checkpoint's bytes gate the broadcast of every decision-side
    // join below (each is ≤ |V| rows of at most as many columns)
    val bcast = Materialize.broadcastHint(nodeBytes)
    var eAct = e0
    var decidedAll: DataFrame = nodes.limit(0)
      .select(col("node"), lit("x").as("status"), lit(0).as("round"))
    for (r <- 1 to rounds) {
      val active = nodes.join(bcast(decidedAll.select(col("node"))),
        Seq("node"), "leftanti")
      val nbMin = eAct.groupBy(col("u")).agg(min(col("pv")).as("minp"))
      // eAct holds only active-active edges, so a node with no surviving
      // edge (minp null) has no active neighbor and enters the MIS.
      val mis = active.join(nbMin, col("node") === col("u"), "left")
        .filter(col("minp").isNull || col("pn") < col("minp"))
        .select(col("node"))
      val dominated = eAct
        .join(bcast(mis.select(col("node").as("mnode"))),
          col("u") === col("mnode"), "leftsemi")
        .select(col("v").as("node")).distinct()
      // mis is evaluated twice inside this one job (directly + via
      // dominated) — one extra aggregate, cheaper than a third checkpoint.
      // TWO checkpoints per round, deliberately NOT the single
      // union-fused checkpoint Coloring.jonesPlassmann uses: here the
      // decision table's inputs (mis + the eAct-sized dominated semi-join)
      // are heavy, and in a fused plan the edge branch consumes them via a
      // BroadCast while the decision branch consumes them via the union —
      // different exchange shapes, so ReuseExchange cannot dedupe and the
      // aggregates over the full active-edge table evaluate TWICE. On the
      // 600k-edge q_mis graph the fusion measured ~1s slower; the separate
      // dec checkpoint keeps the heavy subtree single-evaluated, and the
      // follow-up eAct job reads it back for free.
      val dec = Materialize(mis.select(col("node"), lit("mis").as("status"),
          lit(r).as("round"))
        .unionByName(dominated.select(col("node"),
          lit("dominated").as("status"), lit(r).as("round")))).df
      decidedAll = decidedAll.unionByName(dec)
      if (r < rounds) {
        val dn = dec.select(col("node"))
        eAct = Materialize(eAct
          .join(bcast(dn.select(col("node").as("du"))),
            col("u") === col("du"), "leftanti")
          .join(bcast(dn.select(col("node").as("dv"))),
            col("v") === col("dv"), "leftanti")).df
      }
    }
    decidedAll.unionByName(
      nodes.join(bcast(decidedAll.select(col("node"))), Seq("node"),
          "leftanti")
        .select(col("node"), lit("undecided").as("status"),
          lit(0).as("round")))
  }
}
