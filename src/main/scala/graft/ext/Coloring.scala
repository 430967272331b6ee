package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Materialize, Materialized}

/** Deterministic distributed graph coloring — Jones & Plassmann, "A
  * parallel graph coloring heuristic" (SIAM J. Sci. Comput. 1993): the
  * third symmetry-breaking primitive next to [[Mis]] and [[Matching]].
  * Nodes carry unique md5-derived priorities; per round, every UNCOLORED
  * node whose priority beats all its uncolored neighbors picks the
  * smallest color unused by its already-colored neighbors. Winners never
  * conflict (two adjacent uncolored nodes can't both be local minima), so
  * the result is a proper coloring built in O(rounds) sweeps. Conflict-
  * free scheduling, register allocation at graph scale, channel
  * assignment.
  *
  * The smallest-free-color (mex) is ONE degree-bounded fold over each
  * winner's sorted distinct neighbor-color set (collect_set + aggregate —
  * a single shuffle); the SQL oracle states the equivalent RELATIONAL
  * formulation (candidate explode anti-joined against used colors), and
  * the two agree because mex is a pure function of the color set. Edge
  * multiplicity is harmless (min-priority and set aggregates), as in
  * [[Mis.luby]].
  *
  * Scale shape: per round, one min-aggregate over surviving
  * uncolored-edge rows, one join of winner adjacency against the colored
  * table, one bounded candidate explode (≤ degree+1 per winner), two
  * checkpoints (new colors, shrunk edge table) — rounds collapse
  * geometrically, and no table ever exceeds the live subgraph.
  */
object Coloring {

  /** Color the undirected graph (any edge orientation; symmetrized and
    * self-loop-stripped internally) with at most `rounds` Jones-Plassmann
    * sweeps. Output: (node, color, round) — color ≥ 0 with the 1-based
    * round that assigned it, or color = −1 / round = 0 for nodes still
    * uncolored when the budget ran out.
    */
  def jonesPlassmann(edges: DataFrame, srcCol: String, dstCol: String,
                     rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 10, s"rounds must be 1..10, got $rounds")
    val raw = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    // Checkpointed HASH-PARTITIONED on u/node: Materialize preserves
    // the physical partitioning, so ROUND 1's groupBy(u) and the per-round
    // `used` semi-join (which always reads `sym`) reuse it instead of
    // re-shuffling. From round 2 on, eAct is a filter over the fused union
    // checkpoint below, which is NOT u-partitioned — that round's nbMin
    // re-shuffles, a measured trade: fusing the two per-round jobs into
    // one checkpoint beat keeping the u-partitioning (see SCALE.md r12).
    val sym = Materialize(raw.select(explode(array(
        struct(col("a").as("u"), col("b").as("v")),
        struct(col("b").as("u"), col("a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"),
        Mis.prio(col("e.v")).as("pv"))
      .repartition(col("u"))).df
    val Materialized(nodes, _, nodeBytes) = Materialize(sym
      .select(col("u").as("node")).distinct()
      .select(col("node"), Mis.prio(col("node")).as("pn"))
      .repartition(col("node")))
    // Gated broadcast hints on every NODE-SIZED side joined against the
    // edge table (winners, colored, per-round picks; why hints:
    // [[graft.Materialize]]). All hinted tables are ≤ |V| rows of at most
    // the node table's width, so its checkpoint bytes bound the whole run;
    // above the gate the joins stay shuffled as before.
    val bcast = Materialize.broadcastHint(nodeBytes)
    var eAct = sym
    var colored: DataFrame = nodes.limit(0)
      .select(col("node"), lit(0).as("color"), lit(0).as("round"))
    for (r <- 1 to rounds) {
      val active = nodes.join(bcast(colored.select(col("node"))),
        Seq("node"), "leftanti")
      val nbMin = eAct.groupBy(col("u")).agg(min(col("pv")).as("minp"))
      val winners = active.join(nbMin, col("node") === col("u"), "left")
        .filter(col("minp").isNull || col("pn") < col("minp"))
        .select(col("node"))
      // colors already used around each winner (full adjacency × colored)
      val used = sym.join(bcast(winners.select(col("node").as("wn"))),
          col("u") === col("wn"), "leftsemi")
        .join(bcast(colored.select(col("node").as("cn"), col("color"))),
          col("v") === col("cn"))
        .select(col("u").as("wnode"), col("color"))
      // mex as ONE degree-bounded array fold instead of the former
      // distinct + count + candidate-explode + anti-join + min chain
      // (4 shuffles → 1): over the SORTED distinct color set, walking
      // `acc+1 on every exact hit` lands on the smallest absent value.
      // The per-winner set holds ≤ distinct-neighbor-colors elements —
      // the same bound the candidate explode had. The oracle keeps the
      // relational explode formulation; mex is mex, values agree.
      val mex = used.groupBy(col("wnode")).agg(
        aggregate(array_sort(collect_set(col("color"))), lit(0),
          (acc, x) => when(x === acc, acc + 1).otherwise(acc)).as("mexc"))
      val picked0 = winners
        .join(mex, col("node") === col("wnode"), "left")
        .select(col("node"), coalesce(col("mexc"), lit(0)).cast("int")
          .as("color"), lit(r).as("round"))
      if (r < rounds) {
        // ONE checkpoint materializes this round's picks AND the shrunk
        // edge table through a union-aligned schema (job overhead is the
        // measured cost on small graphs — 2 jobs/round → 1). The eAct
        // branch anti-joins against the same `winners` subtree the picks
        // branch uses; its exchanges are identical, so ReuseExchange
        // evaluates them once. Filters over the checkpointed blocks then
        // split the two tables back out without recompute.
        val both = Materialize(picked0
          .select(lit("p").as("tag"), col("node").as("x1"),
            lit(null).cast("long").as("x2"), col("color").cast("long")
              .as("x3"), col("round").cast("long").as("x4"))
          .unionByName(eAct
            .join(bcast(winners.select(col("node").as("du"))),
              col("u") === col("du"), "leftanti")
            .join(bcast(winners.select(col("node").as("dv"))),
              col("v") === col("dv"), "leftanti")
            .select(lit("e").as("tag"), col("u").as("x1"),
              col("v").as("x2"), col("pv").as("x3"),
              lit(null).cast("long").as("x4")))).df
        val picked = both.filter(col("tag") === "p")
          .select(col("x1").as("node"), col("x3").cast("int").as("color"),
            col("x4").cast("int").as("round"))
        colored = colored.unionByName(picked)
        eAct = both.filter(col("tag") === "e")
          .select(col("x1").as("u"), col("x2").as("v"), col("x3").as("pv"))
      } else {
        // the last round has no edge shrink — checkpoint the picks alone
        // (colored is read twice by the output union + anti-join)
        colored = colored.unionByName(Materialize(picked0).df)
      }
    }
    colored.unionByName(
      nodes.join(bcast(colored.select(col("node"))), Seq("node"), "leftanti")
        .select(col("node"), lit(-1).as("color"), lit(0).as("round")))
  }
}
