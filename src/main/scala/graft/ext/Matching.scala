package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Materialize, Materialized}

/** Deterministic greedy MAXIMAL MATCHING — the edge analog of [[Mis]]
  * (Israeli & Itai, "A fast and simple randomized parallel algorithm for
  * maximal matching", IPL 1986): pick a set of vertex-disjoint edges no
  * further edge can join. The primitive under distributed graph
  * COARSENING (collapse matched pairs, recurse — multilevel partitioning
  * à la METIS), degree-constrained scheduling, and pairwise dedup-merge
  * planning.
  *
  * Priorities are md5-derived strings `md5(a:b) : a : b` (zero-padded so
  * lexicographic = deterministic total order, unique via the coordinate
  * tail). An edge enters the matching when its priority is the strict
  * minimum at BOTH endpoints — two winners can never share a vertex, so
  * the per-round pick is vertex-disjoint by construction; matched
  * endpoints then leave the graph, and a fixed round budget leaves
  * stragglers explicitly `unmatched`.
  *
  * Scale shape: per round, one explode(2) + node-keyed min aggregate over
  * surviving edges, one join back, one checkpointed decision table, one
  * anti-join shrink — the same 2-job round as [[Mis.luby]], edges
  * collapsing geometrically.
  */
object Matching {

  private def pad(c: org.apache.spark.sql.Column) =
    lpad(c.cast("string"), 12, "0")

  /** Run `rounds` of parallel greedy matching over an UNDIRECTED edge
    * table (any orientation; normalized to a<b, self-loops dropped,
    * duplicates removed). Output: one row per input edge —
    * (a, b, status, round) with status `matched` (round = the 1-based
    * round that picked it), `dropped` (an endpoint was matched by another
    * edge that round), or `unmatched` (round budget exhausted, round 0).
    */
  def maximalMatching(edges: DataFrame, srcCol: String, dstCol: String,
                      rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 8, s"rounds must be 1..8, got $rounds")
    val prio = concat(
      md5(concat(col("a").cast("string"), lit(":"), col("b").cast("string"))),
      lit(":"), pad(col("a")), lit(":"), pad(col("b")))
    val Materialized(e0, _, edgeBytes) = Materialize(edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") < col("b")).distinct()
      .withColumn("p", prio))
    // Gated broadcast hints on the decision-side joins (why hints:
    // [[graft.Materialize]]). The hinted sides are EDGE rows (dropped can
    // approach |E_alive|) and node minima (≤ 2·|E| rows, each carrying an
    // edge priority), so twice the edge bytes bound them all; above the gate
    // the joins stay shuffled as before.
    val bcast = Materialize.broadcastHint(edgeBytes * 2)
    var alive = e0
    var decidedAll: DataFrame = e0.limit(0)
      .select(col("a"), col("b"), lit("x").as("status"), lit(0).as("round"))
    for (r <- 1 to rounds) {
      val nodeMin = alive.select(explode(array(col("a"), col("b"))).as("v"),
          col("p"))
        .groupBy(col("v")).agg(min(col("p")).as("mp"))
      val tagged = alive
        .join(bcast(nodeMin.select(col("v").as("va"), col("mp").as("ma"))),
          col("a") === col("va"))
        .join(bcast(nodeMin.select(col("v").as("vb"), col("mp").as("mb"))),
          col("b") === col("vb"))
        .select(col("a"), col("b"), col("p"),
          (col("p") === col("ma") && col("p") === col("mb")).as("win"))
      val matched = tagged.filter(col("win")).select(col("a"), col("b"))
      val matchedNodes = matched
        .select(explode(array(col("a"), col("b"))).as("v"))
      // dropped: an endpoint is matched but the edge itself is not
      val dropped = tagged.filter(!col("win"))
        .join(bcast(matchedNodes.select(col("v").as("da"))),
          col("a") === col("da"), "leftsemi")
        .select(col("a"), col("b"))
        .unionByName(tagged.filter(!col("win"))
          .join(bcast(matchedNodes.select(col("v").as("db"))),
            col("b") === col("db"), "leftsemi")
          .select(col("a"), col("b")))
        .distinct()
      val dec = Materialize(matched.select(col("a"), col("b"),
          lit("matched").as("status"), lit(r).as("round"))
        .unionByName(dropped.select(col("a"), col("b"),
          lit("dropped").as("status"), lit(r).as("round")))).df
      decidedAll = decidedAll.unionByName(dec)
      if (r < rounds) {
        alive = Materialize(alive.join(
            bcast(dec.select(col("a").as("xa"), col("b").as("xb"))),
            col("a") === col("xa") && col("b") === col("xb"), "leftanti")).df
      }
    }
    val undecided = e0
      .join(bcast(decidedAll.select(col("a").as("xa"), col("b").as("xb"))),
        col("a") === col("xa") && col("b") === col("xb"), "leftanti")
      .select(col("a"), col("b"), lit("unmatched").as("status"),
        lit(0).as("round"))
    decidedAll.unionByName(undecided)
  }
}
