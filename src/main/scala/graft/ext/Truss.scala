package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize

/** k-truss decomposition by support peeling (Cohen, "Trusses: cohesive
  * subgraphs for social network analysis", NSA tech report 2008; Wang &
  * Cheng, VLDB 2012): the k-truss is the maximal subgraph in which every
  * edge closes at least k−2 triangles WITHIN the subgraph — a stronger,
  * edge-local cohesion standard than k-core (every k-truss is a
  * (k−1)-core, not vice versa). Used to find genuinely tight communities
  * where mere degree would be fooled by hubs.
  *
  * Peeling: per round, count each edge's support (triangles through it in
  * the CURRENT subgraph), drop every edge below k−2, repeat; edges removed
  * in round r carry that label, survivors after the round budget are the
  * k-truss. Deterministic — no priorities, the fixpoint is unique (the
  * truss is a closure; removal order doesn't matter).
  *
  * Scale shape: support counting is the oriented wedge join (a<b<c: join
  * low-end edges on the middle vertex, close against the edge table), so a
  * round costs one self-join bounded by Σ deg² of the SURVIVING graph plus
  * one explode(3)+groupBy — never node³. The surviving edge table is
  * checkpointed per round (it feeds three plan branches in the next
  * round); rounds shrink geometrically on real graphs.
  */
object Truss {

  /** Peel the undirected graph to its k-truss in at most `rounds` rounds.
    * Input edges may be in any orientation (normalized to a<b, self-loops
    * dropped, duplicates ignored). Output: one row per input edge —
    * (a, b, status, round) with status `kept` (in the k-truss, round 0) or
    * `removed` (peeled; round = the 1-based round that dropped it).
    * Rounds after the fixpoint are no-ops, so a generous budget is safe.
    */
  def ktruss(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
             rounds: Int): DataFrame = {
    require(k >= 3 && k <= 16, s"k must be 3..16, got $k")
    require(rounds >= 1 && rounds <= 10, s"rounds must be 1..10, got $rounds")
    val minSupport = k - 2
    val e0 = Materialize(edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") < col("b")).distinct()).df
    var alive = e0
    var removedAll: DataFrame = e0.limit(0)
      .select(col("a"), col("b"), lit(0).as("round"))
    for (r <- 1 to rounds) {
      // oriented wedges x<y<z: (x,y) joins (y,z) on the middle vertex,
      // closed by (x,z); each triangle charges all three of its edges.
      val exy = alive.select(col("a").as("x"), col("b").as("y"))
      val eyz = alive.select(col("a").as("y2"), col("b").as("z"))
      val tri = exy.join(eyz, col("y") === col("y2"))
        .select(col("x"), col("y"), col("z"))
        .join(alive.select(col("a").as("x2"), col("b").as("z2")),
          col("x") === col("x2") && col("z") === col("z2"), "leftsemi")
      val support = tri.select(explode(array(
          struct(col("x").as("a"), col("y").as("b")),
          struct(col("x").as("a"), col("z").as("b")),
          struct(col("y").as("a"), col("z").as("b")))).as("e"))
        .groupBy(col("e.a").as("sa"), col("e.b").as("sb"))
        .agg(count(lit(1)).as("supp"))
      val tagged = Materialize(alive.join(support,
          col("a") === col("sa") && col("b") === col("sb"), "left")
        .select(col("a"), col("b"),
          (coalesce(col("supp"), lit(0L)) >= minSupport).as("keep"))).df
      removedAll = removedAll.unionByName(tagged.filter(!col("keep"))
        .select(col("a"), col("b"), lit(r).as("round")))
      alive = tagged.filter(col("keep")).select(col("a"), col("b"))
    }
    alive.select(col("a"), col("b"), lit("kept").as("status"),
        lit(0).as("round"))
      .unionByName(removedAll.select(col("a"), col("b"),
        lit("removed").as("status"), col("round")))
  }
}
