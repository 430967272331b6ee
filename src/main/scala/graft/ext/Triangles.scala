package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize

/** Distributed triangle counting with degree-ordered edge orientation — the
  * classic MapReduce formulation (Suri & Vassilvitskii, "Counting Triangles
  * and the Curse of the Last Reducer", WWW'11).
  *
  * Orienting every undirected edge from its (degree, id)-smaller endpoint to
  * the larger bounds each node's out-degree by O(√m), so the wedge join
  * (out-edges ⋈ out-edges on source) generates Σ d_out² = O(m^1.5) candidates
  * instead of the Σ d² blow-up a hub node causes under arbitrary orientation —
  * THE difference between finishing and dying on a power-law co-purchase graph
  * at 100 TB. Each triangle's three nodes carry a strict (degree, id) total
  * order, so it is generated exactly once: wedge (v ← u → w) with v before w,
  * closed by oriented edge v → w.
  */
object Triangles {

  /** Global triangle census of an undirected graph.
    * `edges` must hold one row per undirected edge as (src, dst) — duplicates
    * and self-loops are dropped, orientation of the input rows is irrelevant.
    * Output: 1 row (n_nodes, n_edges, n_wedges, n_triangles,
    * global_clustering = 3·triangles/wedges, rounded 6).
    */
  def triangleCensus(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // e (O(m)) and deg (O(n)) each feed 2-3 consumers below; materialized once
    // so the input scan + dedup shuffle doesn't re-run per consumer
    val e = Materialize(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()).df
    val deg = Materialize(e.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))).df
    // orient a→b when (deg,id)(a) < (deg,id)(b); both joins against the small
    // degree table are broadcast-eligible, the wedge join shuffles on node id
    // three consumers below (both wedge-join sides + the closing semi-join
    // probe); materialize once so the edge+degree pipeline doesn't re-run
    // per consumer — the same checkpoint discipline as Dedup.dupClusters
    val oriented = Materialize(e
      .join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da"), Seq("a"))
      .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db"), Seq("b"))
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("u"),
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("db").as("d"), col("b").as("n")))
          .otherwise(struct(col("da").as("d"), col("a").as("n")))
          .as("vo"))
      .select(col("u"), col("vo").getField("n").as("v"), col("vo"))).df
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.u") === col("y.u") && (col("x.vo") < col("y.vo")))
      .select(col("x.v").as("wv"), col("y.v").as("ww"))
    val triangles = wedges.join(oriented.select(col("u").as("wv"), col("v").as("ww")),
        Seq("wv", "ww"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val wedgeCount = deg.agg(
      (sum(col("deg") * (col("deg") - 1)) / 2).cast("long").as("n_wedges"))
    val base = e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes")))
    base.crossJoin(wedgeCount).crossJoin(triangles)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
          .as("global_clustering"))
  }

  /** Degree assortativity coefficient (Newman, PRL 2002): the Pearson
    * correlation of the degrees at the two ends of every edge — r > 0 means
    * hubs attach to hubs (social-network shape), r < 0 means hubs attach to
    * leaves (hub-and-spoke / co-purchase shape). The one-number structural
    * summary that predicts how the wedge-bound tricks above behave: strongly
    * disassortative power-law graphs are exactly where degree-ordered
    * orientation pays.
    *
    * Computed as plain Pearson over the DOUBLE-ORIENTED edge list (each
    * undirected edge contributes both (d_a, d_b) and (d_b, d_a), the standard
    * symmetrization): degrees are exact integers, all five moments exact
    * BIGINT sums, one final double formula — bit-identical across engines.
    * Scale shape: the degree table joins back to the edge list twice (both
    * broadcast-eligible — O(nodes) rows); moments are one map-side-combinable
    * aggregate. Output: 1 row (n_nodes, n_edges, assortativity).
    */
  def assortativity(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = Materialize(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()).df // degree agg + two degree joins read it
    val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val both = e.select(col("a").as("x"), col("b").as("y"))
      .union(e.select(col("b").as("x"), col("a").as("y")))
    val pairs = both
      .join(deg.select(col("node").as("x"), col("deg").as("dx")), Seq("x"))
      .join(deg.select(col("node").as("y"), col("deg").as("dy")), Seq("y"))
    val m = pairs.agg(count(lit(1)).as("n2"),
      sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
      sum(col("dx") * col("dy")).as("sxy"),
      sum(col("dx") * col("dx")).as("sxx"),
      sum(col("dy") * col("dy")).as("syy"))
    def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
    val num = dbl(col("n2")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))
    val den = sqrt((dbl(col("n2")) * dbl(col("sxx")) -
      dbl(col("sx")) * dbl(col("sx"))) *
      (dbl(col("n2")) * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy"))))
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes")))
      .crossJoin(m)
      .select(col("n_nodes"), col("n_edges"),
        round(num / when(den === 0.0, lit(null)).otherwise(den), 6)
          .as("assortativity"))
  }

  /** Local clustering coefficient profile by degree (Watts & Strogatz's C_i
    * = 2·T_i / (d_i·(d_i−1)) aggregated over nodes of equal degree) — the
    * degree-resolved closure readout next to [[triangleCensus]]'s single
    * global number: hierarchical/community graphs show C(d) falling with d,
    * random graphs show it flat.
    *
    * Reuses the degree-oriented enumeration (same O(m^1.5) wedge bound), but
    * keeps each triangle's three corners: an INNER join closes the wedge and
    * the triple explodes into per-node increments. Nodes of degree ≥ 2 with
    * no triangles count into their degree row with C = 0 (the left join),
    * exactly like the textbook average. Means pool in DECIMAL(18,9).
    * Output: (deg, n_nodes, mean_coef).
    */
  def localClusteringByDegree(edges: DataFrame, srcCol: String,
                              dstCol: String): DataFrame = {
    val e = Materialize(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()).df
    val deg = Materialize(e.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))).df
    val oriented = Materialize(e
      .join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da"),
        Seq("a"))
      .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db"),
        Seq("b"))
      .select(
        when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("u"),
        when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
          struct(col("db").as("d"), col("b").as("n")))
          .otherwise(struct(col("da").as("d"), col("a").as("n")))
          .as("vo"))
      .select(col("u"), col("vo").getField("n").as("v"), col("vo"))).df
    val triangles = oriented.as("x").join(oriented.as("y"),
        col("x.u") === col("y.u") && (col("x.vo") < col("y.vo")))
      .select(col("x.u").as("tu"), col("x.v").as("wv"), col("y.v").as("ww"))
      .join(oriented.select(col("u").as("wv"), col("v").as("ww")),
        Seq("wv", "ww"), "left_semi")
    val perNode = triangles
      .select(explode(array(col("tu"), col("wv"), col("ww"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
    deg.filter(col("deg") >= 2)
      .join(perNode, Seq("node"), "left").na.fill(0L, Seq("tri"))
      .select(col("deg"),
        (lit(2.0) * col("tri").cast("double") /
          (col("deg") * (col("deg") - 1)).cast("double")).as("__c"))
      .groupBy(col("deg"))
      .agg(count(lit(1)).as("n_nodes"),
        (sum(col("__c").cast("decimal(18,9)")).cast("double") /
          count(lit(1))).as("mean_coef"))
  }
}
