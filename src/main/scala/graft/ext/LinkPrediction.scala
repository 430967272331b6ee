package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize

/** Neighborhood-based link prediction over an undirected edge table —
  * candidate-edge scoring for "items that should sell together but don't
  * yet" / related-content backfill. Scores each NON-adjacent pair sharing at
  * least one neighbor with the classic local indices:
  *
  *  - common neighbors `|Γ(a) ∩ Γ(b)|`
  *  - Adamic-Adar `Σ_v 1/ln(deg v)` (Adamic & Adar 2003)
  *  - resource allocation `Σ_v 1/deg v` (Zhou et al. 2009)
  *
  * Scale shape: identical to the triangle/2-hop wedge machinery — the
  * adjacency comes from ONE explode-generator (never a union of projections,
  * which would re-run the edge pipeline per branch) and is checkpointed once
  * for its three consumers (both wedge sides and the adjacency anti-join).
  * Wedge volume is Σ_v deg(v)², so the caller bounds hub degrees upstream
  * (support-floored signal graphs do this naturally; a `maxDegree` cut is the
  * whale guard otherwise). The middle-node degree attaches via a broadcast
  * join (deg is |V| rows, tiny next to wedges), and the per-pair score terms
  * sum as DECIMAL so both engines see identical doubles regardless of
  * partition order.
  */
object LinkPrediction {

  /** Score non-adjacent node pairs by shared-neighbor indices.
    * Output: (node_a, node_b, n_common, adamic_adar, resource_alloc) with
    * node_a < node_b, one row per candidate pair (≥1 common neighbor,
    * no existing edge). Scores are rounded to 6 decimals.
    */
  def neighborScores(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    // one generator emits both directions; checkpointed because the frame
    // feeds both wedge sides AND the final adjacency anti-join
    val adj = Materialize(e.select(explode(array(
        struct(col("a").as("u"), col("b").as("v")),
        struct(col("b").as("u"), col("a").as("v")))).as("p"))
      .select(col("p.u"), col("p.v"))).df
    val deg = adj.groupBy(col("u").as("mid")).agg(count(lit(1)).as("deg"))
    // wedges a—v—b with a < b: each unordered candidate pair materializes
    // once per common neighbor; the middle degree rides a broadcast join
    val wedges = adj.as("x").join(adj.as("y"),
        col("x.u") === col("y.u") && col("x.v") < col("y.v"))
      .select(col("x.v").as("node_a"), col("y.v").as("node_b"),
        col("x.u").as("mid"))
      .join(broadcast(deg), Seq("mid"))
    val scored = wedges
      .groupBy(col("node_a"), col("node_b"))
      .agg(count(lit(1)).as("n_common"),
        sum((lit(1.0) / log(col("deg"))).cast("decimal(27,12)")).as("aa"),
        sum((lit(1.0) / col("deg")).cast("decimal(27,12)")).as("ra"))
    scored
      .join(adj.select(col("u").as("node_a"), col("v").as("node_b")),
        Seq("node_a", "node_b"), "left_anti")
      .select(col("node_a"), col("node_b"), col("n_common"),
        round(col("aa").cast("double"), 6).as("adamic_adar"),
        round(col("ra").cast("double"), 6).as("resource_alloc"))
  }
}
