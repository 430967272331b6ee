package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materialize

/** Synchronous label propagation (Raghavan et al. 2007, made deterministic) —
  * community detection over product co-purchase / user-interaction graphs,
  * the cheap first pass before any modularity-style refinement.
  *
  * Each iteration every node adopts the label carrying the largest total
  * incident edge weight among its neighbours' CURRENT labels, ties broken by
  * the smallest label id (the determinism knob — classic LPA tie-breaks
  * randomly and is unreproducible). Isolated nodes keep their own label.
  * A FIXED iteration count (not convergence polling) keeps every run — and
  * the unrolled SQL oracle — bit-identical.
  *
  * Scale shape (100 TB): one shuffle per iteration — join labels to the edge
  * list on src (labels table is |V| rows, edge list |E|), then a
  * (dst, label)-keyed weight sum with map-side partial aggregation, then a
  * per-dst rank-1 window that compiles to WindowGroupLimit (top-1 per key,
  * partial-pushed). Weights are integral counts, so sums are exact and
  * order-independent. The edge list is reused every iteration —
  * localCheckpoint once up front.
  */
object Communities {

  /** `iters` rounds of deterministic sync LPA over an undirected weighted
    * edge list (srcCol, dstCol, weightCol). Returns (node, label).
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, iters: Int): DataFrame = {
    // materialize the DIRECTED edges first: the symmetrizing union reads
    // them twice, and without this the whole upstream edge pipeline (basket
    // explode included) executes once per union branch
    val e0 = Materialize(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).as("w"))).df
    // symmetrize once; both directions carry the same weight
    val sym = Materialize(e0
      .union(e0.select(col("dst").as("src"), col("src").as("dst"), col("w")))).df

    val nodes = Materialize(sym.select(col("src").as("node")).distinct()).df
    var labels = nodes.select(col("node"), col("node").as("label"))

    val rank = Window.partitionBy(col("dst"))
      .orderBy(col("wsum").desc, col("lbl"))
    (1 to iters).foreach { _ =>
      val adopted = sym.join(labels, sym("src") === labels("node"))
        .groupBy(col("dst"), col("label").as("lbl"))
        .agg(sum(col("w")).as("wsum"))
        .withColumn("__rn", row_number().over(rank))
        .filter(col("__rn") === 1)
        .select(col("dst").as("node"), col("lbl").as("new_label"))
      // checkpoint per round (the pagerank/kcore iterative discipline):
      // `labels` is consumed TWICE each round (adoption join + carry-left
      // join), so the lazy plan re-executes round t−1 twice per round-t
      // evaluation — 2^iters round-1 runs by the end without this
      labels = Materialize(labels.join(adopted, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("new_label"), col("label")).as("label"))).df
    }
    labels
  }

  /** Weighted Newman modularity of a partition — the quality score that
    * makes [[labelPropagation]]'s output auditable:
    *
    *   Q = Σ_c [ e_c/m − (d_c/(2m))² ]
    *
    * over communities c, with m the total undirected edge weight, e_c the
    * intra-community weight and d_c the community's weighted degree.
    * Q ≈ 0 → the partition is no better than random; Q ≳ 0.3 → real
    * community structure. All inputs are exact integer sums; per-community
    * terms are one fixed-order double formula pooled in DECIMAL(28,12)
    * (partition-order exact).
    *
    * Scale shape: two equi-joins of the edge list against the label table
    * (broadcast when the graph's node table is narrow), one node-keyed
    * degree aggregate, and a communities-sized term table — no pairwise
    * work beyond the edges that already exist.
    *
    * Output: 1 row (n_communities, total_weight, modularity).
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 wCol: String, labels: DataFrame, nodeCol: String,
                 labelCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"),
      col(wCol).as("w"))
    val lab = labels.select(col(nodeCol).as("node"), col(labelCol).as("label"))
    val m = e.agg(sum(col("w")).as("m"))
    val intra = e
      .join(lab.select(col("node").as("a"), col("label").as("la")), Seq("a"))
      .join(lab.select(col("node").as("b"), col("label").as("lb")), Seq("b"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("c")).agg(sum(col("w")).as("ec"))
    val sym = e.select(col("a").as("node"), col("w"))
      .union(e.select(col("b").as("node"), col("w")))
    val deg = sym.join(lab, Seq("node"))
      .groupBy(col("label").as("c")).agg(sum(col("w")).as("dc"))
    val md = col("m").cast("double")
    val term = ((col("ec").cast("double") / md) -
      (col("dc").cast("double") / (lit(2.0) * md)) *
        (col("dc").cast("double") / (lit(2.0) * md)))
      .cast("decimal(28,12)")
    deg.join(intra, Seq("c"), "left").na.fill(0L, Seq("ec"))
      .crossJoin(broadcast(m))
      .select(col("m"), term.as("t"))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_communities"), sum(col("t")).as("q"))
      .select(col("n_communities"), col("m").as("total_weight"),
        col("q").cast("double").as("modularity"))
  }
}
