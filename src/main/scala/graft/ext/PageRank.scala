package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Materialize, Materialized}

/** Damped PageRank over an edge table — the iterative graph-analytics
  * companion to [[Dedup.dupClusters]]'s connected components: CC tells you
  * WHICH rows form a duplicate/citation cluster, PageRank ranks nodes by
  * structural importance (canonical-document election, seed-URL
  * prioritization, item-graph popularity smoothing).
  *
  * Fixed-iteration power method, engine-portable by construction: per-node
  * contributions `pr(u)/deg(u)` are exact-order-independent DECIMAL(28,15)
  * sums, and every scalar op (damping mix, init) is stated with identical
  * double arithmetic in the SQL oracle (which unrolls the same iterations as
  * chained CTEs). Scale shape per iteration: one edge⋈rank equi-join + one
  * dst-keyed aggregate — both partial-aggregated, keyed by node id; the rank
  * table is #nodes rows. Hot (high-in-degree) nodes are AGGREGATE keys, not
  * join fan-out. The driver holds one scalar (node count). 5 iterations ≈
  * 5 shuffles of #edges — the standard batch-PageRank cost; convergence-gated
  * variants stop on an L1 delta the same way [[Dedup.dupClusters]] gates.
  */
object PageRank {

  /** Run `iterations` damped-PageRank steps over `edges` (directed; pass both
    * directions for an undirected graph). Nodes = every id appearing as src or
    * dst; init 1/N; dangling nodes keep only the teleport term. Output:
    * (node, pr) — one row per node.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int = 5, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    // checkpoint once: the edge table feeds every iteration — without the
    // lineage cut, each of the 5 contrib joins would re-run the whole
    // upstream edge-building pipeline (same discipline as dupClusters).
    // Hash-partitioned by src FIRST, and the checkpoint keeps that
    // partitioning: every iteration's e⋈rank join then shuffles only the
    // #nodes-row rank table, never the edge table — one edge shuffle total
    // instead of one per iteration
    val e = Materialize(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .repartition(col("src"))).df
    // deg and nodes feed EVERY iteration (nodes twice: the rank lineage and
    // the dangling left join) — checkpoint them too, or each iteration's
    // plan re-runs the aggregate / union-distinct from scratch (the r8
    // 7926a7f fan-out discipline)
    val deg = Materialize(e.groupBy(col("src")).agg(count(lit(1)).as("deg"))).df
    val Materialized(nodes, n, _) = Materialize(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    var pr = nodes.withColumn("pr", lit(1.0) / lit(n.toDouble))
    (1 to iterations).foreach { i =>
      val contrib = e
        .join(pr.withColumnRenamed("node", "src"), "src")
        .join(deg, "src")
        .select(col("dst").as("node"),
          (col("pr") / col("deg")).cast("decimal(28,15)").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
      pr = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit((1.0 - damping) / n) +
            lit(damping) * coalesce(col("s").cast("double"), lit(0.0))).as("pr"))
    }
    // NOT checkpointed per iteration: each pr references its predecessor
    // exactly once, so the final action executes the chain once — a per-step
    // checkpoint would add an eager job barrier per iteration for nothing
    // (measured 2.2s -> 2.9s warm at sf0.1). The multi-use inputs (e, deg,
    // nodes) are the ones worth materializing.
    pr
  }

  /** Personalized PageRank (Haveliwala, WWW 2002) over a WEIGHTED edge
    * table: random walks teleport back to the `seeds` set (uniformly)
    * instead of to every node, so scores measure proximity TO THE SEEDS —
    * the graph-native "more like these" ranking behind seed-based item
    * expansion. Same fixed-iteration, engine-portable discipline as
    * [[pageRank]]: contributions `ppr(u)·w(u,v)/outw(u)` pool in
    * DECIMAL(28,15), the damping mix is one double formula, and the
    * teleport mass (1−d)/|S| lands ONLY on seed rows. Nodes unreachable
    * from the seeds (and off the teleport set) end at 0 and are dropped.
    * Output: (node, ppr), nonzero rows.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           weightCol: String, seeds: DataFrame,
                           seedCol: String, iterations: Int = 3,
                           damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val e = Materialize(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).cast("long").as("w"))
      .repartition(col("src"))).df
    val outw = Materialize(e.groupBy(col("src")).agg(sum(col("w")).as("outw"))).df
    val Materialized(s, nSeeds, _) =
      Materialize(seeds.select(col(seedCol).as("node")).distinct())
    require(nSeeds >= 1, "personalizedPageRank needs at least one seed")
    val teleport = 1.0 / nSeeds
    var pr = s.withColumn("ppr", lit(teleport))
    (1 to iterations).foreach { _ =>
      val contrib = e
        .join(pr.withColumnRenamed("node", "src"), "src")
        .join(outw, "src")
        .select(col("dst").as("node"),
          (col("ppr") * col("w") / col("outw")).cast("decimal(28,15)")
            .as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
      pr = contrib
        .join(s.withColumn("__seed", lit(true)), Seq("node"), "full")
        .select(col("node"),
          (when(col("__seed").isNotNull, lit((1.0 - damping) * teleport))
            .otherwise(lit(0.0)) +
            lit(damping) * coalesce(col("s").cast("double"), lit(0.0)))
            .as("ppr"))
    }
    pr.filter(col("ppr") > 0)
  }
}
