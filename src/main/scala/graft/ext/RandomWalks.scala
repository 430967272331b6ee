package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Materialize, Materialized}

/** Deterministic random-walk corpus generation — the DeepWalk / node2vec
  * front end (Perozzi et al. 2014; Grover & Leskovec 2016): embed a graph by
  * sampling fixed-length walks and feeding the node sequences to a skip-gram
  * trainer exactly like sentences. The walks here are HASH-seeded: step t of
  * walker w at node v moves to `neighbors(v)[md5(w:t:v) mod deg(v)]`, so the
  * corpus is reproducible run-to-run and machine-to-machine with no RNG
  * state, no driver-side draws, and no partition-order sensitivity — the
  * same discipline as [[Splits.weightedSample]]'s md5 draw.
  *
  * Scale shape: the adjacency index (per-source neighbor position + degree)
  * is built once — a distinct + one PARTITIONED window keyed by source —
  * and checkpointed so the per-step joins re-read a materialized table
  * instead of re-running the upstream edge pipeline once per plan
  * reference. Each step is then two equi-joins (degree lookup, then
  * (src, pos) neighbor lookup) on tables partitioned by node — no shuffle
  * of the walker state beyond its join keys, O(steps) fixed-size plan. The
  * walk path rides along as an array column (one linear lineage, no
  * per-step union or checkpoint), exploded once at the end.
  */
object RandomWalks {

  /** Run `steps`-step deterministic walks from each start node. `edges` is
    * taken as-is (pass a symmetrized table for undirected walks). A walker
    * stranded at a dead-end node keeps the prefix it walked (left-join
    * semantics — a start node with no out-edges still emits its step-0
    * row). Output: (walker, step, node), step 0 = the start node.
    */
  def walks(edges: DataFrame, srcCol: String, dstCol: String,
            starts: DataFrame, startCol: String, steps: Int): DataFrame = {
    require(steps >= 1 && steps <= 16, s"steps must be 1..16, got $steps")
    // ONE src exchange builds the index (r17): hash-partitioning by src
    // satisfies both the distinct's (src, dst) clustering and the window's
    // src partitioning (HashPartitioning on a subset of the required keys),
    // so the former distinct-then-window chain of TWO full-edge exchanges
    // collapses to this single repartition. The distinct's partial
    // aggregate bought nothing here anyway — symmetrized edges are already
    // unique per direction (r17 JobProbe: 1.198M of 1.2M records crossed).
    val Materialized(adj, _, adjBytes) = Materialize(edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .repartition(col("src"))
      .distinct()
      .withColumn("pos",
        row_number().over(Window.partitionBy(col("src")).orderBy(col("dst")))
          .cast("long") - 1))
    val deg = adj.groupBy(col("src").as("dsrc"))
      .agg(count(lit(1)).cast("long").as("deg"))
    // Gated broadcast of the adjacency/degree sides (why hints:
    // [[graft.Materialize]]): unhinted, each step's left joins ran as
    // sort-merge — the src-partitioned layout spared the EXCHANGE, but
    // every step still re-SORTED the full adjacency (steps × |E| log |E|).
    // Under the gate, ONE broadcast hash relation is built and reused by
    // all `steps` joins (identical broadcast subtrees dedupe via
    // ReuseExchange) and the walker state streams through unbuffered. Above
    // it the partitioned-layout sort-merge path stays — the correct plan for
    // adjacencies that don't fit an executor.
    val bcast = Materialize.broadcastHint(adjBytes)

    var state = starts
      .select(col(startCol).cast("long").as("walker"))
      .withColumn("cur", col("walker"))
      .withColumn("path", array(col("walker")))
    for (t <- 1 to steps) {
      val pick = pmod(
        conv(substring(md5(concat_ws(":",
          col("walker").cast("string"), lit(t.toString),
          col("cur").cast("string"))), 1, 8), 16, 10).cast("long"),
        col("deg"))
      state = state
        .join(bcast(deg), col("cur") === col("dsrc"), "left")
        .withColumn("pick", pick)
        .join(bcast(adj),
          col("cur") === col("src") && col("pick") === col("pos"), "left")
        .select(col("walker"), coalesce(col("dst"), col("cur")).as("cur"),
          when(col("dst").isNotNull,
            concat(col("path"), array(col("dst"))))
            .otherwise(col("path")).as("path"))
    }
    state.select(col("walker"),
      posexplode(col("path")).as(Seq("step", "node")))
  }
}
