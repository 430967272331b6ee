package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}
import graft.Materialize

/** k-core extraction: the maximal subgraph in which every node has degree ≥ k
  * — the standard graph-denoising cut before community detection or
  * representation learning (1-degree chains and isolated dyads are noise for
  * both).
  *
  * Iterative peeling: drop all nodes with degree < k, recompute degrees on
  * the induced subgraph, repeat to fixpoint. Each round is one aggregate +
  * two semi-joins on the shrinking edge set; the edge frame is
  * materialized per round so round N+1 reads round N's materialized
  * output instead of replaying the whole lineage (the [[Dedup.dupClusters]]
  * discipline). Rounds are O(peeling depth) — bounded by the degeneracy
  * ordering, in practice tens — and the frame shrinks monotonically, so later
  * rounds get cheaper, not deeper.
  */
object KCore {

  /** Nodes of the k-core with their core-subgraph degrees.
    * Output: (node, deg) for every node in the k-core; empty when the graph
    * has no k-core. Input edges are normalized (dedup, self-loops dropped,
    * orientation irrelevant).
    *
    * Adaptive small-graph path (the [[Dedup.dupClusters]] union-find
    * discipline): the normalized edge table's size is known for free once it
    * is checkpointed; when it has at most `smallGraphMaxEdges` rows (and
    * integral ids) the peeling rounds collapse to a single-task linear-time
    * peel (bucket-queue removal, O(V+E)) — one narrow coalesce instead of
    * O(depth) rounds each costing an aggregate, two semi-join shuffles and
    * a checkpoint. 5M deduped edges ≈ a few hundred MB of
    * adjacency in one task — well under executor memory; above the threshold
    * (or for non-integral ids) the distributed rounds run unchanged, so the
    * 100 TB path never depends on one task holding the graph.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxIter: Int = 100, smallGraphMaxEdges: Long = 5000000L): DataFrame = {
    require(k >= 1, "k must be >= 1")
    var e = Materialize(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    val idType = e.df.schema("a").dataType
    val integral =
      Seq[DataType](ByteType, ShortType, IntegerType, LongType).contains(idType)
    if (integral && e.rows <= smallGraphMaxEdges)
      return peelSingleTask(e.df, k, idType)
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val deg = e.df.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select(col("node"))
      val pruned = Materialize(e.df
        .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi"))
      converged = pruned.rows == e.rows
      e = pruned
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"kCore did not converge in $maxIter rounds — raise maxIter")
    e.df.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k)
  }

  /** Single-task linear-time peel over the normalized (deduped, a<b) edge
    * table — the small-graph fast path of [[kCore]]. Queue-based cascade
    * removal: every node is enqueued at most once, every edge relaxed at most
    * twice → O(V+E). Output degrees are the induced-core degrees, identical
    * to the distributed rounds' fixpoint. Ids travel as longs and are cast
    * back to the input's integral type.
    */
  private def peelSingleTask(e: DataFrame, k: Int, idType: DataType): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val out = e.select(col("a").cast("long"), col("b").cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        import scala.collection.mutable
        // edges are pre-deduped → flat adjacency buffers, no per-edge set cost
        val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
        it.foreach { case (a, b) =>
          adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += b
          adj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += a
        }
        val deg = mutable.HashMap.empty[Long, Int]
        adj.foreach { case (n, ns) => deg(n) = ns.length }
        val dead = mutable.HashSet.empty[Long]
        val queue = mutable.Queue.empty[Long]
        deg.foreach { case (n, d) => if (d < k) { dead += n; queue += n } }
        while (queue.nonEmpty) {
          val n = queue.dequeue()
          adj(n).foreach { m =>
            if (!dead(m)) {
              deg(m) -= 1
              if (deg(m) < k) { dead += m; queue += m }
            }
          }
        }
        deg.iterator.collect { case (n, d) if !dead(n) => (n, d.toLong) }
      }
    out.toDF("node", "deg")
      .select(col("node").cast(idType).as("node"), col("deg"))
  }
}
