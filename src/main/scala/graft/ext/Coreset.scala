package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize

/** Coreset / diversity sampling over an embedding column — k-center greedy
  * (farthest-point sampling, FPS): starting from a seed, repeatedly select
  * the point whose nearest already-selected center is farthest (here:
  * lowest maximum cosine). The standard geometry-covering subset used for
  * training-data selection, active-learning seeding and k-means init (it is
  * a 2-approximation of the k-center objective).
  *
  * Scale shape: FPS is inherently k passes over the corpus, but each pass is
  * exactly ONE map-side job — the per-point state is a single running
  * `best_sim` double updated against the one newest center (broadcast 1-row
  * crossJoin + `greatest`), and the argmin is a TakeOrderedAndProject
  * (per-partition heaps, 1 row out). The running-state frame
  * localCheckpoints per round (the pagerank/kcore iterative discipline) so
  * round i never re-executes rounds 1..i−1. Incremental `greatest`
  * accumulation equals the full max over all selected centers (max is
  * associative-commutative), which is what the unrolled SQL oracle computes.
  */
object Coreset {

  /** Greedy k-center selection by cosine farthest-point. Output: one row per
    * selected point in pick order — (rnk, id, farthest_sim), where
    * farthest_sim is the point's max cosine to the previously selected
    * centers at pick time (null for the seed row). Ties break by ascending
    * id in every argmin.
    */
  def farthestPointSample(df: DataFrame, idCol: String, vecCol: String,
                          seedId: Long, k: Int): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    val seedRow = df.filter(col(idCol) === seedId).select(col(vecCol)).head(1)
    require(seedRow.nonEmpty, s"seed id $seedId not found in $idCol")
    val seedVec = seedRow(0).getSeq[Float](0)
    def simTo(q: Seq[Float]) = SimSearch.cosineToQuery(col("__v"), q)
    var pts = Materialize(df.filter(col(idCol) =!= seedId)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .withColumn("__bs", simTo(seedVec))).df
    var sel = Seq((1, seedId, Option.empty[Double]))
    var exhausted = false
    for (i <- 2 to k if !exhausted) {
      // when k exceeds the point count the argmin frame runs dry: return the
      // full ordering selected so far rather than crashing on head()
      pts.orderBy(col("__bs").asc, col("__id")).limit(1)
        .select(col("__id"), col("__v"), col("__bs")).head(1).headOption match {
        case None => exhausted = true
        case Some(next) =>
          val nextVec = next.getSeq[Float](1)
          sel = sel :+ ((i, next.getLong(0), Some(next.getDouble(2))))
          if (i < k)
            pts = Materialize(pts.filter(col("__id") =!= next.getLong(0))
              .withColumn("__bs", greatest(col("__bs"), simTo(nextVec)))).df
      }
    }
    val spark = df.sparkSession
    import spark.implicits._
    sel.toDF("rnk", idCol, "__fs")
      .select(col("rnk"), col(idCol), round(col("__fs"), 6).as("farthest_sim"))
      .orderBy(col("rnk"))
  }
}
