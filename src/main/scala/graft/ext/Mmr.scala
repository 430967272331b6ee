package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize

/** Maximal Marginal Relevance (MMR) re-ranking — the standard diversification
  * pass a retrieval service runs over an ANN shortlist (Carbonell & Goldstein
  * 1998): greedily pick the candidate maximizing
  * `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)`, so the final k trade
  * relevance against redundancy with what is already selected.
  *
  * Scale shape: the only corpus-sized work is the relevance scan + shortlist
  * cut, which plans as one pass over the embedding table into a
  * TakeOrderedAndProject (per-partition heaps, `candidates` rows total cross
  * the wire). The greedy loop then runs on the materialized shortlist —
  * `candidates` rows, independent of corpus size — as k−1 tiny Spark jobs
  * (each an anti-join + ≤candidates×k pairwise cosines + a limit-1 argmax).
  * At 100 TB the shortlist is still 20 rows; the rerank cost never grows.
  *
  * Determinism: relevance and pairwise similarity use the index-ordered
  * double-accumulator dot ([[SimSearch.dot]]), `max` is order-independent,
  * and every argmax tie-breaks by ascending id — so any engine computing the
  * same formula picks the same rows (the generated DuckDB oracle in
  * [[graft.SimilarityQueries]] unrolls the identical greedy steps).
  *
  * Step 1 has an empty selected set: its score is `λ·rel − (1−λ)·0`,
  * consistent with the general formula.
  */
object Mmr {

  /** MMR-rerank the `candidates`-deep cosine shortlist for `queryId` down to
    * `k` rows. Output: (rnk, id, relevance, mmr_score), one row per selected
    * candidate in selection order.
    */
  def rerank(df: DataFrame, idCol: String, vecCol: String, queryId: Long,
             candidates: Int = 20, k: Int = 5,
             lambda: Double = 0.5): DataFrame = {
    require(k >= 1 && candidates >= k, s"need 1 <= k ($k) <= candidates ($candidates)")
    val qRow = df.filter(col(idCol) === queryId).select(col(vecCol)).head(1)
    require(qRow.nonEmpty, s"query id $queryId not found in $idCol")
    val q = qRow(0).getSeq[Float](0)
    // corpus-side pass: relevance + shortlist (TakeOrderedAndProject), then
    // materialize the tiny shortlist so the greedy iterations never re-scan
    val cand = Materialize(df.filter(col(idCol) =!= queryId)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"),
        SimSearch.cosineToQuery(col(vecCol), q).as("__rel"))
      .orderBy(col("__rel").desc, col("__id"))
      .limit(candidates)).df
    val lam = lit(lambda)
    val oneMinusLam = lit(1.0 - lambda)
    def pick(scored: DataFrame, rnk: Int): DataFrame =
      scored.orderBy(col("__score").desc, col("__id")).limit(1)
        .select(lit(rnk).as("rnk"), col("__id"), col("__rel"), col("__score"),
          col("__v"))
    var sel = pick(
      cand.withColumn("__score", lam * col("__rel") - oneMinusLam * lit(0.0)), 1)
    for (i <- 2 to k) {
      val selVecs = sel.select(col("__id").as("__sid"), col("__v").as("__sv"))
      val maxSim = cand
        .join(sel.select(col("__id")), Seq("__id"), "left_anti")
        .crossJoin(broadcast(selVecs))
        .withColumn("__sim", SimSearch.dot(col("__v"), col("__sv")) /
          (SimSearch.norm(col("__v")) * SimSearch.norm(col("__sv"))))
        .groupBy(col("__id"), col("__rel"), col("__v"))
        .agg(max(col("__sim")).as("__maxsim"))
      sel = sel.unionByName(pick(
        maxSim.withColumn("__score",
          lam * col("__rel") - oneMinusLam * col("__maxsim")), i))
    }
    sel.select(col("rnk"), col("__id").as(idCol),
        round(col("__rel"), 6).as("relevance"),
        round(col("__score"), 6).as("mmr_score"))
      .orderBy(col("rnk"))
  }
}
