package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize

/** BM25 ranked retrieval (Robertson & Zaragoza 2009) — the ranked complement
  * of the boolean `q_keyword_and` and the query-time counterpart of q_tfidf's
  * document vectors: given a bag of query terms, score every matching
  * document with
  * `Σ_t IDF(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`,
  * IDF in the Lucene form `ln(1 + (N − df + 0.5)/(df + 0.5))` (always
  * positive), and return the top-k.
  *
  * Scale shape: one tokenize pass for document lengths (map-side-combined
  * count), one FILTERED tokenize pass for the query terms only (the filter
  * sits on the scan — term frequencies for non-query terms are never
  * materialized), df/N/avgdl are tiny broadcast aggregates, and the top-k is
  * `orderBy().limit(k)` = TakeOrderedAndProject (bounded per-partition
  * heaps). Per-term scores are cast to DECIMAL(18,8) before the per-doc sum
  * (addition-order-independent), and the final ranking orders by the ROUNDED
  * score with a doc-id tie-break so libm ln last-ulp skew cannot reorder
  * (the q_log_odds discipline).
  */
object Bm25 {

  /** Top-k BM25 scores for `terms` over `docs`. Output:
    * (rank, idCol, n_terms_hit, score) — rank 1-based by (score desc, id).
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
               topK: Int = 20): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
    // corpus stats + per-doc join read it
    val dl = Materialize(toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))).df
    val corpus = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("t_toks"))
    val tf = toks.filter(col("tok").isin(terms: _*))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val avgdl = col("t_toks").cast("double") / col("n_docs")
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + 0.5) /
      (col("df") + 0.5))
    val termScore = idf * (col("tf") * (k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / avgdl))
    val scored = tf
      .join(broadcast(dfreq), "tok")
      .join(dl, idCol)
      .crossJoin(broadcast(corpus))
      .select(col(idCol), termScore.cast("decimal(18,8)").as("__ts"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms_hit"),
        round(sum(col("__ts")).cast("double"), 6).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(topK)
    // ≤ topK rows post-limit — the unpartitioned rank window is bounded
    scored.withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col(idCol)))
          .cast("long"))
      .select(col("rank"), col(idCol), col("n_terms_hit"), col("score"))
  }

  /** "More like this": top-k documents by TF-IDF cosine to one query
    * document — the classic related-items retrieval primitive (vs
    * [[bm25TopK]]'s term-set query and q_semantic_dup's embedding cosine).
    * Weights are `tf · ln((N+1)/(df+1))` (the q_tfidf convention); the
    * candidate set is docs sharing ≥ 1 token with the query — the sparse
    * inverted-index join, never all-pairs.
    *
    * Scale shape: the per-(doc, token) weight table is one linear aggregate;
    * norms are one more; the dot product joins the CORPUS weight table
    * against the query doc's token rows only (a broadcast-sized side).
    * Per-token products sum as DECIMAL(18,8); ranking orders by the ROUNDED
    * cosine with an id tie-break (libm ln discipline). Output:
    * (rank, idCol, n_shared_terms, cosine).
    */
  def moreLikeThis(docs: DataFrame, idCol: String, textCol: String,
                   queryId: Long, topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // df agg + weights + query side read it
    val tf = Materialize(docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))).df
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val weights = Materialize(tf.join(dfreq, "tok").crossJoin(broadcast(n))
      .select(col(idCol), col("tok"),
        (col("tf") * log((col("n_docs") + 1).cast("double") / (col("df") + 1)))
          .as("w"))).df // norms + both dot-product sides read it
    val norms = weights.groupBy(col(idCol))
      .agg(sqrt(sum((col("w") * col("w")).cast("decimal(18,8)"))
        .cast("double")).as("nrm"))
    val qw = weights.filter(col(idCol) === queryId)
      .select(col("tok"), col("w").as("qw"))
    val qn = norms.filter(col(idCol) === queryId)
      .select(col("nrm").as("qnrm"))
    weights.filter(col(idCol) =!= queryId)
      .join(broadcast(qw), "tok")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared_terms"),
        sum((col("w") * col("qw")).cast("decimal(18,8)")).as("__dot"))
      .join(norms, idCol)
      .crossJoin(broadcast(qn))
      .select(col(idCol), col("n_shared_terms"),
        round(col("__dot").cast("double") / (col("nrm") * col("qnrm")), 6)
          .as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cosine").desc, col(idCol)))
          .cast("long"))
      .select(col("rank"), col(idCol), col("n_shared_terms"), col("cosine"))
  }
}
