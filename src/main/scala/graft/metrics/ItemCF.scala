package graft.metrics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize

/** Item-item collaborative-filtering neighborhoods over binary interactions —
  * the item-side transpose of P6 personalization's user-user cosine
  * (/root/reference/recmetrics_pyspark/recmetrics_pyspark.py:287-413 computes
  * user rows; serving "users who bought X also bought Y" needs item rows).
  *
  * With binary (user, item) vectors, cosine(i,j) reduces to
  * `co(i,j) / sqrt(n_i · n_j)` where co = #users holding both and n_i = #users
  * holding i — so the whole computation is one user-keyed basket aggregate
  * plus map-side pair generation; no matrix library, no pivot, no self-join
  * shuffle (each interaction row crosses the wire once).
  *
  * Scale shape: pair generation costs Σ_user basket², so whale users (bots,
  * shared accounts) dominate at 100 TB. `maxBasket` drops users above a basket
  * cap BEFORE the aggregate — the standard power-user cut in item-CF (their
  * co-occurrence signal is near-uniform noise anyway) — which also bounds the
  * collected basket arrays. `minSupport` prunes long-tail items on the scan
  * via a broadcast semi-join. Top-k per item runs as a user-keyed
  * WindowGroupLimit, never a global sort.
  */
object ItemCF {

  /** Top-k cosine neighbors per item.
    * Output: (item_id, neighbor_id, n_item, n_neighbor, n_both, cosine, rnk)
    * for ranks ≤ k, ties broken by neighbor id.
    */
  def itemNeighbors(interactions: DataFrame, userCol: String, itemCol: String,
                    k: Int = 3, minSupport: Long = 5,
                    maxBasket: Long = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // b0 feeds three differently-keyed branches (basket sizes, item support,
    // the join input) — materialize the upstream interactions+distinct once
    // instead of letting AQE re-run it per branch (35 scans observed).
    val b0 = Materialize(interactions
      .select(col(userCol).as("user"), col(itemCol).as("item")).distinct()).df
    val keptUsers = b0.groupBy(col("user")).agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBasket).select(col("user"))
    // ni feeds three consumers (the item prune + both post-aggregate support
    // joins) — checkpoint the small table instead of re-running its aggregate
    val ni = Materialize(b0.join(broadcast(keptUsers), Seq("user"))
      .groupBy(col("item")).agg(count(lit(1)).as("n_users"))
      .filter(col("n_users") >= minSupport)).df
    // basket form: both cuts apply as broadcast semi-joins on the scan (no
    // reshuffle), then ONE user-keyed set aggregate collects each kept basket
    // and pairs generate map-side from it — bounded by maxBasket² per user —
    // instead of a two-sided self-join shuffle. Support counts re-attach
    // post-aggregate from the broadcast ni (functionally dependent on the id).
    val b = b0.join(broadcast(keptUsers), Seq("user"), "left_semi")
      .join(broadcast(ni.select(col("item"))), Seq("item"), "left_semi")
    val co = b.groupBy(col("user")).agg(collect_list(col("item")).as("items"))
      .select(explode(col("items")).as("i"), col("items"))
      .select(col("i"), explode(col("items")).as("j"))
      .filter(col("i") < col("j"))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("n_both"))
      .join(broadcast(ni.select(col("item").as("i"), col("n_users").as("ni"))),
        Seq("i"))
      .join(broadcast(ni.select(col("item").as("j"), col("n_users").as("nj"))),
        Seq("j"))
      .select(col("i"), col("j"), col("ni"), col("nj"), col("n_both"))
    // both directions from ONE generator, not a UNION of two projections — a
    // union's branches each re-specialize (and re-run) the whole co-occurrence
    // aggregate upstream; explode(array(struct…)) keeps a single subtree
    val directed = co.select(explode(array(
        struct(col("i").as("item_id"), col("j").as("neighbor_id"),
          col("ni").as("n_item"), col("nj").as("n_neighbor"), col("n_both")),
        struct(col("j").as("item_id"), col("i").as("neighbor_id"),
          col("nj").as("n_item"), col("ni").as("n_neighbor"), col("n_both"))))
        .as("e"))
      .select(col("e.*"))
      .withColumn("cosine",
        col("n_both").cast("double") / sqrt(col("n_item") * col("n_neighbor")))
    val w = Window.partitionBy(col("item_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    directed.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .withColumn("cosine", round(col("cosine"), 6))
  }
}
