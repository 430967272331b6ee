package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize

/** Apriori frequent-itemset mining to level 3 (Agrawal & Srikant,
  * VLDB'94), with the support threshold expressed as a RATE of the basket
  * count so the same query is meaningful at every scale factor.
  *
  * Scale shape: items failing level 1 are cut by a broadcast semi-join
  * BEFORE baskets are assembled (the Apriori property applied where it
  * pays: infrequent items never enter a candidate), then each basket's
  * frequent items collect into ONE order-keyed set aggregate and triples
  * generate MAP-SIDE from each set (the `repeatEdges` basket pattern) —
  * bounded by the per-basket frequent-item count cubed, with no self-join
  * of the (basket, item) table at all. All support checks are integer
  * cross-multiplications (`n · denom ≥ total · num`), no float thresholds.
  */
object Itemsets {

  /** Frequent triples over (basket, item) rows with support ≥
    * `supNum`/`supDenom` of the distinct-basket count. Output: (item_a,
    * item_b, item_c, support, lift) where lift = n_abc·N² / (n_a·n_b·n_c)
    * — the independence-ratio readout at level 3, one fixed-order double
    * formula. Items are returned in ascending order within each triple.
    */
  def frequentTriples(baskets: DataFrame, basketCol: String, itemCol: String,
                      supNum: Long, supDenom: Long): DataFrame = {
    require(supNum >= 1 && supDenom >= supNum,
      s"support rate must be in (0, 1]: $supNum/$supDenom")
    // read by the basket count, the level-1 counts, and the set assembly
    val b = Materialize(baskets
      .select(col(basketCol).as("bk"), col(itemCol).as("it"))
      .distinct()).df
    val total = b.select(col("bk")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    // level 1: per-item support (also the lift denominator)
    val s1 = Materialize(b.groupBy(col("it")).agg(count(lit(1)).as("n1"))
      .crossJoin(broadcast(total))
      .filter(col("n1") * supDenom >= col("n_baskets") * supNum)).df
    // one set per basket over the SURVIVING items, triples map-side
    val sets = b.join(s1.select(col("it")), Seq("it"), "left_semi")
      .groupBy(col("bk")).agg(sort_array(collect_set(col("it"))).as("its"))
    val triples = sets
      .select(explode(col("its")).as("ia"), col("its"))
      .select(col("ia"), explode(col("its")).as("ib"), col("its"))
      .filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"), explode(col("its")).as("ic"))
      .filter(col("ib") < col("ic"))
      .groupBy(col("ia"), col("ib"), col("ic"))
      .agg(count(lit(1)).as("n3"))
      .crossJoin(broadcast(total))
      .filter(col("n3") * supDenom >= col("n_baskets") * supNum)
    triples
      .join(s1.select(col("it").as("ia"), col("n1").as("na")), "ia")
      .join(s1.select(col("it").as("ib"), col("n1").as("nb")), "ib")
      .join(s1.select(col("it").as("ic"), col("n1").as("nc")), "ic")
      .select(col("ia").as("item_a"), col("ib").as("item_b"),
        col("ic").as("item_c"), col("n3").as("support"),
        (col("n3").cast("double") * col("n_baskets") * col("n_baskets") /
          (col("na").cast("double") * col("nb") * col("nc"))).as("lift"))
  }
}
