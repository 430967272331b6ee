package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import graft.Materialize

/** Data-selection operators for training-corpus curation: importance weighting
  * toward a target distribution (hashed-n-gram DSIR, Xie et al. 2023,
  * arXiv:2302.03169), greedy selection under a token budget, and
  * proportional source interleaving for training order.
  *
  * North-star extensions (no counterpart in the reference —
  * /root/reference/recmetrics_pyspark/recmetrics_pyspark.py has no
  * data-selection surface).
  */
object Importance {

  /** Hashed-unigram bucket id — md5-derived, the engine's shared deterministic
    * hash idiom (same arithmetic the DuckDB oracles replay). Shared with the
    * streaming twin ([[graft.streaming.StreamingOps.dsirBucketCountsStream]]).
    */
  private[graft] def tokenBucket(tok: Column, numBuckets: Int): Column =
    pmod(conv(substring(md5(tok), 1, 8), 16, 10).cast("long"), lit(numBuckets))

  /** The readout half of [[dsirLogWeights]]: per-bucket DECIMAL(12,6) log
    * ratios from an aggregated (bucket, n_raw, n_tgt) distribution table.
    * Shared with the streaming twin, whose stateful aggregate maintains
    * exactly those counts.
    */
  def logRatiosFromDist(dist: DataFrame, numBuckets: Int): DataFrame = {
    val tot = dist.agg(sum(col("n_raw")).as("__nr"), sum(col("n_tgt")).as("__nt"))
    dist.crossJoin(broadcast(tot))
      .select(col("__b"),
        (log((col("n_tgt") + 1).cast("double") / (col("__nt") + numBuckets)) -
          log((col("n_raw") + 1).cast("double") / (col("__nr") + numBuckets)))
          .cast("decimal(12,6)").as("__lr"))
  }

  /** DSIR-style importance log-weights: score every document by how much more
    * likely its hashed-unigram counts are under the TARGET distribution (rows
    * where `isTarget`) than under the full raw corpus —
    * `log w(d) = Σ_b c_d(b)·(ln p_target(b) − ln p_raw(b))`, add-one smoothed
    * over `numBuckets` hash buckets. Sampling ∝ exp(log w) shifts the corpus
    * toward the target domain (the DSIR selection rule).
    *
    * Scale shape: one token explode feeds BOTH distributions (a single
    * conditional aggregate over `numBuckets` rows — broadcast back) and the
    * per-doc bucket counts; everything map-side-combines on (doc, bucket).
    * The per-BUCKET log ratio is quantized to DECIMAL(12,6) at the source:
    * libm `ln` differs sub-ulp across engines, and quantizing each of
    * ~numBuckets ratios once (instead of each doc×bucket TERM) makes every
    * downstream product and sum exact integer×decimal arithmetic — caught by
    * the sf0.1 scale-tier gate, where a term-level DECIMAL(18,8) cast let one
    * doc in 5000 flip its 6th decimal.
    */
  def dsirLogWeights(docs: DataFrame, idCol: String, textCol: String,
                     isTarget: Column, numBuckets: Int = 256): DataFrame = {
    // ONE explode pass: the corpus/target bucket distributions are derived
    // FROM the per-doc counts (Σ over docs), not from a second scan — without
    // the checkpoint, Catalyst specializes the explode pipeline per consumer
    // and AQE re-runs it (observed: 9 parquet scans / 12 Generates for this
    // plan's naive form; 1 scan / 1 Generate after). The materialized frame
    // is ≤ one row per (doc, distinct bucket) — capped at docs×numBuckets,
    // far below the token stream it replaces.
    val docBuckets = Materialize(docs
      .select(col(idCol), isTarget.as("__t"),
        explode(split(col(textCol), " ")).as("__tok"))
      .withColumn("__b", tokenBucket(col("__tok"), numBuckets))
      .groupBy(col(idCol), col("__t"), col("__b"))
      .agg(count(lit(1)).as("__c"))).df
    // numBuckets rows; feeds tot AND logRatio
    val dist = Materialize(docBuckets.groupBy(col("__b"))
      .agg(sum(col("__c")).as("n_raw"),
        sum(when(col("__t"), col("__c")).otherwise(0L)).as("n_tgt"))).df
    val logRatio = logRatiosFromDist(dist, numBuckets)
    docBuckets
      .join(broadcast(logRatio), Seq("__b"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_tokens"),
        sum(col("__c") * col("__lr")).as("__lw"))
      .select(col(idCol), col("n_tokens"),
        round(col("__lw").cast("double"), 6).as("log_weight"))
  }

  /** Greedy selection under a token budget: rank documents by
    * `(scoreCol desc, idCol)` and keep the maximal prefix whose cumulative
    * `tokenCol` stays within `budget` (each kept row's OWN tokens included).
    * Output: (idCol, score, n_tokens, sel_rank, cum_tokens) for kept rows.
    *
    * The running sum uses the [[graft.metrics.LongTail]] two-phase discipline
    * (range-repartition on the sort key, per-partition totals, broadcast
    * prefix offsets) — no single-task global window, so the selection holds
    * at catalog scale.
    */
  def tokenBudgetSelect(df: DataFrame, idCol: String, scoreCol: String,
                        tokenCol: String, budget: Long): DataFrame = {
    val spark = df.sparkSession
    val sorted = df
      .select(col(idCol), col(scoreCol).cast(DoubleType).as("score"),
        col(tokenCol).cast(LongType).as("n_tokens"))
      .repartitionByRange(col("score").desc, col(idCol))
      .sortWithinPartitions(col("score").desc, col(idCol))
    val rdd = sorted.rdd
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val partStats = rdd
      .mapPartitionsWithIndex { (pid, it) =>
        var rows = 0L; var tok = 0L
        it.foreach { r => rows += 1; tok += r.getLong(2) }
        Iterator((pid, rows, tok))
      }
      .collect().sortBy(_._1)
    val rowOffsets = partStats.map(_._2).scanLeft(0L)(_ + _)
    val tokOffsets = partStats.map(_._3).scanLeft(0L)(_ + _)
    val bcRow = spark.sparkContext.broadcast(rowOffsets)
    val bcTok = spark.sparkContext.broadcast(tokOffsets)
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      // partitions whose token prefix already exceeds the budget emit nothing
      var rank = bcRow.value(pid)
      var cum = bcTok.value(pid)
      it.flatMap { r =>
        rank += 1; cum += r.getLong(2)
        if (cum <= budget) Some(Row(r.get(0), r.getDouble(1), r.getLong(2), rank, cum))
        else None
      }
    }
    val idField = df.schema(idCol)
    spark.createDataFrame(out, StructType(Seq(
      StructField(idCol, idField.dataType, idField.nullable),
      StructField("score", DoubleType, nullable = false),
      StructField("n_tokens", LongType, nullable = false),
      StructField("sel_rank", LongType, nullable = false),
      StructField("cum_tokens", LongType, nullable = false))))
  }

  /** Proportional source interleave — a deterministic global training order in
    * which each source's documents are spread evenly (the i-th of a source's
    * n docs lands at fraction (i−0.5)/n), so runs of same-source documents
    * are bounded by the source's corpus share instead of clustering. Output:
    * (position, idCol, srcCol, interleave_key) — `position` is the global
    * 1-based training order.
    *
    * Within-source ranks come from a PARTITIONED window (per-source, ordered
    * by the md5 scatter of the id — scale-safe); the global position is
    * [[GlobalRank.globalRowNumber]] on (fraction, md5, id), not a single-task
    * global window.
    */
  def interleaveBySource(docs: DataFrame, idCol: String, srcCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scatter = md5(col(idCol).cast("string"))
    val w = Window.partitionBy(col(srcCol)).orderBy(scatter, col(idCol))
    val keyed = docs
      .select(col(idCol), col(srcCol), scatter.as("__md5"))
      .withColumn("__r", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(srcCol))))
      .withColumn("interleave_key",
        round((col("__r") - lit(0.5)) / col("__n"), 6))
    GlobalRank.globalRowNumber(
        keyed.select(col(idCol), col(srcCol), col("interleave_key"), col("__md5")),
        Seq(col("interleave_key"), col("__md5"), col(idCol)), rnCol = "position")
      .select(col("position"), col(idCol), col(srcCol), col("interleave_key"))
  }

  /** Leave-one-source-out influence — data-valuation-lite over any additive
    * corpus metric: for each source, the pooled mean of `metricCol` WITH the
    * source vs WITHOUT it (the LOO counterfactual a curation pipeline asks
    * before cutting a feed: "if this source vanished, which way does the
    * corpus move?"). Because the metric is additive, the counterfactual is
    * algebra on one pair of aggregates — (Σ−Σ_s)/(N−n_s) — not |sources|
    * recomputations: O(corpus) total work for the whole influence table.
    *
    * Exact integer sums; one group rollup + a broadcast 1-row total. Output
    * per source: (src, n_docs, mean_src, mean_rest, delta) with
    * delta = mean_rest − mean_with (positive ⇒ the source drags the pooled
    * mean DOWN). A source equal to the whole corpus yields null mean_rest.
    */
  def looSourceImpact(docs: DataFrame, srcCol: String,
                      metricCol: String): DataFrame = {
    val perSrc = docs.groupBy(col(srcCol).as("src"))
      .agg(count(lit(1)).as("n_docs"), sum(col(metricCol)).as("s_src"))
    val total = perSrc.agg(sum(col("n_docs")).as("n_tot"),
      sum(col("s_src")).as("s_tot"))
    val meanWith = col("s_tot").cast("double") / col("n_tot")
    val meanSrc = col("s_src").cast("double") / col("n_docs")
    val meanRest = when(col("n_tot") > col("n_docs"),
      (col("s_tot") - col("s_src")).cast("double") /
        (col("n_tot") - col("n_docs")))
    perSrc.crossJoin(broadcast(total))
      .select(col("src"), col("n_docs"),
        round(meanSrc, 6).as("mean_src"),
        round(meanRest, 6).as("mean_rest"),
        round(meanRest - meanWith, 6).as("delta"))
  }

  /** Kish effective sample size of an importance-weighted set, per group:
    *
    *   ESS = (Σw)² / Σw²,   ESS/n ∈ (0, 1]
    *
    * — the one number that says whether resampling by these weights
    * (DSIR selection, IPW estimation) still behaves like a sample or has
    * collapsed onto a few heavy documents. ESS/n = 1 ⇔ uniform weights;
    * → 1/n ⇔ one document dominates.
    *
    * `wExact` must be a DECIMAL-quantized weight expression (e.g.
    * `exp(lw).cast("decimal(18,9)")`) so Σw and Σw² are exact under any
    * partition order; the final ratio is one fixed-order double formula.
    * Scale shape: one group-keyed aggregate, map-side combined.
    *
    * Output per group asc: (group, n, ess, ess_ratio).
    */
  def effectiveSampleSize(df: DataFrame, groupCol: String,
                          wExact: Column): DataFrame = {
    val m = df
      .select(col(groupCol).as("grp"), wExact.as("w"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("w")).as("sw"),
        sum(col("w") * col("w")).as("sww"))
    m.select(col("grp").as(groupCol), col("n"),
      ((col("sw").cast("double") * col("sw").cast("double")) /
        col("sww").cast("double")).as("ess"),
      (((col("sw").cast("double") * col("sw").cast("double")) /
        col("sww").cast("double")) / col("n").cast("double")).as("ess_ratio"))
      .orderBy(col(groupCol))
  }
}
