package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Materialize

/** Dataset profiling — the "analyze table" primitive a pipeline runs on every
  * new data drop before trusting it: per-column row/null/distinct counts and
  * min/max, in one scan, as a long-format table keyed by column name.
  */
object Profiling {

  /** Benford first-digit audit — the forensic screen for fabricated or
    * pipeline-mangled numeric columns (price feeds, usage counters): natural
    * multi-magnitude data follows P(d) = log10(1+1/d); a unit-level default,
    * a truncation bug, or synthetic padding shows up as a large chi²
    * against that law. Rows with value < 1 are excluded (no stable first
    * significant digit without magnitude).
    *
    * One digit-keyed count (map-side combined) left-joined onto the digit
    * spine 1..9 so EMPTY digits still contribute their expected mass to
    * chi²; per-digit terms pool in DECIMAL(28,12) ([[Experiment.srm]]'s
    * idiom), so the statistic is partition-order-exact. Output, one row per
    * digit: (digit, n_obs, expected, chi2, dof) — chi2/dof are the
    * column-level statistic repeated per row.
    */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    val digit = substring(floor(col(valueCol)).cast("long").cast("string"), 1, 1)
      .cast("int")
    val counts = df.filter(col(valueCol) >= 1)
      .groupBy(digit.as("digit")).agg(count(lit(1)).as("n_obs"))
    val spine = spark.range(1, 10).select(col("id").cast("int").as("digit"))
    val byDigit = Materialize(spine.join(counts, Seq("digit"), "left")
      .na.fill(0L, Seq("n_obs"))).df
    val g = byDigit.agg(sum(col("n_obs")).as("n_tot"))
    // spelled ln(1+1/d)/ln(10), NOT log10(): both engines then run the same
    // two doubles ops (a direct log10 can differ in the last bit)
    val expected = col("n_tot").cast("double") *
      (log(lit(1.0) + lit(1.0) / col("digit").cast("double")) / log(lit(10.0)))
    val dev = col("n_obs").cast("double") - expected
    byDigit.crossJoin(broadcast(g))
      .withColumn("chi_term", (dev * dev / expected).cast("decimal(28,12)"))
      .withColumn("chi2_raw",
        sum(col("chi_term")).over(
          org.apache.spark.sql.expressions.Window.partitionBy())
          .cast("double"))
      .select(col("digit"), col("n_obs"),
        round(expected, 6).as("expected"),
        round(col("chi2_raw"), 6).as("chi2"),
        lit(8L).as("dof"))
  }

  /** Profile `cols` of `df` in ONE aggregation pass. Output, one row per
    * column: (column_name, n_rows, n_nulls, n_distinct, min_value, max_value) —
    * min/max cast to string so mixed-type columns share one schema.
    *
    * `exactDistinct = true` uses COUNT(DISTINCT): Spark plans the multi-distinct
    * aggregate via Expand, duplicating every input row once per profiled column
    * — exact, and fine up to mid-scale, but at 100 TB profile with
    * `exactDistinct = false` (HyperLogLog `approx_count_distinct`, single pass,
    * no Expand, ±~2.3% error) — the same switch [[graft.metrics.Coverage]]
    * exposes. The exact form is the oracle-checked one.
    */
  def profileColumns(df: DataFrame, cols: Seq[String],
                     exactDistinct: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "profileColumns needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__nn_$c"),
        (if (exactDistinct) countDistinct(col(c))
         else approx_count_distinct(col(c))).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    } :+ count(lit(1)).as("__n")
    val row = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map { c =>
      struct(lit(c).as("column_name"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"__nn_$c")).as("n_nulls"),
        col(s"__nd_$c").as("n_distinct"),
        col(s"__mn_$c").as("min_value"),
        col(s"__mx_$c").as("max_value"))
    }
    row.select(explode(array(stacked: _*)).as("__p")).select(col("__p.*"))
  }

  /** Robust outlier detection via median/MAD (Iglewicz & Hoaglin's modified
    * z-score): with m = median(x) and MAD = median(|x − m|), flag rows where
    * |0.6745·(x − m)/MAD| > threshold (3.5 is the standard cut). Unlike
    * mean/stddev, the estimator doesn't let the outliers drag their own
    * baseline — one 1000× bad row barely moves a median.
    *
    * Output: flagged rows only — (id, value, median_value, mad, robust_z),
    * robust_z rounded 6, ordered by |z| desc then id for a stable artifact.
    *
    * Scale shape: the two medians are exact (`percentile`, a full-sort
    * aggregate) — right for the oracle-checked regime; at 100 TB switch
    * `exact = false` for `percentile_approx` (one-pass QuantileSummaries
    * sketch, no sort) and accept ±ε on the cut line. The 2-row scalar stage
    * broadcasts back over the scan, so the data never shuffles.
    */
  def madOutliers(df: DataFrame, idCol: String, valueCol: String,
                  threshold: Double = 3.5, exact: Boolean = true): DataFrame = {
    val x = df.select(col(idCol).as("id"), col(valueCol).cast("double").as("value"))
    def med(c: org.apache.spark.sql.Column) =
      if (exact) percentile(c, lit(0.5))
      else percentile_approx(c, lit(0.5), lit(10000))
    val m = x.agg(med(col("value")).as("median_value"))
    val mad = x.crossJoin(broadcast(m))
      .agg(med(abs(col("value") - col("median_value"))).as("mad"))
    x.crossJoin(broadcast(m)).crossJoin(broadcast(mad))
      .withColumn("robust_z",
        lit(0.6745) * (col("value") - col("median_value")) / col("mad"))
      .filter(abs(col("robust_z")) > threshold)
      .select(col("id"), col("value"),
        round(col("median_value"), 6).as("median_value"),
        round(col("mad"), 6).as("mad"),
        round(col("robust_z"), 6).as("robust_z"))
  }

  /** Pairwise Pearson correlation of `cols` in ONE aggregation pass — all
    * `corr(ci, cj)` (i < j) computed as co-moments in the same map-side-partial
    * aggregate, then exploded to long format (col_a, col_b, corr). Pearson r is
    * scale-invariant, so sample-vs-population variance conventions cancel and the
    * result is engine-portable. One scan however many columns; the profiler
    * companion to [[profileColumns]].
    */
  /** Empirical-Bayes rate shrinkage — per-group success rates pulled toward
    * the pooled mean with a fixed-strength prior: with k successes of n
    * trials and pooled mean m = Σk/Σn,
    * `shrunk = (k + m·τ)/(n + τ)` (a Beta(m·τ, (1−m)·τ) prior). The standard
    * fix for small-sample rate rankings (return rates, CTRs, defect rates)
    * where a 1-of-2 group would otherwise outrank a 490-of-1000 one; the
    * output carries both rankings and the shift so the damage raw ranking
    * would do is visible. Fixed τ (not method-of-moments) keeps every number
    * a ratio of exact integers — MoM needs the across-group variance of
    * p_i, whose double summation is partition-order-dependent.
    *
    * One conditional aggregate (group rollup) + a broadcast 1-row pooled
    * total; ranking windows run over |groups| rows. Output per group:
    * (grp, n, k, raw_rate, shrunk_rate, rank_raw, rank_shrunk, rank_shift).
    */
  def shrunkRates(df: DataFrame, groupCol: String,
                  successCol: String, tau: Double = 200.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = df.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(successCol), 1L).otherwise(0L)).as("k"))
    val pooled = g.agg(sum(col("k")).as("tk"), sum(col("n")).as("tn"))
    val m = col("tk").cast("double") / col("tn")
    val raw = col("k").cast("double") / col("n")
    val shrunk = (col("k") + m * lit(tau)) / (col("n") + lit(tau))
    val wRaw = Window.orderBy(col("__raw").desc, col("grp"))
    val wShrunk = Window.orderBy(col("__shrunk").desc, col("grp"))
    g.crossJoin(broadcast(pooled))
      .withColumn("__raw", raw)
      .withColumn("__shrunk", shrunk)
      .withColumn("rank_raw", row_number().over(wRaw))
      .withColumn("rank_shrunk", row_number().over(wShrunk))
      .select(col("grp"), col("n"), col("k"),
        round(col("__raw"), 6).as("raw_rate"),
        round(col("__shrunk"), 6).as("shrunk_rate"),
        col("rank_raw"), col("rank_shrunk"),
        (col("rank_raw") - col("rank_shrunk")).as("rank_shift"))
  }

  /** Join-cardinality audit — the optimizer sanity check behind every join
    * plan: the EXACT self-equi-join size on `keyCol` (Σ_k c_k², from per-key
    * counts) against the uniform-distribution textbook estimate n²/d that a
    * cost model assuming no skew would produce. `skew_factor` =
    * actual/estimate is exactly the multiplier by which skew inflates a
    * uniform-assumption plan — 1.0 for flat keys, large for whale keys
    * (complements `q_skew_report`, which profiles the key histogram itself:
    * this row quantifies what that histogram does to a join).
    *
    * One map-side-combined per-key aggregate + a 1-row rollup; the Σc²
    * accumulates as exact longs (DECIMAL on overflow-prone domains).
    */
  def selfJoinCardinality(df: DataFrame, keyCol: String): DataFrame = {
    val perKey = df.groupBy(col(keyCol).as("k"))
      .agg(count(lit(1)).as("c"))
    perKey.agg(count(lit(1)).as("n_keys"),
        sum(col("c")).as("n_rows"),
        sum(col("c") * col("c")).as("actual_pairs"))
      .select(col("n_rows"), col("n_keys"), col("actual_pairs"),
        round(col("n_rows").cast("double") * col("n_rows") / col("n_keys"), 6)
          .as("est_pairs_uniform"),
        round(col("actual_pairs").cast("double") /
          (col("n_rows").cast("double") * col("n_rows") / col("n_keys")), 6)
          .as("skew_factor"))
  }

  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "corrMatrix needs at least two columns")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) => corr(col(a), col(b)).as(s"__c_${a}_$b") }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val stacked = pairs.map { case (a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        col(s"__c_${a}_$b").as("pearson_r"))
    }
    row.select(explode(array(stacked: _*)).as("__p")).select(col("__p.*"))
  }

  /** Per-group winsorized mean — the clamping counterpart of the trimmed mean
    * (q_trimmed_mean DROPS the tails; winsorizing REPLACES them, so n stays
    * intact and extreme rows still vote, just boundedly). Rank-based and
    * fully exact: with k = ⌊n·pctNum/pctDen⌋ rows clamped on each side, the
    * k smallest values become the value at ascending rank k+1 and the k
    * largest the value at rank n−k; the mean sums exact integers.
    *
    * `valueCol` must be an exact integer column (e.g. cents); `tieCol` makes
    * the ranking deterministic. Scale shape: one group-partitioned rank
    * window (parallel across groups), the two per-group bounds come from a
    * conditional aggregate joined back on the group key — no global order,
    * no percentile interpolation to drift across engines. Output per group:
    * (group, n, lo_bound, hi_bound, winsorized_mean).
    */
  def winsorizedMean(df: DataFrame, groupCol: String, valueCol: String,
                     tieCol: String, pctNum: Int = 1,
                     pctDen: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(pctNum >= 0 && pctDen > 0 && pctNum * 2 < pctDen,
      s"tail fraction $pctNum/$pctDen must be in [0, 0.5)")
    val w = Window.partitionBy(col("__g")).orderBy(col("__v"), col("__t"))
    val ranked = df.select(col(groupCol).as("__g"), col(valueCol).as("__v"),
        col(tieCol).as("__t"))
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("__g"))))
      .withColumn("__k", expr(s"__n * $pctNum div $pctDen"))
    val bounds = ranked.groupBy(col("__g"))
      .agg(max(col("__n")).as("n"), max(col("__k")).as("__k2"),
        max(when(col("__rn") === col("__k") + 1, col("__v"))).as("lo_bound"),
        max(when(col("__rn") === col("__n") - col("__k"), col("__v")))
          .as("hi_bound"))
    ranked.join(bounds.withColumnRenamed("__g", "__gb"),
        col("__g") === col("__gb"))
      .select(col("__g"), col("n"),  col("lo_bound"), col("hi_bound"),
        greatest(least(col("__v"), col("hi_bound")), col("lo_bound"))
          .as("__w"))
      .groupBy(col("__g").as(groupCol))
      .agg(max(col("n")).as("n"), max(col("lo_bound")).as("lo_bound"),
        max(col("hi_bound")).as("hi_bound"),
        round(sum(col("__w")).cast("double") / max(col("n")), 6)
          .as("winsorized_mean"))
  }

  /** Per-group weighted median (lower): the smallest value v whose
    * cumulative weight reaches half the group's total — `2·cumw ≥ W` in
    * EXACT integer arithmetic, so there is no interpolation or floating
    * half-point to drift across engines. The plain median answers "the
    * typical row"; the weighted median answers "the typical UNIT" (typical
    * dollar's price, typical token's document length) — they diverge
    * whenever weight concentrates.
    *
    * `valueCol` and `weightCol` must be exact integer columns; `tieCol`
    * makes the within-group order total. Scale shape: one group-partitioned
    * window pass (cumulative weight in value order, parallel across groups),
    * one rank-1 filter — compiles to WindowGroupLimit shapes, no global
    * sort. Output per group: (group, n_rows, total_weight, w_median).
    */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
                     weightCol: String, tieCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("__g")).orderBy(col("__v"), col("__t"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = df.select(col(groupCol).as("__g"), col(valueCol).as("__v"),
        col(weightCol).as("__wt"), col(tieCol).as("__t"))
      .withColumn("__cumw", sum(col("__wt")).over(cum))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("__g"))))
      .withColumn("__tw", sum(col("__wt")).over(Window.partitionBy(col("__g"))))
      .filter(col("__cumw") * 2 >= col("__tw"))
    val first = Window.partitionBy(col("__g"))
      .orderBy(col("__cumw"), col("__v"), col("__t"))
    ranked.withColumn("__r", row_number().over(first))
      .filter(col("__r") === 1)
      .select(col("__g").as(groupCol), col("__n").as("n_rows"),
        col("__tw").as("total_weight"), col("__v").as("w_median"))
  }

  /** Source-freshness audit — the ingestion-health check every multi-source
    * pipeline runs before a training snapshot: per source (event type, feed,
    * crawl), the last-seen event time and its lag behind the freshest source
    * in the corpus, flagged when the lag exceeds `staleAfterSec`. A source
    * that silently stopped emitting shows up here long before it shows up as
    * a distribution shift in `q_source_kl`/`q_psi_price`.
    *
    * All arithmetic is integer epoch seconds — exact on both engines. Scale
    * shape: one groupBy(source) max/count over the scan (map-side combined),
    * then a broadcast of the 1-row global max. Output per source asc:
    * (source, n_events, last_seen_epoch, staleness_sec, is_stale).
    */
  /** Sampled join-cardinality estimation audit — the optimizer-style
    * question "how big will A ⋈ B be?" answered from two INDEPENDENT
    * Bernoulli row samples: `|Â ⋈ B̂| / p²` is unbiased for `|A ⋈ B|`
    * (each result pair survives with probability p² under independent
    * sampling of its two parent rows). The audit runs the estimator
    * against the exact cardinality and reports the relative error — the
    * evidence for trusting sampled estimates before sizing a 100 TB
    * shuffle. Samples are deterministic md5 buckets with distinct salts
    * (the [[graft.ext.Splits.hashBucket]] idiom), so both engines draw the
    * identical samples.
    *
    * The exact side never materializes the join: `|A ⋈_k A| = Σ_k c(k)²`
    * from the key-count table; the sampled side joins the two sampled
    * count tables the same way. All counts integer; the ×1/p² scaling is
    * an exact integer multiply.
    *
    * Output: 1 row (n_rows, exact_join_card, sample_join_card, estimate,
    * rel_err_pct).
    */
  def sampledSelfJoinCardinality(df: DataFrame, keyCol: String,
                                 rowKey: Column, pctSample: Int = 10): DataFrame = {
    require(pctSample >= 1 && pctSample <= 50, s"bad pctSample $pctSample")
    // the estimator scales by (100/pctSample)^2 in exact integers; a rate
    // that does not divide 100 would silently bias it (40% would scale by
    // 4 instead of 6.25), so fail loudly instead
    require(100 % pctSample == 0,
      s"pctSample ($pctSample) must divide 100 for the exact-integer scale")
    def bucket(salt: String) =
      conv(substring(md5(concat(rowKey.cast("string"), lit(":" + salt))),
        1, 8), 16, 10).cast("long") % 100
    val base = df.select(col(keyCol).as("k"), bucket("a").as("ba"),
      bucket("b").as("bb"))
    val exact = base.groupBy(col("k")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("n_rows"),
        sum(col("c").cast("decimal(19,0)") * col("c").cast("decimal(19,0)"))
          .as("exact_card"))
    val ca = base.filter(col("ba") < pctSample)
      .groupBy(col("k")).agg(count(lit(1)).as("ca"))
    val cb = base.filter(col("bb") < pctSample)
      .groupBy(col("k")).agg(count(lit(1)).as("cb"))
    val sampled = ca.join(cb, Seq("k"))
      .agg(coalesce(sum(col("ca").cast("decimal(19,0)") *
        col("cb").cast("decimal(19,0)")), lit(0).cast("decimal(38,0)"))
        .as("sample_card"))
    val scale = (100L / pctSample) * (100L / pctSample)
    exact.crossJoin(sampled)
      .select(col("n_rows"), col("exact_card").cast("long")
          .as("exact_join_card"),
        col("sample_card").cast("long").as("sample_join_card"),
        (col("sample_card") * scale).cast("long").as("estimate"),
        (lit(100.0) * abs((col("sample_card") * scale).cast("double") -
          col("exact_card").cast("double")) / col("exact_card").cast("double"))
          .as("rel_err_pct"))
  }

  def freshness(df: DataFrame, sourceCol: String, tsCol: String,
                staleAfterSec: Long = 3600L): DataFrame = {
    val per = df.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_events"),
        max(unix_timestamp(col(tsCol))).as("last_seen_epoch"))
    val global = per.agg(max(col("last_seen_epoch")).as("__gmax"))
    per.crossJoin(broadcast(global))
      .select(col("source"), col("n_events"), col("last_seen_epoch"),
        (col("__gmax") - col("last_seen_epoch")).as("staleness_sec"),
        (col("__gmax") - col("last_seen_epoch") > staleAfterSec).as("is_stale"))
      .orderBy(col("source"))
  }
}
