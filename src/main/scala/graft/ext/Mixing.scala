package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize

/** Training-mixture design: temperature-scaled sampling weights per corpus
  * source — the multinomial α-smoothing recipe (XLM-R / mT5: sample source s
  * with probability ∝ p_s^α, α < 1 upweights small sources) that turns raw
  * corpus sizes into the sampling distribution a data loader consumes.
  *
  * Scale shape: one source-keyed aggregate shrinks the corpus to |sources|
  * rows; the two scalar normalizers (total size, Σ p^α) are 1-row aggregates
  * broadcast back — the corpus itself is scanned exactly once. The tiny
  * per-source frame is checkpointed because three branches read it. The p^α
  * terms sum as DECIMAL so source order can't flip low bits.
  */
object Mixing {

  /** Per-source mixture weights. Output: (source, n_docs, n_units, share,
    * weight, epochs) where `share` is the source's fraction of `sizeCol`
    * mass, `weight` the temperature-scaled sampling probability, and
    * `epochs` = weight·total/n_units — how many passes over the source one
    * full weighted corpus pass implies (>1 = upsampled, <1 = subsampled).
    */
  def temperatureWeights(docs: DataFrame, sourceCol: String, sizeCol: String,
                         alpha: Double = 0.7): DataFrame = {
    val s = Materialize(docs.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col(sizeCol)).as("n_units"))).df
    val tot = s.agg(sum(col("n_units")).as("t_units"))
    val withShare = s.crossJoin(broadcast(tot))
      .withColumn("share", col("n_units").cast("double") / col("t_units"))
      .withColumn("pa", pow(col("share"), alpha))
    val z = withShare.agg(
      sum(col("pa").cast("decimal(27,12)")).cast("double").as("z"))
    withShare.crossJoin(broadcast(z))
      .withColumn("weight", col("pa") / col("z"))
      .select(col("source"), col("n_docs"), col("n_units"),
        round(col("share"), 6).as("share"),
        round(col("weight"), 6).as("weight"),
        round(col("weight") * col("t_units") / col("n_units"), 6).as("epochs"))
  }

  /** Quantile normalization across sources — map each row's WITHIN-source
    * rank onto the POOLED distribution's order statistic at the same
    * percentile, so every source ends up on a common scale (the
    * batch-effect correction quantile-normalization applies to scores from
    * heterogeneous quality models / length distributions before a single
    * global threshold is applied).
    *
    * Entirely exact integer arithmetic: a row at within-group rank r of n_g
    * maps to pooled index `1 + (r−1)·(N−1) div (n_g−1)` (step interpolation
    * of the Hazen plotting position; a singleton group maps to the pooled
    * median index) and takes the pooled value at that index via one
    * equi-join. No doubles anywhere until the caller divides.
    *
    * Scale shape: within-group ranks are a group-partitioned window (parallel
    * across sources); the pooled numbering is
    * [[GlobalRank.globalRowNumber]] (range partition + per-partition offsets
    * — no single-task sort); the index lookup is an equi-join on the pooled
    * rank. Ties in the value order cannot change the result (equal values are
    * interchangeable at any index); the id tiebreak just keeps the numbering
    * itself deterministic.
    *
    * Output: (idCol, grp, raw, norm_value).
    */
  def quantileNormalize(df: DataFrame, groupCol: String, valueCol: String,
                        idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wg = Window.partitionBy(col("grp"))
      .orderBy(col("raw"), col(idCol))
    val ranked = df
      .select(col(idCol), col(groupCol).as("grp"), col(valueCol).as("raw"))
      .withColumn("rg", row_number().over(wg))
      .withColumn("ng", count(lit(1)).over(Window.partitionBy(col("grp"))))
    val pooled = GlobalRank.globalRowNumber(
        df.select(col(valueCol).as("pv"), col(idCol).as("__pid")),
        Seq(col("pv"), col("__pid")), rnCol = "rp")
      .select(col("pv"), col("rp"))
    val np = pooled.agg(count(lit(1)).as("n_p"))
    ranked.crossJoin(broadcast(np))
      .withColumn("q_idx",
        when(col("ng") === 1, expr("(n_p - 1) div 2") + 1)
          .otherwise(expr("(rg - 1) * (n_p - 1) div (ng - 1)") + 1))
      .join(pooled, col("q_idx") === col("rp"))
      .select(col(idCol), col("grp"), col("raw"), col("pv").as("norm_value"))
  }

  /** UniMax budget allocation (Chung et al., ICLR 2023): spread a total token
    * budget across sources as uniformly as possible subject to a per-source
    * epoch cap — no source is repeated more than `epochCap` times, and budget
    * a capped source can't absorb flows to the uncapped ones. The waterfill
    * closed form: sort sources ASCENDING by capacity c_s = epochCap·u_s; a
    * source at rank r is capped iff its capacity is below the fair share of
    * the budget left after every smaller source takes its full capacity —
    * `c_r·(n−r+1) ≤ B − prefix(c)_{r−1}` (the capped set is a prefix of the
    * ascending order by exchange argument); every uncapped source gets the
    * common waterline `(B − prefix(c)_{r*})/(n − r*)`.
    *
    * Capacities, prefixes and the cap test are exact BIGINT arithmetic
    * (epochCap is an integer); the waterline is the only float, computed once
    * at the end. The ascending window runs over |sources| rows (a source
    * catalog, not the corpus — bounded by construction). Output per source:
    * (source, n_tokens, cap, is_capped, allocated, epochs), doubles rounded
    * half-up to 6 decimals.
    */
  def unimaxAllocation(docs: DataFrame, sourceCol: String, sizeCol: String,
                       budget: Long, epochCap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget > 0 && epochCap >= 1,
      s"budget ($budget) must be > 0 and epochCap ($epochCap) >= 1")
    val s = docs.groupBy(col(sourceCol).as("source"))
      .agg(sum(col(sizeCol)).cast("long").as("n_tokens"))
      .withColumn("cap", col("n_tokens") * epochCap)
    // |sources| rows from here on — the unpartitioned windows are bounded
    val w = Window.orderBy(col("cap"), col("source"))
    val ranked = s
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("prefix", sum(col("cap")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .withColumn("is_capped",
        col("cap") * (col("n") - col("r") + 1) <= lit(budget) -
          (col("prefix") - col("cap")))
    val rStar = ranked.agg(
      coalesce(max(when(col("is_capped"), col("r"))), lit(0L)).as("r_star"),
      coalesce(max(when(col("is_capped"), col("prefix"))), lit(0L))
        .as("capped_sum"))
    ranked.crossJoin(broadcast(rStar))
      .withColumn("alloc",
        when(col("is_capped"), col("cap").cast("double"))
          .otherwise((lit(budget) - col("capped_sum")).cast("double") /
            (col("n") - col("r_star"))))
      .select(col("source"), col("n_tokens"), col("cap"), col("is_capped"),
        round(col("alloc"), 6).as("allocated"),
        round(col("alloc") / col("n_tokens"), 6).as("epochs"))
  }

  /** Shuffle-quality audit of a training data ORDER: cut the ordered corpus
    * into fixed-size chunks (the batches a loader would draw) and measure,
    * per chunk, the χ² distance between its source mix and the global mix —
    * `χ²_c = Σ_s (o_cs − n_c·p_s)²/(n_c·p_s)`. A well-shuffled order keeps
    * every chunk near the global mixture (mean χ² ≈ df = |sources|−1); a
    * source-clumped order (crawl order, concatenated dumps) blows the tail
    * chunks up — and clumped batches are exactly what destabilizes training.
    *
    * Exact integer counts feed the identical double formula on both engines;
    * per-(chunk, source) terms sum as DECIMAL(18,8), and the dense
    * chunk×source grid comes from a broadcast cross of the two bounded key
    * sets (absent cells contribute their full expectation). Output: 1 row
    * (n_chunks, n_sources, df, mean_chi2, max_chi2).
    */
  def shuffleQuality(docs: DataFrame, orderCol: String, sourceCol: String,
                     chunkSize: Int): DataFrame = {
    require(chunkSize >= 1, s"chunkSize ($chunkSize) must be >= 1")
    val base = docs.select(
      expr(s"CAST($orderCol AS BIGINT) div $chunkSize").as("chunk"),
      col(sourceCol).as("src"))
    val counts = Materialize(base.groupBy(col("chunk"), col("src"))
      .agg(count(lit(1)).as("o"))).df // grid + totals branches read it
    val chunkTotals = counts.groupBy(col("chunk")).agg(sum(col("o")).as("n_c"))
    val srcTotals = counts.groupBy(col("src")).agg(sum(col("o")).as("n_s"))
    val grand = srcTotals.agg(sum(col("n_s")).as("n_tot"),
      count(lit(1)).as("n_sources"))
    val grid = chunkTotals.crossJoin(broadcast(srcTotals))
      .join(counts, Seq("chunk", "src"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(grand))
    val e = col("n_c").cast("double") * col("n_s") / col("n_tot")
    val chi2 = grid
      .select(col("chunk"), col("n_sources"),
        (((col("o") - e) * (col("o") - e)) / e).cast("decimal(18,8)")
          .as("__t"))
      .groupBy(col("chunk"), col("n_sources"))
      .agg(sum(col("__t")).cast("double").as("chi2"))
    chi2.groupBy(col("n_sources"))
      .agg(count(lit(1)).as("n_chunks"),
        round(sum(col("chi2").cast("decimal(18,8)")).cast("double") /
          count(lit(1)), 6).as("mean_chi2"),
        round(max(col("chi2")), 6).as("max_chi2"))
      .select(col("n_chunks"), col("n_sources"),
        (col("n_sources") - 1).as("df"), col("mean_chi2"), col("max_chi2"))
  }

  /** Neyman optimal stratified-sample allocation (Neyman 1934): to estimate
    * a corpus mean from a fixed labeling/inspection budget, sample stratum h
    * in proportion to N_h·S_h (size × within-stratum standard deviation) —
    * high-variance strata earn more than proportional share, uniform strata
    * less. The quality-audit companion of [[unimaxAllocation]]: UniMax
    * budgets TRAINING tokens, this budgets EVALUATION samples.
    *
    * Per-stratum moments are exact integer sums (population sd via
    * s2/n − (s/n)², the q_cusum moment shape); the N·S terms sum as
    * DECIMAL(28,12) so stratum order can't flip low bits. One source-keyed
    * aggregate + a 1-row broadcast normalizer — the corpus is scanned once.
    * Output per stratum: (source, n_docs, sd, prop_n, neyman_n) — both the
    * proportional and the Neyman allocation of `budget` samples.
    */
  def neymanAllocation(docs: DataFrame, sourceCol: String, valueCol: String,
                       budget: Long): DataFrame = {
    require(budget > 0, s"budget ($budget) must be > 0")
    val m = Materialize(docs.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(valueCol).cast("long")).as("__s"),
        sum(col(valueCol).cast("long") * col(valueCol).cast("long"))
          .as("__s2"))
      .select(col("source"), col("n_docs"),
        sqrt(greatest(
          col("__s2").cast("double") / col("n_docs") -
            (col("__s").cast("double") / col("n_docs")) *
            (col("__s").cast("double") / col("n_docs")),
          lit(0.0))).as("__sd"))).df // normalizer + per-row branches read it
    val tot = m.agg(sum(col("n_docs")).as("__tn"),
      sum((col("n_docs") * col("__sd")).cast("decimal(28,12)"))
        .cast("double").as("__tns"))
    m.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        round(col("__sd"), 6).as("sd"),
        round(lit(budget.toDouble) * col("n_docs") / col("__tn"), 6)
          .as("prop_n"),
        round(lit(budget.toDouble) * (col("n_docs") * col("__sd")) /
          col("__tns"), 6).as("neyman_n"))
  }

  /** Effective data under repetition (Muennighoff et al., NeurIPS 2023,
    * "Scaling Data-Constrained Language Models"): tokens repeated beyond the
    * first epoch decay in value — with U unique tokens trained for
    * R = D/U − 1 extra epochs, the effective data is
    * `D' = U + U·R*·(1 − exp(−R/R*))` (R* the fitted repetition half-value
    * constant, ≈ 15.4 in the paper); D' = D when D ≤ U. Applied to a
    * per-source allocation this scores how much of each source's budget
    * actually buys new learning vs diminishing repeats.
    *
    * `alloc` is one row per source (from [[unimaxAllocation]] or any
    * allocator): `uniqueCol` = unique tokens, `allocCol` = allocated tokens.
    * Pure per-row arithmetic on the |sources|-row frame — no shuffle at all.
    * Output: (source, n_tokens, allocated, repeats, effective, efficiency).
    */
  def effectiveData(alloc: DataFrame, sourceCol: String, uniqueCol: String,
                    allocCol: String, rStar: Double = 15.4): DataFrame = {
    val u = col(uniqueCol).cast("double")
    val d = col(allocCol).cast("double")
    val repeats = greatest(d / u - 1.0, lit(0.0))
    val eff = when(d <= u, d)
      .otherwise(u + u * rStar * (lit(1.0) - exp(-repeats / rStar)))
    alloc.select(col(sourceCol).as("source"),
      col(uniqueCol).as("n_tokens"), col(allocCol).as("allocated"),
      round(repeats, 6).as("repeats"),
      round(eff, 6).as("effective"),
      round(eff / d, 6).as("efficiency"))
  }
}
