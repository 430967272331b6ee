package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Materialize

/** CUPED (Controlled-experiment Using Pre-Experiment Data) — the industry-
  * standard variance-reduction readout for A/B tests: regress the experiment
  * metric `y` on a pre-period covariate `x`, report per-arm means of the
  * adjusted metric `y − θ(x − x̄)` plus the variance reduction factor ρ².
  *
  * Everything is derived from per-arm MOMENT SUMS (n, Σx, Σy, Σxy, Σx², Σy²):
  *  - θ = cov(x,y)/var(x) pools arms: θ = (NΣxy − ΣxΣy)/(NΣx² − (Σx)²).
  *  - mean_adj per arm needs no second pass — algebraically
  *    ȳ_a − θ(x̄_a − x̄), all from the same sums.
  *  - var_reduction = ρ² = cov²/(var(x)·var(y)).
  *
  * So the input crosses the shuffle once (the per-arm aggregate, map-side
  * combined); the global pooling runs on |arms| rows. Moments accumulate in
  * DECIMAL — exact under any partition order; the θ/ρ² division happens in
  * double on the exact aggregates, identically in any engine.
  *
  * Input: one row per unit (user) with its arm, pre-period covariate and
  * experiment-period metric. Output: one row per arm —
  * (arm, n, mean_y, mean_y_adj, theta, var_reduction).
  */
object Experiment {

  /** Sample-ratio-mismatch check — the first gate of any experiment readout:
    * a goodness-of-fit chi² of observed arm sizes against equal expected
    * shares. A significant chi² (dof = arms−1) means the assignment is
    * broken and every downstream metric is untrustworthy.
    *
    * Output: one row per arm (arm, n, expected, chi2, dof) — chi2/dof are
    * the experiment-level statistic repeated per row. One arm-keyed count
    * (map-side combined) plus an |arms|-row pool.
    */
  def srm(units: DataFrame, armCol: String): DataFrame = {
    val byArm = Materialize(units.groupBy(col(armCol).as("arm"))
      .agg(count(lit(1)).as("n"))).df
    val g = byArm.agg(sum(col("n")).as("n_tot"), count(lit(1)).as("k"))
    val expected = col("n_tot").cast("double") / col("k").cast("double")
    val dev = col("n").cast("double") - expected
    byArm.crossJoin(broadcast(g))
      .withColumn("chi_term", (dev * dev / expected).cast("decimal(28,12)"))
      .withColumn("chi2_raw",
        sum(col("chi_term")).over(
          org.apache.spark.sql.expressions.Window.partitionBy())
          .cast("double"))
      // |arms| rows: the global window is arm-count bounded
      .select(col("arm"), col("n"),
        round(expected, 6).as("expected"),
        round(col("chi2_raw"), 6).as("chi2"),
        (col("k") - 1).as("dof"))
  }

  /** Per-group ROC AUC of a numeric score against a binary label via the
    * rank-sum (Mann-Whitney U) identity — the distributed model-eval readout:
    * AUC = (Σ_pos rank − n₁(n₁+1)/2) / (n₁·n₀), with midranks for ties.
    *
    * Everything stays EXACT INTEGER until the final division: tie groups are
    * the (group, score) hash aggregate (map-side combined), the midrank is
    * carried doubled (`2·cum_before + cnt + 1`, always integral) through a
    * per-group running-sum window, and AUC = (Σ pos·2rank − n₁(n₁+1)) /
    * (2·n₁·n₀). No per-row global sort: the window orders only the DISTINCT
    * scores within each group, so the shuffle is (groups × distinct scores),
    * not the input row count. Groups with no positives or no negatives yield
    * null (AUC undefined).
    */
  def rankAuc(df: DataFrame, groupCol: String, scoreCol: String,
              labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ties = df.groupBy(col(groupCol), col(scoreCol))
      .agg(count(lit(1)).as("cnt"), sum(col(labelCol).cast("long")).as("pos"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col(scoreCol))
    val ranked = ties
      .withColumn("r2",
        lit(2L) * (sum(col("cnt")).over(w) - col("cnt")) + col("cnt") + lit(1L))
    ranked.groupBy(col(groupCol))
      .agg(sum(col("pos")).as("n_pos"),
        sum(col("cnt") - col("pos")).as("n_neg"),
        sum(col("pos") * col("r2")).as("pr2"))
      .select(col(groupCol), col("n_pos"), col("n_neg"),
        when(col("n_pos") === 0 || col("n_neg") === 0, lit(null))
          .otherwise(round((col("pr2") - col("n_pos") * (col("n_pos") + lit(1L)))
              .cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg")), 6)).as("auc"))
      .orderBy(col(groupCol))
  }

  /** Benjamini-Hochberg FDR control over per-group one-vs-rest two-proportion
    * z-tests — the multiple-comparisons gate for "which segments have a
    * significantly elevated rate" scans (m segments tested simultaneously
    * inflate false positives; BH bounds the false-discovery rate at α).
    *
    * Per group: z = (p_g − p_rest) / sqrt(p̂(1−p̂)(1/n_g + 1/n_rest)) from
    * EXACT integer counts (one hash aggregate + a broadcast 1-row total);
    * two-sided p via the Abramowitz-Stegun 7.1.26 erfc polynomial (max error
    * 1.5e-7 — far below decision granularity). BH: sort p ascending, reject
    * every rank ≤ the largest i with p_(i) ≤ i·α/m. The rejection frontier
    * and the flag both use ROUND(p, 6) so the decision is identical in any
    * engine computing the same formula (a sub-ulp exp() divergence cannot
    * flip a 6-decimal comparison away from a boundary).
    *
    * The window runs over m GROUP rows, not input rows — groups are
    * dimension-bounded, so the global sort is trivially small at any scale.
    */
  def bhFdr(df: DataFrame, groupCol: String, flagCol: String,
            alpha: Double = 0.05): DataFrame =
    bhFdrFromCounts(
      df.groupBy(col(groupCol))
        .agg(count(lit(1)).as("n"), sum(col(flagCol).cast("long")).as("pos")),
      groupCol, alpha)

  /** The frontier math of [[bhFdr]] over an already-aggregated counts table
    * (groupCol, n, pos) — shared with the streaming twin, whose stateful
    * aggregate maintains exactly these counts and re-ranks the snapshot per
    * trigger in `foreachBatch`.
    */
  def bhFdrFromCounts(counts: DataFrame, groupCol: String,
                      alpha: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = Materialize(counts).df
    val tot = g.agg(sum(col("n")).as("nn"), sum(col("pos")).as("pp"),
      count(lit(1)).as("m"))
    val withTot = g.crossJoin(broadcast(tot))
    val pg = col("pos").cast("double") / col("n")
    val pr = (col("pp") - col("pos")).cast("double") / (col("nn") - col("n"))
    val phat = col("pp").cast("double") / col("nn")
    val z = (pg - pr) / sqrt(phat * (lit(1.0) - phat) *
      (lit(1.0) / col("n") + lit(1.0) / (col("nn") - col("n"))))
    // A&S 7.1.26: erfc(x) = t·(a1 + t·(a2 + t·(a3 + t·(a4 + t·a5))))·e^(−x²)
    val x = abs(z) / lit(math.sqrt(2.0))
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = t * (lit(0.254829592) + t * (lit(-0.284496736) +
      t * (lit(1.421413741) + t * (lit(-1.453152027) + t * lit(1.061405429)))))
    val pTwo = poly * exp(-(x * x))
    // degenerate inputs (single group: nn==n; pooled rate 0 or 1) make the z
    // denominator 0 — NaN/Inf propagation differs across engines, so those
    // rows get an explicit NULL p and rank LAST deterministically (both the
    // Spark window and the oracle's ROW_NUMBER must say NULLS LAST)
    val degenerate = col("nn") === col("n") ||
      col("pp") === lit(0L) || col("pp") === col("nn")
    val scored = withTot.select(col(groupCol), col("n"), col("pos"),
      round(pg, 6).as("rate"),
      when(degenerate, lit(null)).otherwise(round(z, 6)).as("z"),
      when(degenerate, lit(null)).otherwise(round(pTwo, 6)).as("p_value"),
      col("m"))
    val wRank = Window.orderBy(col("p_value").asc_nulls_last, col(groupCol))
    val wAll = Window.partitionBy()
    scored
      .withColumn("bh_rank", row_number().over(wRank))
      .withColumn("__thr",
        col("bh_rank").cast("double") * lit(alpha) / col("m"))
      .withColumn("__hit", when(col("p_value") <= col("__thr"), col("bh_rank")))
      .withColumn("significant",
        col("bh_rank") <= coalesce(max(col("__hit")).over(wAll), lit(0)))
      .select(col(groupCol), col("n"), col("pos"), col("rate"), col("z"),
        col("p_value"), col("bh_rank").cast("long").as("bh_rank"),
        col("significant"))
      .orderBy(col("bh_rank"))
  }

  def cuped(units: DataFrame, armCol: String, xCol: String, yCol: String): DataFrame = {
    val x = col(xCol).cast("decimal(18,4)")
    val y = col(yCol).cast("decimal(18,4)")
    // consumed by the pooled aggregate AND the final select — materialize
    // the |arms|-row moment table once instead of re-running the unit scan
    val byArm = Materialize(units.groupBy(col(armCol).as("arm"))
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))).df
    // |arms| rows: pool exactly, then broadcast the scalar row back.
    val g = byArm.agg(
        sum(col("n")).as("gn"), sum(col("sx")).as("gsx"), sum(col("sy")).as("gsy"),
        sum(col("sxy")).as("gsxy"), sum(col("sxx")).as("gsxx"),
        sum(col("syy")).as("gsyy"))
      .select(
        col("gn").cast("double").as("gn"),
        col("gsx").cast("double").as("gsx"), col("gsy").cast("double").as("gsy"),
        col("gsxy").cast("double").as("gsxy"),
        col("gsxx").cast("double").as("gsxx"),
        col("gsyy").cast("double").as("gsyy"))
    val covN = col("gn") * col("gsxy") - col("gsx") * col("gsy")
    val varxN = col("gn") * col("gsxx") - col("gsx") * col("gsx")
    val varyN = col("gn") * col("gsyy") - col("gsy") * col("gsy")
    val theta = covN / when(varxN === 0.0, lit(null)).otherwise(varxN)
    val meanY = col("sy").cast("double") / col("n").cast("double")
    val meanX = col("sx").cast("double") / col("n").cast("double")
    byArm.crossJoin(broadcast(g))
      .select(col("arm"), col("n"),
        round(meanY, 6).as("mean_y"),
        round(meanY - theta * (meanX - col("gsx") / col("gn")), 6)
          .as("mean_y_adj"),
        round(theta, 6).as("theta"),
        round(covN * covN /
          when(varxN * varyN === 0.0, lit(null)).otherwise(varxN * varyN), 6)
          .as("var_reduction"))
  }

  /** Cohen's kappa — chance-corrected agreement between a predicted and a
    * true categorical label (annotator QA, weak-label audits, classifier
    * sanity checks where raw accuracy flatters skewed class mixes):
    * κ = (p_o − p_e)/(1 − p_e) with p_o the observed agreement rate and
    * p_e = Σ_c (pred-marginal_c · truth-marginal_c) the agreement expected
    * from the marginals alone.
    *
    * One scan builds the confusion-cell counts (map-side combined, at most
    * |classes|² rows); marginals and the expected term are computed on that
    * tiny table. All sums are exact longs, so p_o/p_e/κ are the same doubles
    * in any engine. Degenerate p_e = 1 (both sides constant) → null κ.
    * Output: one row (n, p_o, p_e, kappa).
    */
  def cohensKappa(df: DataFrame, predCol: String, truthCol: String): DataFrame = {
    val cells = Materialize(df.groupBy(col(predCol).as("pred"), col(truthCol).as("truth"))
      .agg(count(lit(1)).as("n_cell"))).df
    val n = cells.agg(sum(col("n_cell")).as("n"))
    val po = cells.filter(col("pred") === col("truth"))
      .agg(coalesce(sum(col("n_cell")), lit(0L)).as("n_agree"))
    val predM = cells.groupBy(col("pred").as("c"))
      .agg(sum(col("n_cell")).as("n_pred"))
    val truthM = cells.groupBy(col("truth").as("c"))
      .agg(sum(col("n_cell")).as("n_truth"))
    // Σ_c n_pred_c·n_truth_c as an exact long; classes missing from one side
    // contribute 0, so the inner join is the correct set.
    val pe = predM.join(truthM, "c")
      .agg(coalesce(sum(col("n_pred") * col("n_truth")), lit(0L)).as("s_pe"))
    val poE = col("n_agree").cast("double") / col("n")
    val peE = col("s_pe").cast("double") / (col("n").cast("double") * col("n"))
    n.crossJoin(po).crossJoin(pe)
      .select(col("n"),
        round(poE, 6).as("p_o"),
        round(peE, 6).as("p_e"),
        round((poE - peE) /
          when(peE === 1.0, lit(null)).otherwise(lit(1.0) - peE), 6).as("kappa"))
  }

  /** z-quantiles for the standard experiment-design constants: two-sided
    * α = 0.05 and power = 0.80. Literal so both engines see identical doubles.
    */
  val ZAlphaTwoSided05: Double = 1.959963984540054
  val ZPower80: Double = 0.8416212335729143

  /** A/B power analysis — the minimum detectable effect (MDE) the experiment
    * as-bucketed could resolve at two-sided α = 0.05 with 80% power, per
    * segment: MDE = (z_{1−α/2} + z_{power}) · √(σ²_a/n_a + σ²_b/n_b) with the
    * per-arm variances taken from the observed metric. This is the pre-readout
    * gate that tells you which segments the test is even *capable* of deciding
    * (an MDE above any plausible lift means "don't bother waiting").
    *
    * Numeric contract: the metric is quantized to integer micro-units
    * (`round(value·10⁶)`) and first/second moments are exact DECIMAL(38,0)
    * sums, so every engine derives the same variance from the same integers —
    * a double Σx² is order-dependent across partitions and would not
    * hash-match an oracle. One scan, |segments|×2 aggregate rows, no shuffle
    * beyond the group-by.
    *
    * Output per segment: (segment, n_a, n_b, mean_a, mean_b, mde_abs,
    * mde_rel) with mde_rel = mde_abs / mean_a (null when mean_a = 0).
    */
  def powerMde(df: DataFrame, segmentCol: String, armCol: String,
               valueCol: String): DataFrame =
    mdeFromMoments(perArmMoments(df, segmentCol, armCol, valueCol))

  /** Per-segment exact integer moments of both arms in ONE conditional
    * aggregate — a single shuffle, and (unlike two filtered branches off one
    * grouped aggregate) nothing for Catalyst to re-specialize per branch.
    * Shared by the batch operator and [[graft.streaming.StreamingOps]]'s
    * `powerMdeStream` twin, which runs this very aggregation incrementally.
    */
  def perArmMoments(df: DataFrame, segmentCol: String, armCol: String,
                    valueCol: String): DataFrame = {
    val vm = round(col(valueCol) * 1e6, 0).cast("decimal(38,0)")
    val zeroDec = lit(0).cast("decimal(38,0)")
    def arm(a: String) = col("arm") === a
    df.select(col(segmentCol).as("segment"), col(armCol).as("arm"), vm.as("vm"))
      .groupBy(col("segment"))
      .agg(sum(when(arm("A"), 1L).otherwise(0L)).as("n_a"),
        sum(when(arm("A"), col("vm")).otherwise(zeroDec)).as("s1_a"),
        sum(when(arm("A"), col("vm") * col("vm")).otherwise(zeroDec)).as("s2_a"),
        sum(when(arm("B"), 1L).otherwise(0L)).as("n_b"),
        sum(when(arm("B"), col("vm")).otherwise(zeroDec)).as("s1_b"),
        sum(when(arm("B"), col("vm") * col("vm")).otherwise(zeroDec)).as("s2_b"))
  }

  /** MDE readout over [[perArmMoments]] rows (projection only — streaming
    * safe). Segments without both arms populated (> 1 row each) are dropped.
    */
  def mdeFromMoments(moments: DataFrame): DataFrame = {
    def mean(s1: String, n: String) =
      col(s1).cast("double") / col(n) / 1e6
    // sample variance in metric units from exact integer moments
    def variance(s2: String, s1: String, n: String) =
      (col(s2).cast("double") -
        col(s1).cast("double") * col(s1).cast("double") / col(n)) /
        (col(n) - 1) / 1e12
    val mde = lit(ZAlphaTwoSided05 + ZPower80) *
      sqrt(variance("s2_a", "s1_a", "n_a") / col("n_a") +
        variance("s2_b", "s1_b", "n_b") / col("n_b"))
    moments
      .filter(col("n_a") > 1 && col("n_b") > 1)
      .select(col("segment"), col("n_a"), col("n_b"),
        round(mean("s1_a", "n_a"), 6).as("mean_a"),
        round(mean("s1_b", "n_b"), 6).as("mean_b"),
        round(mde, 6).as("mde_abs"),
        round(mde / when(mean("s1_a", "n_a") === 0.0, lit(null))
          .otherwise(mean("s1_a", "n_a")), 6).as("mde_rel"))
  }

  /** Always-valid p-value curve (mSPRT, Johari et al. "Peeking at A/B
    * tests"): per segment and day, the mixture-sequential-probability-ratio
    * p-value for the two-sample mean difference over all data up to that day,
    * Λ = √(V/(V+ρ²)) · exp(δ̂²ρ²/(2V(V+ρ²))), p = min(1, 1/Λ), plus the
    * running minimum p — which is what makes the curve SAFE to peek at: the
    * always-valid guarantee is on inf_t p_t, so a consumer may stop the
    * experiment the first day `p_min` crosses α without inflating the false
    * positive rate (the fixed-horizon z-test in `q_ab_test` does inflate it
    * under peeking).
    *
    * Numerics: daily per-arm moments are exact DECIMAL(38,0) micro-unit sums
    * (one conditional aggregate), the cumulative prefix is a window SUM over
    * those exact integers, and each day's doubles derive from them with one
    * fixed expression shape. p is rounded to 6 decimals BEFORE the running
    * min, so a last-ulp libm exp skew between engines cannot flip the
    * minimum. Degenerate days (an arm still at ≤1 observation, or zero
    * pooled variance) emit null p and don't advance the minimum.
    *
    * Scale shape: one shuffle to (segment, day) grain; the cumulative window
    * is per-segment over |days| aggregate rows. Output per (segment, day):
    * (segment, day, n_a, n_b, delta, p_value, p_min).
    */
  def alwaysValidPValue(df: DataFrame, segmentCol: String, dayCol: String,
                        armCol: String, valueCol: String,
                        rho: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rho > 0, s"mixture scale rho must be > 0, got $rho")
    val vm = round(col(valueCol) * 1e6, 0).cast("decimal(38,0)")
    val zeroDec = lit(0).cast("decimal(38,0)")
    def armIs(a: String) = col("arm") === a
    val daily = df
      .select(col(segmentCol).as("segment"), col(dayCol).as("day"),
        col(armCol).as("arm"), vm.as("vm"))
      .groupBy(col("segment"), col("day"))
      .agg(sum(when(armIs("A"), 1L).otherwise(0L)).as("dn_a"),
        sum(when(armIs("A"), col("vm")).otherwise(zeroDec)).as("ds1_a"),
        sum(when(armIs("A"), col("vm") * col("vm")).otherwise(zeroDec))
          .as("ds2_a"),
        sum(when(armIs("B"), 1L).otherwise(0L)).as("dn_b"),
        sum(when(armIs("B"), col("vm")).otherwise(zeroDec)).as("ds1_b"),
        sum(when(armIs("B"), col("vm") * col("vm")).otherwise(zeroDec))
          .as("ds2_b"))
    val wc = Window.partitionBy(col("segment")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily.select(col("segment"), col("day"),
      sum(col("dn_a")).over(wc).as("n_a"),
      sum(col("ds1_a")).over(wc).as("s1_a"),
      sum(col("ds2_a")).over(wc).as("s2_a"),
      sum(col("dn_b")).over(wc).as("n_b"),
      sum(col("ds1_b")).over(wc).as("s1_b"),
      sum(col("ds2_b")).over(wc).as("s2_b"))
    def mean(s1: String, n: String) = col(s1).cast("double") / col(n) / 1e6
    def ss(s2: String, s1: String, n: String) =
      col(s2).cast("double") -
        col(s1).cast("double") * col(s1).cast("double") / col(n)
    val varPool = (ss("s2_a", "s1_a", "n_a") + ss("s2_b", "s1_b", "n_b")) /
      (col("n_a") + col("n_b") - 2) / 1e12
    val bigV = varPool * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))
    val delta = mean("s1_a", "n_a") - mean("s1_b", "n_b")
    val rho2 = rho * rho
    val lam = sqrt(bigV / (bigV + lit(rho2))) *
      exp(delta * delta * lit(rho2) /
        (lit(2.0) * bigV * (bigV + lit(rho2))))
    val p = when(col("n_a") > 1 && col("n_b") > 1 && bigV > 0.0,
      round(least(lit(1.0), lit(1.0) / lam), 6))
    val wmin = Window.partitionBy(col("segment")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum.select(col("segment"), col("day"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
        round(delta, 6).as("delta"), p.as("p_value"))
      .withColumn("p_min", min(col("p_value")).over(wmin))
  }

  /** Split-conformal prediction gate for a linear score: fit y ≈ a + b·x by
    * OLS on the calibration split, take the conformal quantile q = the
    * ⌈(n_cal+1)(1−α)⌉-th smallest absolute residual, and report the empirical
    * coverage of the interval ±q on the held-out split. Distribution-free:
    * under exchangeability the coverage is ≥ 1−α regardless of how wrong the
    * linear model is — which is exactly why it works as a release gate for
    * any score column.
    *
    * Numeric contract: x and y ride as integer units (`xScale`/`yScale`
    * quantization), the five OLS moments are exact DECIMAL(38,0) sums, and
    * (a, b) are derived from those integers with one fixed expression shape —
    * so residuals are bit-identical doubles on every engine and the quantile
    * index selects the same row. The quantile is an exact ORDER BY/row_number
    * selection (calibration sets are small by construction; at real scale
    * [[GlobalRank.globalRowNumber]] is the drop-in for the sort).
    *
    * Output: one row (n_cal, n_test, slope, intercept, q_alpha, coverage).
    */
  def conformalGate(df: DataFrame, xCol: String, yCol: String,
                    isCalibration: org.apache.spark.sql.Column,
                    alpha: Double = 0.1, xScale: Double = 1.0,
                    yScale: Double = 100.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(alpha > 0 && alpha < 1, s"alpha must be in (0, 1), got $alpha")
    val base = df.select(
      round(col(xCol) * xScale, 0).cast("decimal(38,0)").as("xi"),
      round(col(yCol) * yScale, 0).cast("decimal(38,0)").as("yi"),
      isCalibration.as("is_cal"))
    val cal = base.filter(col("is_cal"))
    // quantile index k = ⌈(n+1)(1−α)⌉ in exact integer arithmetic (α taken at
    // 1/1000 precision) — the double form rounds (n+1)·0.9 past the integer
    // boundary for, e.g., n_cal = 9
    val alphaMil = math.round(alpha * 1000)
    val m = cal.agg(count(lit(1)).as("n_cal"), sum(col("xi")).as("sx"),
        sum(col("yi")).as("sy"), sum(col("xi") * col("xi")).as("sxx"),
        sum(col("xi") * col("yi")).as("sxy"))
      .select(col("n_cal"),
        ((col("n_cal") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n_cal") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("b_i"),
        col("sx").cast("double").as("sxd"), col("sy").cast("double").as("syd"))
      .select(col("n_cal"), col("b_i"),
        (col("syd") / col("n_cal") - col("b_i") * (col("sxd") / col("n_cal")))
          .as("a_i"))
    def resid = abs(col("yi").cast("double") -
      (col("a_i") + col("b_i") * col("xi").cast("double")))
    val k = m.select(
      floor(((col("n_cal") + 1) * lit(1000 - alphaMil) + 999) / lit(1000.0))
        .cast("long").as("k"), col("n_cal"), col("a_i"), col("b_i"))
    // the k-th smallest residual over the WHOLE calibration set: a corpus-
    // sized total order, so rank with GlobalRank's distributed numbering
    // (range-partitioned two-phase prefix), never an unpartitioned window
    val q = GlobalRank.globalRowNumber(
        cal.crossJoin(broadcast(k))
          .select(col("n_cal"), col("a_i"), col("b_i"), col("k"), col("xi"),
            col("yi"), resid.as("r")),
        Seq(col("r"), col("xi"), col("yi")), rnCol = "rn")
      .filter(col("rn") === least(col("k"), col("n_cal")))
      .select(col("n_cal"), col("a_i"), col("b_i"), col("r").as("q_i"))
    base.filter(!col("is_cal")).crossJoin(broadcast(q))
      .agg(count(lit(1)).as("n_test"),
        sum(when(resid <= col("q_i"), 1L).otherwise(0L)).as("n_cov"),
        first(col("n_cal")).as("n_cal"), first(col("a_i")).as("a_i"),
        first(col("b_i")).as("b_i"), first(col("q_i")).as("q_i"))
      .select(col("n_cal"), col("n_test"),
        // b_i is y-units-per-x-unit; ·xScale/yScale restores metric units
        round(col("b_i") * lit(xScale / yScale), 6).as("slope"),
        round(col("a_i") / lit(yScale), 6).as("intercept"),
        round(col("q_i") / lit(yScale), 6).as("q_alpha"),
        round(col("n_cov").cast("double") / col("n_test"), 6).as("coverage"))
  }

  /** Krippendorff's alpha, nominal metric (Krippendorff, Content Analysis
    * 4th ed. §12) — inter-annotator reliability for ≥2 raters with missing
    * ratings, the generalization [[cohensKappa]] (exactly 2 fixed raters)
    * can't cover. From per-unit label counts o_uc over pairable units
    * (n_u ≥ 2 ratings):
    * `α = 1 − (n−1)·Σ_u Σ_c o_uc(n_u−o_uc)/(n_u−1) / (n² − Σ_c n_c²)`
    * with n = Σ n_u and n_c the label totals over pairable units.
    *
    * Numeric contract: the per-unit term has denominator n_u−1 ≤ maxRaters−1,
    * so the whole numerator is scaled by L = lcm(1..maxRaters−1) and summed
    * as exact BIGINTs; α is one final double division — bit-identical across
    * engines and partition orders. Scale shape: one groupBy to unit×label
    * counts, one to units, one to label totals — all map-side-combinable;
    * nothing is ever per-pair.
    *
    * `df` is one row per rating: (unitCol, raterCol unused beyond count,
    * labelCol). Duplicate (unit, rater) rows are the caller's contract.
    * Output: 1 row (n_units_pairable, n_ratings, d_o, d_e, alpha).
    */
  def krippendorffAlpha(df: DataFrame, unitCol: String, labelCol: String,
                        maxRaters: Int = 8): DataFrame = {
    require(maxRaters >= 2, s"maxRaters ($maxRaters) must be >= 2")
    val L = (1 until maxRaters).map(BigInt(_))
      .reduce((x, y) => x * y / x.gcd(y)).toLong
    val ouc = df.groupBy(col(unitCol).as("u"), col(labelCol).as("c"))
      .agg(count(lit(1)).as("o"))
    val nu = ouc.groupBy(col("u")).agg(sum(col("o")).as("n_u"))
      .filter(col("n_u") >= 2)
    val pairable = ouc.join(nu, "u")
    // numerator term scaled by L: o_uc·(n_u−o_uc)·(L div (n_u−1)) — exact
    // longs (n_u−1 ≤ maxRaters−1 divides L by construction). A unit with
    // MORE ratings than maxRaters would make the div truncate and silently
    // corrupt alpha, so that contract violation raises at execution time.
    val obs = pairable
      .select(when(col("n_u") > maxRaters,
        raise_error(concat(lit("krippendorffAlpha: unit "),
          col("u").cast("string"),
          lit(s" has more ratings than maxRaters=$maxRaters; raise maxRaters")))
          .cast("long"))
        .otherwise(col("o") * (col("n_u") - col("o")) *
          expr(s"${L}L div (n_u - 1)")).as("t"))
      .agg(sum(col("t")).as("num_scaled"))
    val totals = pairable.groupBy(col("c")).agg(sum(col("o")).as("n_c"))
      .agg(sum(col("n_c")).as("n"), sum(col("n_c") * col("n_c")).as("s_nc2"))
    val units = nu.agg(count(lit(1)).as("n_units_pairable"))
    units.crossJoin(obs).crossJoin(totals)
      .select(col("n_units_pairable"), col("n").as("n_ratings"),
        round(col("num_scaled").cast("double") / (lit(L) * col("n")), 6)
          .as("d_o"),
        round((col("n") * col("n") - col("s_nc2")).cast("double") /
          (col("n") * (col("n") - 1)), 6).as("d_e"),
        round(lit(1.0) -
          ((col("n") - 1) * col("num_scaled")).cast("double") /
          (lit(L) * (col("n") * col("n") - col("s_nc2"))).cast("double"), 6)
          .as("alpha"))
  }

  /** 2×2 difference-in-differences (Card & Krueger 1994 design): the
    * treated group's post−pre outcome change minus the control group's —
    * the parallel-trends causal estimate when randomization isn't available
    * (q_cuped/q_ab_test assume a randomized split; DiD is the observational
    * fallback). Standard error from the four cell variances:
    * `SE = √(Σ_cells s²/n)`, z = DiD/SE.
    *
    * `df` must carry integer-valued `valueCol` plus boolean `treatedCol` /
    * `postCol`; moments per cell are exact integer sums (the powerMde
    * micro-unit discipline is the caller's job if values are fractional).
    * One conditional-aggregate pass — four cells from one scan, no joins.
    * Output: 1 row (n, y_treated_pre, y_treated_post, y_control_pre,
    * y_control_post, did, se, z_stat).
    */
  def diffInDiff(df: DataFrame, treatedCol: String, postCol: String,
                 valueCol: String): DataFrame = {
    val v = col(valueCol).cast("long")
    def cell(t: Boolean, p: Boolean, what: Column) =
      sum(when(col(treatedCol) === t && col(postCol) === p, what)
        .otherwise(lit(0L)))
    def mean(pre: String, s: String) =
      col(s).cast("double") / col(pre)
    val agg = df.agg(count(lit(1)).as("n"),
      cell(t = true, p = false, lit(1L)).as("n_tp"),
      cell(t = true, p = false, v).as("s_tp"),
      cell(t = true, p = false, v * v).as("q_tp"),
      cell(t = true, p = true, lit(1L)).as("n_tq"),
      cell(t = true, p = true, v).as("s_tq"),
      cell(t = true, p = true, v * v).as("q_tq"),
      cell(t = false, p = false, lit(1L)).as("n_cp"),
      cell(t = false, p = false, v).as("s_cp"),
      cell(t = false, p = false, v * v).as("q_cp"),
      cell(t = false, p = true, lit(1L)).as("n_cq"),
      cell(t = false, p = true, v).as("s_cq"),
      cell(t = false, p = true, v * v).as("q_cq"))
    def m(nc: String, sc: String) = mean(nc, sc)
    // per-cell sample variance of the MEAN: (q/n − (s/n)²)/n
    def vm(nc: String, sc: String, qc: String) =
      (col(qc).cast("double") / col(nc) -
        (col(sc).cast("double") / col(nc)) *
        (col(sc).cast("double") / col(nc))) / col(nc)
    val did = (m("n_tq", "s_tq") - m("n_tp", "s_tp")) -
      (m("n_cq", "s_cq") - m("n_cp", "s_cp"))
    val se = sqrt(vm("n_tp", "s_tp", "q_tp") + vm("n_tq", "s_tq", "q_tq") +
      vm("n_cp", "s_cp", "q_cp") + vm("n_cq", "s_cq", "q_cq"))
    agg.select(col("n"),
      round(m("n_tp", "s_tp"), 6).as("y_treated_pre"),
      round(m("n_tq", "s_tq"), 6).as("y_treated_post"),
      round(m("n_cp", "s_cp"), 6).as("y_control_pre"),
      round(m("n_cq", "s_cq"), 6).as("y_control_post"),
      round(did, 6).as("did"),
      round(se, 6).as("se"),
      round(did / when(se === 0.0, lit(null)).otherwise(se), 6).as("z_stat"))
  }

  /** Welch's unequal-variance t-test over CLUSTER-level totals — the
    * continuous-metric companion of [[srm]]/the two-proportion z
    * (`q_ab_test`): compares mean x between two arms without assuming equal
    * variances, with the Satterthwaite degrees-of-freedom approximation
    *
    *   t = (x̄_a − x̄_b) / sqrt(v_a/n_a + v_b/n_b),
    *   ν = (v_a/n_a + v_b/n_b)² / ((v_a/n_a)²/(n_a−1) + (v_b/n_b)²/(n_b−1)).
    *
    * `xExact` must be an exact integer-valued DECIMAL expression at row
    * grain (e.g. value micro-units) — it is summed per cluster, then the
    * per-arm moments (n, Σx, Σx²) accumulate in DECIMAL, so everything up
    * to the final fixed-order double formula is partition-order-exact.
    * Exactly two arm values must be present; `armA` names the left side of
    * the difference. Significance is flagged against the normal ±1.96
    * (ν is large in any data-scale use; no t-table needed).
    *
    * Output: 1 row (n_a, n_b, mean_a, mean_b, t_stat, dof, significant) —
    * means in x's units (caller rescales/rounds).
    */
  def welchTTest(df: DataFrame, armCol: String, clusterCol: String,
                 xExact: Column, armA: String, armB: String): DataFrame = {
    val clusters = df
      .filter(col(armCol) === armA || col(armCol) === armB)
      .groupBy(col(armCol).as("arm"), col(clusterCol).as("cl"))
      .agg(sum(xExact).cast("decimal(19,0)").as("x"))
    val m = clusters.groupBy(col("arm")).agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("x") * col("x")).as("sxx"))
    def side(arm: String, suf: String) = m.filter(col("arm") === arm)
      .select(col("n").as(s"n_$suf"), col("sx").as(s"sx_$suf"),
        col("sxx").as(s"sxx_$suf"))
    val j = side(armA, "a").crossJoin(side(armB, "b"))
    def nD(s: String) = col(s"n_$s").cast("double")
    def mean(s: String) = col(s"sx_$s").cast("double") / nD(s)
    def sOverN(s: String) =
      ((col(s"sxx_$s").cast("double") -
        nD(s) * (mean(s) * mean(s))) / (nD(s) - 1)) / nD(s)
    val sa = sOverN("a"); val sb = sOverN("b")
    val t = (mean("a") - mean("b")) / sqrt(sa + sb)
    val dof = ((sa + sb) * (sa + sb)) /
      ((sa * sa) / (nD("a") - 1) + (sb * sb) / (nD("b") - 1))
    j.select(col("n_a"), col("n_b"), mean("a").as("mean_a"),
      mean("b").as("mean_b"), t.as("t_stat"), dof.as("dof"),
      (abs(t) > 1.959963984540054).as("significant"))
  }

  /** UCB1 exploration scores (Auer et al., ML 2002) over logged
    * arm/reward data:
    *
    *   UCB(arm) = x̄_arm + sqrt(2·ln N / n_arm)
    *
    * — the optimism bonus that ranks arms for the NEXT pull: rarely-tried
    * arms get a large bonus even with mediocre means. This is the
    * deterministic, closed-form member of the bandit family (Thompson
    * sampling needs randomness and is out of oracle scope); a batch
    * re-ranking pipeline recomputes these scores nightly from the logged
    * (arm, reward) table.
    *
    * `rewardInt` must be an integer 0/1 (or integer-valued) expression so
    * per-arm sums are exact; the bonus is one fixed-order double formula.
    * Scale shape: one arm-keyed aggregate (map-side combined) + a 1-row
    * broadcast total.
    *
    * Output per ucb desc, arm asc: (arm, n_pulls, mean_reward, ucb_bonus,
    * ucb_score, rank).
    */
  def ucb1(df: DataFrame, armCol: String, rewardInt: Column): DataFrame = {
    val arms = df.groupBy(col(armCol).as("arm"))
      .agg(count(lit(1)).as("n_pulls"), sum(rewardInt).as("r"))
    val total = arms.agg(sum(col("n_pulls")).as("nn"))
    val mean = col("r").cast("double") / col("n_pulls").cast("double")
    val bonus = sqrt(lit(2.0) * log(col("nn").cast("double")) /
      col("n_pulls").cast("double"))
    val scored = arms.crossJoin(broadcast(total))
      .select(col("arm"), col("n_pulls"), mean.as("mean_reward"),
        bonus.as("ucb_bonus"), (mean + bonus).as("ucb_score"))
    // rank via the distributed numbering, not an unpartitioned window —
    // the arm table is usually small, but ScaleGuard's discipline applies
    // to this library's own operators first
    graft.ext.GlobalRank
      .globalRowNumber(scored, Seq(col("ucb_score").desc, col("arm")), "rank")
  }

  /** Post-stratified mean (survey-sampling estimator): when the SAMPLE's
    * stratum mix differs from the POPULATION's (responders skew toward some
    * segments), the raw sample mean is biased toward over-represented
    * strata; re-weighting per-stratum sample means by population shares
    * fixes it:
    *
    *   ȳ_post = Σ_h W_h·ȳ_h,   SE² = Σ_h W_h²·s_h²/n_h,   W_h = N_h/N.
    *
    * The companion of [[graft.ext.Mixing]]'s Neyman ALLOCATION (which plans
    * a future sample; this estimates from the one you have). Strata present
    * in the population but absent from the sample contribute no term — the
    * estimator is then conditional on the covered strata (reported via
    * n_strata_used vs n_strata_pop).
    *
    * `xExact` must be integer-valued DECIMAL at sample-row grain. Scale
    * shape: one stratum-keyed moment aggregate per table, broadcast 1-row
    * totals; per-stratum terms pool in DECIMAL(28,10).
    *
    * Output: 1 row (n_sample, n_strata_used, n_strata_pop, raw_mean,
    * post_mean, post_se).
    */
  def postStratifiedMean(sample: DataFrame, population: DataFrame,
                         stratumCol: String, xExact: Column): DataFrame = {
    val s = sample.select(col(stratumCol).as("h"), xExact.as("x"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n"), sum(col("x")).cast("decimal(38,0)").as("sx"),
        sum(col("x") * col("x")).cast("decimal(38,0)").as("sxx"))
    val p = population.groupBy(col(stratumCol).as("h"))
      .agg(count(lit(1)).as("nh"))
    val ptot = p.agg(sum(col("nh")).as("npop"), count(lit(1)).as("n_strata_pop"))
    val stot = s.agg(sum(col("n")).as("ns"), sum(col("sx")).as("sxall"))
    val nD = col("n").cast("double")
    val mh = col("sx").cast("double") / nD
    val vh = (col("sxx").cast("double") - nD * (mh * mh)) / (nD - 1)
    val wh = col("nh").cast("double") / col("npop").cast("double")
    val joined = s.join(p, Seq("h")).crossJoin(broadcast(ptot))
      .filter(col("n") > 1)
      .select(col("h"), col("n"), col("n_strata_pop"),
        (wh * mh).cast("decimal(28,10)").as("tmean"),
        (((wh * wh) * vh) / nD).cast("decimal(28,10)").as("tvar"))
    joined
      .agg(count(lit(1)).as("n_strata_used"),
        first(col("n_strata_pop")).as("n_strata_pop"),
        sum(col("tmean")).as("pm"), sum(col("tvar")).as("pv"))
      .crossJoin(broadcast(stot))
      .select(col("ns").as("n_sample"), col("n_strata_used"),
        col("n_strata_pop"),
        (col("sxall").cast("double") / col("ns").cast("double"))
          .as("raw_mean"),
        col("pm").cast("double").as("post_mean"),
        sqrt(col("pv").cast("double")).as("post_se"))
  }

  /** Mantel–Haenszel pooled odds ratio (Mantel & Haenszel 1959) — the
    * confounder-adjusted exposure/outcome association: within each stratum
    * the 2×2 cells (a = exposed∧outcome … d = unexposed∧¬outcome) form the
    * classic estimator OR_MH = Σ(a·d/n) / Σ(b·c/n), pooled next to the CRUDE
    * (stratum-ignoring) odds ratio so Simpson-style confounding is visible
    * as the gap between the two (the aggregate-vs-stratified contrast
    * q_simpson_paradox states for means, here for odds).
    *
    * ONE scan: per-stratum conditional-count aggregate, then a one-row
    * reduce; per-stratum ad/n terms pool in DECIMAL(28,12). A zero pooled
    * denominator (no stratum with discordant cells) yields null, never a
    * division blow-up. Output: (n_strata, n_units, crude_or, mh_or).
    */
  def mantelHaenszel(df: DataFrame, stratum: Column, exposed: Column,
                     outcome: Column): DataFrame = {
    val cells = df.select(stratum.as("h"), exposed.cast("boolean").as("e"),
        outcome.cast("boolean").as("y"))
      .groupBy(col("h"))
      .agg(sum(when(col("e") && col("y"), 1L).otherwise(0L)).as("a"),
        sum(when(col("e") && !col("y"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("e") && col("y"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("e") && !col("y"), 1L).otherwise(0L)).as("d"))
    val n = (col("a") + col("b") + col("c") + col("d")).cast("double")
    cells
      .select(col("a"), col("b"), col("c"), col("d"),
        ((col("a") * col("d")).cast("double") / n).cast("decimal(28,12)")
          .as("__num"),
        ((col("b") * col("c")).cast("double") / n).cast("decimal(28,12)")
          .as("__den"))
      .agg(count(lit(1)).as("n_strata"),
        sum(col("a") + col("b") + col("c") + col("d")).as("n_units"),
        sum(col("a")).as("__ta"), sum(col("b")).as("__tb"),
        sum(col("c")).as("__tc"), sum(col("d")).as("__td"),
        sum(col("__num")).as("__sn"), sum(col("__den")).as("__sd"))
      .select(col("n_strata"), col("n_units"),
        when(col("__tb") * col("__tc") > 0,
          (col("__ta") * col("__td")).cast("double") /
            (col("__tb") * col("__tc")).cast("double")).as("crude_or"),
        when(col("__sd").cast("double") > 0.0,
          col("__sn").cast("double") / col("__sd").cast("double"))
          .as("mh_or"))
  }

  /** Deterministic permutation test for a difference in means: replicate r
    * reassigns every unit to a pseudo-arm by the parity of a 32-bit
    * md5-prefix hash of (unit key, r) — the fixed-seed, engine-portable
    * stand-in for random relabeling (same construction as the repo's salted
    * samplers), so both engines generate THE SAME `reps` permutations and
    * the p-value is exactly reproducible. p = (1 + #{|Δ_r| ≥ |Δ_obs|}) /
    * (reps + 1), the standard add-one Monte-Carlo estimator (Phipson &
    * Smyth 2010 — never reports p = 0).
    *
    * Scale shape: the replicate stream is a Generate over the (tiny) rep
    * list — reps × n rows, map-side aggregated to one row per rep before
    * anything shuffles; means pool in DECIMAL(28,12). Output one row:
    * (n_units, n_reps, obs_diff, n_exceed, p_value).
    */
  def permutationTest(df: DataFrame, unitKey: Column, flag: Column,
                      value: Column, reps: Int): DataFrame = {
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val base = df.select(unitKey.cast("string").as("k"),
      flag.cast("boolean").as("f"), value.cast("double").as("v"))
    def diff(flagCol: Column): (Column, Column) = (
      sum(when(flagCol, col("v").cast("decimal(28,12)"))).as("__sa"),
      sum(when(!flagCol, col("v").cast("decimal(28,12)"))).as("__sb"))
    val obs = base.agg(count(lit(1)).as("n_units"),
        sum(when(col("f"), 1L).otherwise(0L)).as("__na"),
        diff(col("f"))._1, diff(col("f"))._2)
      .select(col("n_units"), col("__na"),
        (col("__sa").cast("double") / col("__na") -
          col("__sb").cast("double") / (col("n_units") - col("__na")))
          .as("obs_diff"))
    val perm = base
      .select(col("k"), col("v"),
        explode(sequence(lit(0), lit(reps - 1))).as("r"))
      .select(col("r"), col("v"),
        (conv(substring(md5(concat_ws(":", col("k"), col("r"))), 1, 8),
          16, 10).cast("long") % 2 === 0).as("pf"))
      .groupBy(col("r"))
      .agg(sum(when(col("pf"), 1L).otherwise(0L)).as("__na"),
        count(lit(1)).as("__n"),
        sum(when(col("pf"), col("v").cast("decimal(28,12)"))).as("__sa"),
        sum(when(!col("pf"), col("v").cast("decimal(28,12)"))).as("__sb"))
      .select(col("r"),
        (col("__sa").cast("double") / col("__na") -
          col("__sb").cast("double") / (col("__n") - col("__na")))
          .as("rdiff"))
    perm.crossJoin(broadcast(obs))
      .groupBy(col("n_units"), col("obs_diff"))
      .agg(count(lit(1)).as("n_reps"),
        sum(when(abs(col("rdiff")) >= abs(col("obs_diff")), 1L).otherwise(0L))
          .as("n_exceed"))
      .select(col("n_units"), col("n_reps"), col("obs_diff"), col("n_exceed"),
        ((col("n_exceed") + 1).cast("double") /
          (col("n_reps") + 1).cast("double")).as("p_value"))
  }

  /** McNemar's test on paired binary outcomes (two classifiers over the
    * same units): only the discordant cells carry signal — n10 (A right,
    * B wrong) vs n01 — and the continuity-free statistic is
    * χ² = (n10 − n01)² / (n10 + n01), null when the classifiers never
    * disagree. One conditional-count aggregate. Output:
    * (n_pairs, n_both, n10, n01, chi2).
    */
  def mcnemar(df: DataFrame, correctA: Column, correctB: Column): DataFrame = {
    val flags = df.select(correctA.cast("boolean").as("ca"),
      correctB.cast("boolean").as("cb"))
    flags.agg(count(lit(1)).as("n_pairs"),
        sum(when(col("ca") && col("cb"), 1L).otherwise(0L)).as("n_both"),
        sum(when(col("ca") && !col("cb"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("ca") && col("cb"), 1L).otherwise(0L)).as("n01"))
      .select(col("n_pairs"), col("n_both"), col("n10"), col("n01"),
        when(col("n10") + col("n01") > 0,
          ((col("n10") - col("n01")) * (col("n10") - col("n01")))
            .cast("double") / (col("n10") + col("n01")).cast("double"))
          .as("chi2"))
  }

  /** Murphy decomposition of the Brier score (Murphy, J. Appl. Meteor.
    * 1973): BS = REL − RES + UNC over `bins` equal-width forecast bins —
    * reliability (how far bin forecasts sit from bin outcome rates, the
    * part calibration fixes), resolution (how much the bins separate
    * outcomes, the part only a better model fixes), and outcome
    * uncertainty. The row-level BS rides along; `decomp_gap` =
    * BS − (REL − RES + UNC) is the within-bin forecast-variance term, ~0
    * when bins are narrow — reporting it keeps the identity honest instead
    * of assuming it.
    *
    * Exactness: all row- and bin-level moments pool in DECIMAL before one
    * double formula per term; bin terms sum over ≤ `bins` rows in DECIMAL
    * too, so both engines see identical doubles.
    *
    * Output 1 row: (n, brier, reliability, resolution, uncertainty,
    * decomp_gap).
    */
  def brierDecomposition(df: DataFrame, probCol: String, outcomeCol: String,
                         bins: Int = 20): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val base = df.select(col(probCol).cast("double").as("__p"),
        when(col(outcomeCol), 1L).otherwise(0L).as("__o"))
      .withColumn("__bin",
        least(lit(bins - 1), floor(col("__p") * bins)).cast("int"))
    // The ≤`bins`-row bin table carries every global moment as exact partials
    // (long counts, decimal sums — associative, rounding-free), so the global
    // aggregate derives from it instead of re-running the input pipeline a
    // second time. The eager checkpoint materializes the tiny bin table once;
    // without it the two readers below would each re-specialize and re-execute
    // the whole upstream (column pruning defeats exchange reuse).
    val g = Materialize(base.groupBy(col("__bin"))
      .agg(count(lit(1)).as("nk"),
        sum(col("__p").cast("decimal(27,12)")).as("sp"),
        sum(col("__o")).as("so"),
        sum(((col("__p") - col("__o").cast("double")) *
          (col("__p") - col("__o").cast("double"))).cast("decimal(27,12)"))
          .as("sbk"))).df
    val tot = g.agg(sum(col("nk")).as("n"),
      sum(col("so")).as("son"),
      sum(col("sbk")).as("sbs"))
    val obar = col("son").cast("double") / col("n").cast("double")
    val fk = col("sp").cast("double") / col("nk").cast("double")
    val ok = col("so").cast("double") / col("nk").cast("double")
    val terms = g.crossJoin(broadcast(tot))
      .select(col("n"), col("son"), col("sbs"),
        (col("nk").cast("double") * ((fk - ok) * (fk - ok)))
          .cast("decimal(28,12)").as("__rel"),
        (col("nk").cast("double") * ((ok - obar) * (ok - obar)))
          .cast("decimal(28,12)").as("__res"))
      .groupBy(col("n"), col("son"), col("sbs"))
      .agg(sum(col("__rel")).as("srel"), sum(col("__res")).as("sres"))
    val nD = col("n").cast("double")
    val brier = col("sbs").cast("double") / nD
    val rel = col("srel").cast("double") / nD
    val res = col("sres").cast("double") / nD
    val unc = obar * (lit(1.0) - obar)
    terms.select(col("n"), brier.as("brier"), rel.as("reliability"),
      res.as("resolution"), unc.as("uncertainty"),
      (brier - (rel - res + unc)).as("decomp_gap"))
  }
}
