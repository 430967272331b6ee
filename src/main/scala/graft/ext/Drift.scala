package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materialize

/** Distribution-drift and feature-dependence audits — the monitoring layer a
  * training-data pipeline runs on every corpus drop before it reaches a
  * trainer: "did this feed's length distribution shift?" (KS), "did prices
  * move between periods?" (PSI), "are these two categorical columns
  * redundant?" (mutual information / Cramér's V), "how does the target
  * respond per group?" (grouped OLS).
  *
  * Scale notes (100 TB):
  *  - Every operator aggregates FIRST (per-group × per-value counts, bin
  *    counts, contingency cells, per-group moment sums) and runs the metric
  *    math on the aggregate. The raw table crosses the shuffle exactly once,
  *    as map-side-combined partial counts/sums keyed by bounded domains.
  *  - The KS window partitions by target group and orders by the value
  *    domain; its partition size is the number of DISTINCT values, bounded
  *    by the value domain (token counts, bin ids) — not by row count.
  *  - Summed double terms (log contributions) are cast to DECIMAL before
  *    aggregation so results are partition-order independent — the same
  *    discipline as the unigram-NLL scorer.
  */
object Drift {

  /** Two-sample Kolmogorov–Smirnov statistic of `valueCol`'s distribution
    * for each `groupCol` level vs the REST of the data (one-vs-rest drift
    * scan): `ks = max_x |CDF_group(x) − CDF_rest(x)|`.
    *
    * Exact, not sampled: per-(group, value) counts are crossed with the
    * (small) group roster so each target group sees every support point of
    * the pooled distribution, then one cumulative window per target yields
    * both CDFs. The cross product is |distinct values| × |groups| AGGREGATE
    * rows — independent of corpus row count.
    *
    * Returns one row per group: (group, n, ks).
    */
  /** Shared one-vs-rest CDF scaffold: per target group `s` and every pooled
    * support point `x`, the cumulative in-group / out-group counts plus the
    * group/grand totals. All downstream drift statistics (KS sup, W1
    * integral) are aggregations over these |groups| × |distinct values|
    * rows.
    */
  private def cdfEvents(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    // four consumers (roster, events, totals, grand) would each re-run the
    // count aggregate — and its corpus scan — as Catalyst specializes shared
    // subtrees per branch; materialize the tiny (group, value) count once
    val c = Materialize(df.groupBy(col(groupCol).as("src"), col(valueCol).as("x"))
      .agg(count(lit(1)).as("cnt"))).df
    val roster = c.select(col("src").as("s")).distinct()
    val ev = c.crossJoin(broadcast(roster))
      .groupBy(col("s"), col("x"))
      .agg(
        sum(when(col("src") === col("s"), col("cnt")).otherwise(lit(0L))).as("in_cnt"),
        sum(when(col("src") =!= col("s"), col("cnt")).otherwise(lit(0L))).as("out_cnt"))
    val w = Window.partitionBy(col("s")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = c.groupBy(col("src").as("s")).agg(sum(col("cnt")).as("n_grp"))
    val grand = c.agg(sum(col("cnt")).as("n_tot"))
    ev.select(col("s"), col("x"),
        sum(col("in_cnt")).over(w).as("cin"),
        sum(col("out_cnt")).over(w).as("cout"))
      .join(broadcast(tot), Seq("s"))
      .crossJoin(broadcast(grand))
  }

  /** The CDF gap |F_group(x) − F_rest(x)| as a Column, on [[cdfEvents]] rows. */
  private def cdfGap: Column = abs(
    col("cin").cast("double") / col("n_grp").cast("double") -
    col("cout").cast("double") / (col("n_tot") - col("n_grp")).cast("double"))

  def ksOneVsRest(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    cdfEvents(df, groupCol, valueCol)
      .groupBy(col("s"))
      .agg(max(col("n_grp")).as("n"), max(cdfGap).as("ks_raw"))
      .select(col("s"), col("n"), round(col("ks_raw"), 6).as("ks"))

  /** One-vs-rest Wasserstein-1 (earth mover's) distance per group — the
    * magnitude-aware companion to [[ksOneVsRest]]: instead of the sup of the
    * CDF gap it integrates it, `W1 = Σ_x |F_grp(x) − F_rest(x)| · Δx`
    * (exact for empirical distributions; Δx is the gap to the next pooled
    * support point, the last point contributes nothing). Same aggregate-first
    * scaffold; gap·Δx terms are summed in DECIMAL for partition-order
    * independence. Returns one row per group: (group, n, w1).
    */
  def wasserstein1OneVsRest(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val nxt = Window.partitionBy(col("s")).orderBy(col("x"))
    cdfEvents(df, groupCol, valueCol)
      .withColumn("dx",
        (lead(col("x"), 1).over(nxt) - col("x")).cast("double"))
      .filter(col("dx").isNotNull)
      .groupBy(col("s"))
      .agg(max(col("n_grp")).as("n"),
        sum((cdfGap * col("dx")).cast("decimal(28,12)")).as("w1_dec"))
      .select(col("s"), col("n"),
        round(col("w1_dec").cast("double"), 6).as("w1"))
  }

  /** One-vs-rest Mann–Whitney U rank test per group — the rank-based
    * companion to [[ksOneVsRest]] (location shift rather than sup-CDF
    * distance), from the SAME per-(group, value) count table.
    *
    * Exactness device: with pooled per-value counts t(x) and the cumulative
    * count cb(x) of smaller values, the tie-averaged rank is
    * a(x) = cb + (t+1)/2 — a half-integer. Working in DOUBLED ranks
    * a2(x) = 2·cb + t + 1 keeps every rank sum in integers (DECIMAL
    * accumulators, overflow-safe at any count), so
    * U = (Σ cnt·a2 − n(n+1)) / 2 is exact under any partition order; only
    * the z-score (normal approximation with tie correction) runs in double.
    *
    * Returns one row per group: (group, n, u, z).
    */
  def mannWhitneyOneVsRest(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val c = Materialize(df.groupBy(col(groupCol).as("src"), col(valueCol).as("x"))
      .agg(count(lit(1)).as("cnt"))).df
    val pool = c.groupBy(col("x")).agg(sum(col("cnt")).as("t"))
    // |distinct values| rows — the global window is value-domain bounded,
    // same exception class as the KS per-target window
    val wOrd = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = pool.select(col("x"), col("t"),
      (sum(col("t")).over(wOrd) * 2 - col("t") + 1).as("a2"))
    val ties = pool.agg(
      sum(col("t")).as("n_tot"),
      sum((col("t") * col("t") * col("t") - col("t")).cast("decimal(38,0)"))
        .as("tie_sum"))
    val perGroup = c.join(ranked, Seq("x"))
      .groupBy(col("src"))
      .agg(sum(col("cnt")).as("n"),
        sum(col("cnt").cast("decimal(19,0)") * col("a2").cast("decimal(19,0)"))
          .as("r2"))
    val nD = col("n").cast("double")
    val mD = (col("n_tot") - col("n")).cast("double")
    val nTotD = col("n_tot").cast("double")
    val u = (col("r2").cast("double") -
      nD * (nD + 1.0)) / 2.0
    val varU = nD * mD / 12.0 *
      ((nTotD + 1.0) - col("tie_sum").cast("double") / (nTotD * (nTotD - 1.0)))
    perGroup.crossJoin(broadcast(ties))
      .select(col("src"), col("n"),
        round(u, 6).as("u"),
        round((u - nD * mD / 2.0) /
          sqrt(when(varU <= 0.0, lit(null)).otherwise(varU)), 6).as("z"))
  }

  /** Population Stability Index of `valueCol` between a reference and a
    * current slice, over `nBins` equal-width bins fit on the REFERENCE
    * min/max (out-of-range current values clamp to the edge bins — the
    * convention that makes new-range drift visible in bins 0/n−1 instead of
    * silently dropped). Shares are Laplace-smoothed ((c+0.5)/(n+nBins/2)) so
    * empty bins contribute finitely.
    *
    * Returns one row per bin: (bin, ref_cnt, cur_cnt, psi_term, psi_total) —
    * the per-bin decomposition IS the diagnostic (which price band moved),
    * psi_total the alert threshold (0.1 watch / 0.25 act convention).
    *
    * Two passes over the input: a 1-row min/max aggregate on the reference
    * (filter pushed to the scan), then one (slice, bin) count — both
    * map-side combined.
    */
  def psi(ref: DataFrame, cur: DataFrame, valueCol: String, nBins: Int = 10): DataFrame = {
    val spark = ref.sparkSession
    // 1-row stats feed both binned branches; (slice, bin) counts feed the
    // ref and cur spine joins — materialize both so neither re-scans input
    val stats = Materialize(ref.agg(
      min(col(valueCol).cast("double")).as("mn"),
      max(col(valueCol).cast("double")).as("mx"))).df
    def binned(df: DataFrame, slice: String): DataFrame =
      df.crossJoin(broadcast(stats)).select(
        lit(slice).as("slice"),
        least(greatest(
          floor((col(valueCol).cast("double") - col("mn")) * nBins /
            (col("mx") - col("mn"))), lit(0L)), lit(nBins - 1L))
          .cast("int").as("bin"))
    val counts = Materialize(binned(ref, "ref").unionAll(binned(cur, "cur"))
      .groupBy(col("slice"), col("bin")).agg(count(lit(1)).as("cnt"))).df
    val spine = spark.range(nBins).select(col("id").cast("int").as("bin"))
    val wide = spine
      .join(broadcast(counts.filter(col("slice") === "ref")
        .select(col("bin"), col("cnt").as("ref_cnt"))), Seq("bin"), "left")
      .join(broadcast(counts.filter(col("slice") === "cur")
        .select(col("bin"), col("cnt").as("cur_cnt"))), Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("ref_cnt"), lit(0L)).as("ref_cnt"),
        coalesce(col("cur_cnt"), lit(0L)).as("cur_cnt"))
    val nRef = sum(col("ref_cnt")).over(Window.partitionBy())
    val nCur = sum(col("cur_cnt")).over(Window.partitionBy())
    // nBins rows total — the single-partition window is bin-count-bounded,
    // the documented exception to the no-global-window rule.
    val p = (col("ref_cnt").cast("double") + 0.5) / (nRef.cast("double") + nBins / 2.0)
    val q = (col("cur_cnt").cast("double") + 0.5) / (nCur.cast("double") + nBins / 2.0)
    val term = (p - q) * log(p / q)
    wide
      .withColumn("psi_term_raw", term)
      .withColumn("psi_total_raw",
        sum(col("psi_term_raw").cast("decimal(28,12)")).over(Window.partitionBy())
          .cast("double"))
      .select(col("bin"), col("ref_cnt"), col("cur_cnt"),
        round(col("psi_term_raw"), 6).as("psi_term"),
        round(col("psi_total_raw"), 6).as("psi_total"))
  }

  /** Dependence between two categorical columns from their contingency
    * table: mutual information (nats), the chi-square statistic, and
    * Cramér's V (chi² normalized to [0,1] — the "is this feature redundant /
    * is this split leaking labels" audit number).
    *
    * One row out: (pair, n, r_levels, c_levels, mi_nats, chi2, cramers_v).
    * The contingency table is a map-side-combined count keyed by the level
    * cross product (bounded by the categorical domains); per-cell log terms
    * are summed in DECIMAL for partition-order independence.
    */
  def categoricalDependence(df: DataFrame, colA: String, colB: String,
      pairLabel: String): DataFrame = {
    // cells feed the marginals, the totals AND the final join — materialize
    // the (bounded) contingency table once instead of 4 input re-scans
    val cells = Materialize(df.groupBy(col(colA).as("a"), col(colB).as("b"))
      .agg(count(lit(1)).as("cnt"))).df
    val ra = cells.groupBy(col("a")).agg(sum(col("cnt")).as("ra"))
    val cb = cells.groupBy(col("b")).agg(sum(col("cnt")).as("cb"))
    val n = cells.agg(sum(col("cnt")).as("n"),
      countDistinct(col("a")).as("r_levels"),
      countDistinct(col("b")).as("c_levels"))
    val cd = col("cnt").cast("double")
    val nd = col("n").cast("double")
    // Zero cells contribute (0-e)^2/e = e to chi2; summing c^2*n/(ra*cb)
    // over OBSERVED cells and subtracting n folds them in exactly
    // (sum_all (c-e)^2/e = sum_obs c^2/e - n), so the aggregate never has
    // to materialize the empty cells of the level cross product.
    val chi2 = col("chi_dec").cast("double") - nd
    cells
      .join(broadcast(ra), Seq("a"))
      .join(broadcast(cb), Seq("b"))
      .crossJoin(broadcast(n))
      .select(col("n"), col("r_levels"), col("c_levels"),
        ((cd / nd) * log(cd * nd /
          (col("ra").cast("double") * col("cb").cast("double"))))
          .cast("decimal(28,12)").as("mi_term"),
        (cd * cd * nd /
          (col("ra").cast("double") * col("cb").cast("double")))
          .cast("decimal(28,12)").as("chi_term"))
      .groupBy(col("n"), col("r_levels"), col("c_levels"))
      .agg(sum(col("mi_term")).as("mi_dec"), sum(col("chi_term")).as("chi_dec"))
      .select(lit(pairLabel).as("pair"), col("n"), col("r_levels"), col("c_levels"),
        round(col("mi_dec").cast("double"), 6).as("mi_nats"),
        round(chi2, 6).as("chi2"),
        round(sqrt(chi2 /
          (col("n").cast("double") *
            least(col("r_levels") - 1, col("c_levels") - 1).cast("double"))), 6)
          .as("cramers_v"))
  }

  /** Per-group simple OLS of `yCol` on `xCol` via the closed-form moment
    * sums — the grouped-regression primitive (price elasticity per brand,
    * dose-response per cohort). Moments are summed as DECIMAL (exact, any
    * partition order); the slope/intercept division runs in double on the
    * exact aggregates. Groups with zero x-variance return NULL slope.
    *
    * Returns (group, n, slope, intercept) — one map-side-combined aggregate,
    * no window, no second pass.
    */
  def groupedOls(df: DataFrame, groupCol: String, xCol: String, yCol: String): DataFrame = {
    val x = col(xCol).cast("decimal(18,4)")
    val y = col(yCol).cast("decimal(18,4)")
    val agg = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"))
    val nd = col("n").cast("double")
    val sxd = col("sx").cast("double")
    val syd = col("sy").cast("double")
    val denom = nd * col("sxx").cast("double") - sxd * sxd
    val slope = (nd * col("sxy").cast("double") - sxd * syd) /
      when(denom === 0.0, lit(null)).otherwise(denom)
    agg.select(col(groupCol), col("n"),
      round(slope, 6).as("slope"),
      round((syd - slope * sxd) / nd, 6).as("intercept"))
  }

  /** Two-feature ridge regression in closed form — the multicollinearity-
    * robust upgrade of [[groupedOls]]: solve `(S + λI)·b = c` on the CENTERED
    * normal equations (λ never penalizes the intercept) with the explicit
    * 2×2 inverse, `intercept = ȳ − b₁x̄₁ − b₂x̄₂`, and report the explained
    * variance share `(b₁c₁ + b₂c₂)/Syy`.
    *
    * All raw moments (n, Σx₁, Σx₂, Σy, Σx₁², Σx₂², Σx₁x₂, Σx₁y, Σx₂y, Σy²)
    * accumulate as exact DECIMALs over integer-valued inputs, so both engines
    * enter the identical double formula — ONE aggregate pass over the data,
    * the solve is per-group scalar arithmetic. λ is in centered-moment units
    * (same scale as Sxx). Output per group: (group, n, b1, b2, intercept,
    * r2); null coefficients when the regularized system is singular.
    */
  def ridge2(df: DataFrame, groupCol: String, x1Col: String, x2Col: String,
             yCol: String, lambda: Double): DataFrame = {
    val x1 = col(x1Col).cast("decimal(18,4)")
    val x2 = col(x2Col).cast("decimal(18,4)")
    val y = col(yCol).cast("decimal(18,4)")
    val agg = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(x1).as("s1"), sum(x2).as("s2"), sum(y).as("sy"),
        sum(x1 * x1).as("s11"), sum(x2 * x2).as("s22"),
        sum(x1 * x2).as("s12"),
        sum(x1 * y).as("s1y"), sum(x2 * y).as("s2y"),
        sum(y * y).as("syy"))
    def d(c: String) = col(c).cast("double")
    val nd = d("n")
    // centered second moments: Sab = Σab − Σa·Σb/n
    val c11 = d("s11") - d("s1") * d("s1") / nd
    val c22 = d("s22") - d("s2") * d("s2") / nd
    val c12 = d("s12") - d("s1") * d("s2") / nd
    val c1y = d("s1y") - d("s1") * d("sy") / nd
    val c2y = d("s2y") - d("s2") * d("sy") / nd
    val cyy = d("syy") - d("sy") * d("sy") / nd
    val a11 = c11 + lambda
    val a22 = c22 + lambda
    val det = a11 * a22 - c12 * c12
    val safeDet = when(det === 0.0, lit(null)).otherwise(det)
    val b1 = (a22 * c1y - c12 * c2y) / safeDet
    val b2 = (a11 * c2y - c12 * c1y) / safeDet
    agg.select(col(groupCol), col("n"),
      round(b1, 6).as("b1"),
      round(b2, 6).as("b2"),
      round((d("sy") - b1 * d("s1") - b2 * d("s2")) / nd, 6).as("intercept"),
      round((b1 * c1y + b2 * c2y) /
        when(cyy === 0.0, lit(null)).otherwise(cyy), 6).as("r2"))
  }
}
