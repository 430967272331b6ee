package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize

/** Chi-square test of independence + Cramér's V over a two-way contingency
  * table — the categorical-association partner of [[RankCorr]] (numeric) and
  * `Experiment.mutualInfo` (information-theoretic): "does the distribution of
  * B differ across levels of A, and how strongly?" — the screen a curation
  * pipeline runs before stratifying on a metadata column (is `source`
  * independent of `lang`? is return-flag independent of brand?).
  *
  * Exactness: with integer observed counts o, row margins ra, column margins
  * cb and grand total N, each cell's χ² contribution
  * `(o − e)²/e  with  e = ra·cb/N` is algebraically
  * `(o·N − ra·cb)² / (N·ra·cb)` — an exact-integer numerator and denominator.
  * Both are built in DECIMAL, cast to double, divided once (deterministic
  * IEEE), then pooled in DECIMAL(28,12) (the `Experiment.srm` idiom) so the
  * statistic is partition-order-exact and hash-matches the oracle.
  *
  * Scale shape: one groupBy(a,b) over the scan (map-side combined; the cell
  * table is |A|×|B| rows), margins are two tiny re-aggregations of the CELL
  * table (not the scan), broadcast-joined back. Empty cells (a,b pairs never
  * observed together) still contribute `e` to χ² — handled by building the
  * full margin cross product and left-joining observed counts (o=0).
  */
object Contingency {

  /** Output: one row —
    * (n, r_levels, c_levels, dof, chi2, cramers_v) where
    * dof = (r−1)(c−1) and V = sqrt(χ² / (N·min(r−1, c−1))).
    */
  def chiSquareCramersV(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("o"))
    val ra = cells.groupBy(col("a")).agg(sum(col("o")).as("ra"))
    val cb = cells.groupBy(col("b")).agg(sum(col("o")).as("cb"))
    // full cross product of observed levels so structurally-empty cells
    // contribute their expected mass (o=0 → term = e = ra·cb/N)
    val grid = ra.crossJoin(cb)
      .join(cells, Seq("a", "b"), "left")
      .na.fill(0L, Seq("o"))
    val n = cells.agg(sum(col("o")).as("nn"),
      countDistinct(col("a")).as("r_levels"),
      countDistinct(col("b")).as("c_levels"))
    val withN = grid.crossJoin(broadcast(n))
    val dNum = (col("o").cast("decimal(19,0)") * col("nn").cast("decimal(19,0)") -
      col("ra").cast("decimal(19,0)") * col("cb").cast("decimal(19,0)"))
      .cast("double")
    val dDen = (col("nn").cast("double") * col("ra").cast("double")) *
      col("cb").cast("double")
    val term = ((dNum * dNum) / dDen).cast("decimal(28,12)")
    withN
      .select(col("nn"), col("r_levels"), col("c_levels"), term.as("t"))
      .groupBy(col("nn"), col("r_levels"), col("c_levels"))
      .agg(sum(col("t")).as("chi2d"))
      .select(
        col("nn").as("n"), col("r_levels"), col("c_levels"),
        ((col("r_levels") - 1) * (col("c_levels") - 1)).as("dof"),
        col("chi2d").cast("double").as("chi2"),
        sqrt(col("chi2d").cast("double") /
          (col("nn").cast("double") *
            least(col("r_levels") - 1, col("c_levels") - 1).cast("double")))
          .as("cramers_v"))
  }

  /** Theil's uncertainty coefficient U (Theil 1970) in both directions —
    * the ASYMMETRIC categorical association [[chiSquareCramersV]] cannot
    * express: U(X|Y) = (H(X) − H(X|Y)) / H(X) is the fraction of X's
    * entropy that knowing Y removes, so U(X|Y) ≠ U(Y|X) surfaces which
    * variable predicts which (the feature-selection question Cramér's V
    * symmetrizes away). Degenerate marginals (H = 0) yield null, never a
    * division blow-up.
    *
    * One (x, y) cell aggregate off the scan; every entropy term pools in
    * DECIMAL(18,8) (the groupDivergence discipline) so the doubles match
    * the oracle bit-for-bit. Output one row: (n, x_levels, y_levels, h_x,
    * h_y, u_x_given_y, u_y_given_x).
    */
  def theilsU(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    // four aggregate consumers below
    val cells = Materialize(df.select(col(xCol).as("x"), col(yCol).as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("nxy"))).df
    val nx = cells.groupBy(col("x")).agg(sum(col("nxy")).as("nx"))
    val ny = cells.groupBy(col("y")).agg(sum(col("nxy")).as("ny"))
    val tot = cells.agg(sum(col("nxy")).as("n"))
    def marginalEntropy(m: DataFrame, cnt: String, levels: String) =
      m.crossJoin(broadcast(tot))
        .select(((col(cnt).cast("double") / col("n").cast("double")) *
          log(col(cnt).cast("double") / col("n").cast("double")))
          .cast("decimal(18,8)").as("__t"))
        .agg(count(lit(1)).as(levels),
          (lit(-1.0) * sum(col("__t")).cast("double")).as(s"h_$cnt"))
    val hx = marginalEntropy(nx, "nx", "x_levels")
      .withColumnRenamed("h_nx", "h_x")
    val hy = marginalEntropy(ny, "ny", "y_levels")
      .withColumnRenamed("h_ny", "h_y")
    val hxGy = cells.join(ny, "y").crossJoin(broadcast(tot))
      .select(((col("nxy").cast("double") / col("n").cast("double")) *
        log(col("nxy").cast("double") / col("ny").cast("double")))
        .cast("decimal(18,8)").as("__t"))
      .agg((lit(-1.0) * sum(col("__t")).cast("double")).as("h_x_given_y"))
    val hyGx = cells.join(nx, "x").crossJoin(broadcast(tot))
      .select(((col("nxy").cast("double") / col("n").cast("double")) *
        log(col("nxy").cast("double") / col("nx").cast("double")))
        .cast("decimal(18,8)").as("__t"))
      .agg((lit(-1.0) * sum(col("__t")).cast("double")).as("h_y_given_x"))
    tot.crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
      .crossJoin(broadcast(hxGy)).crossJoin(broadcast(hyGx))
      .select(col("n"), col("x_levels"), col("y_levels"),
        col("h_x"), col("h_y"),
        when(col("h_x") > 0.0,
          (col("h_x") - col("h_x_given_y")) / col("h_x")).as("u_x_given_y"),
        when(col("h_y") > 0.0,
          (col("h_y") - col("h_y_given_x")) / col("h_y")).as("u_y_given_x"))
  }
}
