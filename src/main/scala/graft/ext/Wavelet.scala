package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize

/** Haar wavelet energy decomposition of a bounded integer series — the
  * multiresolution fingerprint: how much of a daily metric's variation
  * lives at the 2-day scale vs the 2-month scale. A spike shows up as
  * fine-level energy, a regime shift as coarse-level energy, seasonality
  * as a band — one readout that q_periodogram (frequency) and
  * q_changepoint (single break) each see only a slice of.
  *
  * Exactness: the series must be integer-valued (cents); every Haar detail
  * at level k is an INTEGER difference of two block sums taken from one
  * integer prefix array, and d² pools in DECIMAL(38,0) — NO double ever
  * enters the transform (engines disagree on extended-precision double
  * products at this magnitude). The orthonormal per-level energies
  * Σd²/2ᵏ are compared through their 2ᴸ-scaled INTEGER forms
  * Σd²·2^(L−k), so the share is one double division of two exact
  * integers and ROUND(,6) is stable regardless of the series' magnitude.
  *
  * Scale shape: the day-grain aggregate is the only corpus-sized stage;
  * the 2ᴸ-row series then collapses to ONE row and the whole transform —
  * prefix sums, every level's every coefficient — is a scan-local
  * expression tree over that row (sequence/transform/aggregate HOFs, no
  * iteration jobs, no driver loop).
  */
object Wavelet {

  /** Per-level Haar energy shares of a 2^`levels`-point integer series.
    * Input: one row per point, ordered by `orderCol`, integer `valCol`.
    * Raises if the series is not exactly 2^`levels` points. Output per
    * level 1 (finest, 2-point blocks) .. `levels` (coarsest):
    * (level, n_coeffs, d2_sum, energy_share) — d2_sum is the exact integer
    * Σd² of the level's unnormalized details; energy_share is the level's
    * fraction of total orthonormal energy Σd²/2ᵏ.
    */
  def haarEnergyShares(series: DataFrame, orderCol: String, valCol: String,
                       levels: Int): DataFrame = {
    require(levels >= 1 && levels <= 12, s"levels must be 1..12, got $levels")
    val n = 1 << levels
    val one = series
      .agg(sort_array(collect_list(struct(col(orderCol).as("o"),
        col(valCol).cast("long").as("v")))).as("sv"))
      .select(transform(col("sv"), e => e.getField("v")).as("x"))
      .select(when(size(col("x")) === n, col("x"))
        .otherwise(raise_error(concat(lit(s"haar needs exactly $n points, " +
          "got "), size(col("x")).cast("string")))).as("x"))
      .select(transform(sequence(lit(0), lit(n)), i =>
        aggregate(slice(col("x"), lit(1), i), lit(0L),
          (acc, v) => acc + v)).as("p"))
    def pAt(i: org.apache.spark.sql.Column) =
      element_at(col("p"), (i + 1).cast("int"))
    val terms = one
      .select(col("p"), explode(sequence(lit(1), lit(levels))).as("level"))
      // 2^level is exact in doubles; all block arithmetic back in longs
      .withColumn("sz", pow(lit(2.0), col("level")).cast("long"))
      .select(col("p"), col("level"), col("sz"),
        explode(sequence(lit(0L),
          (lit(n.toLong) / col("sz")).cast("long") - 1)).as("b"))
      .select(col("level"), {
        val half = (col("sz") / 2).cast("long")
        val l0 = col("b") * col("sz")
        val d = ((pAt(l0 + half) - pAt(l0)) -
          (pAt(l0 + col("sz")) - pAt(l0 + half))).cast("decimal(38,0)")
        (d * d).as("term") // exact — d² overflows int64
      })
    val energies = Materialize(terms.groupBy(col("level"))
      .agg(count(lit(1)).as("n_coeffs"),
        sum(col("term")).cast("decimal(38,0)").as("d2_sum"))
      // scaled = Σd²·2^(L−k): the 2^L-multiplied orthonormal energy, an
      // exact integer on both engines
      .withColumn("scaled", (col("d2_sum") *
        pow(lit(2.0), lit(levels) - col("level")).cast("long"))
        .cast("decimal(38,0)"))).df // rows + the 1-row total read it
    val total = energies.agg(sum(col("scaled")).cast("decimal(38,0)")
      .as("tot"))
    energies.crossJoin(broadcast(total))
      .select(col("level").cast("long").as("level"), col("n_coeffs"),
        col("d2_sum"),
        (col("scaled").cast("double") / col("tot").cast("double"))
          .as("energy_share"))
  }
}
