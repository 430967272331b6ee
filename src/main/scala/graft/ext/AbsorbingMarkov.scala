package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materialize

/** Absorption probabilities of an empirical Markov chain by fixed-round
  * value iteration: from each state, the probability of eventually reaching
  * the absorbing state within `iterations` steps — the funnel question
  * ("how likely does a session in state s go on to convert?") asked of the
  * whole transition structure instead of one hand-picked path
  * (`Funnel`/`q_top_paths` measure specific sequences; this closes over all
  * of them).
  *
  * Estimation: transitions are consecutive same-entity event pairs; the
  * chain is the maximum-likelihood P(s→t) = n_st / n_s. The absorbing state
  * is pinned to 1 every round, all other states start at 0, and each round
  * applies p ← P·p — so after k rounds p(s) is exactly the probability of
  * absorption in ≤ k steps, a monotone lower bound converging to the true
  * absorption probability (states with no path contribute 0 forever).
  *
  * Exactness: each round's gather pools p(t)·n_st in DECIMAL(28,15) and
  * divides by n_s ONCE (one fixed-order double formula per state per
  * round), the q_ppr discipline — the DuckDB oracle unrolls the same
  * rounds bit-identically.
  *
  * Scale shape: the transition matrix is one window pass over the event
  * log (entity-partitioned lead) — the only corpus-sized stage at any
  * scale, since the state space is a bounded taxonomy. The iteration then
  * runs over the single-partition states²-row table in one nested plan;
  * no driver-side matrix, no per-round jobs.
  */
object AbsorbingMarkov {

  /** Per-state absorption probability within `iterations` steps toward
    * `absorbing`. Output: (state, n_out, p_absorb) — n_out is the state's
    * observed outgoing-transition count (0 for terminal-only states,
    * which keep p_absorb 0 unless they ARE the absorbing state).
    */
  def absorptionProbability(events: DataFrame, entityCol: String,
                            orderCols: Seq[String], stateCol: String,
                            absorbing: String, iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val w = Window.partitionBy(col(entityCol))
      .orderBy(orderCols.map(col): _*)
    // the distributed pass: transition extraction. Everything after it is
    // O(states²) data — single-partition, checkpointed ONCE, and the value
    // iteration builds one nested plan over those tiny tables (4 rounds of
    // 25-row joins need no per-round materialization; a per-round
    // localCheckpoint would pay 2 jobs/round of pure scheduling overhead)
    val trans = Materialize(events
      .select(Seq(col(entityCol), col(stateCol).as("s")) ++
        orderCols.map(col): _*)
      .withColumn("t", lead(col("s"), 1).over(w))
      .filter(col("t").isNotNull)
      .groupBy(col("s"), col("t")).agg(count(lit(1)).as("n_st"))
      .repartition(1)).df
    val outs = trans.groupBy(col("s")).agg(sum(col("n_st")).as("n_s"))
    val states = Materialize(events.select(col(stateCol).as("state")).distinct()
      .repartition(1)).df
    var p = states.select(col("state"),
      when(col("state") === absorbing, lit(1.0)).otherwise(lit(0.0))
        .as("p"))
    for (_ <- 1 to iterations) {
      val gathered = trans
        .join(p.select(col("state").as("t"), col("p")), "t")
        .groupBy(col("s"))
        .agg(sum((col("p") * col("n_st")).cast("decimal(28,15)"))
          .as("num"))
        .join(outs, "s")
        .select(col("s").as("state"),
          (col("num").cast("double") / col("n_s")).as("p_next"))
      p = states
        .join(gathered, Seq("state"), "left")
        .select(col("state"),
          when(col("state") === absorbing, lit(1.0))
            .otherwise(coalesce(col("p_next"), lit(0.0))).as("p"))
    }
    states
      .join(outs.select(col("s").as("state"), col("n_s")), Seq("state"),
        "left")
      .join(p, "state")
      .select(col("state"), coalesce(col("n_s"), lit(0L)).as("n_out"),
        col("p").as("p_absorb"))
  }

  /** Markov REMOVAL-EFFECT attribution (Anderl et al., "Mapping the
    * customer journey", IJRM 2016): per touch channel c, re-run the
    * absorption value iteration with p(c) PINNED to 0 — every journey
    * that reaches c then never converts — and read the drop in the
    * start-weighted conversion rate. removal_effect(c) =
    * 1 − conv_removed(c)/conv_base is the channel's causal share under
    * the chain model; credits normalize the effects to 1. Monotonicity of
    * value iteration guarantees conv_removed ≤ conv_base at every finite
    * round, so effects are never negative.
    *
    * `removable` is the bounded channel taxonomy to ablate (pass the
    * touch states; the absorbing state must not be in it). Output per
    * channel: (channel, conv_base, conv_removed, removal_effect, credit)
    * — credit null when every effect is 0. Exactness: per-round gathers
    * pool p·n_st in DECIMAL(28,15) with ONE double division per state
    * ([[absorptionProbability]]'s discipline); conversion rates pool
    * n_start·p the same way; credits divide by a DECIMAL-pooled effect
    * sum, so both engines agree bit-for-bit.
    *
    * Scale shape: one corpus window pass for transitions plus one
    * row_number pass for start states; every iteration (|removable|+1
    * variants × rounds) runs over the same single-partition states²
    * table in nested plans — channel count is a taxonomy, not data.
    */
  def removalEffects(events: DataFrame, entityCol: String,
                     orderCols: Seq[String], stateCol: String,
                     absorbing: String, removable: Seq[String],
                     iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(removable.nonEmpty && !removable.contains(absorbing),
      s"removable must be non-empty and exclude '$absorbing'")
    val w = Window.partitionBy(col(entityCol))
      .orderBy(orderCols.map(col): _*)
    // internal aliases are __-prefixed so caller column names (an order
    // column literally called "t", say) cannot shadow them
    val base = events.select(Seq(col(entityCol), col(stateCol).as("__s")) ++
      orderCols.map(col): _*)
    val trans = Materialize(base
      .withColumn("__t", lead(col("__s"), 1).over(w))
      .filter(col("__t").isNotNull)
      .groupBy(col("__s").as("s"), col("__t").as("t"))
      .agg(count(lit(1)).as("n_st"))
      .repartition(1)).df
    val outs = trans.groupBy(col("s")).agg(sum(col("n_st")).as("n_s"))
    val states = Materialize(events.select(col(stateCol).as("state")).distinct()
      .repartition(1)).df
    val starts = Materialize(base
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .groupBy(col("__s").as("state")).agg(count(lit(1)).as("n_start"))
      .repartition(1)).df
    // start-weighted conversion of one ablated chain (removed = None for
    // the baseline): value iteration with p(removed) pinned 0
    def conv(removed: Option[String]) = {
      def pin(c: Column) = removed match {
        case Some(r) => when(col("state") === absorbing, lit(1.0))
          .when(col("state") === r, lit(0.0)).otherwise(c)
        case None => when(col("state") === absorbing, lit(1.0)).otherwise(c)
      }
      var p = states.select(col("state"), pin(lit(0.0)).as("p"))
      for (_ <- 1 to iterations) {
        val gathered = trans
          .join(p.select(col("state").as("t"), col("p")), "t")
          .groupBy(col("s"))
          .agg(sum((col("p") * col("n_st")).cast("decimal(28,15)"))
            .as("num"))
          .join(outs, "s")
          .select(col("s").as("state"),
            (col("num").cast("double") / col("n_s")).as("p_next"))
        p = states.join(gathered, Seq("state"), "left")
          .select(col("state"), pin(coalesce(col("p_next"), lit(0.0)))
            .as("p"))
      }
      starts.join(p, "state")
        .agg((sum((col("p") * col("n_start")).cast("decimal(28,15)"))
          .cast("double") /
          sum(col("n_start")).cast("double")).as("conv"))
    }
    val baseConv = conv(None).select(col("conv").as("conv_base"))
    val perChannel = removable.map { c =>
      conv(Some(c)).select(lit(c).as("channel"),
        col("conv").as("conv_removed"))
    }.reduce(_ unionByName _)
    val effects = perChannel.crossJoin(baseConv)
      .select(col("channel"), col("conv_base"), col("conv_removed"),
        (lit(1.0) - col("conv_removed") / col("conv_base"))
          .as("removal_effect"))
    val total = effects.agg(sum(col("removal_effect")
      .cast("decimal(28,15)")).as("re_sum"))
    effects.crossJoin(total)
      .select(col("channel"), col("conv_base"), col("conv_removed"),
        col("removal_effect"),
        when(col("re_sum").cast("double") === 0.0, lit(null))
          .otherwise(col("removal_effect") / col("re_sum").cast("double"))
          .as("credit"))
  }
}
