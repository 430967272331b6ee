package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize

/** First-occurrence sequential motifs — the bounded cousin of sequential
  * pattern mining (GSP/PrefixSpan): instead of counting every subsequence
  * occurrence (combinatorial in events-per-user), collapse each user to the
  * FIRST occurrence time of each event type and count users whose first
  * occurrences of (a, b, c) happen in strict temporal order. This is the
  * funnel-discovery readout ("which 3-step journeys actually happen, and how
  * often") without a hypothesis — q_funnel measures ONE given sequence, this
  * surfaces the ranking.
  *
  * Boundedness is structural: the per-user table has at most |event types|
  * rows, so triple generation is |types|³ per user — never events³. Ties on
  * the first-occurrence timestamp break by type name, so the motif counts
  * are deterministic (the (time, type) pair ordering is stated identically
  * in the oracle).
  *
  * Scale shape: one (user, type) min-aggregate off the scan (map-side
  * combined), then two user-keyed self-joins over the ≤|types|-row per-user
  * slices, then a motif-keyed count — every join key is user_id, nothing
  * quadratic in users or events.
  */
object SequencePatterns {

  /** Top-`k` ordered first-occurrence triples. Output:
    * (step1, step2, step3, n_users), support desc, then steps asc.
    */
  def firstOccurrenceTriples(events: DataFrame, userCol: String,
                             typeCol: String, tsMillis: org.apache.spark.sql.Column,
                             k: Int = 20): DataFrame = {
    // three self-join consumers of one aggregate
    val f = Materialize(events
      .select(col(userCol).as("u"), col(typeCol).as("ty"), tsMillis.as("ms"))
      .groupBy(col("u"), col("ty")).agg(min(col("ms")).as("t"))).df
    def side(n: Int) =
      f.select(col("u"), col("ty").as(s"ty$n"), col("t").as(s"t$n"))
    def before(i: Int, j: Int) =
      col(s"t$i") < col(s"t$j") ||
        (col(s"t$i") === col(s"t$j") && col(s"ty$i") < col(s"ty$j"))
    side(1)
      .join(side(2), Seq("u")).filter(before(1, 2))
      .join(side(3), Seq("u")).filter(before(2, 3))
      .groupBy(col("ty1").as("step1"), col("ty2").as("step2"),
        col("ty3").as("step3"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("step1"), col("step2"), col("step3"))
      .limit(k)
  }
}
