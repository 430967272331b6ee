package graft.plans

import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.types.{BooleanType, DateType}

/** Scale-lint analysis check: flag the canonical 100 TB plan-killer — an
  * UNPARTITIONED window (`ROW_NUMBER() OVER (ORDER BY ...)` with no
  * PARTITION BY) over an unbounded child. Spark plans that as ONE task
  * holding the entire dataset; on a laptop it's a latent bug, on a cluster
  * it's an OOM with a stack trace three hours in. The distributed
  * alternatives exist in this library ([[graft.ext.GlobalRank]]'s
  * range-partition + offset numbering, TakeOrderedAndProject for top-k), so
  * the guard points there.
  *
  * A window over a BOUNDED child is fine and stays silent — post-`limit`
  * ranking (q_bm25, q_hill_tail), 1-row aggregates, literal relations, and
  * compositions thereof. Default behavior is a log warning;
  * `spark.graft.scaleGuard.fail=true` upgrades to an analysis-time error
  * (the CI posture). Wired through `SparkSessionExtensions.injectCheckRule`
  * (runs ONCE per query after analysis, exactly the validation seam Spark
  * provides — not an optimizer rule that would re-fire per fixed-point
  * round).
  */
object ScaleGuard extends Logging {

  val FailConf = "spark.graft.scaleGuard.fail"

  /** Subquery-alias marker that waives the cartesian lint for ONE join —
    * the explicit, grep-able contract for the library's documented
    * small-by-contract all-pairs sites ([[graft.ext.SimSearch
    * .allPairsCosine]]'s verification twin, [[graft.ext.Dedup]]'s
    * sample-only truth joins). Applied via [[allowCartesian]] on a join
    * INPUT; it survives analysis (check rules run on the analyzed plan)
    * and the optimizer erases it afterwards, so it costs nothing.
    */
  val CartesianWaiver = "graft_allow_cartesian"

  /** Tag `df` as the deliberately-cartesian side of the join it feeds. */
  def allowCartesian(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.as(CartesianWaiver)

  /** A grouping key whose domain is small BY CONSTRUCTION, so an aggregate
    * grouped only on such keys is itself bounded: literals/foldables,
    * booleans, dates (thousands of distinct values over years of data), and
    * any expression derived through a calendar-truncation function. A raw
    * id or string key is NOT low-cardinality — a per-user groupBy is
    * corpus-sized.
    */
  private[graft] def lowCardKey(e: Expression): Boolean =
    e.foldable || (e.resolved && (e.dataType == BooleanType ||
      e.dataType == DateType ||
      e.exists {
        case _: Year | _: Quarter | _: Month | _: DayOfWeek | _: WeekDay |
            _: Hour | _: TruncDate | _: TruncTimestamp | _: MonthsBetween =>
          true
        case _ => false
      }))

  /** A plan whose row count is bounded by construction (small enough that a
    * single-task window over it is not a scale hazard): limits, literal
    * relations, global aggregates, and aggregates whose EVERY grouping key
    * is [[lowCardKey]] (per-month caps, tier CDFs over boolean flags). A
    * grouped aggregate over arbitrary keys is NOT bounded here — a per-user
    * aggregate is corpus-sized — but it is also not the raw-corpus shape
    * this guard hard-fails on; [[groupedAggregate]] classifies it into the
    * warn-only path.
    *
    * `Generate` (explode) multiplies rows, so it does NOT pass boundedness
    * through — an explode over a `limit` is unbounded again.
    */
  private[graft] def bounded(p: LogicalPlan): Boolean = p match {
    case _: GlobalLimit | _: LocalLimit => true
    case _: OneRowRelation | _: LocalRelation => true
    // a literal Range (spark.range / bin spines) has its cardinality in the
    // node itself; bound it like the literal relation it is when small
    case r: Range => r.numElements.isValidLong &&
      r.numElements.toLong <= 1000000L
    case a: Aggregate =>
      a.groupingExpressions.isEmpty ||
        a.groupingExpressions.forall(lowCardKey) ||
        bounded(a.child) // aggregates never increase rows
    case d: Distinct => bounded(d.child)
    case _: Generate => false
    case j: Join => bounded(j.left) && bounded(j.right)
    case u: Union => u.children.forall(bounded)
    case w: Window => bounded(w.child)
    case other if other.children.size == 1 => bounded(other.children.head)
    case _ => false
  }

  /** True when every unbounded path from the window down ends at a grouped
    * [[Aggregate]] OR a materialized [[org.apache.spark.sql.execution.LogicalRDD]]
    * ([[graft.Materialize]] output) — the library's two post-reduction idioms
    * (decile cumulatives, per-source caps; checkpointed digit/arm/bin count
    * tables). Those windows WARN (the group domain or checkpoint might still
    * be huge — per-user, per-document) but never fail the query: the
    * cardinality behind either is a judgment a static plan check cannot
    * make, and a checkpoint is by definition a deliberate materialization
    * the author sized.
    */
  private[graft] def groupedAggregate(p: LogicalPlan): Boolean = {
    def ok(c: LogicalPlan): Boolean = bounded(c) || groupedAggregate(c)
    p match {
      case _: Aggregate => true
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _: Generate => false
      case j: Join => ok(j.left) && ok(j.right)
      case u: Union => u.children.forall(ok)
      case other if other.children.size == 1 =>
        groupedAggregate(other.children.head)
      case _ => false
    }
  }

  /** True when the join would plan as CartesianProduct /
    * BroadcastNestedLoopJoin: no equality predicate CONNECTING the two
    * sides (a pure cross, or theta-only conditions). Equalities local to
    * one side don't count — they filter, they don't key the join.
    */
  private[graft] def cartesianLike(j: Join): Boolean = {
    def spansBoth(l: Expression, r: Expression): Boolean =
      (l.references.subsetOf(j.left.outputSet) &&
        r.references.subsetOf(j.right.outputSet) &&
        l.references.nonEmpty && r.references.nonEmpty) ||
      (l.references.subsetOf(j.right.outputSet) &&
        r.references.subsetOf(j.left.outputSet) &&
        l.references.nonEmpty && r.references.nonEmpty)
    val hasEquiKey = j.condition.exists(_.exists {
      case EqualTo(l, r) => spansBoth(l, r)
      case EqualNullSafe(l, r) => spansBoth(l, r)
      case _ => false
    })
    !hasEquiKey
  }

  /** Waiver check on one join input: either the explicit
    * [[CartesianWaiver]] marker alias, or an explicit BROADCAST hint —
    * `broadcast(df)` is the author's size declaration for that side (the
    * build side must fit in one executor or the job fails LOUDLY at the
    * broadcast build; it can never silently become a quadratic shuffle),
    * which is exactly the contract of the library's centroid / probe /
    * query-batch tables. Both markers sit on the input's own unary chain
    * (stopping at the next join/aggregate, so a waived inner join cannot
    * silently waive an outer one).
    */
  private[graft] def waived(p: LogicalPlan): Boolean = p match {
    case s: SubqueryAlias =>
      s.alias == CartesianWaiver || waived(s.child)
    case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => true
    case _: Join | _: Aggregate => false
    case other if other.children.size == 1 => waived(other.children.head)
    case _ => false
  }

  def check(spark: SparkSession)(plan: LogicalPlan): Unit =
    plan.foreach {
      case j: Join if cartesianLike(j) &&
          !bounded(j.left) && !bounded(j.right) &&
          !waived(j.left) && !waived(j.right) =>
        val grouped = groupedAggregate(j.left) && groupedAggregate(j.right)
        val msg = "graft scale guard: cartesian-shaped join (no equi key " +
          "between the sides — plans as CartesianProduct/" +
          "BroadcastNestedLoopJoin) over " +
          (if (grouped) "two grouped/checkpointed sides — quadratic in the " +
            "group domains; fine for bounded domains (months, bins), a " +
            "blow-up for per-user/per-document ones. "
          else "at least one raw-corpus side — O(n·m) row pairs at scale. ") +
          "Key the join (LSH bands / IVF cells / bucketing), broadcast a " +
          "provably small side behind a limit/aggregate, or mark the " +
          "documented small-by-contract site with ScaleGuard.allowCartesian."
        if (!grouped && spark.conf.get(FailConf, "false").toBoolean)
          throw new IllegalStateException(msg)
        else logWarning(msg)
      case w: Window if w.partitionSpec.isEmpty && !bounded(w.child) =>
        val grouped = groupedAggregate(w.child)
        val msg = "graft scale guard: unpartitioned window over an " +
          (if (grouped) "aggregate grouped on arbitrary keys (or a " +
            "checkpointed materialization) — fine when the domain is small " +
            "(months, tiers, bins), ONE task holding every group when it " +
            "is per-user/per-document. "
          else "unbounded child — this plans as ONE task holding the " +
            "whole dataset. ") +
          s"Use graft.ext.GlobalRank (distributed numbering) or " +
          s"orderBy().limit(k) (TakeOrderedAndProject) instead. Window: " +
          w.windowExpressions.map(_.sql).mkString(", ")
        if (!grouped &&
            spark.conf.get(ScaleGuard.FailConf, "false").toBoolean)
          throw new IllegalStateException(msg)
        else logWarning(msg)
      case _ => ()
    }
}
