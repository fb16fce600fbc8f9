package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, AttributeSet, EqualTo, LessThan, LessThanOrEqual, NamedExpression}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.expressions.PredicateHelper

/** Optimizer rules for [[AsOfJoinNode]] — the builder prompt's
  * `Rule[LogicalPlan]` tier.
  *
  * Catalyst's own PushDownPredicates / ColumnPruning only understand the
  * built-in node types; a custom logical node is an optimization barrier —
  * filters written above an as-of join would run post-merge and every
  * child column would survive to the key shuffle. At 100 TB both matter:
  * a pushed filter reaches the parquet scan (row-group skipping +
  * PushedFilters) and pruning narrows the rows the two exchanges carry.
  * These rules restore exactly the rewrites that are semantics-preserving
  * for this operator, and compose with the built-in batches (registered
  * via `injectOptimizerRule` / `experimental.extraOptimizations`, so the
  * standard rules then carry the pushed residue all the way down).
  */
object AsOfRules {

  /** Push deterministic predicates that reference only LEFT columns below
    * the join. Sound because the as-of join is left-outer row-preserving:
    * exactly one output row per left row, left columns unchanged — so a
    * left-only predicate selects the same rows above or below the node.
    * Right-side predicates do NOT commute (they would also drop the
    * null-extended rows a failed match produces) and stay put.
    */
  object PushFilterThroughAsOf extends Rule[LogicalPlan] with PredicateHelper {
    override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
      case f @ Filter(cond, a: AsOfJoinNode) =>
        val (push, keep) = splitConjunctivePredicates(cond)
          .partition(p => p.deterministic && p.references.subsetOf(a.left.outputSet))
        if (push.isEmpty) f
        else {
          val pushed = a.copy(left = Filter(push.reduce(And), a.left))
          keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
        }
      // The interval and overlap joins are INNER (matched pairs only),
      // so single-side deterministic predicates commute into EITHER
      // child.
      case f @ Filter(cond, j: IntervalJoinNode) =>
        pushInner(f, cond, j.left, j.right,
          (l, r) => j.copy(left = l, right = r))
      case f @ Filter(cond, j: OverlapJoinNode) =>
        pushInner(f, cond, j.left, j.right,
          (l, r) => j.copy(left = l, right = r))
    }

    private def pushInner(f: Filter, cond: org.apache.spark.sql.catalyst.expressions.Expression,
        left: LogicalPlan, right: LogicalPlan,
        rebuild: (LogicalPlan, LogicalPlan) => LogicalPlan): LogicalPlan = {
      val split = splitConjunctivePredicates(cond)
      val lPush = split.filter(p =>
        p.deterministic && p.references.subsetOf(left.outputSet))
      val rPush = split.filter(p =>
        p.deterministic && p.references.subsetOf(right.outputSet) && !lPush.contains(p))
      val keep = split.filterNot(p => lPush.contains(p) || rPush.contains(p))
      if (lPush.isEmpty && rPush.isEmpty) f
      else {
        val newL = lPush.reduceOption(And).map(Filter(_, left)).getOrElse(left)
        val newR = rPush.reduceOption(And).map(Filter(_, right)).getOrElse(right)
        val pushed = rebuild(newL, newR)
        keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
    }
  }

  /** Narrow both children to the columns a parent Project actually uses
    * (plus the join's own key/time expressions). The node's `output` is
    * derived from its children, so pruned children narrow the operator's
    * schema in lockstep; the standard ColumnPruning/PhysicalOperation
    * machinery then folds the inserted Projects into the scans
    * (ReadSchema shrinks). Without this, an events-wide right side drags
    * its full payload through the exchange for a two-column probe.
    */
  private def narrowed(child: LogicalPlan, keep: Seq[NamedExpression]) =
    if (keep.size == child.output.size) child else Project(keep, child)

  object PruneAsOfColumns extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
      case p @ Project(_, a: AsOfJoinNode) =>
        val needed = AttributeSet(p.expressions.flatMap(_.references)) ++
          a.leftKey.references ++ a.leftTime.references ++
          a.rightKey.references ++ a.rightTime.references
        val keepL = a.left.output.filter(needed.contains)
        val keepR = a.right.output.filter(needed.contains)
        if (keepL.size == a.left.output.size && keepR.size == a.right.output.size) p
        else p.copy(child = a.copy(
          left = narrowed(a.left, keepL), right = narrowed(a.right, keepR)))
      case p @ Project(_, j: IntervalJoinNode) =>
        val needed = AttributeSet(p.expressions.flatMap(_.references)) ++
          j.leftKey.references ++ j.rightKey.references ++
          j.start.references ++ j.end.references ++ j.point.references
        val keepL = j.left.output.filter(needed.contains)
        val keepR = j.right.output.filter(needed.contains)
        if (keepL.size == j.left.output.size && keepR.size == j.right.output.size) p
        else p.copy(child = j.copy(
          left = narrowed(j.left, keepL), right = narrowed(j.right, keepR)))
      case p @ Project(_, j: OverlapJoinNode) =>
        val needed = AttributeSet(p.expressions.flatMap(_.references)) ++
          j.leftKey.references ++ j.rightKey.references ++
          j.leftStart.references ++ j.leftEnd.references ++
          j.rightStart.references ++ j.rightEnd.references
        val keepL = j.left.output.filter(needed.contains)
        val keepR = j.right.output.filter(needed.contains)
        if (keepL.size == j.left.output.size && keepR.size == j.right.output.size) p
        else p.copy(child = j.copy(
          left = narrowed(j.left, keepL), right = narrowed(j.right, keepR)))
    }
  }

  /** Conf key choosing the physical family for the interval/overlap
    * joins: `sweep` (default) | `native` | `auto`. */
  val RangeJoinImplKey = "spark.graft.rangeJoin.impl"

  /** Implementation choice for the sweep-line join family — the custom
    * exec is NOT unconditionally better, and the A/B probe (AbProbe in
    * docs/PROBES.md) quantifies both regimes:
    *
    *  - HOT keys (few keys, many rows each): native planning is
    *    SortMergeJoin on the key + post-join range filter, which
    *    materializes the per-key cross product — quadratic. The sweep
    *    exec is O(n + matches): measured 1.21 s vs 8.65 s at 200k×200k
    *    rows on one key.
    *  - FLAT keys (many keys, few rows each): the per-key cross product
    *    is tiny, and native SMJ's codegen'd inner loop beats the
    *    interpreted sweep's per-row constant.
    *
    * Modes (`spark.graft.rangeJoin.impl`):
    *  - `sweep` (default): always the custom exec. The safe choice at
    *    100 TB — linear in matches regardless of key skew; the loss on
    *    flat keys is a constant factor, the loss of native on hot keys
    *    is quadratic blowup.
    *  - `native`: rewrite the node to `Join(Inner, lk = rk)` + range
    *    Filter and let JoinSelection plan it (SMJ/broadcast) — for
    *    workloads known key-flat.
    *  - `auto`: native only when BOTH children's size stats fit under
    *    `spark.sql.autoBroadcastJoinThreshold` — inputs that small bound
    *    the worst-case cross product, so native's lower constant wins
    *    and a planning mistake cannot blow up; anything larger keeps the
    *    skew-proof sweep. (Size is the one statistic every logical plan
    *    carries; per-key cardinality would need ANALYZE/CBO stats.)
    *
    * The rewrite preserves semantics exactly: INNER, null keys dropped
    * by the equi-condition, empty intervals excluded by the range
    * predicate, output = left ++ right. ExtensionsPlanSpec covers both
    * decisions.
    */
  object ChooseRangeJoinImpl extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = {
      val mode = conf.getConfString(RangeJoinImplKey, "sweep")
      if (mode == "sweep") plan
      else plan.transform {
        case j: IntervalJoinNode if useNative(mode, j.left, j.right) =>
          Filter(And(LessThanOrEqual(j.start, j.point), LessThan(j.point, j.end)),
            Join(j.left, j.right, Inner,
              Some(EqualTo(j.leftKey, j.rightKey)), JoinHint.NONE))
        case j: OverlapJoinNode if useNative(mode, j.left, j.right) =>
          Filter(And(LessThan(j.leftStart, j.rightEnd), LessThan(j.rightStart, j.leftEnd)),
            Join(j.left, j.right, Inner,
              Some(EqualTo(j.leftKey, j.rightKey)), JoinHint.NONE))
      }
    }

    private def useNative(mode: String, l: LogicalPlan, r: LogicalPlan): Boolean =
      mode match {
        case "native" => true
        case "auto" =>
          val t = conf.autoBroadcastJoinThreshold
          t > 0 && l.stats.sizeInBytes <= t && r.stats.sizeInBytes <= t
        case other => throw new IllegalArgumentException(
          s"$RangeJoinImplKey must be sweep|native|auto, got '$other'")
      }
  }

  val all: Seq[Rule[LogicalPlan]] =
    Seq(PushFilterThroughAsOf, PruneAsOfColumns, ChooseRangeJoinImpl)
}
