package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, AttributeSet, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Catalyst integration for [[AsOfJoinPlan]]: the optimizer treats an
  * unknown BinaryNode as a wall — no predicate crosses it and no
  * column prunes through it, so a composed pipeline (`asOf` then a
  * segment filter then a narrow projection) would scan every column
  * of every row of both inputs. This rule is what makes the operator
  * library-grade instead of leaf-only; at 100 TB it is the difference
  * between the parquet scan reading one user segment's row groups and
  * reading the table.
  *
  * Three rewrites, each a theorem about as-of semantics:
  *
  * 1. LEFT FILTER PUSHDOWN. As-of emits exactly one output row per
  *    left row with the left columns passed through verbatim, so a
  *    deterministic predicate over left attributes commutes with the
  *    join — `Filter(p, AsOf(l, r))` ≡ `AsOf(Filter(p, l), r)`. (The
  *    preserved-side rule of left-outer pushdown; every left row here
  *    is preserved.) Right-referencing conjuncts stay put: they see
  *    the null-extended miss row, exactly like the null-supplying
  *    side of an outer join.
  *
  * 2. KEY-PREDICATE TRANSITIVE CLONE. A pushable conjunct whose
  *    references are ONLY left key attributes also holds on the
  *    right rows that can ever match (matching requires key-group
  *    equality: equal non-null values, or null-with-null — a
  *    deterministic expression evaluates identically on either), so
  *    it is cloned onto the right child with leftKey→rightKey
  *    substitution. This is the join-condition transitivity Spark
  *    applies to equi-joins, extended to the as-of key; it is what
  *    lets a `user_id`-partitioned right side partition-prune.
  *
  * 2b. TIME-BOUND TRANSITIVITY. The as-of predicate itself
  *    (`rts <= lts`, and `lts − rts <= tolerance` when set) turns a
  *    pushed LEFT time-range literal into a RIGHT time bound:
  *    once every surviving left row satisfies `lts ≤ T`, a right row
  *    with `rts > T` is at-or-before no left row — push `rts ≤ T`;
  *    and with tolerance t, `lts ≥ T0` bounds useful right rows to
  *    `rts ≥ T0 − t` (without tolerance an arbitrarily old right row
  *    can still be somebody's latest match, so no lower bound
  *    derives). Dropping non-matching right rows is sound because
  *    as-of emits right columns only through a match — a filtered
  *    right row changes no output (misses null-extend regardless).
  *    This is what lets a time-partitioned right side partition-prune
  *    under a left time-range query — at 100 TB, the difference
  *    between scanning a week and scanning the archive.
  *
  * 3. COLUMN PRUNING. A Project above the as-of that references a
  *    subset of its output shrinks `keepRight` to the referenced
  *    right columns and inserts pruning Projects under both children,
  *    keeping only (referenced ∪ keys ∪ ts ∪ tie) — so the scans read
  *    exactly the columns the merge and the parent need.
  *
  * Runs inside the operator-optimization fixed point (injected via
  * [[graft.functions.GraftExtensions]]) where the standard rules then
  * carry the pushed filters/projects into the scans; also installed
  * at first `AsOfJoin.asOf` use via `experimental.extraOptimizations`
  * (a late fixed-point batch — still ahead of physical planning,
  * where PhysicalOperation folds adjacent Filter/Project chains into
  * PushedFilters/ReadSchema). Kill switch:
  * `spark.graft.optimizer.asofPushdown=false`. */
object AsOfPushdown extends Rule[LogicalPlan] with PredicateHelper {

  private def enabled: Boolean = graft.GraftConf.asofPushdown(k =>
    Option(org.apache.spark.sql.internal.SQLConf.get.getConfString(k, null)))

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformUp {

      // ---- 1 + 2: filter pushdown with key-clone --------------------
      // (whole-condition determinism required, the PushDownPredicates
      // contract: pushing any conjunct past a non-deterministic one
      // would reorder its evaluation)
      case f @ Filter(cond, a: AsOfJoinPlan) if cond.deterministic =>
        val (pushable, kept) = splitConjunctivePredicates(cond)
          .partition(p => p.deterministic &&
            p.references.subsetOf(a.left.outputSet))
        if (pushable.isEmpty) f
        else {
          val newLeft = Filter(pushable.reduce(org.apache.spark.sql
            .catalyst.expressions.And), a.left)
          // clone key-only conjuncts to the right with key substitution
          val lKeyAttrs = AttributeSet(
            a.leftKeys.flatMap(_.references))
          val keyPairs = a.leftKeys.zip(a.rightKeys).collect {
            case (lk: Attribute, rk: Attribute) => lk -> (rk: Expression)
          }
          val subst = AttributeMap(keyPairs)
          val cloneable = pushable.filter(p =>
            p.references.subsetOf(lKeyAttrs) &&
              // only attr-to-attr key lists substitute soundly
              p.references.forall(r => subst.contains(r)))
          val rightConds = cloneable.map(_.transform {
            case attr: Attribute if subst.contains(attr) => subst(attr)
          }) ++ rightTimeBounds(pushable, a)
          val newRight =
            if (rightConds.isEmpty) a.right
            else Filter(rightConds.reduce(
              org.apache.spark.sql.catalyst.expressions.And), a.right)
          val pushed = a.copy(left = newLeft, right = newRight)
          if (kept.isEmpty) pushed
          else Filter(kept.reduce(org.apache.spark.sql.catalyst
            .expressions.And), pushed)
        }

      // ---- 3: column pruning through the as-of ----------------------
      case p @ Project(exprs, a: AsOfJoinPlan)
          if exprs.forall(_.deterministic) &&
            AttributeSet(exprs.flatMap(_.references))
              .subsetOf(a.outputSet) &&
            (a.keepRight.exists(k =>
              !exprs.exists(_.references.contains(k))) ||
              prunable(a, AttributeSet(exprs.flatMap(_.references)))) =>
        val needed = AttributeSet(exprs.flatMap(_.references))
        val newKeep = a.keepRight.filter(needed.contains)
        // resolve required attrs back to the CHILD's own output (the
        // keepRight copies are nullability-forced; children must be
        // projected with their genuine attributes)
        val rightNeeded = AttributeSet(
          a.rightKeys.flatMap(_.references) ++
            a.rightTs.references ++ a.rightTie.flatMap(_.references) ++
            newKeep)
        val leftNeeded = AttributeSet(
          a.leftKeys.flatMap(_.references) ++ a.leftTs.references) ++
          (needed -- AttributeSet(a.keepRight))
        def prune(child: LogicalPlan, keep: AttributeSet): LogicalPlan =
          if (child.output.forall(keep.contains)) child
          else Project(child.output.filter(keep.contains), child)
        Project(exprs,
          a.copy(left = prune(a.left, leftNeeded),
            right = prune(a.right, rightNeeded), keepRight = newKeep))
    }

  /** Rewrite #2b: right time bounds derived from pushed left
    * time-range conjuncts (see the scaladoc). Only literal bounds on
    * the left ts ATTRIBUTE derive (both operand orders); the literal's
    * raw long value transfers because Timestamp and Long timestamps
    * both store long micros and [[AsOfJoin.asOf]] validated the types.
    * Strictness carries: `lts > T0` ⇒ `rts > T0 − t` (from
    * `rts ≥ lts − t > T0 − t`).
    *
    * DIRECTION decides which bounds derive and how they shift — the
    * as-of predicate itself is direction-relative:
    *  - backward (`rts ≤ lts`, gap `lts − rts ≤ t`): a left UPPER
    *    bound transfers unshifted; a left LOWER bound only exists
    *    with tolerance, shifted down by t.
    *  - forward (`rts ≥ lts`, gap `rts − lts ≤ t`): the exact mirror —
    *    a left LOWER bound transfers unshifted; a left UPPER bound
    *    only with tolerance, shifted up by t.
    *  - nearest (|rts − lts| ≤ t): the match may sit on either side,
    *    so WITHOUT tolerance nothing derives (an arbitrarily old or
    *    future right row can be somebody's nearest); with tolerance,
    *    both bounds derive, each shifted outward by t. */
  private def rightTimeBounds(pushed: Seq[Expression], a: AsOfJoinPlan)
      : Seq[Expression] = {
    val rts = a.rightTs
    def isLts(e: Expression) = e.semanticEquals(a.leftTs)
    def long(l: Literal): Option[Long] = l.value match {
      case v: java.lang.Long => Some(v.longValue)
      case _ => None
    }
    def mkUpper(v: Long, strict: Boolean): Expression = {
      val lit = Literal(v, rts.dataType)
      if (strict) LessThan(rts, lit) else LessThanOrEqual(rts, lit)
    }
    def mkLower(v: Long, strict: Boolean): Expression = {
      val lit = Literal(v, rts.dataType)
      if (strict) GreaterThan(rts, lit) else GreaterThanOrEqual(rts, lit)
    }
    // overflowing shifts mean the bound is vacuous (±∞) — emit no
    // predicate at all rather than a saturated literal, which would
    // wrongly exclude a row whose timestamp IS Long.MaxValue/MinValue
    def minusT(v: Long, t: Long): Option[Long] =
      if (v < Long.MinValue + t) None else Some(v - t)
    def plusT(v: Long, t: Long): Option[Long] =
      if (v > Long.MaxValue - t) None else Some(v + t)
    // a pushed left UPPER bound lts ≤/< v → the right bound it implies
    def fromLeftUpper(l: Literal, strict: Boolean): Option[Expression] =
      long(l).flatMap { v =>
        a.direction match {
          case AsOfDirection.Backward => Some(mkUpper(v, strict))
          case _ => a.toleranceUs.flatMap(t =>
            plusT(v, t).map(mkUpper(_, strict)))
        }
      }
    // a pushed left LOWER bound lts ≥/> v → the right bound it implies
    def fromLeftLower(l: Literal, strict: Boolean): Option[Expression] =
      long(l).flatMap { v =>
        a.direction match {
          case AsOfDirection.Forward => Some(mkLower(v, strict))
          case _ => a.toleranceUs.flatMap(t =>
            minusT(v, t).map(mkLower(_, strict)))
        }
      }
    pushed.flatMap {
      case LessThanOrEqual(l, lit: Literal) if isLts(l) => fromLeftUpper(lit, strict = false)
      case LessThan(l, lit: Literal) if isLts(l) => fromLeftUpper(lit, strict = true)
      case GreaterThanOrEqual(lit: Literal, l) if isLts(l) => fromLeftUpper(lit, strict = false)
      case GreaterThan(lit: Literal, l) if isLts(l) => fromLeftUpper(lit, strict = true)
      case GreaterThanOrEqual(l, lit: Literal) if isLts(l) => fromLeftLower(lit, strict = false)
      case GreaterThan(l, lit: Literal) if isLts(l) => fromLeftLower(lit, strict = true)
      case LessThanOrEqual(lit: Literal, l) if isLts(l) => fromLeftLower(lit, strict = false)
      case LessThan(lit: Literal, l) if isLts(l) => fromLeftLower(lit, strict = true)
      case _ => None
    }
  }

  /** True when either child outputs a column neither the parent nor
    * the merge needs — the condition under which pruning changes the
    * plan (guards the Project case against infinite re-application). */
  private def prunable(a: AsOfJoinPlan, needed: AttributeSet): Boolean = {
    val rightNeeded = AttributeSet(
      a.rightKeys.flatMap(_.references) ++ a.rightTs.references ++
        a.rightTie.flatMap(_.references) ++ a.keepRight.filter(needed.contains))
    val leftNeeded = AttributeSet(
      a.leftKeys.flatMap(_.references) ++ a.leftTs.references) ++
      (needed -- AttributeSet(a.keepRight))
    a.left.output.exists(!leftNeeded.contains(_)) ||
      a.right.output.exists(!rightNeeded.contains(_))
  }
}
