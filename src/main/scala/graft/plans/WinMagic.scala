package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeMap, AttributeReference, EqualTo, Expression, NamedExpression, PredicateHelper, RowFrame, SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule

/** WinMagic: rewrite a self-join-back aggregate into window functions
  * (Zuzarte et al., "WinMagic: Subquery Elimination Using Window
  * Aggregation", SIGMOD 2003 — the published optimization; this is an
  * independent implementation against the public Catalyst API).
  *
  * The shape it eliminates is the one users (and Catalyst's own
  * scalar-subquery decorrelation) produce for "compare each row to its
  * group's aggregate":
  *
  * {{{
  *   fact.join(fact.groupBy(k).agg(sum(x) as s), "k")   // two fact scans
  *   ===>
  *   fact.withColumn("s", sum(x) over Window.partitionBy(k))  // one
  * }}}
  *
  * Every fact row finds exactly one group row — its own group, which
  * EXISTS because the aggregate ranges over the same rows — so the
  * join is a per-row annotation, which is precisely what a window
  * computes in ONE scan and ONE exchange instead of two scans, two
  * exchanges and a join. At 100 TB the eliminated scan is the
  * dominant cost (this library hit the shape by hand in Q17 and
  * rewrote it manually — ext/Analytics.smallQuantityRevenue's
  * scaladoc; this rule performs the same rewrite mechanically, so the
  * SQL-text twin sql_q17_below_avg's decorrelated plan and any user's
  * join-back get it too).
  *
  * Match conditions (all REQUIRED; anything else passes through
  * untouched — a rewrite rule must be provably sound on the shapes it
  * claims and silent on everything else):
  *
  *  - `Join(L, Aggregate(G, A, R), Inner | LeftOuter, cond)` where
  *    stripping pure-attribute Projects from L and R yields plans for
  *    which `sameResult` holds (column pruning interleaves narrowing
  *    Projects; they change columns, never rows, so they are peeled
  *    before the row-identity check and the window runs over the
  *    unpeeled core — the final Project restores the join's exact
  *    output schema and expr IDs).
  *  - grouping expressions are plain attributes, every one of them is
  *    equi-joined (`L.a = agg.g`) and, through the positional
  *    `sameResult` output mapping, `a` IS `g`'s image on the left —
  *    i.e. the join key and the grouping key are the same column of
  *    the same rows, the WinMagic correlation condition.
  *  - nullable join keys: Inner drops NULL-key rows (reproduced
  *    exactly by an IsNotNull filter under the window); LeftOuter
  *    null-EXTENDS them, reproduced by masking every right-side
  *    output with If(anyKeyNull, NULL, value) — the COUNT-bug
  *    decorrelation shape (a correlated count subquery becomes a
  *    LeftOuter join-back whose null-extension the parent corrects
  *    to zero), so that common SQL collapses to one scan too.
  *  - aggregates are non-DISTINCT, FILTER-free Sum/Count/Min/Max/
  *    Average (the frame-insensitive functions with window forms).
  *  - residual (non-equi) conjuncts are allowed for Inner joins and
  *    reapplied as a Filter ABOVE the rewrite (each left row has
  *    exactly one match, so a residual only filters); LeftOuter with
  *    a residual null-extends instead of filtering and is declined.
  *
  * Deployment: build-time via [[graft.functions.GraftExtensions]]
  * (disable with `spark.graft.optimizer.winmagic=false`), or per query
  * via [[WinMagic.rewriteDf]] / [[WinMagic.rewriteOptimizedDf]]. There is
  * no runtime `experimental.extraOptimizations` install: that list is
  * session-global, so the rule would leak into every later plan of the
  * session (see WinMagicSpec). */
/** Build-time form for spark.sql.extensions deployment — the rewrite
  * is on unless `spark.graft.optimizer.winmagic=false` (a kill switch
  * for triaging a suspected miscompile, the standard courtesy for an
  * injected rewrite). */
case class WinMagicGated(getConf: String => Option[String])
    extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (graft.GraftConf.winMagic(getConf)) WinMagic(plan) else plan
}

object WinMagic extends Rule[LogicalPlan] with PredicateHelper {

  /** The r19 ADVICE gate fix: the per-query explicit deployments
    * (rewriteDf / rewriteOptimizedDf) honor the SAME
    * `spark.graft.optimizer.winmagic=false` kill switch as the
    * injected rule, so the documented miscompile-triage escape hatch
    * covers every deployed rewrite at runtime — reverting a deployed
    * query to its naive plan is a conf set, not a rebuild. */
  private def gateOff(spark: org.apache.spark.sql.SparkSession): Boolean =
    !graft.GraftConf.winMagic(spark.conf.getOption)

  /** Apply the rewrite to a DataFrame's ANALYZED plan — the clean
    * layer where the join-back shape is exactly as written (no
    * inferred filters, no pruning Projects inside the cores), so
    * `sameResult` sees through arbitrary core complexity. The
    * rewritten plan then flows through normal optimization. Returns
    * the input unchanged when nothing matches. */
  def rewriteDf(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    if (gateOff(df.sparkSession)) return df
    val analyzed = df.queryExecution.analyzed
    val rewritten = apply(analyzed)
    if (rewritten eq analyzed) df
    else org.apache.spark.sql.GraftPlanBridge.ofRows(df.sparkSession, rewritten)
  }

  /** [[rewriteDf]]'s twin at the OPTIMIZED layer, for shapes that do
    * not exist until the optimizer creates them: a correlated scalar
    * subquery in SQL text only becomes the join-back
    * (`RewriteCorrelatedScalarSubquery`'s LeftOuter aggregate join)
    * during optimization, so the analyzed-layer rewrite can never see
    * it. Applying the rule to the final optimized plan and re-wrapping
    * re-runs the (idempotent) optimizer on the rewritten tree, which
    * re-pushes the redistributed filter conjuncts into the scans —
    * the same post-rewrite fixed point the injected deployment gets.
    * Per-query opt-in by construction: callers choose exactly which
    * query pays a window where a join-back stood, which is how this
    * library scopes the rewrite to scale-sound partition keys (the
    * session-wide injected form would also rewrite catalog-cardinality
    * and Zipf-skewed keys — p_type, natural-language term — into
    * windows whose hottest partition grows with the corpus). */
  def rewriteOptimizedDf(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    if (gateOff(df.sparkSession)) return df
    val optimized = df.queryExecution.optimizedPlan
    val rewritten = apply(optimized)
    if (rewritten eq optimized) df
    else org.apache.spark.sql.GraftPlanBridge.ofRows(df.sparkSession, rewritten)
  }

  private val wholePartition =
    SpecifiedWindowFrame(RowFrame, UnboundedPreceding, UnboundedFollowing)

  /** PERMANENT BOUNDARY — do not "fix": DISTINCT and FILTER-clause
    * aggregates are declined because the rewrite target cannot exist,
    * not because it is unimplemented. Spark's window operator rejects
    * `ae.isDistinct` and `ae.filter` outright (WindowExec's frame
    * buffer has no partial form that expresses per-partition DISTINCT
    * dedup or per-row predicate gating), and mapping
    * `count(DISTINCT x)` to `count(x) OVER (PARTITION BY k)` changes
    * answers whenever a group repeats a value — the divergence fixture
    * in WinMagicSpec ("declines: DISTINCT/FILTER aggregates") pins
    * exactly that. */
  private def windowable(ae: AggregateExpression): Boolean =
    !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
      case _: Sum | _: Count | _: Min | _: Max | _: Average => true
      case _ => false
    })

  /** Peel pure-attribute Projects (column pruning's narrowing layers —
    * they change available columns, never rows) AND Filter layers
    * (constraint inference plants side-specific IsNotNulls; pushdown
    * places user predicates at different depths per side), collecting
    * every filter conjunct. The caller compares the bare cores for
    * row-source identity and re-distributes the collected conditions
    * soundly: shared ones below the window (they shaped the groups),
    * left-only ones above it (the aggregate never saw them), and
    * right-only ones must be key-IsNotNulls (which only ever exclude
    * the NULL group the join could not match anyway).
    *
    * Peeling stops at the first NON-DETERMINISTIC Filter (it stays in
    * the core): relocating such a conjunct — or collapsing the two
    * per-side evaluations the join-back performs into one — changes
    * semantics, the same contract that keeps Catalyst's own
    * PushDownPredicates from moving non-deterministic predicates. The
    * rewrite then declines outright in [[rewrite]] when a core still
    * CONTAINS non-determinism (see `hasNonDeterministic`).
    *
    * MULTI-RELATION CORES: peeling recurses through INNER joins —
    * column pruning and constraint inference decorate each side of a
    * `fact ⋈ dim` core with side-specific narrowing Projects and
    * IsNotNull filters at arbitrary depths, which defeats a top-level-
    * only `sameResult` even when the two cores are the same rows (the
    * r13 gap: decorrelated SQL over a join only rewrote via the
    * analyzed-layer escape hatch). Removing a pure-attribute Project
    * never changes rows (attributes pass through with their expr ids,
    * so the bare join is still resolved and only WIDER), and for an
    * inner join σ_p(A) ⋈ B ≡ σ_p(A ⋈ B), so hoisting every collected
    * conjunct above the stripped core is row-preserving; the caller
    * re-distributes them and the post-rewrite optimizer iterations
    * push the survivors back down into the scans. Non-inner joins and
    * joins with non-deterministic conditions stay opaque (identical
    * opaque subtrees still compare equal inside `sameResult`). */
  private def peel(p: LogicalPlan): (LogicalPlan, Seq[Expression]) =
    p match {
      case Project(ps, c) if ps.forall(_.isInstanceOf[AttributeReference]) =>
        peel(c)
      case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        peel(s.child)
      case Filter(cond, c) if cond.deterministic =>
        val (core, rest) = peel(c)
        (core, splitConjunctivePredicates(cond) ++ rest)
      case j @ Join(l, r, Inner, cond, _)
          if cond.forall(_.deterministic) =>
        // the join CONDITION stays in the node (it defines the rows);
        // only each side's cosmetic layers peel
        val (lc, lf) = peel(l)
        val (rc, rf) = peel(r)
        (j.copy(left = lc, right = rc), lf ++ rf)
      case other => (other, Nil)
    }

  /** Peel Filter layers sitting between the join and the aggregate
    * (Catalyst's InferFiltersFromConstraints plants IsNotNull there;
    * a user HAVING lands there too). They filter GROUPS — after the
    * rewrite every row wears its group's aggregates, so the same
    * predicates applied per-row above the window drop exactly the
    * members of the filtered-out groups (Inner only; LeftOuter would
    * null-extend instead). Non-deterministic HAVING layers stop the
    * peel, like [[peel]]. */
  private def peelHaving(p: LogicalPlan): (LogicalPlan, Seq[Expression]) =
    p match {
      case Filter(c, child) if c.deterministic =>
        val (core, rest) = peelHaving(child)
        (core, splitConjunctivePredicates(c) ++ rest)
      case other => (other, Nil)
    }

  /** True when the plan evaluates any non-deterministic expression.
    * A core containing one disqualifies the rewrite even when
    * `sameResult` holds: the join-back executes the core TWICE with
    * independent evaluations (two samples), while the window form
    * would evaluate it once — same-seed reproducibility is a
    * partitioning accident, not a semantic guarantee. */
  private def hasNonDeterministic(p: LogicalPlan): Boolean =
    p.exists(_.expressions.exists(e => !e.deterministic))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j: Join =>
      rewriteJoin(j).orElse(rotateAndRewrite(j)).getOrElse(j)
  }

  /** The direct shape: `Join(L, Aggregate-core)`. */
  private def rewriteJoin(j: Join): Option[LogicalPlan] = j match {
    case Join(left, right, jt, Some(cond), _)
        if jt == Inner || jt == LeftOuter =>
      val (core, having) = peelHaving(right)
      core match {
        case agg @ Aggregate(grouping, aggExprs, aggChild, _)
            if grouping.nonEmpty &&
              grouping.forall(_.isInstanceOf[Attribute]) &&
              (having.isEmpty || jt == Inner) =>
          rewrite(j, left, agg, grouping.map(_.asInstanceOf[Attribute]),
            aggExprs, aggChild, jt == Inner, cond, having)
        case _ => None
      }
    case _ => None
  }

  /** Pure-attribute Projects / SubqueryAliases only — the cosmetic
    * layers between two join nodes. */
  private def stripProjects(p: LogicalPlan): LogicalPlan = p match {
    case Project(ps, c) if ps.forall(_.isInstanceOf[AttributeReference]) =>
      stripProjects(c)
    case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
      stripProjects(s.child)
    case other => other
  }

  private def isAggBack(p: LogicalPlan): Boolean = peelHaving(p)._1 match {
    case Aggregate(g, _, _, _) =>
      g.nonEmpty && g.forall(_.isInstanceOf[Attribute])
    case _ => false
  }

  /** Splice the agg-back edge out of an inner-join spine: find the
    * first Inner join (searching through cosmetic Projects) whose one
    * side is an aggregate join-back, remove that edge, and return
    * (the tree without it, the agg side, the edge's condition, hint).
    * Each ancestor join survives with its own condition — sound
    * because inner joins commute/associate when every condition still
    * sees its referenced attributes, which the caller re-checks via
    * `missingInput` on the rebuilt tree. */
  private def spliceAggBack(p: LogicalPlan)
      : Option[(LogicalPlan, LogicalPlan, Expression,
        org.apache.spark.sql.catalyst.plans.logical.JoinHint)] =
    stripProjects(p) match {
      case Join(l, r, Inner, Some(c), h) if c.deterministic =>
        if (isAggBack(r)) Some((l, r, c, h))
        else if (isAggBack(l)) Some((r, l, c, h))
        else spliceAggBack(l).map { case (rest, agg, ac, ah) =>
          (Join(rest, r, Inner, Some(c), h), agg, ac, ah)
        }.orElse(spliceAggBack(r).map { case (rest, agg, ac, ah) =>
          (Join(l, rest, Inner, Some(c), h), agg, ac, ah)
        })
      case _ => None
    }

  /** The JOIN-REORDERED shape scalar-subquery decorrelation over a
    * multi-relation core produces: the join-back lands directly on the
    * fact and the core's OTHER relations are joined ABOVE it —
    * `Join(Join(fact, Agg(fact ⋈ dims…)), dim₁) ⋈ dim₂ …` — so the
    * direct match sees a left side (the fact alone) that is not the
    * aggregate's core. Inner joins commute and associate when each
    * condition references only its own sides, so SPLICE the join-back
    * edge out of the spine and re-attach it at the top —
    * `Join(fact ⋈ dims…, Agg(...))` — then retry the direct rewrite;
    * a final Project restores the original column order. The rotation
    * is attempted, never kept: a rebuilt tree that dangles a reference
    * (`missingInput`) or a rewrite that declines leaves the original
    * join tree untouched. */
  private def rotateAndRewrite(j: Join): Option[LogicalPlan] = j match {
    case Join(_, _, Inner, Some(_), _) =>
      for {
        (rest, agg, acond, ahint) <- spliceAggBack(j)
        rotated = Join(rest, agg, Inner, Some(acond), ahint)
        // STRUCTURAL validity, not just the top node: spliceAggBack
        // rebuilds inner spine joins, and a rebuilt INNER node's
        // condition could reference the spliced-out aggregate's output
        // (e.g. a predicate like dim.x < agg.avg that pushdown merged
        // into a spine join condition) — the top-level missingInput
        // misses that dangling reference; sweep every rebuilt node
        if !rotated.exists(_.missingInput.nonEmpty)
        r <- rewriteJoin(rotated)
      } yield Project(j.output.map(a => a: NamedExpression), r)
    case _ => None
  }

  private def rewrite(j: Join, left: LogicalPlan, agg: Aggregate,
      grouping: Seq[Attribute], aggExprs: Seq[NamedExpression],
      aggChild: LogicalPlan, inner: Boolean,
      cond: Expression, having: Seq[Expression]): Option[LogicalPlan] = {
    val (coreL, lConds) = peel(left)
    val (coreR, rCondsRaw) = peel(aggChild)
    if (!coreL.sameResult(coreR)) return None
    if (hasNonDeterministic(coreL) || hasNonDeterministic(coreR)) return None
    // positional output mapping between the row-source-identical cores
    if (coreL.output.length != coreR.output.length) return None
    val toLeft = AttributeMap(coreR.output.zip(coreL.output))
    // right-side filter conditions in left attribute terms
    val rConds = rCondsRaw.map(_.transformUp {
      case a: Attribute => toLeft.getOrElse(a, a)
    })
    if (!rConds.forall(_.references.subsetOf(coreL.outputSet))) return None
    if (!lConds.forall(_.references.subsetOf(coreL.outputSet))) return None

    // the aggregate-side output attribute for each grouping attribute
    val groupOut: Map[Attribute, Attribute] = grouping.flatMap { g =>
      aggExprs.collectFirst {
        case a: Attribute if a.semanticEquals(g) => g -> a
        case al @ Alias(a: Attribute, _) if a.semanticEquals(g) =>
          g -> al.toAttribute
      }
    }.toMap
    if (groupOut.size != grouping.length) return None

    // the DEFINING equalities: L.image(g) = agg.g for each grouping
    // attribute — the join key and the grouping key must be the same
    // column of the same rows (the WinMagic correlation condition).
    // Any OTHER conjunct (non-equi, or an equality on a different
    // column pair) is residual and survives as a Filter.
    val defining: Set[(Long, Long)] = grouping.flatMap { g =>
      toLeft.get(g).map(img => (img.exprId.id, groupOut(g).exprId.id))
    }.toSet
    if (defining.size != grouping.length) return None
    val conjuncts = splitConjunctivePredicates(cond)
    val (equiDefining, residual) = conjuncts.partition {
      case EqualTo(a: Attribute, b: Attribute) =>
        defining.contains((a.exprId.id, b.exprId.id)) ||
          defining.contains((b.exprId.id, a.exprId.id))
      case _ => false
    }
    if (residual.nonEmpty && !inner) return None
    // every grouping attribute's defining equality must be present
    val present = equiDefining.collect {
      case EqualTo(a: Attribute, b: Attribute) =>
        Set((a.exprId.id, b.exprId.id), (b.exprId.id, a.exprId.id))
    }.flatten.toSet
    if (!defining.subsetOf(present)) return None
    // NULL keys never satisfy the equality join. For an Inner join
    // that means null-key rows are DROPPED — reproduced exactly by an
    // IsNotNull filter under the window (the null partition's rows
    // vanish; no other partition's aggregate ever saw them). A
    // LeftOuter join instead null-EXTENDS those rows — the window
    // hands them the NULL partition's own aggregates, so every
    // right-side output is MASKED to NULL when any key is null
    // (`maskNulls` below). This is the COUNT-bug decorrelation shape:
    // Spark rewrites a correlated `count(...)` scalar subquery into a
    // LeftOuter join-back whose null-extension feeds a
    // zero-on-empty-input correction above — the mask reproduces the
    // null-extension exactly, and the correction is just a parent
    // projection that passes through untouched.
    val nullableKeys = grouping.exists(g => g.nullable || toLeft(g).nullable)
    val maskNulls = nullableKeys && !inner

    val partitionKeys: Seq[Expression] = grouping.map(toLeft(_))
    val spec = WindowSpecDefinition(partitionKeys, Nil, wholePartition)
    // any-key-null ⇔ the LeftOuter join would null-extend this row:
    // matching needs every key equality to hold, the aggregate ranges
    // over the same rows (sameResult), so a match exists iff no key is
    // null. Under maskNulls each right-side output becomes
    // If(anyKeyNull, NULL, value) — including plain grouping-key
    // passthroughs, where a PARTIALLY-null key tuple must null out the
    // non-null components too.
    lazy val anyKeyNull: Expression = partitionKeys
      .map(org.apache.spark.sql.catalyst.expressions.IsNull(_))
      .reduce(org.apache.spark.sql.catalyst.expressions.Or)
    def mask(e: Expression): Expression =
      if (!maskNulls) e
      else org.apache.spark.sql.catalyst.expressions.If(anyKeyNull,
        org.apache.spark.sql.catalyst.expressions.Literal(null, e.dataType), e)

    // distribute the peeled filter conditions:
    //  - shared by both sides → below the window (they shaped the
    //    groups AND the surviving left rows)
    //  - left-only → above the window (the aggregate never saw them;
    //    they only select which annotated rows survive)
    //  - right-only → sound ONLY if they are IsNotNull on a grouping
    //    key: they exclude exactly the NULL group, whose members the
    //    equality join could never match anyway (and which the
    //    nullable-keys IsNotNull filter below already drops)
    val common = rConds.filter(rc => lConds.exists(_.semanticEquals(rc)))
    val rOnly = rConds.filterNot(rc => lConds.exists(_.semanticEquals(rc)))
    val lOnly = lConds.filterNot(lc => rConds.exists(_.semanticEquals(lc)))
    val rOnlyIsKeyNotNull = rOnly.forall {
      case org.apache.spark.sql.catalyst.expressions.IsNotNull(a: Attribute)
        => partitionKeys.exists(_.semanticEquals(a))
      case _ => false
    }
    if (!rOnlyIsKeyNotNull) return None
    // lOnly is sound for BOTH join types: those predicates sat under
    // the join on the left input, so they select left rows (never
    // null-extend), which is exactly what a filter above the
    // annotation does

    // each aggregate-output column becomes a window alias (aggregates
    // → window aggregates over the partition, grouping refs → left
    // attrs), PRESERVING the original exprIds so parents still resolve
    val windowAliases = collection.mutable.ArrayBuffer.empty[NamedExpression]
    val projectRight: Seq[NamedExpression] = aggExprs.map { ne =>
      var ok = true
      // bottom-up: attributes remap to their left images first, then
      // each (already-remapped) aggregate wraps into a window function
      def mapExpr(e: Expression): Expression = {
        val mapped = e.transformUp {
          case ae: AggregateExpression =>
            if (!windowable(ae)) { ok = false; ae }
            else WindowExpression(ae, spec)
          case a: Attribute => toLeft.getOrElse(a, a)
        }
        // anything still referencing outside the core (an attribute
        // with no left image) disqualifies the rewrite
        if (!mapped.references.subsetOf(coreL.outputSet)) ok = false
        mapped
      }
      ne match {
        case a: Attribute =>
          val m = toLeft.getOrElse(a, { ok = false; a })
          if (!ok) return None
          Alias(mask(m), a.name)(exprId = a.exprId)
        case al @ Alias(child, name) =>
          // a non-deterministic aggregate output (e.g. sum(x)+rand())
          // evaluates once per GROUP in the join-back but once per ROW
          // as a window projection — decline
          if (!child.deterministic) return None
          val mapped = mapExpr(child)
          if (!ok) return None
          // non-trivial window output rides the Window node; plain
          // remapped grouping refs can alias directly in the Project.
          // Under maskNulls the Window computes the raw value under a
          // FRESH id and the Project emits the masked form under the
          // ORIGINAL id (two aliases may not share an exprId).
          if (mapped.exists(_.isInstanceOf[WindowExpression])) {
            if (maskNulls) {
              val wa = Alias(mapped, name)()
              windowAliases += wa
              Alias(mask(wa.toAttribute), name)(exprId = al.exprId)
            } else {
              val wa = Alias(mapped, name)(exprId = al.exprId)
              windowAliases += wa
              wa.toAttribute
            }
          } else Alias(mask(mapped), name)(exprId = al.exprId)
        case _ => return None
      }
    }

    // Inner drops null-key rows (the join's behavior); LeftOuter keeps
    // them, masked above — so the IsNotNull drop is Inner-only
    val belowConds = common ++ (if (nullableKeys && inner)
      partitionKeys.map(
        org.apache.spark.sql.catalyst.expressions.IsNotNull(_)) else Nil)
    val windowChild =
      if (belowConds.isEmpty) coreL
      else Filter(belowConds.reduce(
        org.apache.spark.sql.catalyst.expressions.And), coreL)
    val window =
      if (windowAliases.isEmpty) windowChild
      else Window(windowAliases.toSeq, partitionKeys, Nil, windowChild)
    val projected = Project(left.output.map(a => a: NamedExpression) ++
      projectRight, window)
    // residual join predicates, peeled group-filters, and left-only
    // input filters all apply per-row above the annotation
    // (references resolve: left attrs pass through, aggregate outputs
    // keep their exprIds)
    val post = residual ++ having ++ lOnly
    val rewritten: LogicalPlan =
      if (post.isEmpty) projected
      else Filter(post.reduce(
        org.apache.spark.sql.catalyst.expressions.And), projected)
    // output contract: same attributes, same order, same exprIds —
    // decline (never crash) if anything upstream broke the invariant
    if (rewritten.output.map(_.exprId) != j.output.map(_.exprId)) None
    else Some(rewritten)
  }
}
