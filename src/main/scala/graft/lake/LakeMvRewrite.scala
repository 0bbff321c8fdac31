package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{EliminateSubqueryAliases, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.LongType
import graft.lake.Meta.CatalogState

/** Opt-in MV query rewrite (VERDICT r15 #5): a grouped aggregate over a
  * lake table that STRUCTURALLY matches a maintained materialized view's
  * definition is answered from the (group-domain-sized) MV table instead
  * of rescanning the fact — the read-side payoff of the incremental-MV
  * subsystem at 100 TB, where the fact scan is the whole query cost.
  *
  * `spark.graft.mv.rewrite`:
  *   - `off` (default) — rule inert.
  *   - `fresh` — rewrite only when the MV's applied watermark provably
  *     covers the scan's snapshot (no source data/schema change entries
  *     between watermark and scan snapshot); stale or unmatched queries
  *     run verbatim.
  *   - `refresh` — a matched-but-stale MV is refreshed at plan time
  *     (refresh-on-read; one watermark-CAS'd incremental fold), then
  *     served; falls back verbatim if the refresh fails or the snapshot
  *     still isn't covered (e.g. the query is AS-OF an older snapshot).
  *
  * Match contract (conservative — anything else falls through verbatim):
  *   - the aggregate's child is (attribute-Projects over) an optional
  *     single Filter over a raw catalog [[LakeTable]] relation of the MV's
  *     source (never an internal one of the library's own reads — the
  *     `Lake` API, DML, the change feed and the refresh itself);
  *   - query grouping columns == MV group columns as a set;
  *   - the MV's own filter (if any) appears among the query filter's
  *     conjuncts, and every residual conjunct references ONLY group
  *     columns — those re-apply on the MV rows (a group-key predicate
  *     commutes with the grouping), covering Catalyst's inferred
  *     `isnotnull` conjuncts too;
  *   - every aggregate is a DISTINCT-free, FILTER-free COUNT(*) /
  *     COUNT(col) / SUM(col) / AVG(col) / MIN(col) / MAX(col) whose state
  *     the MV maintains. SUM maps to the stored additive state guarded by
  *     COUNT (`sum_c` is 0, not NULL, on all-NULL groups — the SQL NULL
  *     comes back via `IF(cnt_c > 0, sum_c, NULL)`); a nullable summed
  *     column without maintained COUNT state does not match. Eligible SUM
  *     types are exactly [[LakeMaterializedView.sumServes]] over the
  *     create-time state types: bigint, and decimal at the state's scale
  *     (r17). AVG serves DOUBLE-typed averages only — a decimal-source
  *     AVG has decimal rounding the double state cannot reproduce.
  *
  * Join-source MVs match the query that IS the join: a LEFT-DEEP chain of
  * INNER equi-joins of the MV's fact and dims on exactly the MV's key
  * pairs, in definition order, either orientation per level (r17:
  * snowflake chains of any length — a later dim may key off an earlier
  * dim's carried column) — freshness then gates on EVERY table's change
  * entries. Queries with per-side filters fall through verbatim. A
  * rename of source columns since MV creation makes names differ and
  * falls through.
  *
  * The served subplan is the MV's own snapshot-scoped scan
  * ([[LakeRead.scanDF]] at the SAME snapshot/state as the replaced
  * relation — snapshot-consistent by construction), spliced in with the
  * original output names, types and exprIds, so parents are untouched.
  */
class LakeMvRewrite(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {
  import LakeMaterializedView.MvInfo

  private def mode: String = spark.conf
    .getOption("spark.graft.mv.rewrite").map(_.toLowerCase).getOrElse("off")

  private val inRefresh = new ThreadLocal[java.lang.Boolean] {
    override def initialValue: java.lang.Boolean = false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = mode match {
    case m @ ("fresh" | "refresh") =>
      plan.transformUp {
        case agg: Aggregate =>
          try tryRewrite(agg, refreshOnRead = m == "refresh").getOrElse(agg)
          catch { case _: Exception => agg } // never fail the query over a rewrite
      }
    case _ => plan
  }

  private case class Rel(out: Seq[Attribute], lt: LakeTable) {
    def tid: Long = lt.entry.tableId
  }
  /** the matched source shape under the aggregate: a bare lake relation,
    * or an INNER equi-join of two bare lake relations (the join-source-MV
    * query shape); `filter` is the single Filter ABOVE it. `aliases` maps
    * Project-computed attributes (r17 — Spark's PullOutGroupingExpressions
    * rewrites `GROUP BY date_trunc(...)` into a `_groupingexpression`
    * Project below the Aggregate) to their FULLY-SUBSTITUTED defining
    * expressions over relation attributes. */
  private case class Shape(filter: Option[Expression], relL: Rel,
      dims: Seq[(Rel, Seq[(String, String)])],
      aliases: Map[ExprId, Expression] = Map.empty)

  private def substAliases(e: Expression, m: Map[ExprId, Expression])
      : Expression =
    if (m.isEmpty) e
    else e.transformUp {
      case a: AttributeReference if m.contains(a.exprId) => m(a.exprId)
    }

  private def bareRel(p: LogicalPlan): Option[Rel] = p match {
    case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      bareRel(child)
    case r: DataSourceV2Relation => r.table match {
      case lt: LakeTable if !lt.internal => Some(Rel(r.output, lt))
      case _ => None
    }
    case _ => None
  }

  /** conjunction of attr = attr between the accumulated left side and the
    * dim → (leftCol, dimCol) name pairs; anything else disqualifies */
  private def equiKeys(cond: Expression, lAttrs: Seq[Attribute], r: Rel)
      : Option[Seq[(String, String)]] = {
    val lIds = lAttrs.map(_.exprId).toSet
    val rIds = r.out.map(_.exprId).toSet
    val pairs = splitConjunctivePredicates(cond).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if lIds(a.exprId) && rIds(b.exprId) => Some((a.name, b.name))
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if rIds(a.exprId) && lIds(b.exprId) => Some((b.name, a.name))
      case _ => None
    }
    if (pairs.forall(_.isDefined) && pairs.nonEmpty) Some(pairs.flatten)
    else None
  }

  /** a candidate parse of a join chain: fact, dims in join order, the
    * exprIds of IsNotNull filters STRIPPED from join inputs, and the
    * exprIds referenced by the join conditions. A stripped IsNotNull is a
    * no-op exactly when its attr is a join key (the inner equi-join drops
    * null keys anyway) — `nn ⊆ condIds` is validated by the caller. */
  private case class Chain(fact: Rel,
      dims: Seq[(Rel, Seq[(String, String)])],
      nn: Set[ExprId], condIds: Set[ExprId])

  /** strip the column-pruning Projects and the all-IsNotNull Filters
    * Catalyst infers on join inputs; returns the core plan plus the
    * stripped not-null attr ids (validated as join keys by the caller). */
  private def stripSide(p: LogicalPlan): (LogicalPlan, Set[ExprId]) = p match {
    case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      stripSide(child)
    case Filter(cond, child) =>
      val conjs = splitConjunctivePredicates(cond)
      val nn = conjs.collect { case IsNotNull(a: AttributeReference) => a.exprId }
      if (nn.size == conjs.size) {
        val (c, inner) = stripSide(child); (c, inner ++ nn)
      } else (p, Set.empty)
    case other => (other, Set.empty)
  }

  /** a LEFT-DEEP inner equi-join chain fact ⋈ D₁ ⋈ … ⋈ Dₙ (r17: snowflake
    * serving). Each level's bare side is that level's dim; the composite
    * side recurses; a later dim may key off an earlier dim's carried
    * column (keys match against the ACCUMULATED attribute set). When both
    * sides of the bottom join are bare relations the fact is ambiguous —
    * BOTH parses are returned and matched against the MV catalog. */
  private def unwrapChain(p: LogicalPlan): Seq[Chain] = p match {
    case Join(jl, jr, org.apache.spark.sql.catalyst.plans.Inner,
        Some(cond), _) =>
      val ids = cond.references.map(_.exprId).toSet
      val (l1, nnL) = stripSide(jl)
      val (r1, nnR) = stripSide(jr)
      val nn = nnL ++ nnR
      (bareRel(l1), bareRel(r1)) match {
        case (Some(l), Some(r)) =>
          equiKeys(cond, l.out, r)
            .map(ks => Chain(l, Seq((r, ks)), nn, ids)).toSeq ++
            equiKeys(cond, r.out, l)
              .map(ks => Chain(r, Seq((l, ks)), nn, ids)).toSeq
        case (lOpt, rOpt) =>
          // exactly one side is a deeper join; the bare side is the dim
          val parsed: Seq[(LogicalPlan, Rel)] =
            (rOpt.map(l1 -> _) ++ lOpt.map(r1 -> _)).toSeq
          parsed.flatMap { case (compo, dim) =>
            unwrapChain(compo).flatMap { ch =>
              val accum = ch.fact.out ++ ch.dims.flatMap(_._1.out)
              equiKeys(cond, accum, dim).map(ks =>
                Chain(ch.fact, ch.dims :+ (dim, ks),
                  ch.nn ++ nn, ch.condIds ++ ids)).toSeq
            }
          }
      }
    case _ => Nil
  }

  private def unwrap(p: LogicalPlan): Seq[Shape] = p match {
    case Project(pl, child) if pl.forall(e =>
        e.isInstanceOf[AttributeReference] || e.isInstanceOf[Alias]) =>
      // computed columns are RECORDED, not rejected: each alias maps to
      // its defining expression with inner aliases already substituted,
      // so every map value is closed over relation attributes
      unwrap(child).map { s =>
        val add = pl.collect { case al: Alias =>
          al.exprId -> substAliases(al.child, s.aliases) }
        s.copy(aliases = s.aliases ++ add)
      }
    case Filter(cond, child) => unwrap(child).flatMap {
      case s if s.filter.isEmpty => Some(s.copy(filter = Some(cond)))
      case _ => None
    }
    case j: Join =>
      // only join-key IsNotNulls may have been stripped from the inputs —
      // anything else (a user's IS NOT NULL on a non-key) must fall back
      unwrapChain(j).filter(ch => ch.nn.subsetOf(ch.condIds))
        .map(ch => Shape(None, ch.fact, ch.dims))
    case r: DataSourceV2Relation => r.table match {
      case lt: LakeTable if !lt.internal => Seq(Shape(None, Rel(r.output, lt), Nil))
      case _ => Nil
    }
    case _ => Nil
  }

  /** any data or schema change entry for `tid` in (lo, hi]? Used in both
    * directions: watermark behind the scan snapshot OR ahead of it (the MV
    * refreshed past an AS-OF pinned read) both disqualify. */
  private def sourceChangedIn(st: CatalogState, tid: Long, a: Long, b: Long)
      : Boolean = {
    val (lo, hi) = (math.min(a, b), math.max(a, b))
    if (lo >= hi) return false
    def in(x: Long) = x > lo && x <= hi
    st.files.exists(f => f.tableId == tid && (in(f.begin) || f.end.exists(in))) ||
    st.deleteFiles.exists(d => d.tableId == tid && (in(d.begin) || d.end.exists(in))) ||
    st.inlined.exists(i => i.tableId == tid && (in(i.begin) || i.end.exists(in))) ||
    st.columns.exists(c => c.tableId == tid && (in(c.begin) || c.end.exists(in))) ||
    !st.tableById(tid, hi).exists(e => Meta.liveAt(e.begin, e.end, lo))
  }

  private def tryRewrite(agg: Aggregate, refreshOnRead: Boolean)
      : Option[LogicalPlan] =
    // a both-bare bottom join parses two ways (fact on either side); the
    // first parse that lands a serving plan wins
    unwrap(agg.child).iterator
      .flatMap(shape => tryShape(agg, shape, refreshOnRead)).nextOption()

  private def tryShape(agg: Aggregate, shape: Shape, refreshOnRead: Boolean)
      : Option[LogicalPlan] = {
    // every expression (filter, grouping, outputs) is normalized through
    // the recorded Project aliases first, so computed columns — including
    // Spark's pulled-out `_groupingexpression` attrs — compare and serve
    // by their DEFINING expression over relation attributes
    def subst(e: Expression): Expression = substAliases(e, shape.aliases)
    val condOpt = shape.filter.map(subst)
    val gExprs: Seq[Expression] = agg.groupingExpressions.map(subst)
    if (gExprs.map(_.canonicalized).distinct.size != gExprs.size)
      return None // duplicate group refs: bail
    val st0 = shape.relL.lt.st
    val snap = shape.relL.lt.snapshot
    // a join's sides must all be pinned at the SAME snapshot/state
    if (shape.dims.exists(_._1.lt.snapshot != snap)) return None

    /** does this MV's source shape match the query's? For the bare shape:
      * dim-free MV over the relation. For the join shape: the MV's dim
      * chain and the query's join chain must agree ELEMENTWISE — same
      * table ids in definition order, same (accum, dim) key-pair sets
      * (per-level left/right orientation was normalized by unwrapChain;
      * the fact-side ambiguity of a both-bare bottom join is covered by
      * the alternate parse). Returns the tids whose freshness gates
      * serving (r17: any length chain, closing VERDICT r16 #3). */
    def shapeTids(i: MvInfo): Option[Seq[Long]] = {
      def lc(p: (String, String)) = (p._1.toLowerCase, p._2.toLowerCase)
      val ok = i.sourceTid == shape.relL.tid &&
        i.dims.size == shape.dims.size &&
        i.dims.zip(shape.dims).forall {
          case ((dimTid, mvKeys), (qRel, qKeys)) =>
            qRel.tid == dimTid && qKeys.map(lc).toSet == mvKeys.map(lc).toSet
        }
      if (ok) Some(i.sourceTid +: shape.dims.map(_._1.tid)) else None
    }
    val relOut: Seq[Attribute] =
      shape.relL.out ++ shape.dims.flatMap(_._1.out)
    // ADVICE r16 (medium): everything below binds columns by lowercase
    // name (mvAttr, group/residual checks, resolveFilter). A
    // case-insensitive duplicate across a join's two sides — e.g. an ADD
    // COLUMN after MV creation once the MV has refreshed past it — could
    // silently bind the OTHER side's column and serve wrong results. Bail
    // to the verbatim plan whenever the joined output is ambiguous.
    locally {
      val lc = relOut.map(_.name.toLowerCase)
      if (lc.distinct.size != lc.size) return None
    }

    /** map each query grouping expression to an MV group column: a plain
      * attribute matches a PLAIN group column by name; any other
      * expression matches an EXPRESSION-backed key by resolving the
      * stored SQL against the query relation and comparing canonicalized
      * forms (r17 — the `date_trunc` time-bucket MV). None when any
      * grouping expression has no MV column. */
    def mapGroups(i: MvInfo): Option[Seq[(Expression, String)]] = {
      lazy val exprKeys: Seq[(String, Expression)] =
        i.groupExprs.toSeq.flatMap { case (n, sql) =>
          resolveExpr(sql, relOut).map(n -> _) }
      val mapped: Seq[Option[(Expression, String)]] = gExprs.map {
        case a: AttributeReference
            if i.groups.exists(_.equalsIgnoreCase(a.name)) &&
              !i.groupExprs.contains(a.name.toLowerCase) =>
          Some(a -> a.name.toLowerCase)
        case e =>
          exprKeys.collectFirst {
            case (n, ke) if ke.canonicalized == e.canonicalized => e -> n }
      }
      if (!mapped.forall(_.isDefined)) None
      else {
        val gm = mapped.flatten
        if (gm.map(_._2).distinct.size == gm.size) Some(gm) else None
      }
    }

    // candidate MVs matching the query's source shape at the scan
    // snapshot. Query groups == MV groups serves by direct projection;
    // query groups ⊂ MV groups serves by ROLLUP — re-aggregating the
    // (group-domain-sized) MV is the data-cube read pattern, still never
    // touching the fact. Exact group matches first, then the
    // fewest-extra-groups rollup.
    val candidates = st0.tables
      .filter(t => Meta.liveAt(t.begin, t.end, snap))
      .flatMap(t => LakeMaterializedView.infoAt(st0, t.tableId, snap).map(t -> _))
      .flatMap { case (t, i) => shapeTids(i).map(tids => (t, i, tids)) }
      .flatMap { case (t, i, tids) => mapGroups(i).map(gm => (t, i, tids, gm)) }
      .sortBy { case (_, i, _, gm) => (i.groups.size != gm.size, i.groups.size) }

    candidates.iterator.flatMap { case (mvEntry, info0, gateTids, gMap) =>
      // per-MV scoping (r17, stretch): the catalog option `mv.rewrite`
      // (table > schema > global scoping, settable at CREATE via
      // WITH (rewrite = …) or later via set_option) overrides the session
      // mode FOR THIS VIEW — `off` never serves even when the session
      // rule is armed; `fresh`/`refresh` pin the view's own mode. The
      // session conf stays the master arm switch for the rule itself.
      val mvMode: Option[String] =
        st0.optionAt(mvEntry.tableId, "mv.rewrite", snap).map(_.toLowerCase)
      if (mvMode.contains("off")) Iterator.empty else {
      val effRefresh = mvMode match {
        case Some("refresh") => true
        case Some("fresh") => false
        case _ => refreshOnRead
      }
      val mvGroupNames = info0.groups.map(_.toLowerCase).toSet
      // ---- filter match: MV conjuncts ⊆ query conjuncts; residual
      // conjuncts must reference only MV GROUP columns — a group-key
      // predicate commutes with the grouping (MV rows are per full group
      // key, so filtering them then re-aggregating equals filtering the
      // source rows), which also covers Catalyst's inferred isnotnull
      val residual: Option[Seq[Expression]] = {
        val qConj = condOpt.map(splitConjunctivePredicates).getOrElse(Nil)
        val mvConj = info0.filterSql match {
          case None => Some(Nil)
          case Some(f) => resolveFilter(f, relOut).map(splitConjunctivePredicates)
        }
        mvConj.flatMap { mc =>
          val mcCanon = mc.map(_.canonicalized).toSet
          val rest = qConj.filterNot(c => mcCanon.contains(c.canonicalized))
          // every MV conjunct must be present in the query
          val covered = mcCanon.subsetOf(qConj.map(_.canonicalized).toSet)
          // a residual must be DETERMINISTIC to commute with grouping —
          // `rand() < 0.5` samples ROWS in the query but would sample
          // GROUPS if re-applied on MV rows (and has no references, so
          // the group-column check alone would vacuously pass)
          val restOnGroups = rest.forall(c => c.deterministic &&
            c.references.forall(a =>
              mvGroupNames.contains(a.name.toLowerCase)))
          if (covered && restOnGroups) Some(rest) else None
        }
      }
      if (residual.isEmpty) Iterator.empty
      else {
        // ---- freshness over EVERY participating table (fact + dim), and
        // optional refresh-on-read
        val nullable: Map[String, Boolean] = gateTids.flatMap(tid =>
          st0.columnsAt(tid, snap).map(c => c.name.toLowerCase -> c.nullable))
          .toMap
        // outputs normalized through the alias map so pulled-out grouping
        // attrs rewrite by their defining expression; names/exprIds kept
        val aggExprsS: Seq[NamedExpression] = agg.aggregateExpressions.map {
          case al @ Alias(c, n) =>
            Alias(subst(c), n)(exprId = al.exprId, qualifier = al.qualifier)
          case a: AttributeReference if shape.aliases.contains(a.exprId) =>
            Alias(shape.aliases(a.exprId), a.name)(
              exprId = a.exprId, qualifier = a.qualifier)
          case other => other
        }
        def serve(st: CatalogState, servSnap: Long): Option[LogicalPlan] =
          buildServing(aggExprsS, gMap, residual.get, mvEntry.tableId, info0,
            nullable, st, servSnap)
        def freshIn(st: CatalogState, last: Long): Boolean =
          gateTids.forall(tid => !sourceChangedIn(st, tid, last, snap))
        val store = shape.relL.lt.store
        if (freshIn(st0, info0.last)) {
          serve(st0, snap).iterator
        } else if (effRefresh && store != null && !inRefresh.get()) {
          // plan-time refresh runs whole queries, which re-enter the
          // optimizer — the reentrancy latch stops a nested rewrite from
          // kicking off another refresh (the refresh's own reads are
          // internal relations, which `unwrap` never matches anyway)
          inRefresh.set(true)
          try {
            val lake = new Lake(spark, store.root, Some(store))
            lake.refreshMaterializedView(
              s"${mvEntry.schemaName}.${mvEntry.tableName}")
            val st1 = store.state()
            val cur = st1.currentSnapshotId
            val fresh = LakeMaterializedView.infoAt(st1, mvEntry.tableId, cur)
              .exists(i1 => freshIn(st1, i1.last))
            if (fresh) serve(st1, cur).iterator else Iterator.empty
          } catch { case _: Exception => Iterator.empty }
          finally inRefresh.set(false)
        } else Iterator.empty
      }
      }
    }.nextOption()
  }

  /** MV filterSql resolved against the QUERY relation's own attributes
    * (same exprIds), so `canonicalized` comparison against the query's
    * filter conjuncts is exact. Analysis supplies the same implicit casts
    * the query side got (flag = 1 over BIGINT flag → cast the literal) and
    * ConstantFolding collapses them to the literal the optimizer left on
    * the query side. */
  private def resolveFilter(sql: String, relOut: Seq[Attribute])
      : Option[Expression] =
    try {
      val parsed = spark.sessionState.sqlParser.parseExpression(sql)
      val resolver = spark.sessionState.conf.resolver
      var ok = true
      val bound = parsed.transformUp {
        case u: UnresolvedAttribute =>
          relOut.find(a => resolver(a.name, u.name)) match {
            case Some(a) => a
            case None => ok = false; u
          }
      }
      if (!ok) return None
      val leaf = org.apache.spark.sql.catalyst.plans.logical.LocalRelation(relOut)
      val analyzed = spark.sessionState.analyzer.execute(Filter(bound, leaf))
      val folded = org.apache.spark.sql.catalyst.optimizer.ConstantFolding(analyzed)
      folded.collectFirst { case Filter(c, _) if c.resolved => c }
    } catch { case _: Exception => None }

  /** an MV group-key expression SQL resolved against the QUERY relation's
    * own attributes (same exprIds), analyzed (same implicit casts the
    * query side got) and constant-folded — so a `canonicalized`
    * comparison against the query's grouping expression is exact (r17). */
  private def resolveExpr(sql: String, relOut: Seq[Attribute])
      : Option[Expression] =
    try {
      val parsed = spark.sessionState.sqlParser.parseExpression(sql)
      val resolver = spark.sessionState.conf.resolver
      var ok = true
      val bound = parsed.transformUp {
        case u: UnresolvedAttribute =>
          relOut.find(a => resolver(a.name, u.name)) match {
            case Some(a) => a
            case None => ok = false; u
          }
      }
      if (!ok) return None
      val leaf = org.apache.spark.sql.catalyst.plans.logical.LocalRelation(relOut)
      val analyzed = spark.sessionState.analyzer.execute(
        Project(Seq(Alias(bound, "_mv_gx")()), leaf))
      val folded = org.apache.spark.sql.catalyst.optimizer.ConstantFolding(analyzed)
      folded.collectFirst {
        case Project(Seq(Alias(c, _)), _) if c.resolved => c }
    } catch { case _: Exception => None }

  /** the plan over the MV's own snapshot-scoped scan that reproduces
    * `agg`'s output exactly: a Project when query groups == MV groups, a
    * re-aggregating Aggregate (ROLLUP over the group-domain-sized MV —
    * still no fact scan) when query groups ⊂ MV groups. The group-key
    * residual Filter sits below either. */
  private def buildServing(aggExprs: Seq[NamedExpression],
      gMap: Seq[(Expression, String)],
      residual: Seq[Expression], mvTid: Long, info: MvInfo,
      srcNullable: Map[String, Boolean], st: CatalogState, servSnap: Long)
      : Option[LogicalPlan] = {
    val exact =
      info.groups.map(_.toLowerCase).toSet == gMap.map(_._2).toSet
    // query grouping expression (canonicalized) → MV column name; plain
    // attr keys also resolve through rewriteExpr's attribute case
    val gLookup: Map[Expression, String] =
      gMap.map { case (e, n) => e.canonicalized -> n }.toMap
    val mvPlan = EliminateSubqueryAliases(
      LakeRead.scanDF(spark, st, mvTid, servSnap).queryExecution.analyzed)
    val mvAttr: Map[String, Attribute] =
      mvPlan.output.map(a => a.name.toLowerCase -> a).toMap
    def m(n: String): Option[Attribute] = mvAttr.get(n.toLowerCase)
    def sum0(a: Attribute): Expression = Sum(a).toAggregateExpression()
    /** widen/narrow the stored state to the query SUM's result type
      * (digits unchanged — [[LakeMaterializedView.sumServes]] pinned the
      * scales equal; any overflow past the query's precision is the same
      * overflow Spark's own sum over the fact would hit). */
    def castState(e: Expression, to: org.apache.spark.sql.types.DataType)
        : Expression = if (e.dataType == to) e else Cast(e, to)

    // exact: each MV row IS one result row — state columns project through.
    // COUNT of a NULL literal is 0, NOT the row count (VERDICT r16 #1) —
    // only a NON-null literal (count(*) / count(1)) maps to n_rows.
    def aggExprExact(fn: AggregateFunction): Option[Expression] = fn match {
      case Count(Seq(l: Literal)) if l.value == null => None
      case Count(Seq(_: Literal)) | Count(Nil) => m("n_rows")
      case Count(Seq(a: AttributeReference)) if info.cntAll(a.name) =>
        m(s"cnt_${a.name}")
      case s: Sum => s.child match {
        case a: AttributeReference if info.sumAll.contains(a.name) =>
          // the ONE create-shared predicate (VERDICT r16 #4) decides which
          // query SUM types the stored state serves: bigint state ↔ bigint
          // sum, decimal(38,sc) state ↔ any decimal sum of the SAME scale
          // (the query's Sum widens precision only — castState is a pure
          // widening/narrowing of unchanged digits, same as Spark's own
          // sum would produce)
          m(s"sum_${a.name}")
            .filter(su => LakeMaterializedView.sumServes(su.dataType, s.dataType))
            .flatMap { su =>
              if (info.cntAll(a.name))
                m(s"cnt_${a.name}").map(c => If(GreaterThan(c, Literal(0L)),
                  castState(su, s.dataType), Literal(null, s.dataType)))
              else if (!srcNullable.getOrElse(a.name.toLowerCase, true))
                Some(castState(su, s.dataType)) // non-nullable: never empty
              else None
            }
        case _ => None
      }
      case av: Average => av.child match {
        // avg_<c> is the double sum/cnt derivation — it serves only a
        // DOUBLE-typed query Average (integral sources). A DECIMAL-source
        // Average has decimal result semantics (round at scale s+4, THEN
        // any cast) that the double state cannot reproduce ulp-exactly:
        // fall back rather than serve an off-by-one-ulp answer.
        case a: AttributeReference if info.avgs.contains(a.name) &&
            av.dataType == org.apache.spark.sql.types.DoubleType =>
          m(s"avg_${a.name}")
        case _ => None
      }
      case Min(a: AttributeReference) if info.minMax.contains(a.name) =>
        m(s"min_${a.name}")
      case Max(a: AttributeReference) if info.minMax.contains(a.name) =>
        m(s"max_${a.name}")
      case _ => None
    }
    // rollup: the additive state re-aggregates (COUNT sums n_rows, SUM
    // sums sums guarded by the summed counts, AVG = Σsum/Σcnt, MIN/MAX
    // fold their extrema). COALESCE handles the GLOBAL (no GROUP BY)
    // aggregate over an empty MV: SQL count(*) is 0 there, not NULL.
    def aggExprRollup(fn: AggregateFunction): Option[Expression] = fn match {
      case Count(Seq(l: Literal)) if l.value == null => None
      case Count(Seq(_: Literal)) | Count(Nil) =>
        m("n_rows").map(a => Coalesce(Seq(sum0(a), Literal(0L))))
      case Count(Seq(a: AttributeReference)) if info.cntAll(a.name) =>
        m(s"cnt_${a.name}").map(c => Coalesce(Seq(sum0(c), Literal(0L))))
      case s: Sum => s.child match {
        case a: AttributeReference if info.sumAll.contains(a.name) =>
          m(s"sum_${a.name}")
            .filter(su => LakeMaterializedView.sumServes(su.dataType, s.dataType))
            .flatMap { su =>
              if (info.cntAll(a.name))
                m(s"cnt_${a.name}").map(c =>
                  If(GreaterThan(Coalesce(Seq(sum0(c), Literal(0L))), Literal(0L)),
                    castState(sum0(su), s.dataType), Literal(null, s.dataType)))
              else if (!srcNullable.getOrElse(a.name.toLowerCase, true))
                Some(castState(sum0(su), s.dataType))
              else None
            }
        case _ => None
      }
      case av: Average => av.child match {
        // exact re-derivation needs the additive state, not stored avgs;
        // DOUBLE-typed (integral-source) averages only — see the exact arm
        case a: AttributeReference if info.avgs.contains(a.name) &&
            av.dataType == org.apache.spark.sql.types.DoubleType =>
          for { su <- m(s"sum_${a.name}"); c <- m(s"cnt_${a.name}") }
            yield If(GreaterThan(Coalesce(Seq(sum0(c), Literal(0L))), Literal(0L)),
              Divide(Cast(sum0(su), org.apache.spark.sql.types.DoubleType),
                Cast(sum0(c), org.apache.spark.sql.types.DoubleType)),
              Literal(null, org.apache.spark.sql.types.DoubleType))
        case _ => None
      }
      case Min(a: AttributeReference) if info.minMax.contains(a.name) =>
        m(s"min_${a.name}").map(x => Min(x).toAggregateExpression())
      case Max(a: AttributeReference) if info.minMax.contains(a.name) =>
        m(s"max_${a.name}").map(x => Max(x).toAggregateExpression())
      case _ => None
    }

    def rewriteExpr(e: Expression): Option[Expression] =
      gLookup.get(e.canonicalized).flatMap(m) orElse (e match {
        case a: AttributeReference => m(a.name) // group column (validated)
        case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
          if (exact) aggExprExact(ae.aggregateFunction)
          else aggExprRollup(ae.aggregateFunction)
        case _: AggregateExpression => None
        case l: Literal => Some(l)
        case _ if e.children.nonEmpty =>
          val kids = e.children.map(rewriteExpr)
          if (kids.forall(_.isDefined)) Some(e.withNewChildren(kids.map(_.get)))
          else None
        case _ => None
      })

    val outputs: Seq[Option[NamedExpression]] = aggExprs.map {
      case al @ Alias(child, name) => rewriteExpr(child)
        .filter(_.dataType == al.dataType)
        .map(r => Alias(r, name)(exprId = al.exprId, qualifier = al.qualifier))
      case a: AttributeReference => rewriteExpr(a)
        .filter(_.dataType == a.dataType)
        .map(r => Alias(r, a.name)(exprId = a.exprId, qualifier = a.qualifier))
      case _ => None
    }
    if (outputs.exists(_.isEmpty)) return None
    val resRewritten: Seq[Option[Expression]] = residual.map(rewriteExpr)
    if (resRewritten.exists(_.isEmpty)) return None
    val filtered = resRewritten.flatten
      .foldLeft(mvPlan)((p, c) => Filter(c, p))
    if (exact) Some(Project(outputs.flatten, filtered))
    else {
      val groupExprs = gMap.map { case (_, n) => m(n).getOrElse(return None) }
      Some(Aggregate(groupExprs, outputs.flatten, filtered))
    }
  }
}
