package org.apache.spark.sql.graft

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Driver-local evaluation of bounded constant subplans.
  *
  * The reference engine answers constant-shaped queries (`generate_series`
  * folds, tiny-dimension lookups, metadata scans) in microseconds because a
  * single-node engine has no job-scheduling floor. Spark pays ~100 ms of
  * DAG scheduling for ANY plan with a non-local leaf — at 100 TB that floor
  * is irrelevant for fact scans but makes constant generators grade 70×
  * slower than the baseline (BASELINE.md q21/q22 dossiers). This rule is
  * the same short-circuit philosophy as the direct-insert fast path
  * (`LakeWrite` A5, reference `src/pgducklake_insert.cpp`): work whose
  * inputs are already driver-resident executes on the driver.
  *
  * Folds, bottom-up and to fixed point (Spark's own
  * `ConvertToLocalRelation` already folds Project/Filter/Limit over
  * `LocalRelation`; this rule supplies the missing pieces):
  *
  *   - `Range` of ≤ maxRows elements → `LocalRelation`
  *   - `Sort` over `LocalRelation` → sorted `LocalRelation`
  *   - `Generate` (explode / posexplode / inline / stack …) over
  *     `LocalRelation` → generated `LocalRelation` (output capped at
  *     maxRows; over-cap aborts the fold)
  *   - `Aggregate` over `LocalRelation` whose aggregate functions are all
  *     declarative, non-distinct → aggregated `LocalRelation`
  *   - `Union` of `LocalRelation`s (≤ maxRows combined) → concatenated
  *     `LocalRelation`
  *   - inner/cross `Join` of two `LocalRelation`s whose row-count product
  *     is ≤ maxRows → nested-loop-evaluated `LocalRelation` (a constant
  *     dim⋈dim probe, e.g. region⋈nation via LocalDim, otherwise still
  *     launches a broadcast-exchange job)
  *
  * A plan whose every stage folds collapses to a `LocalTableScanExec`,
  * whose `executeCollect` short-circuits job submission entirely — a
  * constant query becomes pure Catalyst overhead (~ms), matching the
  * single-node floor. Partial folds are still wins: the folded prefix
  * ships as a local (broadcastable) relation instead of a scan stage.
  *
  * Safety: every expression evaluated here must be deterministic,
  * subquery-free and interpreter-evaluable; streaming relations and
  * distinct/imperative aggregates are left untouched. Any unexpected
  * evaluation failure abandons the fold and returns the original node
  * (the fold allocates only fresh local rows, so abandoning is free).
  * Folding preserves the node's output attributes, so parent references
  * never dangle. Disable with `spark.graft.localFold.enabled=false`;
  * folds are bounded at `maxRows` = 131072 rows — small enough that a
  * folded relation is always a trivial driver allocation, comfortably
  * under broadcast thresholds.
  */
class LocalFold(session: SparkSession) extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    conf.getConfString("spark.graft.localFold.enabled", "true").toBoolean
  private val maxRows = 131072L

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUp {
      case r: Range if !r.isStreaming && r.numElements <= BigInt(maxRows) =>
        attempt(r)(foldRange(r))
      case s: Sort if isLocal(s.child) =>
        attempt(s)(foldSort(s, local(s.child)))
      case g: Generate if isLocal(g.child) && safe(g.generator) =>
        attempt(g)(foldGenerate(g, local(g.child)))
      case a: Aggregate if isLocal(a.child) && local(a.child).data.length <= maxRows =>
        attempt(a)(foldAggregate(a, local(a.child)))
      // Project/Filter/Limit over LocalRelation are also folded by Spark's
      // own ConvertToLocalRelation — but that rule lives in the dedicated
      // "LocalRelation" batches, OUTSIDE the operator-optimization batch
      // this rule runs in. Folding them here lets a whole
      // Range→Project→Aggregate→Sort chain collapse within one bottom-up
      // pass instead of stalling at the first Project.
      case p: Project if isLocal(p.child) && safe(p.projectList: _*) =>
        attempt(p)(foldProject(p, local(p.child)))
      case f: Filter if isLocal(f.child) && safe(f.condition) =>
        attempt(f)(foldFilter(f, local(f.child)))
      case lim @ GlobalLimit(IntegerLiteral(n), _) if isLocal(lim.child) =>
        attempt(lim)(Some(LocalRelation(lim.output, local(lim.child).data.take(n))))
      case lim @ LocalLimit(IntegerLiteral(n), _) if isLocal(lim.child) =>
        attempt(lim)(Some(LocalRelation(lim.output, local(lim.child).data.take(n))))
      // the analyzer has already resolved byName/allowMissingCol unions
      // into positional shape with coercion Projects; a byName=true node
      // reaching the optimizer is left alone
      case u: Union if !u.byName && u.children.forall(isLocal) &&
          u.children.map(c => local(c).data.length.toLong).sum <= maxRows =>
        attempt(u)(foldUnion(u))
      case j @ Join(jl, jr,
          org.apache.spark.sql.catalyst.plans.Inner |
          org.apache.spark.sql.catalyst.plans.Cross, cond, _)
          if isLocal(jl) && isLocal(jr) &&
            local(jl).data.length.toLong * local(jr).data.length.toLong <= maxRows &&
            cond.forall(c => safe(c)) =>
        attempt(j)(foldJoin(j))
    }
  }

  private def foldUnion(u: Union): Option[LogicalPlan] =
    Some(LocalRelation(u.output, u.children.flatMap(c => local(c).data)))

  /** Inner/cross nested loop over two bounded local relations. The product
    * bound (not output bound) caps the WORK, so a selective condition over
    * two large relations never folds — that shape belongs on executors. */
  private def foldJoin(j: Join): Option[LogicalPlan] = {
    val l = local(j.left)
    val r = local(j.right)
    val pred = j.condition.map(Predicate.create(_, j.left.output ++ j.right.output))
    val joined = new JoinedRow
    val out = new mutable.ArrayBuffer[InternalRow]
    for (lr <- l.data; rr <- r.data) {
      joined(lr, rr)
      if (pred.forall(_.eval(joined))) out += joined.copy()
    }
    Some(LocalRelation(j.output, out.toSeq))
  }

  private def foldProject(p: Project, l: LocalRelation): Option[LogicalPlan] = {
    val proj = SafeProjection.create(p.projectList, l.output)
    Some(LocalRelation(p.output, l.data.map(r => proj(r).copy())))
  }

  private def foldFilter(f: Filter, l: LocalRelation): Option[LogicalPlan] = {
    val pred = Predicate.create(f.condition, l.output)
    Some(LocalRelation(f.output, l.data.filter(pred.eval)))
  }

  private def isLocal(p: LogicalPlan): Boolean = p match {
    case l: LocalRelation => !l.isStreaming
    case _ => false
  }
  private def local(p: LogicalPlan): LocalRelation = p.asInstanceOf[LocalRelation]

  /** Abandon a fold on any evaluation surprise: the node is returned
    * unchanged and executes distributed, exactly as without this rule. */
  private def attempt(orig: LogicalPlan)(fold: => Option[LogicalPlan]): LogicalPlan =
    try fold.getOrElse(orig) catch { case NonFatal(_) => orig }

  /** Interpreter-evaluable, deterministic, no subqueries. Attributes are
    * Unevaluable only until bound (we bind them); SortOrder is evaluated
    * through InterpretedOrdering; AggregateExpressions are evaluated
    * through their function's declarative expressions. */
  private def safe(exprs: Expression*): Boolean = exprs.forall(e =>
    e.deterministic && !e.exists {
      case _: PlanExpression[_] => true
      case u: Unevaluable =>
        !(u.isInstanceOf[AggregateExpression] || u.isInstanceOf[Attribute] ||
          u.isInstanceOf[SortOrder])
      case _ => false
    })

  private def foldRange(r: Range): Option[LogicalPlan] = {
    val rows = new mutable.ArrayBuffer[InternalRow](r.numElements.toInt)
    var i = r.start
    while (if (r.step > 0) i < r.end else i > r.end) {
      rows += InternalRow(i)
      i += r.step
    }
    Some(LocalRelation(r.output, rows.toSeq))
  }

  private def foldSort(s: Sort, l: LocalRelation): Option[LogicalPlan] = {
    if (!safe(s.order: _*)) return None
    val bound = s.order.map(BindReferences.bindReference(_, l.output))
    val ordering = new InterpretedOrdering(bound)
    Some(LocalRelation(s.output, l.data.sorted(ordering)))
  }

  private def foldGenerate(g: Generate, l: LocalRelation): Option[LogicalPlan] = {
    val boundGen = BindReferences.bindReference(g.generator, l.output)
    val childProj = SafeProjection.create(g.requiredChildOutput, l.output)
    val genArity = g.generatorOutput.length
    val nullGen = InternalRow.fromSeq(Seq.fill[Any](genArity)(null))
    val out = new mutable.ArrayBuffer[InternalRow]
    val joined = new JoinedRow
    for (row <- l.data) {
      val childSide = childProj(row).copy()
      var emitted = 0
      boundGen.eval(row).iterator.foreach { genRow =>
        out += joined(childSide, genRow).copy()
        emitted += 1
        if (out.length > maxRows) return None
      }
      if (emitted == 0 && g.outer) out += joined(childSide, nullGen).copy()
    }
    // UDTF-style generators may hold terminate-time rows; the builtins this
    // rule targets (explode/posexplode/inline/stack) never do — a non-empty
    // terminate aborts the fold rather than guessing its child-side shape.
    if (boundGen.terminate().nonEmpty) return None
    Some(LocalRelation(g.output, out.toSeq))
  }

  private def foldAggregate(a: Aggregate, l: LocalRelation): Option[LogicalPlan] = {
    val (groupingExprs, aggExprs, resultExprs, child) = a match {
      case PhysicalAggregation(g, aggs, res, c) => (g, aggs, res, c)
      case _ => return None
    }
    if (child ne l) return None
    if (!safe(groupingExprs: _*) || !safe(resultExprs: _*)) return None
    if (aggExprs.exists(ae => ae.isDistinct ||
        !ae.aggregateFunction.isInstanceOf[DeclarativeAggregate] ||
        !safe(ae.aggregateFunction.children: _*) ||
        ae.filter.exists(f => !safe(f)))) return None

    val funcs = aggExprs.map(_.aggregateFunction.asInstanceOf[DeclarativeAggregate])
    val bufferAttrs = funcs.flatMap(_.aggBufferAttributes)
    // Per-aggregate FILTER (WHERE …) folds into the update expressions as
    // If(pred, update, keep) so one concatenated projection updates every
    // buffer slot in a single pass — the same shape AggregationIterator
    // produces for filtered aggregates.
    val updateExprs = aggExprs.zip(funcs).flatMap { case (ae, f) =>
      ae.filter match {
        case Some(pred) =>
          f.updateExpressions.zip(f.aggBufferAttributes).map {
            case (u, b) => If(pred, u, b)
          }
        case None => f.updateExpressions
      }
    }
    val initProj = MutableProjection.create(funcs.flatMap(_.initialValues), Nil)
    val updateProj = MutableProjection.create(updateExprs, bufferAttrs ++ l.output)
    val evalProj = SafeProjection.create(funcs.map(_.evaluateExpression), bufferAttrs)
    val keyProj = UnsafeProjection.create(groupingExprs, l.output)
    val groupAttrs = groupingExprs.map(_.toAttribute)
    val resultProj = SafeProjection.create(
      resultExprs, groupAttrs ++ aggExprs.map(_.resultAttribute))

    val groups = mutable.LinkedHashMap.empty[InternalRow, InternalRow]
    def newBuffer(): InternalRow = {
      val buf = new GenericInternalRow(bufferAttrs.length)
      initProj.target(buf)(InternalRow.empty)
      buf
    }
    // the no-grouping seed key must round-trip through keyProj so its
    // equals/hashCode matches the per-row keys (UnsafeRow vs generic rows
    // compare by representation, not value)
    if (groupingExprs.isEmpty) groups(keyProj(InternalRow.empty).copy()) = newBuffer()
    val joined = new JoinedRow
    for (row <- l.data) {
      val buf = groups.getOrElseUpdate(keyProj(row).copy(), newBuffer())
      updateProj.target(buf)(joined(buf, row))
    }
    val out = groups.iterator.map { case (key, buf) =>
      resultProj(joined(key, evalProj(buf).copy())).copy()
    }.toSeq
    Some(LocalRelation(a.output, out))
  }
}

/** Driver-localized reads of TINY dimension tables.
  *
  * A 5-row `region` parquet scan costs the same job-scheduling floor as a
  * 100 GB fact scan. At any scale — TPC-H region is 5 rows at SF 100 000 —
  * reading such a table once, memoizing its rows on the driver, and
  * serving it as a `LocalRelation` removes the scan stage from every query
  * that touches it: joins see an instantly broadcastable build side, and a
  * constant-shaped query over it folds completely under [[LocalFold]].
  * The memo key includes file length + mtime, so any rewrite of the file
  * invalidates the cached rows (same freshness contract as Spark's own
  * file-index caching, but checked per call).
  *
  * Only localize what is structurally tiny forever (region/nation-shaped
  * dims); `maxBytes` is a guardrail, not a policy — callers pass an
  * explicit bound and get a distributed read back if the file outgrows it.
  */
object LocalDim {
  // each entry can hold up to maxBytes of driver rows, so the cache is a
  // small access-ordered LRU — distinct paths cannot accumulate unboundedly,
  // and superseded fingerprints of a rewritten path simply age out
  private val MaxEntries = 64
  private val cache =
    new java.util.LinkedHashMap[(String, String), LocalRelation](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), LocalRelation]): Boolean =
        size > MaxEntries
    }

  def parquet(spark: SparkSession, path: String,
      maxBytes: Long = 8L << 20): org.apache.spark.sql.DataFrame = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val status = fs.getFileStatus(hPath)
    // fingerprint every part's (name, length, mtime) — a rewrite that lands
    // inside one coarse mtime tick still re-keys as long as any part name
    // or length moved (Spark writers emit fresh UUID part names, so a
    // directory rewrite always re-keys even at identical total length)
    val parts: Seq[(String, Long, Long)] =
      if (status.isDirectory)
        fs.listStatus(hPath).filter(_.getPath.getName.endsWith(".parquet"))
          .map(p => (p.getPath.getName, p.getLen, p.getModificationTime))
          .sortBy(_._1).toIndexedSeq
      else Seq((hPath.getName, status.getLen, status.getModificationTime))
    val len = parts.map(_._2).sum
    if (len > maxBytes) return spark.read.parquet(path)
    val fp = parts.map { case (n, l, m) => s"$n:$l:$m" }.mkString(",")
    val key = (path, fp)
    val rel = cache.synchronized(cache.get(key)) match {
      case hit if hit != null => hit
      case _ =>
        val df = spark.read.parquet(path)
        val rows = df.queryExecution.executedPlan.executeCollect()
        val built = LocalRelation(df.queryExecution.analyzed.output, rows.toIndexedSeq)
        cache.synchronized {
          // evict superseded fingerprints of the same path eagerly so the
          // LRU bounds DISTINCT paths — otherwise repeated rewrite cycles
          // can pin up to MaxEntries x maxBytes of dead driver row copies
          // until the stale keys age out
          cache.keySet.removeIf(k => k._1 == path && k._2 != fp)
          cache.put(key, built)
        }
        built
    }
    StreamingBatch.ofRows(spark, rel)
  }
}
