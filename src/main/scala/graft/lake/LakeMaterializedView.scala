package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.lake.Meta.TagEntry

/** Benign CAS-loser signal: another refresher already applied this MV's
  * pending window. Extends IllegalStateException so pre-existing broad
  * handlers keep working; catch the TYPE (never the message text) —
  * maintain() counts it as refreshed-elsewhere, the streaming sink
  * swallows it. */
class ConcurrentMvRefreshException(msg: String) extends IllegalStateException(msg)

/** Incrementally-maintained materialized views over the change feed.
  *
  * The reference stores only LOGICAL views (`ducklake_view`,
  * sql/pg_ducklake--0.1.0.sql); at 100 TB the missing piece is a grouped
  * aggregate a consumer can read without rescanning the fact table. This
  * module materializes `SELECT groups..., COUNT(*), SUM/COUNT/AVG(cols)...,
  * MIN/MAX(cols)... FROM src [WHERE pred] GROUP BY groups` as a lake table
  * and maintains it from the SAME snapshot-range change feed the reference
  * exposes (A16): a refresh reads ONLY `tableChanges(src, lastApplied,
  * current)` — never the source table — folds it into a per-group delta
  * with ±1 weights (insert / update_postimage = +1, delete /
  * update_preimage = −1; exactly the pre/post-image contract of
  * `table_changes`, sql/pg_ducklake--0.1.0.sql:344-449), and
  * full-outer-merges the delta into the (small, aggregated) MV state.
  *
  * Exactly-once refresh: the applied-watermark tag (`mv_last`) commits IN
  * THE SAME snapshot as the MV data overwrite — the streaming sink's
  * txn-tag idiom — with an in-commit re-check, so a crashed or concurrent
  * refresh can never double-apply a delta.
  *
  * Logical replaces: an `append(overwrite = true)` (SaveMode.Overwrite,
  * the Complete-mode streaming sink, TRUNCATE-like empty overwrites) and a
  * DROP + re-CREATE of the source retire rows WITHOUT delete records, so
  * the change feed cannot express them as a delta. Refresh detects them —
  * source data files / inline batches ENDED in the window by a snapshot
  * that is not compaction/rewrite/flush, or a changed source table id —
  * and falls back to a FULL recompute at the current snapshot under the
  * same watermark CAS. Correct always; incremental whenever the history is
  * append/DML-only.
  *
  * Scale shape: refresh cost is O(changed bytes) + O(|MV|), with the MV
  * by construction the size of the group domain, not the fact. The merge
  * is a full-outer join of two SMALL inputs; nothing rescans the source
  * (except the replace fallback above and the MIN/MAX dirty-group rescan,
  * both restricted/prunable).
  *
  * Measure types (enforced by [[sumStateType]], shared with the rewrite):
  * SUM/AVG over INTEGRAL columns (bigint state) and DECIMAL columns
  * (decimal(38,s) state — exact-additive, so the same signed fold and
  * rollup algebra apply verbatim; r17). Float/double measures stay
  * rejected: FP addition is order-dependent, so an incrementally-folded
  * sum would drift from the recompute. A group whose summed
  * column is entirely NULL reports sum 0, not NULL (the additive
  * identity); `cnt_<c>` = COUNT(<c>) counts non-NULLs, and `avg_<c>` =
  * sum/cnt is NULL when cnt is 0 (matching SQL AVG). MIN/MAX maintain via
  * monotone fold on inserts + dirty-group recompute on deletes. `filterSql`
  * is a Spark SQL boolean expression over source columns, applied
  * uniformly to the initial compute, the change rows (pre AND post images,
  * so updates moving rows across the predicate fold correctly), and every
  * recompute path.
  */
object LakeMaterializedView {

  private[lake] val KSource = "mv_source"
  private[lake] val KSourceTid = "mv_source_tid"
  private[lake] val KGroups = "mv_groups"
  private[lake] val KSums = "mv_sums"
  private[lake] val KCnts = "mv_cnts"
  private[lake] val KAvgs = "mv_avgs"
  private[lake] val KMinMax = "mv_minmax"
  private[lake] val KFilter = "mv_filter"
  private[lake] val KLast = "mv_last"
  private[lake] val KDim = "mv_dim"
  private[lake] val KDimTid = "mv_dim_tid"
  private[lake] val KDimKeys = "mv_dim_keys"
  /** expression-backed group keys (r17): one tag PER KEY —
    * `mv_group_expr.<name>` → the defining Spark SQL expression — because
    * expression text may contain the ','/';'/'=' the list tags reserve.
    * The key NAME still rides in mv_groups with the plain columns. */
  private[lake] val KGroupExprPrefix = "mv_group_expr."

  /** The resolved definition + applied watermark of table `tid` at `snap`
    * when it IS a materialized view — the read-side contract
    * [[LakeMvRewrite]] matches queries against (r16). `dims` carries each
    * dim's CREATE-time table id and (leftCol, dimCol) join keys. */
  private[lake] case class MvInfo(
      groups: Seq[String], sums: Seq[String], cnts: Seq[String],
      avgs: Seq[String], minMax: Seq[String], filterSql: Option[String],
      dims: Seq[(Long, Seq[(String, String)])], last: Long, sourceTid: Long,
      groupExprs: Map[String, String] = Map.empty) {
    val sumAll: Set[String] = (sums ++ avgs).toSet
    val cntAll: Set[String] = (cnts ++ avgs).toSet
    def hasDims: Boolean = dims.nonEmpty
  }
  private[lake] def infoAt(st: Meta.CatalogState, tid: Long, snap: Long)
      : Option[MvInfo] = {
    val scope = tid.toString
    def tag(k: String) = st.tagAt(scope, k, snap)
    def list(k: String) = tag(k).map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val dims: Seq[(Long, Seq[(String, String)])] =
      (tag(KDimTid), tag(KDimKeys)) match {
        case (Some(tids), Some(keys)) =>
          tids.split(';').toSeq.zip(keys.split(';').toSeq).map { case (t, ks) =>
            (t.toLong, ks.split(',').toSeq.map { kv =>
              val Array(fk, dk) = kv.split("=", 2); (fk, dk)
            })
          }
        case _ => Nil
      }
    val gx: Map[String, String] = st.tags.iterator
      .filter(t => t.scope == scope && t.key.startsWith(KGroupExprPrefix) &&
        Meta.liveAt(t.begin, t.end, snap))
      .map(t => t.key.drop(KGroupExprPrefix.length).toLowerCase -> t.value)
      .toMap
    for { groups <- tag(KGroups); last <- tag(KLast); srcTid <- tag(KSourceTid) }
      yield MvInfo(groups.split(',').toSeq.filter(_.nonEmpty), list(KSums),
        list(KCnts), list(KAvgs), list(KMinMax), tag(KFilter),
        dims, last.toLong, srcTid.toLong, gx)
  }

  /** SUM/AVG measure eligibility — the ONE definition shared by create and
    * [[LakeMvRewrite]] (VERDICT r16 #4). Maps an eligible source column
    * type (catalog DDL string) to its additive STATE type: BIGINT for the
    * signed-integral chain, DECIMAL(38,s) for decimals — both
    * exact-additive, so the ±1-weighted delta fold and the rollup Σsum
    * algebra are order-independent. Float/double return None: FP sums are
    * order-dependent (a refresh-order-dependent MV would drift from the
    * recompute), so such measures are rejected at create and never served. */
  private[lake] val DecimalDdl = """decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r
  private[lake] def sumStateType(ddl: String)
      : Option[org.apache.spark.sql.types.DataType] =
    ddl.trim.toLowerCase match {
      case "tinyint" | "smallint" | "int" | "integer" | "bigint" =>
        Some(org.apache.spark.sql.types.LongType)
      case DecimalDdl(_, s) =>
        Some(org.apache.spark.sql.types.DecimalType(38, s.toInt))
      case _ => None
    }

  /** can the stored state type serve a query SUM of result type `query`
    * exactly (modulo a widening cast)? Shared with [[LakeMvRewrite]]. */
  private[lake] def sumServes(state: org.apache.spark.sql.types.DataType,
      query: org.apache.spark.sql.types.DataType): Boolean =
    (state, query) match {
      case (org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.LongType) => true
      case (s: org.apache.spark.sql.types.DecimalType,
        q: org.apache.spark.sql.types.DecimalType) => s.scale == q.scale
      case _ => false
    }

  /** left ⋈ dim enrichment: `keys` are (leftCol, dimCol) equi-join pairs.
    * `leftCol` is a column of the ACCUMULATED joined frame — the fact for
    * a star schema, or an earlier dim's carried column for a snowflake
    * chain (dims join in definition order). */
  private case class DimSpec(table: String, keys: Seq[(String, String)])

  /** resolved definition; sumAll/cntAll fold the implicit state AVG needs.
    * `stateTypes` carries each sumAll column's additive state type
    * ([[sumStateType]]) — LongType when absent (pre-decimal catalogs). */
  private case class MvDef(
      groupCols: Seq[String], sumCols: Seq[String], cntCols: Seq[String],
      avgCols: Seq[String], minMaxCols: Seq[String],
      filterSql: Option[String], dims: Seq[DimSpec] = Nil,
      stateTypes: Map[String, org.apache.spark.sql.types.DataType] = Map.empty,
      groupExprs: Seq[(String, String)] = Nil) {
    val sumAll: Seq[String] = (sumCols ++ avgCols).distinct
    val cntAll: Seq[String] = (cntCols ++ avgCols).distinct
    def stateT(c: String): org.apache.spark.sql.types.DataType =
      stateTypes.getOrElse(c, org.apache.spark.sql.types.LongType)
  }

  /** Materialize expression-backed group keys as named columns on any
    * frame the fold reads (source rows AND change rows — the key
    * re-derives on delta rows, keeping refresh O(changed bytes)). A
    * frame already carrying the column just recomputes it in place
    * (withColumn replaces; the expression is deterministic by the create
    * guard, so the value is identical). */
  private def withGroupExprs(d: MvDef, df: DataFrame): DataFrame =
    d.groupExprs.foldLeft(df) { case (acc, (n, sql)) =>
      acc.withColumn(n, expr(sql)) }

  /** Enrich `fact` rows (the fact table, or its CHANGE rows — any extra
    * columns like `_change_type` pass through) with the `dim` frame's
    * non-key columns via an INNER broadcast equi-join. Either side may be
    * a snapshot-pinned table or a change feed (refresh passes the dim AS
    * OF the matching state, and the dim-delta path passes the dim's
    * change rows as the dim). At 100 TB the dim is the small side by
    * definition, so every refresh broadcasts it once and the fold stays
    * O(changed bytes). Fact rows with no dim match are OUTSIDE the view
    * (inner semantics), symmetrically for pre- and post-images, so
    * key-moving fact updates net out. */
  private def joinDim(fact: DataFrame, dim: DataFrame, ds: DimSpec): DataFrame = {
    val f = fact.alias("_mvf")
    val dm = broadcast(dim.alias("_mvd"))
    val cond = ds.keys.map { case (fk, dk) =>
      col(s"_mvf.$fk") === col(s"_mvd.$dk") }.reduce(_ && _)
    val dimKeep = dim.columns.filterNot(ds.keys.map(_._2).toSet)
    f.join(dm, cond, "inner")
      .select(fact.columns.map(c => col(s"_mvf.$c")).toSeq ++
        dimKeep.map(c => col(s"_mvd.$c")): _*)
  }

  /** The view's input frame at `snap`: the fact table, dim-enriched in
    * definition order when the definition has dims (all sides pinned at
    * the SAME snapshot). */
  private def sourceFrame(lake: Lake, d: MvDef, source: String,
      snap: Option[Long],
      rename: (String, DataFrame) => DataFrame = (_, df) => df): DataFrame =
    d.dims.foldLeft(rename(source, lake.table(source, snap)))((acc, ds) =>
      joinDim(acc, rename(ds.table, lake.table(ds.table, snap)), ds))

  private def withAvg(d: MvDef, df: DataFrame): DataFrame =
    d.avgCols.foldLeft(df)((acc, c) => acc.withColumn(s"avg_$c",
      when(col(s"cnt_$c") > 0,
        col(s"sum_$c").cast("double") / col(s"cnt_$c"))))

  private def fullAgg(d: MvDef)(src: DataFrame): DataFrame = {
    val src1 = withGroupExprs(d, src)
    val df = d.filterSql.map(f => src1.filter(expr(f))).getOrElse(src1)
    val aggs = (count(lit(1)).cast("long").as("n_rows") +:
      (d.sumAll.map(c => coalesce(sum(col(c)).cast(d.stateT(c)),
        lit(0L).cast(d.stateT(c))).as(s"sum_$c")) ++
        d.cntAll.map(c => count(col(c)).cast("long").as(s"cnt_$c")) ++
        d.minMaxCols.flatMap(c => Seq(min(col(c)).as(s"min_$c"),
          max(col(c)).as(s"max_$c")))))
    withAvg(d, df.groupBy(d.groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*))
  }

  /** Create `name` as a materialized grouped aggregate of `source` at the
    * CURRENT snapshot; the definition and the applied watermark land in
    * the same commit as the initial full compute. The table create and
    * the data+definition append are two commits; a failed append drops
    * the half-created table so no plain empty table is left behind.
    *
    * `minMaxCols` adds `min_<c>`/`max_<c>` columns. MIN/MAX are not
    * additive — inserts fold monotonically, but a delete can retire the
    * current extremum — so refresh recomputes DIRTY groups (those with a
    * delete or update_preimage in the window) from the source restricted
    * to exactly those groups: when the group column is the source's
    * partition or sort key, that rescan file-prunes through the runtime
    * filter machinery instead of scanning the fact.
    *
    * `cntCols` adds `cnt_<c>` (= COUNT(c), non-NULLs); `avgCols` adds
    * `avg_<c>` (= AVG(c), double, NULL on empty) and implicitly maintains
    * the `sum_<c>`/`cnt_<c>` state it derives from; `filterSql` restricts
    * the view to source rows satisfying a SQL predicate. */
  /** `groupExprs` (r17) adds EXPRESSION-backed group keys — (name,
    * sparkSqlExpr) pairs, e.g. `("o_day", "date_trunc('DAY', o_orderdate)")`
    * — the time-bucket reporting MV shape. The expression materializes as
    * a named column at create and on every delta fold (still O(changed
    * bytes)); [[LakeMvRewrite]] matches it against a query's grouping
    * expression by resolving the stored SQL against the query relation
    * and comparing canonicalized forms. Expressions must be deterministic
    * and their names must not collide with source/dim columns. */
  def create(lake: Lake, name: String, source: String,
      groupCols: Seq[String], sumCols: Seq[String],
      minMaxCols: Seq[String] = Nil, cntCols: Seq[String] = Nil,
      avgCols: Seq[String] = Nil, filterSql: Option[String] = None,
      dimTable: Option[String] = None,
      dimKeys: Seq[(String, String)] = Nil,
      dims: Seq[(String, Seq[(String, String)])] = Nil,
      groupExprs: Seq[(String, String)] = Nil,
      rewrite: Option[String] = None): Long = {
    require(groupCols.nonEmpty || groupExprs.nonEmpty,
      "materialized view needs at least one group column")
    // per-view rewrite scoping (r17 stretch): lands as the table-scoped
    // catalog option `mv.rewrite` in the SAME commit as the definition —
    // `off` blocks serving even when the session rule is armed,
    // `fresh`/`refresh` pin this view's mode; settable later via
    // set_option("mv.rewrite", …, table = Some(name))
    rewrite.foreach(v => require(Set("off", "fresh", "refresh")(v.toLowerCase),
      s"mv rewrite option must be off|fresh|refresh, got $v"))
    require(dimTable.isEmpty == dimKeys.isEmpty,
      "dimTable and dimKeys must be given together")
    require(dimTable.isEmpty || dims.isEmpty,
      "give either dimTable/dimKeys (single dim) or dims (N dims), not both")
    // N dims join in DEFINITION order; a snowflake chain keys a later dim
    // off an earlier dim's carried column (joinDim resolves left keys
    // against the accumulated frame)
    val dimSpecs: Seq[DimSpec] = dimTable.map(dt => DimSpec(dt, dimKeys)).toSeq ++
      dims.map { case (t, ks) => DimSpec(t, ks) }
    dimSpecs.foreach(s => require(s.keys.nonEmpty,
      s"dim ${s.table} needs at least one join key"))
    val allGroupCols = groupCols ++ groupExprs.map(_._1)
    require(allGroupCols.map(_.toLowerCase).distinct.size == allGroupCols.size,
      s"mv group key names must be distinct: $allGroupCols")
    val d0 = MvDef(allGroupCols, sumCols, cntCols, avgCols, minMaxCols,
      filterSql, dimSpecs, groupExprs = groupExprs)
    // the definition persists as comma-joined (';'-separated per dim) tags
    (allGroupCols ++ sumCols ++ cntCols ++ avgCols ++ minMaxCols ++
      dimSpecs.flatMap(_.keys.flatMap(k => Seq(k._1, k._2)))).foreach(c =>
      require(!c.contains(",") && !c.contains("=") && !c.contains(";"),
        s"mv column name must not contain ',', '=' or ';': $c"))
    dimSpecs.foreach(s => require(!s.table.contains(";") && !s.table.contains(","),
      s"mv dim table name must not contain ';' or ',': ${s.table}"))
    val st = lake.store.state()
    val srcEntry = lake.schemaOf(source)
    val se = st.tableAt(srcEntry._1, srcEntry._2, st.currentSnapshotId)
      .getOrElse(throw new NoSuchElementException(s"no table $source"))
    val factTypes = st.columnsAt(se.tableId, st.currentSnapshotId)
      .map(c => c.name -> c.dataType.toLowerCase).toMap
    // with dims, aggregate/group columns may come from any side; each dim's
    // JOIN-KEY columns are dropped from the joined frame (the left key
    // column carries the value), so they are not referenceable
    var types = factTypes
    val dimEntries = dimSpecs.map { ds =>
      val (dsn, dtn) = lake.schemaOf(ds.table)
      val de = st.tableAt(dsn, dtn, st.currentSnapshotId)
        .getOrElse(throw new NoSuchElementException(s"no table ${ds.table}"))
      val dimTypes = st.columnsAt(de.tableId, st.currentSnapshotId)
        .map(c => c.name -> c.dataType.toLowerCase).toMap
      ds.keys.foreach { case (lk, dk) =>
        require(types.contains(lk),
          s"no join column $lk in the accumulated frame (fact + earlier dims) for dim ${ds.table}")
        require(dimTypes.contains(dk), s"no join column $dk in dim ${ds.table}")
      }
      val dimKeep = dimTypes -- ds.keys.map(_._2)
      val overlap = types.keySet & dimKeep.keySet
      require(overlap.isEmpty,
        s"dim ${ds.table} and the accumulated frame share non-key column names (alias one side): $overlap")
      types ++= dimKeep
      de
    }
    val stateTypes = d0.sumAll.map { c =>
      val t = types.getOrElse(c, sys.error(s"no column $c in $source"))
      c -> sumStateType(t).getOrElse(throw new IllegalArgumentException(
        s"mv SUM/AVG column $c must be exact-additive (integral or " +
        s"decimal; float/double sums are order-dependent), got $t"))
    }.toMap
    val d = d0.copy(stateTypes = stateTypes)
    (cntCols ++ minMaxCols).foreach(c =>
      require(types.contains(c), s"no column $c in $source"))
    groupExprs.foreach { case (n, _) =>
      require(!types.keys.exists(_.equalsIgnoreCase(n)),
        s"mv group expression name $n collides with a source/dim column " +
        "(the rewrite would be ambiguous); pick a fresh name")
    }
    val snap = st.currentSnapshotId
    // expression keys must be deterministic: the fold re-derives them on
    // delta rows, so a nondeterministic key (rand(), now()) would place
    // the same row in different groups across refreshes
    groupExprs.foreach { case (n, esql) =>
      val probe = sourceFrame(lake, d, source, Some(snap))
        .select(expr(esql).as(n)) // resolves or throws AnalysisException
      require(probe.queryExecution.analyzed.expressions.forall(_.deterministic),
        s"mv group expression $n must be deterministic: $esql")
    }
    val full = fullAgg(d)(sourceFrame(lake, d, source, Some(snap)))
    lake.createTable(name, full.schema)
    val (sn, tn) = lake.schemaOf(name)
    try {
      LakeWrite.append(lake.spark, lake.store, sn, tn, full,
        changeTag = "inserted",
        extraTags = (stc, sid) => {
          val tid = stc.tableAt(sn, tn, stc.currentSnapshotId).get.tableId.toString
          (List(
            TagEntry(tid, KSource, source, sid, None),
            TagEntry(tid, KSourceTid, se.tableId.toString, sid, None),
            TagEntry(tid, KGroups, allGroupCols.mkString(","), sid, None),
            TagEntry(tid, KSums, sumCols.mkString(","), sid, None),
            TagEntry(tid, KCnts, cntCols.mkString(","), sid, None),
            TagEntry(tid, KAvgs, avgCols.mkString(","), sid, None),
            TagEntry(tid, KMinMax, minMaxCols.mkString(","), sid, None)) ++
            groupExprs.map { case (n, esql) =>
              TagEntry(tid, s"$KGroupExprPrefix$n", esql, sid, None) } ++
            rewrite.map(v =>
              TagEntry(tid, "mv.rewrite", v.toLowerCase, sid, None)) ++
            filterSql.map(f => TagEntry(tid, KFilter, f, sid, None)) ++
            // N dims: ';'-separated per dim (a single dim reads identically
            // to the r14 format, so old catalogs parse unchanged)
            (if (dimSpecs.isEmpty) Nil else List(
              TagEntry(tid, KDim, dimSpecs.map(_.table).mkString(";"), sid, None),
              TagEntry(tid, KDimTid,
                dimEntries.map(_.tableId).mkString(";"), sid, None),
              TagEntry(tid, KDimKeys, dimSpecs.map(
                _.keys.map(k => s"${k._1}=${k._2}").mkString(","))
                .mkString(";"), sid, None))) ++
            List(TagEntry(tid, KLast, snap.toString, sid, None)), Nil)
        })
    } catch {
      case e: Throwable =>
        // non-atomic create (table commit then data commit): don't leave a
        // half-created plain table a reader could observe or refresh trip on
        try lake.dropTable(name) catch { case _: Throwable => () }
        throw e
    }
  }

  /** Fold the change feed since the last refresh into the MV. Returns the
    * newly-applied source snapshot id (== previous watermark when there
    * was nothing to apply). */
  def refresh(lake: Lake, name: String): Long = {
    val st = lake.store.state()
    val (sn, tn) = lake.schemaOf(name)
    val e = st.tableAt(sn, tn, st.currentSnapshotId)
      .getOrElse(throw new NoSuchElementException(s"no materialized view $name"))
    val scope = e.tableId.toString
    def tag(k: String): String = st.tagAt(scope, k, st.currentSnapshotId)
      .getOrElse(throw new IllegalStateException(s"$name is not a materialized view (missing $k)"))
    def optList(k: String): Seq[String] = st.tagAt(scope, k, st.currentSnapshotId)
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val source = tag(KSource)
    // ';' separates dims (absent in r14 single-dim catalogs, which parse
    // identically as one-element lists)
    val dimSpecs: Seq[DimSpec] = st.tagAt(scope, KDim, st.currentSnapshotId)
      .map { dts =>
        dts.split(';').toSeq.zip(tag(KDimKeys).split(';').toSeq).map {
          case (dt, ks) => DimSpec(dt, ks.split(',').toSeq.map { kv =>
            val Array(fk, dk) = kv.split("=", 2); (fk, dk)
          })
        }
      }.getOrElse(Nil)
    val groupExprTags: Seq[(String, String)] = st.tags
      .filter(t => t.scope == scope && t.key.startsWith(KGroupExprPrefix) &&
        Meta.liveAt(t.begin, t.end, st.currentSnapshotId))
      .map(t => t.key.drop(KGroupExprPrefix.length) -> t.value)
      .sortBy(_._1)
    val d1 = MvDef(
      groupCols = tag(KGroups).split(',').toSeq,
      sumCols = optList(KSums), cntCols = optList(KCnts),
      avgCols = optList(KAvgs), minMaxCols = optList(KMinMax),
      filterSql = st.tagAt(scope, KFilter, st.currentSnapshotId),
      dims = dimSpecs, groupExprs = groupExprTags)
    // the MV table's OWN sum_<c> column types are the authoritative state
    // types (decimal(38,s) for decimal measures, bigint otherwise) — they
    // survive source ALTER TYPE widenings, which never change the state
    // type (int chain stays bigint; decimal scale changes don't promote)
    val mvColTypes = st.columnsAt(e.tableId, st.currentSnapshotId)
      .map(c => c.name -> c.dataType).toMap
    val d = d1.copy(stateTypes = d1.sumAll.flatMap(c =>
      mvColTypes.get(s"sum_$c").map(t => c -> LakeRead.sparkType(t))).toMap)
    val last = tag(KLast).toLong
    val cur = st.currentSnapshotId
    if (cur <= last) return last

    val (ssn, stn) = lake.schemaOf(source)
    val srcTid = st.tableAt(ssn, stn, cur)
      .getOrElse(throw new NoSuchElementException(s"no table $source")).tableId
    val dimTids: Seq[Long] = dimSpecs.map { ds =>
      val (dsn, dtn) = lake.schemaOf(ds.table)
      st.tableAt(dsn, dtn, cur)
        .getOrElse(throw new NoSuchElementException(s"no table ${ds.table}")).tableId
    }
    def in(b: Long) = b > last && b <= cur

    // RENAME translation (r15): the def tags hold column names as of the
    // snapshot the definition began; a SOURCE/DIM rename since then leaves
    // the def referencing ghosts. Rather than rewriting the stored def (or
    // the MV's own output columns — PG keeps MV column names from create),
    // every frame the refresh reads is aligned BACK to the definition
    // epoch's names by columnId (rename-only: current physical types
    // kept). Zero-cost no-op for rename-free histories.
    val defBegin: Long = st.tags
      .find(t => t.scope == scope && t.key == KGroups &&
        Meta.liveAt(t.begin, t.end, st.currentSnapshotId))
      .map(_.begin).getOrElse(cur)
    def defAligned(tbl: String, snap: Long)(df: DataFrame): DataFrame = {
      val (tsn, ttn) = lake.schemaOf(tbl)
      st.tableAt(tsn, ttn, snap).map(e => LakeRead.alignColumns(
        st, e.tableId, snap, defBegin, df, castTo = false)).getOrElse(df)
    }

    // DDL guard (r16): a def-referenced column DROPPED since the MV was
    // created must fail the refresh loudly — alignColumns would otherwise
    // null-fill it and the SUM/MIN/MAX deltas would silently poison the
    // stored group state (ALTER TABLE carries no MV-dependency check).
    // Resolution is by columnId, so RENAMEs pass (translated back to the
    // def epoch's names) while DROP — and drop+re-add, which mints a new
    // columnId — fails with a recreate instruction. Filter columns are
    // matched by identifier token (conservative: a literal word that
    // happens to equal a dropped column name also trips — loud > silent).
    val refNames: Set[String] = (d.groupCols ++ d.sumCols ++ d.cntCols ++
      d.avgCols ++ d.minMaxCols ++
      d.dims.flatMap(_.keys.flatMap { case (fk, dk) => Seq(fk, dk) }) ++
      (d.filterSql.toSeq ++ d.groupExprs.map(_._2))
        .flatMap(f => """[A-Za-z_]\w*""".r.findAllIn(f))).toSet
    ((source, srcTid) +: dimSpecs.map(_.table).zip(dimTids)).foreach {
      case (t, tid) =>
        val atCur = st.columnsAt(tid, cur).map(_.columnId).toSet
        st.columnsAt(tid, defBegin)
          .filter(c => refNames(c.name) && !atCur(c.columnId)).foreach { c =>
            throw new IllegalStateException(
              s"materialized view $name: column ${c.name} of $t is " +
              "referenced by the view definition but was dropped after the " +
              "view was created; drop and recreate the materialized view")
          }
    }

    // the watermark-CAS'd MV overwrite, shared by both refresh paths
    def commitMv(merged: DataFrame): Unit =
      LakeWrite.append(lake.spark, lake.store, sn, tn, merged, overwrite = true,
        changeTag = "updated",
        extraTags = (stc, sid) => {
          // in-commit re-check (the sink's idiom): a concurrent refresh
          // that already advanced the watermark aborts this one at the CAS
          val nowLast = stc.tagAt(scope, KLast, stc.currentSnapshotId)
            .map(_.toLong).getOrElse(-1L)
          if (nowLast != last) throw new ConcurrentMvRefreshException(
            s"concurrent refresh of $name already applied snapshot $nowLast")
          (List(TagEntry(scope, KLast, cur.toString, sid, None),
            TagEntry(scope, KSourceTid, srcTid.toString, sid, None)) ++
            (if (dimTids.isEmpty) Nil else List(
              TagEntry(scope, KDimTid, dimTids.mkString(";"), sid, None))),
            List(s"$scope:$KLast", s"$scope:$KSourceTid") ++
              (if (dimTids.isEmpty) Nil else List(s"$scope:$KDimTid")))
        })

    // LOGICAL REPLACE detection: the change feed reports inserts from new
    // files and deletes from delete files / inline-batch shrinkage — but an
    // overwrite (SaveMode.Overwrite, Complete-mode sink, truncate) retires
    // the old files via endedFiles with NO delete records, and a DROP +
    // re-CREATE changes the table id entirely. Folding such a window as a
    // delta double-counts (or, for an empty overwrite, misses the truncate
    // altogether). Detect: source data files ended in the window by a
    // non-maintenance snapshot (compaction/rewrite/flush end files without
    // changing data; row-level DML never ends data files), or inline
    // batches ended by an insert-tagged snapshot (DML inline rewrites carry
    // deleted/updated/merged tags and proper pre-images), or a source tid
    // that differs from the one recorded at create / last refresh.
    // False positives (e.g. a transaction combining DML with compaction)
    // only cost a recompute, never correctness.
    //
    // Classification is per CHANGE ENTRY and per TABLE, never by the head
    // entry: a transaction snapshot concatenates one entry per staged op
    // (LakeTransaction.merge), so the head may belong to a different op —
    // a tx led by setSort would tag its source append 'sort' (the
    // early-out below would leave the MV stale after an explicit refresh),
    // and a maintenance-led tx that also overwrites the source would
    // classify the replace 'compacted' (the delta fold would
    // double-count). Entries are "tag:tid[:detail]".
    val snapChanges: Map[Long, List[String]] = st.snapshots.iterator
      .map(s => s.snapshotId -> s.changes).toMap
    def hasTagFor(tid: Long)(sid: Long, tags: Set[String]): Boolean =
      snapChanges.getOrElse(sid, Nil).exists(c =>
        tags.exists(t => c == s"$t:$tid" || c.startsWith(s"$t:$tid:")))
    val maintenance = Set("compacted", "rewrote", "flushed")
    val insertish = Set("inserted", "inlined")
    val logical = Set("inserted", "inlined", "deleted", "updated", "merged")
    /** table `tid` was replaced in the window (the source or a dim) */
    def replacedIn(tid: Long): Boolean = {
      val tagged = hasTagFor(tid) _
      st.files.exists(f => f.tableId == tid &&
          // a data-file end is benign only when maintenance moved the
          // bytes AND no insert op on the SAME snapshot could have been
          // the overwrite that actually ended it
          f.end.exists(s => in(s) && (!tagged(s, maintenance) || tagged(s, insertish)))) ||
        st.inlined.exists(b => b.tableId == tid &&
          b.end.exists(s => in(s) && tagged(s, insertish)))
    }
    /** table `tid` changed logically in the window: data files, delete
      * files or inline batches created by a LOGICAL snapshot, or inline
      * batches ended by one (inline-row deletes). Compaction, rewrite and
      * flush create and end files too but move bytes without changing
      * rows — the change feed skips them, and so does this test. */
    def changedIn(tid: Long): Boolean = {
      def logicalIn(s: Long) = in(s) && hasTagFor(tid)(s, logical)
      st.files.exists(f => f.tableId == tid && logicalIn(f.begin)) ||
        st.deleteFiles.exists(df => df.tableId == tid && logicalIn(df.begin)) ||
        st.inlined.exists(b => b.tableId == tid &&
          (logicalIn(b.begin) || b.end.exists(logicalIn)))
    }
    val replaced =
      // a window missing an expired snapshot has no complete change feed
      !st.hasAllSnapshots(last, cur) ||
        st.tagAt(scope, KSourceTid, cur).exists(_.toLong != srcTid) || replacedIn(srcTid)

    // DIM changes (join-source MVs, r14 — VERDICT r13 #4): the MV state
    // folded fact rows against the dim AS OF the last refresh, so a dim
    // change regroups already-folded rows that no fact delta can repair.
    // Classified like the fact side:
    //   - REPLACE (tid moved, overwrite-style file ends, insert-ended
    //     inline batches): the change feed can't express it → FULL
    //     recompute at cur, as before.
    //   - DELTA (row-level DML the dim change feed expresses): fold the
    //     DIM feed too, via the exact incremental-join identity
    //       Δ(F⋈D) = ΔF⋈D_last + F_cur⋈ΔD
    //     — fact change rows join the dim AS OF `last` (the state their
    //     folds were made under), and every dim change row joins the
    //     key-restricted CURRENT fact, signed by the DIM image (+1 post /
    //     −1 pre). Both streams union into one signed change-row frame,
    //     so sums/counts/avg fold with NO recompute at all, and MIN/MAX
    //     retirement falls out of the existing dirty-group filter (every
    //     −1 row marks its group dirty, dim-driven ones included).
    //     Cost: O(dim changed bytes) + one key-IN-restricted fact probe
    //     (file-pruned when the fact key is a partition/sort key).
    // Past `spark.graft.mv.dimDeltaMaxKeys` changed keys the key probe
    // loses to the scan it avoids → full recompute. Pure dim MAINTENANCE
    // (compaction / rewrite / flush) moves bytes, not rows → nothing.
    val recordedDimTids: Seq[Long] = st.tagAt(scope, KDimTid, cur)
      .map(_.split(';').toSeq.map(_.toLong)).getOrElse(Nil)
    val dimReplaced = dimTids.zipWithIndex.exists { case (dt, i) =>
      recordedDimTids.lift(i).exists(_ != dt) || replacedIn(dt)
    }
    // !replaced: a fact replace full-recomputes below regardless — don't
    // pay the dim change-feed jobs + driver probes just to discard them
    val changedDims: Seq[Int] =
      if (replaced || dimReplaced) Nil
      else dimTids.zipWithIndex.collect { case (dt, i) if changedIn(dt) => i }
    // N-dim telescoping of the exact identity (one term per changed dim):
    //   Δ(F⋈D₁⋈…⋈Dₙ) = ΔF⋈D₁ₗ⋈…⋈Dₙₗ + Σᵢ F꜀⋈D₁꜀⋈…⋈Dᵢ₋₁꜀⋈ΔDᵢ⋈Dᵢ₊₁ₗ⋈…⋈Dₙₗ
    // — dim i's term joins EARLIER dims at CUR and LATER dims at LAST
    // (join is multilinear over signed row multisets, so the terms sum
    // exactly even when several dims changed in one window). Each changed
    // dim gets its own BOUNDED key probe; any overflow falls back to the
    // full recompute (per-dim dimDeltaMaxKeys fallback).
    var dimOverflow = false
    val dimDeltaTerms: Seq[DataFrame] = if (changedDims.isEmpty) Nil else {
      // a malformed knob value must degrade to the default, never abort
      // the refresh (the recompute fallback is the safety net, not NFE)
      val maxKeys = lake.spark.conf
        .getOption("spark.graft.mv.dimDeltaMaxKeys")
        .flatMap(_.toIntOption).getOrElse(1000)
      changedDims.flatMap { i =>
        if (dimOverflow) None else {
          val ds = d.dims(i)
          val dimCh = defAligned(ds.table, cur)(
            lake.tableChanges(ds.table, last, cur))
          val keyRows = dimCh.select(ds.keys.map(k => col(k._2)): _*)
            .distinct().limit(maxKeys + 1).collect()
          if (keyRows.length > maxKeys) { dimOverflow = true; None }
          else if (keyRows.isEmpty) None // NULL-only keys never join
          else {
            // per-column IN prefilter: exact for single-column keys, a
            // conservative superset for composite keys (the equi-join below
            // is exact either way — the IN only exists to push through the
            // earlier joins into the owning scan and prune files via zone
            // maps / hidden partitions)
            val keyVals: Seq[Seq[Any]] = ds.keys.indices.map(j =>
              keyRows.map(_.get(j)).filter(_ != null).distinct.toSeq)
            if (keyVals.exists(_.isEmpty)) None
            else {
              val accum = d.dims.take(i).foldLeft(
                defAligned(source, cur)(lake.table(source, Some(cur))))(
                (acc, dsj) => joinDim(acc,
                  defAligned(dsj.table, cur)(lake.table(dsj.table, Some(cur))), dsj))
              val restricted = ds.keys.map(_._1).zip(keyVals).foldLeft(accum) {
                case (df, (lk, vs)) => df.filter(col(lk).isin(vs: _*)) }
              // …⋈ΔDᵢ: the dim change rows play the dim role, their
              // `_change_type` rides through joinDim's dim-side keep list
              // and is re-signed to the fact vocabulary the delta fold speaks
              val term0 = joinDim(restricted, dimCh, ds)
                .withColumn("_change_type",
                  when(col("_change_type").isin("insert", "update_postimage"),
                    lit("insert")).otherwise(lit("delete")))
              Some(d.dims.drop(i + 1).foldLeft(term0)((acc, dsj) =>
                joinDim(acc,
                  defAligned(dsj.table, last)(lake.table(dsj.table, Some(last))),
                  dsj)))
            }
          }
        }
      }
    }
    if (replaced || dimReplaced || dimOverflow) {
      commitMv(fullAgg(d)(sourceFrame(lake, d, source, Some(cur),
        (t, df) => defAligned(t, cur)(df))))
      return cur
    }

    // no-op early-out WITHOUT a commit: snapshot ids are lake-global (the
    // MV's own refreshes advance them), so `cur > last` alone does not
    // mean the SOURCE changed — without this check a periodic refresh on
    // an idle source rewrites the whole MV every call (O(|MV|) write
    // amplification + snapshot churn). Catalog vectors are in memory;
    // maintenance alone (which used to defeat the early-out and force an
    // empty-delta MV rewrite) is no logical change. Replaces were handled
    // above.
    val sourceChanged = changedIn(srcTid)
    if (!sourceChanged && dimDeltaTerms.isEmpty) return last

    // persist: the change-feed scan is embedded up to three times in the
    // merged plan (delta agg, dirty anti, dirty semi) — same idiom as
    // LakeWrite.delete/update's `matched`. A filtered MV filters the
    // change ROWS (pre and post images independently), so a row updated
    // across the predicate boundary nets out to the right ±1.
    // join-source MVs enrich the change rows with the dim before the
    // filter: `_change_type` passes through the join, and pre/post images
    // of a JOIN-KEY-moving fact update land in their respective dim groups
    // with the right ±1 signs. When the DIM itself changed in the window
    // the identity Δ(F⋈D) = ΔF⋈D_last + F_cur⋈ΔD applies: fact changes
    // join the dim AS OF `last` (both images — that is the state their
    // folds were made under; F_cur⋈ΔD repairs the key's regrouping), and
    // the signed dim-delta rows union in. With an unchanged dim,
    // D_last ≡ D_cur and the plain @cur join stands.
    val changes0 = defAligned(source, cur)(lake.tableChanges(source, last, cur))
    val changes1 =
      if (d.dims.isEmpty) changes0
      // a dim-only refresh (ΔF provably empty by the sourceChanged probe)
      // skips the ΔF⋈D joins entirely — planning them would still build
      // and broadcast every dim for zero fact rows
      else if (!sourceChanged) dimDeltaTerms.reduce(_ unionByName _)
      else {
        // ΔF joins every dim at LAST per the identity; dims unchanged in
        // the window have D_last ≡ D_cur, so the no-dim-change refresh
        // keeps reading them at cur exactly as before
        val dimAtSnap = if (dimDeltaTerms.isEmpty) cur else last
        val factSide = d.dims.foldLeft(changes0)((acc, dsj) =>
          joinDim(acc,
            defAligned(dsj.table, dimAtSnap)(lake.table(dsj.table, Some(dimAtSnap))),
            dsj))
        dimDeltaTerms.foldLeft(factSide)(_ unionByName _)
      }
    // expression keys re-derive on the change rows themselves (pre AND
    // post images — a ts-moving update lands its images in their buckets)
    val changes2 = withGroupExprs(d, changes1)
    val changes = d.filterSql.map(f => changes2.filter(expr(f)))
      .getOrElse(changes2).persist()
    try {
      val w = when(col("_change_type").isin("insert", "update_postimage"), 1L)
        .otherwise(-1L)
      // counts/sums are additive over the signed change rows; min/max fold
      // over INSERTED rows only (monotone) — deleted extrema are handled by
      // the dirty-group recompute below
      val ins = col("_change_type").isin("insert", "update_postimage")
      // r17 (guide §2.4, remove shuffles): the retired-extrema bookkeeping
      // rides the SAME aggregate as the delta — a per-group dirty flag —
      // instead of a second distinct over the change rows. The old shape
      // paid one extra exchange for the dirty DISTINCT plus an ANTI join
      // against it; now dirtiness is a column of `delta`, the clean rows
      // are a filter, and the dirty-key frame for the recompute's semi
      // join filters the same aggregated subtree (the exchange reuses).
      val needDirty = d.minMaxCols.nonEmpty
      val delta = changes.groupBy(d.groupCols.map(col): _*)
        .agg(sum(w).as("d_n"),
          d.sumAll.map(c => coalesce(sum(w * col(c)).cast(d.stateT(c)),
            lit(0L).cast(d.stateT(c))).as(s"d_$c")) ++
            d.cntAll.map(c =>
              coalesce(sum(when(col(c).isNotNull, w)), lit(0L)).as(s"d_cnt_$c")) ++
            d.minMaxCols.flatMap(c => Seq(
              min(when(ins, col(c))).as(s"d_min_$c"),
              max(when(ins, col(c))).as(s"d_max_$c"))) ++
            (if (needDirty)
              Seq(max(when(ins, 0L).otherwise(1L)).as("d_dirty")) else Nil): _*)
        // group columns renamed so the joins below can use NULL-SAFE
        // equality: a using-join's EqualTo never matches a NULL group key
        // with itself, which would split a NULL group into stale+delta rows
        .select(d.groupCols.map(c => col(c).as(s"_g_$c")) ++
          (Seq(col("d_n")) ++ d.sumAll.map(c => col(s"d_$c")) ++
            d.cntAll.map(c => col(s"d_cnt_$c")) ++
            d.minMaxCols.flatMap(c => Seq(col(s"d_min_$c"), col(s"d_max_$c"))) ++
            (if (needDirty) Seq(col("d_dirty")) else Nil)): _*)
      def nullSafeCond(right: DataFrame): Column =
        d.groupCols.map(c => col(c) <=> right(s"_g_$c")).reduce(_ && _)
      val old = lake.table(name)
      val folded0 = old.join(delta, nullSafeCond(delta), "full_outer")
        .select(d.groupCols.map(c => coalesce(col(c), col(s"_g_$c")).as(c)) ++
          Seq((coalesce(col("n_rows"), lit(0L)) + coalesce(col("d_n"), lit(0L)))
            .as("n_rows")) ++
          d.sumAll.map(c => (coalesce(col(s"sum_$c"), lit(0L).cast(d.stateT(c))) +
            coalesce(col(s"d_$c"), lit(0L).cast(d.stateT(c))))
            .cast(d.stateT(c)).as(s"sum_$c")) ++
          d.cntAll.map(c => (coalesce(col(s"cnt_$c"), lit(0L)) +
            coalesce(col(s"d_cnt_$c"), lit(0L))).as(s"cnt_$c")) ++
          d.minMaxCols.flatMap(c => Seq(
            least(col(s"min_$c"), col(s"d_min_$c")).as(s"min_$c"),
            greatest(col(s"max_$c"), col(s"d_max_$c")).as(s"max_$c"))) ++
          (if (needDirty)
            Seq(coalesce(col("d_dirty"), lit(0L)).as("_dirty")) else Nil): _*)
        .filter(col("n_rows") > 0)
      val folded = withAvg(d, folded0)
      // Window-level retirement gate (r17): when every logical change in
      // the window is insert-shaped (no deleted/updated/merged snapshot
      // tag on the source, no dim-delta terms), the feed provably contains
      // no delete/update_preimage rows — the extrema fold is monotone and
      // the whole dirty-recompute subplan (a full source scan at 100 TB)
      // never gets planned.
      // mirrors the feed's defensiveness (tableChanges routes insert-tagged
      // snapshots with new delete files into the DML branch): any in-window
      // delete file on the source keeps the dirty-recompute path even if a
      // future op were to create delete files under a different tag
      val retirementsPossible = needDirty && (dimDeltaTerms.nonEmpty ||
        st.snapshots.exists(sn => in(sn.snapshotId) &&
          hasTagFor(srcTid)(sn.snapshotId, Set("deleted", "updated", "merged"))) ||
        st.deleteFiles.exists(df => df.tableId == srcTid && in(df.begin)))
      val merged =
        if (!retirementsPossible) {
          if (needDirty) folded.drop("_dirty") else folded
        } else {
          // groups whose extrema may have RETIRED: recompute them whole
          // from the source restricted to those groups (group-col runtime
          // filter → file pruning when the group is a partition/sort key);
          // all other groups keep the folded monotone min/max. The signed
          // change-row union means dim-driven retirements (a changed key
          // leaving a group) mark their group dirty here too.
          val dirty = delta.filter(col("d_dirty") === 1L)
            .select(d.groupCols.map(c => col(s"_g_$c")): _*)
          val clean = folded.filter(col("_dirty") === 0L).drop("_dirty")
          // PIN the recompute at `cur`: a concurrent source commit between
          // the change-feed read and this scan would otherwise mix two
          // source states inside one refresh (folded groups at cur,
          // recomputed groups at a later snapshot) under a watermark of cur
          val recomputed = fullAgg(d)(
            withGroupExprs(d, sourceFrame(lake, d, source, Some(cur),
              (t, df) => defAligned(t, cur)(df)))
              .join(dirty, nullSafeCond(dirty), "left_semi"))
          clean.unionByName(recomputed)
        }
      commitMv(merged)
    } finally changes.unpersist()
    cur
  }
}
