package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BoundReference, Cast, GenericInternalRow, JsonToStructs}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import Meta._

/** The lake's read entry point for the library's own reads, and the shared
  * pieces of the one scan (SURVEY.md §2.A A2, reference behavior contract:
  * test/regression/sql/vacuum.sql:20-27, time_travel.sql,
  * data_inlining_row_limit.sql).
  *
  * rows(table @ snapshot S) =
  *     Σ over live data files:   parquet rows, read under S's schema by
  *                               column id from the file's schema epoch
  *   ∪ live inlined batches:     JSON rows parsed with their epoch schema
  *                               ([[decodeInline]])
  *   ∖ live delete files:        positions skipped inside the reader
  *
  * Every read runs on [[LakeNativeScan]], Spark's own parquet readers over
  * those files, epochs, deletes and inline rows. SQL reads reach it through
  * the catalog's [[LakeTable]]s; the `Lake` API, DML, the change feed, MV
  * refresh, maintenance and the view expansions through [[scanDF]], a thin
  * adapter that plans the same scan over an internal table. The change
  * feed's reads are scans too: a [[Feed]] scopes one to an explicit file
  * set, tags its rows with their snapshot and change type from metadata,
  * and replaces the live deletes with the window's own — or, for
  * pre-images, keeps only the deleted positions.
  */
object LakeRead {

  /** hidden meta columns the scan can surface for DML */
  val FileCol = "_graft_file"
  val PosCol = "_graft_pos"
  val RowIdCol = "_graft_row_id"
  /** the provenance columns of a change-feed read ([[Feed]]) */
  val ChangeTypeCol = "_change_type"
  val SnapshotIdCol = "_snapshot_id"

  /** A change-feed read: [[scanDF]] over an explicit file and inline-batch
    * set whose rows carry their provenance from metadata.
    * @param tags      data-file name, `inline:<batchId>` or delete part path
    *                  → the (`_snapshot_id`, `_change_type`) of its rows
    * @param deletes   data-file name → the delete parts the read applies,
    *                  in place of the snapshot's live deletes
    * @param preImages keep only the files' deleted positions, each tagged
    *                  by the part that deletes it (inline batches are
    *                  tagged whole either way)
    */
  case class Feed(
      tags: Map[String, (Long, String)],
      deletes: Map[String, Seq[String]] = Map.empty,
      preImages: Boolean = false)

  /** catalog type string → Spark type. "geometry" is a catalog-level
    * annotation over WKB bytes (reference docs/data_types.md GEOMETRY row):
    * it reads/writes as BINARY — stats-ineligible, inline-JSON-ineligible —
    * while the catalog keeps the distinct type for interop (freeze/thaw
    * emit it as geometry, not blob). */
  def sparkType(ddl: String): DataType =
    if (ddl.equalsIgnoreCase("geometry")) BinaryType else DataType.fromDDL(ddl)

  /** normalize nested nullability: data written through the lake is read
    * back with nullable leaves (parquet), so stored column types must not
    * carry NOT NULL inside structs/arrays/maps */
  def relaxNullability(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = relaxNullability(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(relaxNullability(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(relaxNullability(m.keyType), relaxNullability(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Align a frame produced by a snapshot-`from` scan of table `tid` to
    * the column set live at snapshot `to`, mapping by columnId — renames
    * re-alias, columns added after `from` fill their existence default
    * (or null), columns dropped by `to` are projected away. Extra frame
    * columns outside `from`'s data set (change-feed meta columns) pass
    * through untouched. No-op when the (id, name, type) signature is
    * unchanged — every DDL-free window. Used by the change feed so parts
    * scanned at different schema epochs union cleanly under the
    * window-end names (a mid-window RENAME otherwise crashes the feed —
    * and with it every MV refresh and streaming read over that window,
    * permanently). */
  private[graft] def alignColumns(st: CatalogState, tid: Long, from: Long,
      to: Long, df: DataFrame, castTo: Boolean = true): DataFrame = {
    val a = st.columnsAt(tid, from)
    val b = st.columnsAt(tid, to)
    if (a.isEmpty || b.isEmpty) return df // tid unknown at one end: no-op
    if (a.map(c => (c.columnId, c.name, c.dataType)) ==
        b.map(c => (c.columnId, c.name, c.dataType))) return df
    val byId = a.map(c => c.columnId -> c).toMap
    val dataNames = a.map(_.name).toSet
    val meta = df.columns.filterNot(dataNames)
    df.select(b.map { c =>
      byId.get(c.columnId) match {
        case Some(o) =>
          // castTo=false = rename-only (MV def-alignment keeps the CURRENT
          // physical type — casting back to an older epoch's type could
          // NARROW a widened column)
          if (castTo) col(o.name).cast(sparkType(c.dataType)).as(c.name)
          else col(o.name).as(c.name)
        case None => c.existsDefault
          .map(dv => org.apache.spark.sql.functions.expr(dv))
          .getOrElse(lit(null)).cast(sparkType(c.dataType)).as(c.name)
      }
    } ++ meta.map(col): _*)
  }

  def structFor(cols: Seq[ColumnEntry]): StructType =
    StructType(cols.map { c =>
      val f = StructField(c.name, sparkType(c.dataType), c.nullable)
      // surface stored DEFAULTs to the analyzer (INSERT with a column list
      // fills CURRENT_DEFAULT; our scan fills the existence default itself)
      c.defaultValue match {
        case Some(dv) => f.copy(metadata = new MetadataBuilder()
          .putString("CURRENT_DEFAULT", dv)
          .putString("EXISTS_DEFAULT", c.existsDefault.getOrElse(dv)).build())
        case None => f
      }
    })

  /** The inline decoder: the live inlined batches of `tableId` at snapshot
    * `s`, parsed on the driver (no Spark job) into rows of the snapshot's
    * columns (all nullable, as JSON-parsed values are), then the (file, pos,
    * row id) meta columns. Each batch's JSON parses under its own schema
    * epoch with `from_json`'s semantics (default options, session time
    * zone); its columns then map to `s`'s columns by columnId — cast to the
    * current type, or filled with the existence default (null if none) for
    * columns added after the batch was written. Meta columns: file =
    * "inline:<batchId>", pos = index in the batch, the batch's row id. */
  private[lake] def decodeInline(spark: SparkSession, st: CatalogState,
      tableId: Long, s: Long): Vector[InternalRow] = {
    val batches = st.inlinedAt(tableId, s)
    if (batches.isEmpty) return Vector.empty
    val cols = st.columnsAt(tableId, s)
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    lazy val defaults: Map[Long, Any] = cols.map { c =>
      val to = sparkType(c.dataType)
      c.columnId -> c.existsDefault.map(dv => evalConstant(spark, dv, to)).orNull
    }.toMap
    batches.groupBy(_.schemaVersion).toSeq.sortBy(_._1).flatMap { case (sv, bs) =>
      val physCols = st.columnsAt(tableId, sv)
      val physStruct = structFor(physCols)
      val parse = JsonToStructs(physStruct, Map.empty,
        BoundReference(0, StringType, nullable = true), tz)
      val physIdx = physCols.map(_.columnId).zipWithIndex.toMap
      val fills: Seq[InternalRow => Any] = cols.map { c =>
        val to = sparkType(c.dataType)
        physIdx.get(c.columnId) match {
          case Some(i) =>
            val read = BoundReference(i, physStruct(i).dataType, nullable = true)
            val e = if (read.dataType == to) read else Cast(read, to, tz)
            (r: InternalRow) => if (r == null) null else e.eval(r)
          case None =>
            val v = defaults(c.columnId)
            (_: InternalRow) => v
        }
      }
      bs.flatMap { b =>
        val file = UTF8String.fromString(s"inline:${b.batchId}")
        b.rowsJson.zip(b.ids).zipWithIndex.map { case ((j, rid), idx) =>
          val parsed = parse.eval(InternalRow(UTF8String.fromString(j)))
            .asInstanceOf[InternalRow]
          new GenericInternalRow(
            (fills.map(_(parsed)) ++ Seq(file, idx.toLong, rid)).toArray): InternalRow
        }
      }
    }.toVector
  }

  /** value of a constant SQL expression (an existence default) cast to
    * `to`, resolved by the session analyzer the way `expr(sql).cast(to)`
    * is, then evaluated on the driver */
  private[lake] def evalConstant(spark: SparkSession, sql: String, to: DataType): Any = {
    import org.apache.spark.sql.catalyst.plans.logical.{OneRowRelation, Project}
    val parsed = spark.sessionState.sqlParser.parseExpression(sql)
    val plan = spark.sessionState.analyzer.execute(
      Project(Seq(Alias(Cast(parsed, to), "v")()), OneRowRelation()))
    org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions(plan)
      .asInstanceOf[Project].projectList.head.eval()
  }

  /** Scan of `tableId` as of snapshot `s`: one [[LakeNativeScan]] over an
    * internal [[LakeTable]] pinned at (`st`, `s`), so deletes, inline rows,
    * schema epochs and row ids are all served inside the reader.
    * @param filters     file-prune-only predicates (the table's
    *                    `variantPrune`; Spark's own filters above the
    *                    relation still push down and prune as in SQL)
    * @param withRowMeta surface (_graft_file, _graft_pos, _graft_row_id)
    * @param feed        a change-feed read: surface (_change_type,
    *                    _snapshot_id, _row_id), the change feed's columns
    */
  def scanDF(
      spark: SparkSession,
      st: CatalogState,
      tableId: Long,
      s: Long,
      filters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
      withRowMeta: Boolean = false,
      feed: Option[Feed] = None): DataFrame = {
    val e = st.tableById(tableId, s)
      .getOrElse(throw new IllegalArgumentException(s"table $tableId is not live at snapshot $s"))
    // the library's read choke point (API, DML, change feed, MV refresh,
    // stored views): the SELECT check runs here, eagerly, so errors surface
    // where the DataFrame is made (the scan build repeats it) — closing the
    // reference's documented permInfos gap (docs/access_control.md "Known
    // Gaps"; LakeAcl scaladoc). Privileges evaluate at the CURRENT snapshot,
    // not the scan snapshot `s` — PG semantics: time travel (and the change
    // feed's historical scoped scans) reads old DATA under today's ACL
    LakeAcl.requirePriv(spark, st, "SELECT", e.schemaName, e.tableName,
      st.currentSnapshotId)
    LakeEncryption.ensureReadConfFor(spark, st, tableId, s)
    require(st.columnsAt(tableId, s).nonEmpty, s"table $tableId has no columns at snapshot $s")
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    val rel = DataSourceV2Relation.create(new LakeTable(null, e.schemaName,
      e.tableName, s, st, filters, internal = true, feed), None, None)
    val plan =
      if (!withRowMeta && feed.isEmpty) rel
      else {
        val withMeta = rel.withMetadataColumns()
        val meta = withMeta.output.drop(rel.output.size).map(a => a.name -> a).toMap
        // plain columns under the names DML and the change feed key on (no
        // metadata-column mark, so `*` and writes treat them as data)
        def as(from: String, to: String) =
          Alias(meta(from), to)(explicitMetadata = Some(Metadata.empty))
        def plain(n: String) = as(n, n)
        Project(rel.output ++ (
          if (feed.isDefined)
            Seq(plain(ChangeTypeCol), plain(SnapshotIdCol), plain(LakeTable.RowIdMetaCol))
          else Seq(plain(FileCol), plain(PosCol), as(LakeTable.RowIdMetaCol, RowIdCol))),
          withMeta)
      }
    org.apache.spark.sql.graft.StreamingBatch.ofRows(spark, plan)
  }
}
