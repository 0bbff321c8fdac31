package graft.lake

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BoundReference, Cast, GenericInternalRow, JsonToStructs}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import Meta._

/** Snapshot-scoped merge-on-read scan composition (SURVEY.md §2.A A2,
  * reference behavior contract: test/regression/sql/vacuum.sql:20-27,
  * time_travel.sql, data_inlining_row_limit.sql).
  *
  * rows(table @ snapshot S) =
  *     Σ over live data files:   parquet rows, column-mapped from the
  *                               file's schema epoch to S's schema
  *   ∪ live inlined batches:     JSON rows parsed with their epoch schema
  *                               ([[decodeInline]], the one inline decoder:
  *                               the native tier serves the same rows)
  *   ∖ live delete files:        anti-join on (file, position)
  *
  * SQL reads run on the native tier ([[LakeNativeScan]]) whenever
  * [[LakeTable.nativePlan]] admits the snapshot; this composition serves
  * the rest (`_row_id` reads, file epochs the parquet reader cannot map,
  * `spark.graft.lake.nativeScan=false`) and every API, DML, change-feed
  * and MV read, which call [[scanDF]] directly.
  *
  * All per-file work (pruning, schema grouping, row-id bases) is
  * driver-side O(files) — the same metadata weight class as Delta/Iceberg;
  * the data path is declarative DataFrame composition, so Catalyst pushes
  * residual predicates and column pruning into the underlying parquet scan
  * and Tungsten executes it codegen'd.
  */
object LakeRead {

  /** hidden meta columns the scan can surface for DML/CDF */
  val FileCol = "_graft_file"
  val PosCol = "_graft_pos"
  val RowIdCol = "_graft_row_id"

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

  /** row layout of [[decodeInline]]: the snapshot's columns (all nullable,
    * as JSON-parsed values are), then the (file, pos, row id) meta columns */
  private def inlineSchema(cols: Seq[ColumnEntry]): StructType =
    StructType(cols.map(c => StructField(c.name, sparkType(c.dataType))))
      .add(FileCol, StringType).add(PosCol, LongType, nullable = false)
      .add(RowIdCol, LongType, nullable = false)

  /** The inline decoder, shared by both scan tiers: the live inlined batches
    * of `tableId` at snapshot `s`, parsed on the driver (no Spark job) into
    * rows of [[inlineSchema]]. Each batch's JSON parses under its own schema
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
  private def evalConstant(spark: SparkSession, sql: String, to: DataType): Any = {
    import org.apache.spark.sql.catalyst.plans.logical.{OneRowRelation, Project}
    val parsed = spark.sessionState.sqlParser.parseExpression(sql)
    val plan = spark.sessionState.analyzer.execute(
      Project(Seq(Alias(Cast(parsed, to), "v")()), OneRowRelation()))
    org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions(plan)
      .asInstanceOf[Project].projectList.head.eval()
  }

  /** Scan of `tableId` as of snapshot `s`.
    * @param filters     pushed predicates (file pruning only; Spark
    *                    re-applies them on rows)
    * @param withRowMeta surface (_graft_file, _graft_pos, _graft_row_id)
    */
  def scanDF(
      spark: SparkSession,
      st: CatalogState,
      tableId: Long,
      s: Long,
      filters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
      withRowMeta: Boolean = false): DataFrame = {
    // the universal read choke point: every read path (API, DSv2 SQL,
    // change feed, stored views) lands here, so the SELECT check cannot
    // be planned around — closing the reference's documented permInfos
    // gap (docs/access_control.md "Known Gaps"; LakeAcl scaladoc)
    // privileges evaluate at the CURRENT snapshot, not the scan snapshot
    // `s` — PG semantics: time travel (and the change feed's historical
    // scoped scans) reads old DATA under today's ACL
    st.tableById(tableId, s).foreach(e =>
      LakeAcl.requirePriv(spark, st, "SELECT", e.schemaName, e.tableName,
        st.currentSnapshotId))
    LakeEncryption.ensureReadConfFor(spark, st, tableId, s)
    val cols = st.columnsAt(tableId, s)
    require(cols.nonEmpty, s"table $tableId has no columns at snapshot $s")
    val colTypes = cols.map(c => c.name -> c.dataType).toMap
    val partKeys = st.partitionKeysAt(tableId, s)
    val deletes = st.deleteFilesAt(tableId, s)
    // layout metadata (partition-value labels, stats names) is recorded
    // under each file's write-epoch names — normalize to the scan
    // snapshot's names so pruning survives RENAME COLUMN (no-op, same
    // objects, when nothing was renamed)
    val files0 = st.filesAt(tableId, s).map(st.fileNamesAt(tableId, s))
    val files = Pruning.prune(files0, st.statsForAt(tableId, s, files0),
      colTypes, partKeys, filters)
    val inlined = st.inlinedAt(tableId, s)
    val needMeta = withRowMeta || deletes.nonEmpty

    val currentStruct = structFor(cols)
    def mapToCurrent(df: DataFrame, physCols: Seq[ColumnEntry], metaCols: Seq[String]): DataFrame = {
      val physById = physCols.map(c => c.columnId -> c.name).toMap
      val sel = cols.map { c =>
        physById.get(c.columnId) match {
          case Some(pn) => col(pn).cast(sparkType(c.dataType)).as(c.name)
          case None =>
            // column added after this file was written: existence default
            // (frozen at ADD COLUMN time — SET DEFAULT never changes it)
            c.existsDefault.map(dv => expr(dv)).getOrElse(lit(null))
              .cast(sparkType(c.dataType)).as(c.name)
        }
      } ++ metaCols.map(col)
      df.select(sel: _*)
    }

    // parquet files, grouped by (schema epoch, row-id representation)
    val parts: Seq[DataFrame] = files.groupBy(f => (f.schemaVersion, f.explicitRowIds)).toSeq
      .sortBy(_._1).map { case ((sv, explicit), fs) =>
        val physCols = st.columnsAt(tableId, sv)
        val baseStruct = structFor(physCols)
        val readStruct =
          if (explicit) baseStruct.add(StructField(RowIdCol, LongType, nullable = false))
          else baseStruct
        var df = spark.read.schema(readStruct).parquet(fs.map(_.path): _*)
        if (needMeta) {
          df = df
            .withColumn(FileCol, col("_metadata.file_name"))
            .withColumn(PosCol, col("_metadata.row_index"))
          if (!explicit) {
            // implicit ids: row_id = file.firstRowId + position (O(files)
            // broadcast lookup, same weight as the file list itself)
            val lookup = spark.createDataFrame(
              fs.map(f => Row(f.fileName, f.firstRowId)).toList.asJava,
              StructType(Seq(StructField(FileCol, StringType), StructField("_graft_first", LongType))))
            df = df.join(broadcast(lookup), Seq(FileCol), "left")
              .withColumn(RowIdCol, col("_graft_first") + col(PosCol))
              .drop("_graft_first")
          }
        } else if (explicit) df = df.drop(RowIdCol)
        mapToCurrent(df, physCols, if (needMeta) Seq(FileCol, PosCol, RowIdCol) else Nil)
      }

    // inlined batches: rows from decodeInline, already in the snapshot's
    // columns, as one local relation
    val inlinedParts: Seq[DataFrame] =
      if (inlined.isEmpty) Nil
      else {
        val schema = inlineSchema(cols)
        val df = org.apache.spark.sql.graft.StreamingBatch.ofRows(spark,
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
            org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema),
            decodeInline(spark, st, tableId, s)))
        Seq(if (needMeta) df else df.drop(FileCol, PosCol, RowIdCol))
      }

    val allParts = parts ++ inlinedParts
    var all: DataFrame =
      if (allParts.nonEmpty) allParts.reduce(_ unionByName _)
      else {
        val schema = if (needMeta)
          currentStruct.add(FileCol, StringType).add(PosCol, LongType).add(RowIdCol, LongType)
        else currentStruct
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      }

    if (deletes.nonEmpty) {
      val delStruct = StructType(Seq(
        StructField("file", StringType), StructField("pos", LongType),
        StructField("row_id", LongType)))
      val dd = spark.read.schema(delStruct).parquet(deleteReadPaths(deletes): _*)
        .select(col("file").as(FileCol), col("pos").as(PosCol))
      all = all.join(gateBroadcast(spark, dd, deletes.map(_.deleteCount).sum),
        Seq(FileCol, PosCol), "left_anti")
    }

    if (!withRowMeta && needMeta) all = all.drop(FileCol, PosCol, RowIdCol)
    all
  }

  /** estimated in-memory bytes per (file, pos) delete-set row: the file-name
    * string (~50 chars → java String overhead) + the position long, in a
    * broadcast hash relation */
  private val DeleteRowBytes = 160L

  /** Hint `broadcast` on the delete side ONLY when the whole delete set
    * provably fits the session's broadcast threshold. A single large
    * `DELETE WHERE` can produce billions of (file, pos) rows before vacuum
    * rewrites the victims — forcing a broadcast there ships the full set to
    * every executor and OOMs at scale, so past the threshold we leave the
    * strategy to Catalyst/AQE (shuffled hash / sort-merge on the anti-join
    * keys). The metadata makes the gate free: `deleteCount` per delete file
    * is known without touching data. */
  def gateBroadcast(spark: SparkSession, dd: DataFrame, totalDeleted: Long): DataFrame = {
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold > 0 && totalDeleted * DeleteRowBytes <= threshold) broadcast(dd) else dd
  }

  private implicit class ListAsJava[A](l: List[A]) {
    def asJava: java.util.List[A] = {
      val jl = new java.util.ArrayList[A](l.size)
      l.foreach(jl.add)
      jl
    }
  }
}
