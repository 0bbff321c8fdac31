package graft.lake

import java.util
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.read.{Batch, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.classic.ClassicConversions._
import Meta._

/** DSv2 `Table` for a lake table pinned at a snapshot (SURVEY.md §7.1).
  *
  * Read path: `ScanBuilder` receives pushed filters + required columns,
  * prunes the FILE LIST driver-side (snapshot interval + hidden-partition
  * values + per-file min/max stats — reference A2), then hands Spark a
  * [[LakeNativeScan]]: Spark's own DSv2 parquet readers over the pruned
  * files, with delete positions, inline rows, schema epochs and `_row_id`
  * served inside the scan. Filters are also reported back as residuals,
  * so Catalyst re-applies them on rows AND the readers use them for
  * row-group skipping — files we can't prove prunable still get it for
  * free.
  *
  * Write path: `V1Write`/`InsertableRelation` routes into
  * [[LakeWrite.append]] — Spark's own distributed parquet writer does the
  * data movement; the commit is our optimistic snapshot protocol.
  *
  * `SupportsDelete.deleteWhere` implements ROW-level deletes (positional
  * delete files), not just file drops — reference A3/dml semantics.
  */
class LakeTable(
    val store: MetadataStore,
    val schemaName: String,
    val tableName: String,
    val snapshot: Long,
    private[lake] val st: CatalogState,
    /** extra FILE-PRUNE-ONLY predicates on synthetic stat names (variant
      * paths like "v.$.price", attached by [[LakeVariantPruning]]); never
      * pushed to parquet or applied to rows — Spark's own Filter above the
      * scan keeps row-level semantics */
    val variantPrune: Seq[Filter] = Nil,
    /** a relation of the library's own reads ([[LakeRead.scanDF]]), which
      * [[LakeMvRewrite]] never matches (a refresh's own reads must not
      * serve from, or refresh, an MV) */
    val internal: Boolean = false,
    /** a change-feed read of an internal table: its rows' provenance and
      * the deletes it applies ([[LakeRead.Feed]]) */
    val feed: Option[LakeRead.Feed] = None) extends Table
    with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsMetadataColumns {

  /** copy with variant file-prune predicates (LakeVariantPruning) */
  private[lake] def withVariantPrune(fs: Seq[Filter]): LakeTable =
    new LakeTable(store, schemaName, tableName, snapshot, st, fs, internal, feed)

  /** the upstream-DuckLake `rowid` virtual column as a DSv2 metadata
    * column: `SELECT _row_id, * FROM lake.main.t` surfaces stable row
    * lineage (implicit ids = file.firstRowId + position; survivors keep
    * their id across UPDATE rewrites). The native scan serves it from the
    * parquet row index: firstRowId + the row index for implicit-id files,
    * the stored `_graft_row_id` for explicit-id files, the decoded id for
    * inline rows. `_graft_file`/`_graft_pos` are the row metadata DML keys
    * on ([[LakeRead.scanDF]]'s `withRowMeta`); a change-feed read adds its
    * rows' `_change_type` and `_snapshot_id`. */
  override def metadataColumns(): Array[MetadataColumn] = {
    def meta(n: String, t: DataType, doc: String): MetadataColumn = new MetadataColumn {
      override def name(): String = n
      override def dataType(): DataType = t
      override def isNullable: Boolean = false
      override def comment(): String = doc
    }
    Array(meta(LakeTable.RowIdMetaCol, LongType, "stable lake row id (row lineage)"),
      meta(LakeRead.FileCol, StringType, "data file name, or inline:<batch id>"),
      meta(LakeRead.PosCol, LongType, "row position in its data file or inline batch")) ++
      feed.toSeq.flatMap(_ => Seq(
        meta(LakeRead.ChangeTypeCol, StringType, "change-feed change type"),
        meta(LakeRead.SnapshotIdCol, LongType, "change-feed snapshot id")))
  }

  val entry: TableEntry = st.tableAt(schemaName, tableName, snapshot)
    .getOrElse(throw new NoSuchElementException(s"no table $schemaName.$tableName@$snapshot"))
  private val cols = st.columnsAt(entry.tableId, snapshot)

  override def name(): String = s"$schemaName.$tableName"

  override def schema(): StructType = {
    // column comments (scope col:<tid>:<colId>, freeze: ducklake_column_tag)
    // ride the StructField metadata so DESCRIBE surfaces them
    val base = LakeRead.structFor(cols)
    StructType(base.fields.zip(cols).map { case (f, c) =>
      st.tagAt(s"col:${entry.tableId}:${c.columnId}", "comment", snapshot)
        .map(f.withComment).getOrElse(f)
    })
  }

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE).asJava

  override def partitioning(): Array[Transform] =
    st.partitionKeysAt(entry.tableId, snapshot).map { pk =>
      pk.transform match {
        case "identity" => Expressions.identity(pk.column)
        case "year" => Expressions.years(pk.column)
        case "month" => Expressions.months(pk.column)
        case "day" => Expressions.days(pk.column)
        case "hour" => Expressions.hours(pk.column)
        case BucketTransform(n) => Expressions.bucket(n, pk.column)
        case other => Expressions.apply(other, Expressions.column(pk.column))
      }
    }.toArray

  override def properties(): util.Map[String, String] = {
    val tags = st.tags.filter(t => t.scope == entry.tableId.toString &&
      liveAt(t.begin, t.end, snapshot)).map(t => t.key -> t.value).toMap
    (tags + ("provider" -> "graft-lake")).asJava
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeScanBuilder(this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new LakeWriteBuilder(this)

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => Pruning.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val cond = filters.flatMap(Pruning.filterToColumn)
      .reduceOption(_ && _).getOrElse(org.apache.spark.sql.functions.lit(true))
    LakeWrite.delete(SparkSession.active, store, schemaName, tableName, cond)
  }

  /** fresh snapshot-scoped DataFrame ([[LakeRead.scanDF]]); variantPrune
    * joins the filters for FILE pruning only (scanDF uses filters solely to
    * prune the file list) */
  def scanDF(spark: SparkSession, filters: Seq[Filter] = Nil): DataFrame =
    LakeRead.scanDF(spark, store.state(), entry.tableId, snapshot,
      filters ++ variantPrune)

  /** Columns on which runtime (DPP) filters can prune files: hidden
    * partition source columns (pruned via recorded per-file values) and
    * plain-column sort keys (a sorted table's per-file min/max ranges are
    * tight, so zone-map pruning of a runtime IN is selective). Other
    * columns also carry stats, but with no layout clustering a runtime
    * filter would rarely eliminate a file — not worth the subquery. */
  private[lake] def runtimeFilterColumns: Array[String] = {
    val names = cols.map(_.name).toSet
    (st.partitionKeysAt(entry.tableId, snapshot).map(_.column) ++
      st.sortKeysAt(entry.tableId, snapshot).map(_.expr).filter(names))
      .distinct.toArray
  }

  /** storage-partitioned-join value of one stored partition string, typed
    * for an InternalRow; None = type/value not SPJ-safe → don't report */
  private def spjValue(raw: String, dt: DataType): Option[Any] = {
    if (raw.contains("HIVE_DEFAULT_PARTITION") || raw.contains("%")) return None
    try dt match {
      case IntegerType => Some(raw.toInt)
      case LongType => Some(raw.toLong)
      case ShortType => Some(raw.toShort)
      case ByteType => Some(raw.toByte)
      case BooleanType => Some(raw.toBoolean)
      case StringType => Some(org.apache.spark.unsafe.types.UTF8String.fromString(raw))
      case DateType => Some(java.time.LocalDate.parse(raw).toEpochDay.toInt)
      case _ => None
    } catch { case _: Exception => None }
  }

  /** Sort keys the key-grouped scan may REPORT as its per-partition output
    * ordering (DSv2 SupportsReportOrdering → SMJ sort elision), plus the
    * groups with each group's files REORDERED so the report is physically
    * true: the longest prefix of the table's sort spec whose columns all
    * survive into the scan output (V2ExpressionUtils.resolveRef throws on
    * a miss — same lesson as filterAttributes), provided EVERY scanned
    * file is stamped internally sorted by at least that prefix (full key:
    * expr + direction + null order — files sorted under a superseded
    * setSort spec must not satisfy a flipped one) and every key group is
    * either a SINGLE file or a set of files whose ranges on the LEADING
    * sort key are pairwise DISJOINT (per-file min/max stats, already in
    * the catalog). A fused partition concatenates its files in array
    * order, so emitting a disjoint group range-ordered makes the
    * concatenation ordered — eligibility survives chunked appends and
    * bounded file sizes at 100 TB instead of demanding one unbounded file
    * per bucket, and it composes with the per-file skew split (each split
    * partition is one stamped sorted file, ordered by construction).
    *
    * Boundary ties (max(fileᵢ) == min(fileᵢ₊₁) on the leading key) keep a
    * single-key report valid but break deeper keys (rows tied on k1 that
    * straddle files need not be ordered by k2) → the report truncates to
    * the leading key. NULLs in the leading key (r14, VERDICT r13 #7): at
    * most ONE file of a multi-file group may bear NULLs — its null run is
    * contiguous at that file's own null end (the file is internally sorted
    * under the same stamp), so placing that file at the concatenation's
    * null-order end keeps the report physically true. A mixed file must
    * also land at that end of the range order; an all-NULL file (min/max
    * absent, nullCount > 0) is pinned there outside the range chain. Two
    * null-bearing files forfeit the report (both runs can't sit at the
    * end). NULL ties never straddle files (one bearer), so no extra
    * truncation beyond the boundary-tie rule. */
  private[lake] def reportableOrdering(
      files: Vector[DataFileEntry],
      groups: Seq[(InternalRow, Seq[(String, Long)])],
      read: StructType)
      : (Array[Meta.SortKey], Seq[(InternalRow, Seq[(String, Long)])]) = {
    val sks = st.sortKeysAt(entry.tableId, snapshot)
    if (sks.isEmpty || files.isEmpty) return (Array.empty, groups)
    // safety valve / A-B gate
    if (!SparkSession.active.conf
        .getOption("spark.graft.lake.reportOrdering").forall(_.toBoolean))
      return (Array.empty, groups)
    val avail = read.fieldNames.toSet
    val prefix = sks.takeWhile(k => avail(k.expr) && cols.exists(_.name == k.expr))
    if (prefix.isEmpty) return (Array.empty, groups)
    val labels = prefix.map(Meta.SortKey.stamp)
    if (!files.forall(_.sortedBy.exists(_.startsWith(labels))))
      return (Array.empty, groups)
    if (groups.forall(_._2.lengthCompare(1) <= 0))
      return (prefix.toArray, groups)

    val k1 = prefix.head
    val dt = cols.find(_.name == k1.expr).map(_.dataType)
      .getOrElse(return (Array.empty, groups))
    val byPath = files.map(f => f.path -> f).toMap
    // stats names normalized to the scan snapshot (renames; see nativePlan)
    val statsAt = st.statsForAt(entry.tableId, snapshot, files)
    def statsOf(path: String): Option[Meta.FileColumnStats] =
      byPath.get(path).flatMap(f =>
        statsAt(f.fileId).find(_.columnName == k1.expr))
    def cmp(a: String, b: String): Option[Int] = Pruning.cmpTyped(dt, a, b)

    var tied = false // a boundary tie truncates the report to the leading key
    val ordered = groups.map { case (key, fs) =>
      if (fs.lengthCompare(1) <= 0) Some((key, fs))
      else {
        val stats = fs.map(f => statsOf(f._1).map(s => (f, s)))
        if (stats.exists(_.isEmpty)) None
        else {
          val known = stats.flatten
          val nullBearing = known.filter(_._2.nullCount > 0)
          // all-NULL file: stats exclude NULLs so min/max are absent —
          // pinned to the null end, exempt from the range chain below
          val allNull = nullBearing.filter(p =>
            p._2.minValue.isEmpty || p._2.maxValue.isEmpty)
          if (nullBearing.lengthCompare(1) > 0) None
          else {
            val ranged = known.filterNot(p => allNull.exists(_._1 == p._1))
              .map(p => for {
                mn <- p._2.minValue; mx <- p._2.maxValue
                _ <- cmp(mn, mn) // leading-key type must be comparable
              } yield (p._1, (mn, mx)))
            if (ranged.exists(_.isEmpty)) None
            else {
              val rs = ranged.flatten
              // range order follows the sort DIRECTION: ascending
              // concatenates low→high by min; descending high→low by max
              val sorted =
                if (k1.ascending) rs.sortWith((a, b) => cmp(a._2._1, b._2._1).get < 0)
                else rs.sortWith((a, b) => cmp(a._2._2, b._2._2).get > 0)
              val disjoint = sorted.sliding(2).forall {
                case Seq(a, b) =>
                  val c = if (k1.ascending) cmp(a._2._2, b._2._1).get
                          else -cmp(a._2._1, b._2._2).get
                  if (c == 0) tied = true
                  c <= 0
                case _ => true
              }
              // a MIXED null-bearing file must itself sit at the null end
              // of the range order (its null run is at its own null end)
              val mixedOk = nullBearing.headOption.forall { nb =>
                allNull.nonEmpty || {
                  val idx = sorted.indexWhere(_._1 == nb._1)
                  if (k1.nullsFirst) idx == 0 else idx == sorted.size - 1
                }
              }
              if (!disjoint || !mixedOk) None
              else {
                val chain = sorted.map(_._1)
                val out =
                  if (allNull.isEmpty) chain
                  else if (k1.nullsFirst) allNull.head._1 +: chain
                  else chain :+ allNull.head._1
                Some((key, out))
              }
            }
          }
        }
      }
    }
    if (ordered.exists(_.isEmpty)) (Array.empty, groups)
    else {
      val out = if (tied) prefix.take(1) else prefix
      (out.toArray, ordered.map(_.get))
    }
  }

  /** Storage-partitioned-join grouping: Some((keyColumns, partitionKey →
    * files)) when the table's live partition spec is identity-only over
    * SPJ-safe column types and EVERY given file carries a parseable
    * recorded value for every key (files written before set_partition
    * have none → the whole scan stays ungrouped; hidden partitioning is
    * retroactive-safe, partition.sql:43-57). Groups are sorted by key for
    * deterministic partition order. */
  private[lake] def keyGroups(files: Vector[DataFileEntry])
      : Option[(Array[Meta.PartitionKey], Seq[(InternalRow, Seq[(String, Long)])])] = {
    val pks = st.partitionKeysAt(entry.tableId, snapshot)
    // SPJ-groupable transforms: identity, and bucket[N] (key value = the
    // bucket ordinal — two co-bucketed tables report the same
    // bucket(n, col) transform and join with no exchange, the shape
    // identity keys cannot give on high-cardinality columns)
    def groupable(pk: PartitionKey): Boolean =
      pk.transform == "identity" || BucketTransform.unapply(pk.transform).isDefined
    if (files.isEmpty || pks.isEmpty || !pks.forall(groupable))
      return None
    val keyTypes: List[DataType] = pks.map {
      case pk if pk.transform == "identity" =>
        cols.find(_.name == pk.column)
          .map(c => LakeRead.sparkType(c.dataType)).getOrElse(return None)
      case _ => IntegerType // bucket ordinal
    }
    val parsed: Vector[(Vector[Any], (String, Long))] = files.map { f =>
      val vs = pks.zip(keyTypes).map { case (pk, dt) =>
        f.partitionValues.get(pk.label).flatMap(spjValue(_, dt))
          .getOrElse(return None)
      }
      (vs.toVector, (f.path, f.fileSizeBytes))
    }
    // element-wise tuple ordering: a joined-string sort needs a separator
    // that can't appear in a value (a space can, for string keys) or two
    // distinct composite keys could collide and make the partition order
    // nondeterministic across co-bucketed tables — worst case Spark sees
    // misaligned partition values and silently shuffles instead of SPJ
    val grouped = parsed.groupBy(_._1).toSeq
      .sortBy(_._1.map(String.valueOf(_)))(
        scala.math.Ordering.Implicits.seqOrdering[Vector, String])
      .map { case (key, fs) =>
        (new GenericInternalRow(key.toArray): InternalRow, fs.map(_._2): Seq[(String, Long)])
      }
    Some((pks.toArray, grouped))
  }

  /** The native scan's file plan. Every live file's schema epoch is read
    * by Spark's BY-NAME parquet reader under the scan snapshot's schema,
    * resolving by COLUMN ID across renames:
    *   - a current column the epoch has (same columnId) reads under its
    *     epoch name when it was renamed since (rows are positional, so
    *     downstream is name-blind); its type must equal or promote from
    *     the epoch's ([[Meta.typePromotes]], the rule ALTER TYPE enforces —
    *     the parquet readers widen every such pair natively);
    *   - a column NEW since the epoch (columnId unseen) is missing from its
    *     files, so the reader fills its existence default, or null. When
    *     its name is one the epoch used for another column (dropped and
    *     re-added), it reads under a name the files lack, so the
    *     predecessor's data never leaks into it.
    * DROPPED epoch columns are simply ignored by the reader.
    * Returns the stats/partition-pruned live files (layout metadata
    * normalized to current names), per-file delete parts (a feed read's
    * own, else those of the live deletes, [[LakeTable.deleteHits]]), and
    * the per-epoch current→old read renames (schemaVersion → map; identity
    * epochs omitted). */
  private[lake] def nativePlan(filters: Seq[Filter])
      : (Vector[DataFileEntry], Map[String, Seq[String]], Map[Long, Map[String, String]]) = {
    val tid = entry.tableId
    val sig = cols.map(c => (c.columnId, c.name, c.dataType))
    // Per-epoch translation BY COLUMN ID (VERDICT r14 #2): matching by
    // name alone made a renamed nullable column look like drop+add, and
    // the by-name reader silently null-filled its old files. Translated
    // names are the epoch's own, unique within it, so an epoch column
    // dropped since cannot shadow one.
    def epochRename(sv: Long): Map[String, String] = {
      val old = st.columnsAt(tid, sv)
      if (old.map(c => (c.columnId, c.name, c.dataType)) == sig) return Map.empty
      val oldById = old.map(c => c.columnId -> c).toMap
      val oldNames = old.map(_.name).toSet
      cols.flatMap { c =>
        oldById.get(c.columnId) match {
          case Some(o) =>
            if (!Meta.typePromotes(o.dataType, c.dataType))
              throw new UnsupportedOperationException(s"${name()}.${c.name}: " +
                s"files of schema version $sv store ${o.dataType}, which does " +
                s"not promote to ${c.dataType}")
            if (o.name != c.name) Some(c.name -> o.name) else None
          case None if oldNames(c.name) => Some(c.name -> s"_graft_absent_${c.columnId}")
          case None => None
        }
      }.toMap
    }
    val files = st.filesAt(tid, snapshot)
    val epochMap = files.map(_.schemaVersion).distinct
      .map(sv => sv -> epochRename(sv)).filter(_._2.nonEmpty).toMap
    // layout metadata normalized to the scan snapshot's names (pruning,
    // SPJ grouping and the ordering report all match on CURRENT names)
    val normed = files.map(st.fileNamesAt(tid, snapshot))
    val pruned = Pruning.prune(normed, st.statsForAt(tid, snapshot, normed),
      cols.map(c => c.name -> c.dataType).toMap,
      st.partitionKeysAt(tid, snapshot), filters ++ variantPrune)
    (pruned, feed.map(_.deletes).getOrElse(LakeTable.partsByFile(
      LakeTable.deleteHits(st.deleteFilesAt(tid, snapshot), files))), epochMap)
  }
}

object LakeTable {
  /** name of the row-lineage metadata column (upstream DuckLake `rowid`) */
  val RowIdMetaCol = "_row_id"

  /** Every (delete entry, data file among `files` it may hit, the entry's
    * parquet parts). Parts and per-file counts come straight from metadata
    * (recorded at write time) — zero filesystem RPCs per
    * scan. An entry written before `parts` existed (e.g. a thawed external
    * catalog) lists its directory instead, and since its per-file counts
    * may be partial too (a catalog modelling one data_file_id per delete
    * file thaws a multi-file delete with just one target), it goes to every
    * file: the readers keep only the positions naming their file. */
  private[lake] def deleteHits(deletes: Seq[DeleteFileEntry], files: Seq[DataFileEntry])
      : Seq[(DeleteFileEntry, DataFileEntry, Seq[String])] = {
    lazy val hc = SparkSession.active.sessionState.newHadoopConf()
    lazy val byId = files.map(f => f.fileId.toString -> f).toMap
    deletes.flatMap { d =>
      val (parts, targets) =
        if (d.parts.nonEmpty) (d.parts, d.countsByFile.keys.flatMap(byId.get))
        else {
          val dir = new org.apache.hadoop.fs.Path(d.path)
          (dir.getFileSystem(hc).listStatus(dir).toSeq
            .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
            .map(_.getPath.toString), files)
        }
      if (parts.isEmpty) Nil else targets.map(f => (d, f, parts))
    }
  }

  /** data-file name → the parts of the delete `hits` on it */
  private[lake] def partsByFile(hits: Seq[(DeleteFileEntry, DataFileEntry, Seq[String])])
      : Map[String, Seq[String]] =
    hits.groupMap(_._2.fileName)(_._3).map { case (n, ps) => n -> ps.flatten }

  /** whether `plan` reads a table through a catalog: a DSv2 relation that
    * is not an internal [[LakeTable]] of the library's own reads (a served
    * MV reads through one of those) */
  private[graft] def readsCatalogTable(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
    def catalogRead(t: Table) = t match {
      case lt: LakeTable => !lt.internal
      case _ => true
    }
    plan.exists {
      case r: DataSourceV2Relation => catalogRead(r.table)
      case r: DataSourceV2ScanRelation => catalogRead(r.relation.table)
      case _ => false
    }
  }
}

private[lake] class LakeScanBuilder(table: LakeTable) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: Option[StructType] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // all residual: we prune files, Spark re-checks rows
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = Some(requiredSchema)

  override def build(): Scan = {
    val session = SparkSession.active
    // SQL's SELECT gate lives at scan build (current ACL, like the scanDF
    // choke point — see LakeAcl)
    LakeAcl.requirePriv(session, table.st, "SELECT", table.schemaName,
      table.tableName, table.st.currentSnapshotId)
    LakeEncryption.ensureReadConfFor(session, table.st, table.entry.tableId,
      table.snapshot)
    new LakeNativeScan(session, table, pushed, required, table.nativePlan(pushed.toSeq))
  }
}

/** The lake table scan, with runtime file pruning (dynamic partition
  * pruning).
  *
  * Reads through the one lake file batch of
  * [[org.apache.spark.sql.graft.NativeParquet]]
  * ([[org.apache.spark.sql.graft.LakeFileBatch]]): Spark's vectorized
  * parquet readers over the pruned files, clean partitions read exactly
  * as a plain parquet scan reads them, deletes and row metadata applied
  * per batch. It implements `SupportsRuntimeFiltering` over the HIDDEN
  * partition source columns: when the optimizer derives a DPP subquery
  * from a join (fact joined to a filtered dim on a partition column), the
  * runtime `In` filter re-runs the same metadata pruning the compile-time
  * filters use — recorded per-file partition values plus min/max stats —
  * and the batch re-plans over the surviving file list. Spark's own DPP
  * only prunes hive-style directory partitions, which lake tables
  * deliberately don't have (Iceberg-style hidden partitioning, SURVEY.md
  * §2 A21); this restores the same at-scale behavior: a 100 TB fact scan
  * joined to `dim WHERE region = 'ASIA'` reads only the matching
  * partition files.
  *
  * Also reports metadata statistics, which size-based join broadcasting
  * uses.
  *
  * Storage-partitioned joins: with `spark.sql.sources.v2.bucketing.enabled`
  * and key groups on every file ([[LakeTable.keyGroups]]) the scan reports
  * `KeyGroupedPartitioning`, so a co-partitioned lake-lake join plans with
  * no shuffle at all — under a live delete overlay too (vacuum is not an
  * SPJ prerequisite) — and the ordering [[LakeTable.reportableOrdering]]
  * proves (position skipping preserves each file's row order, so a sorted
  * group stays sorted under deletes).
  *
  * Live inline batches ride along as ONE extra input partition of rows
  * decoded on the driver ([[LakeRead.decodeInline]]). Inline rows never
  * carry positional deletes (DML rewrites the batch), and Spark re-applies
  * every pushed filter above the scan, so the partition needs neither an
  * anti-join nor a filter. While it is live the scan reports no key
  * grouping and no ordering (one partition holds every key).
  *
  * Metadata columns come from the parquet row index the readers generate.
  * `_row_id`: implicit-id files yield firstRowId + row index, explicit-id
  * files their stored `_graft_row_id` (a per-file read rename), inline
  * rows the id [[LakeRead.decodeInline]] emits. `_graft_file`/`_graft_pos`
  * (the row metadata DML keys on): the data file's name and the row index,
  * or the inline batch's `inline:<id>` and the row's index in it. A
  * change-feed read ([[LakeTable.feed]]) also serves each row's
  * `_change_type`/`_snapshot_id` from its file's or batch's tag, and on a
  * pre-image read only the deleted positions, tagged by their delete.
  *
  * This is the one lake reader: SQL reads plan it through the catalog's
  * tables, and the library's own reads ([[LakeRead.scanDF]]) through
  * internal ones.
  */
private[graft] class LakeNativeScan(
    session: SparkSession,
    table: LakeTable,
    /** the filters Spark pushed: file pruning, and the parquet readers'
      * row-group skipping */
    private[graft] val pushed: Array[Filter],
    required: Option[StructType],
    initial: (Vector[DataFileEntry], Map[String, Seq[String]], Map[Long, Map[String, String]]))
  extends Scan with SupportsRuntimeFiltering with SupportsReportStatistics
  with SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  private var files: Vector[DataFileEntry] = initial._1
  private var deletesByFile: Map[String, Seq[String]] = initial._2
  private val inlineBatches = table.st.inlinedAt(table.entry.tableId, table.snapshot)
  private val inlineRowCount = inlineBatches.map(_.rowsJson.size.toLong).sum
  /** the metadata columns read, in the order the reader appends them
    * after the data columns: `_row_id`, then `_graft_file`, `_graft_pos`,
    * `_change_type`, `_snapshot_id` (a data column of the same name hides
    * each) */
  private val metaRead: Seq[String] = {
    val data = table.schema().fieldNames.toSet
    table.metadataColumns().map(_.name).toSeq
      .filter(n => required.exists(_.fieldNames.contains(n)) && !data(n))
  }
  /** whether the `_row_id` metadata column is read */
  private val rowIds = metaRead.contains(LakeTable.RowIdMetaCol)
  /** the required columns, the metadata columns last (the reader appends
    * them) */
  private val read: StructType = required match {
    case Some(r) if metaRead.nonEmpty => StructType(
      r.filterNot(f => metaRead.contains(f.name)) ++ metaRead.map(r(_)))
    case r => r.getOrElse(table.schema())
  }
  /** the live inline rows in `readSchema()` layout, decoded on the first
    * `toBatch` (a scan built only for statistics never decodes them);
    * snapshot-static, so a runtime re-plan in `filter()` keeps them */
  private lazy val inlineRows: Array[InternalRow] = {
    val full = table.schema()
    val n = full.length
    // decodeInline rows: the columns, then (file, pos, row id); a feed
    // read tags them by their file, "inline:<batchId>"
    def tag(r: InternalRow) = table.feed.get.tags(r.getUTF8String(n).toString)
    val metaAt = Map[String, InternalRow => Any](LakeRead.FileCol -> (_.getUTF8String(n)),
      LakeRead.PosCol -> (_.getLong(n + 1)),
      LakeTable.RowIdMetaCol -> (_.getLong(n + 2)),
      LakeRead.ChangeTypeCol -> (r => UTF8String.fromString(tag(r)._2)),
      LakeRead.SnapshotIdCol -> (tag(_)._1))
    val from = read.fields.map { f =>
      if (metaRead.contains(f.name)) metaAt(f.name)
      else {
        val i = full.fieldIndex(f.name)
        val src = full(i).dataType
        (r: InternalRow) => LakeNativeScan.pruned(r.get(i, src), src, f.dataType)
      }
    }
    val unsafe = org.apache.spark.sql.catalyst.expressions.InterpretedUnsafeProjection
      .createProjection(read.fields.toSeq.zipWithIndex.map { case (f, i) =>
        org.apache.spark.sql.catalyst.expressions.BoundReference(i, f.dataType, nullable = true)
      })
    LakeRead.decodeInline(session, table.st, table.entry.tableId, table.snapshot)
      .map(r => unsafe(new GenericInternalRow(from.map(_(r)))).copy(): InternalRow)
      .toArray
  }
  /** column name → existence default, as the literal the driver evaluates
    * (the same value [[LakeRead.decodeInline]] fills into inline rows) */
  private lazy val existsDefaults: Map[String, String] =
    table.st.columnsAt(table.entry.tableId, table.snapshot).flatMap { c =>
      c.existsDefault.map { dv =>
        val dt = LakeRead.sparkType(c.dataType)
        c.name -> org.apache.spark.sql.catalyst.expressions
          .Literal(LakeRead.evalConstant(session, dv, dt), dt).sql
      }
    }.toMap
  /** `s` as the parquet readers get it: every field nullable (a column a
    * file lacks must not trip the reader's required-column check) and
    * carrying its column's existence default only, which the readers fill
    * into files written before the column */
  private def forReaders(s: StructType): StructType = StructType(s.fields.map { f =>
    f.copy(nullable = true, metadata = existsDefaults.get(f.name).fold(Metadata.empty)(
      v => new MetadataBuilder().putString("EXISTS_DEFAULT", v).build()))
  })

  /** per-file read plan (see [[NativeParquet.EpochReads]]): each file's
    * current→old renames are its schema epoch's, plus `_row_id` →
    * `_graft_row_id` on explicit-id files when row ids are read; the
    * distinct maps are interned. The common rename-free table
    * short-circuits to the trivial plan. Planned once over the initial
    * files: a runtime re-plan only drops files, and Spark reads its
    * partitions with the first batch's reader factory, so epoch indexes
    * must not move. */
  private val epochs: org.apache.spark.sql.graft.NativeParquet.EpochReads = {
    import org.apache.spark.sql.graft.NativeParquet.EpochReads
    val epochRenames = initial._3
    val idRead = Map(LakeTable.RowIdMetaCol -> LakeRead.RowIdCol)
    def renamesOf(f: DataFileEntry): Map[String, String] =
      epochRenames.getOrElse(f.schemaVersion, Map.empty) ++
        (if (rowIds && f.explicitRowIds) idRead else Map.empty)
    if (epochRenames.isEmpty && !(rowIds && files.exists(_.explicitRowIds))) EpochReads.none
    else {
      val byPath = files.map(f => f.path -> renamesOf(f)).filter(_._2.nonEmpty)
      val distinct = byPath.map(_._2).distinct
      val idxOf = distinct.zipWithIndex.map { case (m, i) => m -> (i + 1) }.toMap
      EpochReads((Map.empty[String, String] +: distinct).toIndexedSeq,
        byPath.map { case (p, m) => p -> idxOf(m) }.toMap)
    }
  }

  /** per-TABLE skew-vs-ordering choice (catalog option, table > schema >
    * global): "ordering" keeps this table's key groups fused (sort
    * elision) even while the session conf opts other tables into the
    * per-file skew split — VERDICT r13 #2's mixed-workload rule. The
    * session conf stays the master switch because Spark keys the OTHER
    * side's replication to it at planning: a table option can only narrow
    * the conf's blast radius, never widen it. */
  private val spjMode = table.st.optionAt(table.entry.tableId, "spj.mode", table.snapshot)

  /** the key groups of the current files (storage-partitioned join:
    * opt-in conf + groupable keys with recorded values on every file),
    * range-reordered for the ordering report, and that report */
  private def layout(): (Option[(Array[Meta.PartitionKey], Seq[(InternalRow, Seq[(String, Long)])])],
      Array[Meta.SortKey]) = {
    val spj = session.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
      .exists(_.toBoolean)
    (if (spj && inlineBatches.isEmpty) table.keyGroups(files) else None) match {
      case Some((keyCols, groups)) =>
        // ordering eligibility may also RANGE-REORDER files inside each
        // group (multi-file disjoint-range groups) — scan the ordered view
        val (ordering, ordered) = table.reportableOrdering(files, groups, read)
        (Some((keyCols, ordered)), ordering)
      case None => (None, Array.empty)
    }
  }
  private var grouping = layout()

  override def outputPartitioning(): Partitioning = grouping._1 match {
    case Some((keys, groups)) => new KeyGroupedPartitioning(
      keys.map(org.apache.spark.sql.graft.NativeParquet.v2Transform), groups.size)
    case None => new UnknownPartitioning(0)
  }

  /** per-partition ordering (each partition is ONE stamped-sorted file, or
    * a range-ordered concatenation of stamped files with pairwise-disjoint
    * leading-key ranges); under SMJ this deletes the per-bucket sorts that
    * were pure overhead on sorted bucket files. The per-file skew split
    * keeps every split partition internally sorted (one stamped file
    * each), but Spark's exec gate (DataSourceV2ScanExecBase.outputOrdering
    * requires ≤1 input partition per key group) drops a reported ordering
    * whenever any group splits — under partiallyClusteredDistribution the
    * SMJ sorts return. Per-table choice at 100 TB: skew-split hot tables,
    * sort-elide uniform ones. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    grouping._2.map(org.apache.spark.sql.graft.NativeParquet.v2SortOrder)

  override def readSchema(): StructType = read

  /** the batch of the current files, made once per file list: Spark
    * compares scan nodes by their batch (exchange and subquery reuse), so
    * every `toBatch` until the next runtime re-plan returns this one */
  private var batch: Batch = _

  override def toBatch: Batch = {
    if (batch == null) batch = newBatch()
    batch
  }

  private def newBatch(): Batch = new org.apache.spark.sql.graft.LakeFileBatch(
    session.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
    files.map(f => (f.path, f.fileSizeBytes)),
    grouping._1.map(_._2),
    !spjMode.contains("ordering") &&
      org.apache.spark.sql.graft.NativeParquet.partiallyClustered(
        session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]),
    deletesByFile, forReaders(table.schema()), forReaders(read), pushed, epochs,
    // row ids: file name → firstRowId of the implicit-id files
    if (!rowIds) None
    else Some(files.filterNot(_.explicitRowIds).map(f => f.fileName -> f.firstRowId).toMap),
    metaRead.count(_ != LakeTable.RowIdMetaCol),
    if (inlineBatches.isEmpty) None else Some(inlineRows),
    table.feed.fold(Map.empty[String, (Long, String)])(_.tags),
    table.feed.exists(_.preImages))

  override def description(): String =
    s"graft-lake native scan ${table.name()}@${table.snapshot} " +
      s"(${files.size} files, ${deletesByFile.count(_._2.nonEmpty)} with deletes)" +
      (if (inlineBatches.isEmpty) ""
       else s" + ${inlineBatches.size} inline batches, $inlineRowCount inline rows")

  override def filterAttributes(): Array[NamedReference] = {
    // only columns present in THIS scan's (pruned) output: Spark's
    // PartitionPruning resolves filterAttributes against the relation
    // output with V2ExpressionUtils.resolveRef, which THROWS on a miss —
    // declaring a partition/sort column the query projected away would
    // crash any join over the pruned scan (found by the q05b leg probe:
    // "Unable to resolve l_orderkey given [l_suppkey]")
    val avail = read.fieldNames.toSet
    table.runtimeFilterColumns.filter(avail)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
  }

  override def filter(runtime: Array[Filter]): Unit = {
    // same conservative pruner as compile-time filters (the inline rows
    // are snapshot-static: toBatch keeps serving them)
    val (fs, dbf, _) = table.nativePlan(pushed.toSeq ++ runtime)
    files = fs
    deletesByFile = dbf
    grouping = layout()
    batch = null
  }

  /** current file count after pruning (test observability) */
  private[graft] def currentFileCount: Int = files.size

  /** the rows of the kept files less their recorded deletes, plus the
    * inline rows: an upper bound on the rows the scan returns */
  private[lake] def liveRows: Long = {
    val deleted = table.st.deleteFilesAt(table.entry.tableId, table.snapshot)
      .flatMap(_.countsByFile).groupMapReduce(_._1)(_._2)(_ + _)
    files.map(f => math.max(0L, f.rowCount - deleted.getOrElse(f.fileId.toString, 0L))).sum +
      inlineRowCount
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(files.map(_.fileSizeBytes).sum +
        inlineBatches.map(_.rowsJson.map(_.length.toLong).sum).sum)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(files.map(_.rowCount).sum + inlineRowCount)
  }
}

private object LakeNativeScan {
  /** `v` of type `from` narrowed to `to`, the same type with struct fields
    * pruned away (nested column pruning hands the scan such a read schema) */
  def pruned(v: Any, from: DataType, to: DataType): Any =
    (from, to) match {
      case _ if v == null || from == to => v
      case (f: StructType, t: StructType) =>
        val r = v.asInstanceOf[InternalRow]
        new GenericInternalRow(t.fields.map { tf =>
          val i = f.fieldNames.indexOf(tf.name) match {
            case -1 => f.fieldNames.indexWhere(_.equalsIgnoreCase(tf.name))
            case exact => exact
          }
          pruned(r.get(i, f(i).dataType), f(i).dataType, tf.dataType)
        })
      case (f: ArrayType, t: ArrayType) =>
        val a = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Array.tabulate(a.numElements())(i =>
            pruned(a.get(i, f.elementType), f.elementType, t.elementType)))
      case (f: MapType, t: MapType) =>
        val m = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
        new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
          pruned(m.keyArray(), ArrayType(f.keyType), ArrayType(t.keyType))
            .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
          pruned(m.valueArray(), ArrayType(f.valueType), ArrayType(t.valueType))
            .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
      case _ => v
    }
}

private[lake] class LakeWriteBuilder(table: LakeTable) extends WriteBuilder
    with SupportsTruncate {
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }
  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation = new InsertableRelation {
      override def insert(data: DataFrame, ovr: Boolean): Unit =
        LakeWrite.append(data.sparkSession, table.store, table.schemaName,
          table.tableName, data, overwrite = overwrite || ovr)
    }
  }
}
