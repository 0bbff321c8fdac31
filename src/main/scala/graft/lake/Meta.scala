package graft.lake

/** The DuckLake metadata model, re-expressed for a Spark-native engine.
  *
  * Mirrors the reference's catalog tables (the 27 `ducklake_*` tables,
  * /root/reference/src/pgducklake_freeze.cpp:32-60) and its universal
  * versioning idiom: every catalog row carries a `begin`/`end` snapshot
  * validity interval ("current" = end is None; "as of S" = begin <= S and
  * (end is None or end > S)) — see SURVEY.md §1.3.
  *
  * Persisted as one JSON commit-delta file per snapshot (Delta-log style);
  * the materialized [[CatalogState]] is the fold of all deltas.
  */
object Meta {

  /** ducklake_snapshot (+ ducklake_snapshot_changes folded in as `changes`).
    * Reference: src/pgducklake_metadata_manager.cpp:709-718. */
  case class Snapshot(
      snapshotId: Long,
      snapshotTimeMs: Long,
      schemaVersion: Long,
      changes: List[String],           // e.g. "created_table:t", "inserted_into_table:1"
      commitMessage: Option[String] = None)

  /** ducklake_table; one row per (tableId, name epoch). Rename ends the old
    * row and begins a new one with the same tableId. */
  case class TableEntry(
      tableId: Long,
      schemaName: String,
      tableName: String,
      begin: Long,
      end: Option[Long])

  /** ducklake_column; columnId is stable across renames/type changes —
    * a DDL change ends the old row and begins a new one (same columnId),
    * which is what makes historical-schema time travel work
    * (ducklake_column_mapping / name_mapping in the reference).
    *
    * `defaultValue` is the CURRENT default (fills INSERTs that omit the
    * column; `ALTER COLUMN SET DEFAULT` replaces it); `existsDefault` is
    * the EXISTENCE default frozen at ADD COLUMN time (fills rows in files
    * written before the column existed) — the PG split the reference
    * inherits (ddl.sql): SET DEFAULT never rewrites history. */
  case class ColumnEntry(
      tableId: Long,
      columnId: Long,
      ordinal: Int,
      name: String,
      dataType: String,                // Spark DDL type string
      nullable: Boolean,
      defaultValue: Option[String],
      begin: Long,
      end: Option[Long],
      existsDefault: Option[String] = None)

  /** ducklake_data_file (+ ducklake_file_partition_value flattened into
    * `partitionValues`). Row ids are implicit: [firstRowId, firstRowId +
    * rowCount) in file order — unless `explicitRowIds` (files written by
    * UPDATE/compaction materialize a `_graft_row_id` column so row identity
    * survives position changes). */
  case class DataFileEntry(
      fileId: Long,
      tableId: Long,
      path: String,
      fileName: String,                // unique basename, join key vs _metadata.file_path
      rowCount: Long,
      fileSizeBytes: Long,
      firstRowId: Long,
      schemaVersion: Long,             // column-name epoch the file was written under
      explicitRowIds: Boolean,
      partitionValues: Map[String, String], // "year(ts)" -> "2024"
      begin: Long,
      end: Option[Long],
      // column labels this file is INTERNALLY ordered by (a sorted write's
      // sortWithinPartitions stamp, in sort-spec order). Optional so old
      // checkpoints/logs and thawed foreign catalogs read as None; enables
      // the key-grouped scan's ordering report (SMJ sort elision) only on
      // files proven sorted at write time.
      sortedBy: Option[List[String]] = None)

  /** ducklake_file_column_stats: per-file min/max/nullCount, stringified;
    * `dataType` tells the pruner how to parse for typed comparison. */
  case class FileColumnStats(
      fileId: Long,
      columnName: String,
      dataType: String,
      minValue: Option[String],
      maxValue: Option[String],
      nullCount: Long)

  /** ducklake_delete_file: positional deletes (fileName, pos) parquet.
    * countsByFile: deleted-row count per data fileId (drives the
    * rewrite_data_files threshold). parts: the concrete part-file paths
    * inside `path`, recorded at write time so scans never pay a driver-side
    * FileSystem.listStatus per query (on object storage that is an RPC per
    * delete dir per scan); empty on entries written before this field
    * existed → readers fall back to listing. */
  case class DeleteFileEntry(
      deleteFileId: Long,
      tableId: Long,
      path: String,
      deleteCount: Long,
      countsByFile: Map[String, Long], // fileId (as string; JSON map keys) -> count
      begin: Long,
      end: Option[Long],
      parts: List[String] = Nil)

  /** ducklake_partition_info + ducklake_partition_column.
    * transform ∈ {identity, year, month, day, hour}. */
  case class PartitionKey(transform: String, column: String) {
    def label: String = if (transform == "identity") column else s"$transform($column)"
  }
  case class PartitionInfoEntry(
      tableId: Long,
      keys: List[PartitionKey],
      begin: Long,
      end: Option[Long])

  /** ducklake_sort_info + ducklake_sort_expression. */
  case class SortKey(expr: String, ascending: Boolean, nullsFirst: Boolean)
  object SortKey {
    /** [[DataFileEntry.sortedBy]] stamp: the FULL key — expression,
      * direction, null order — not the expression alone. Matching on the
      * bare expression would let a `setSort` that flips direction (or null
      * order) on the same column keep matching files sorted under the OLD
      * spec, and the scan would report the new ordering over
      * oppositely-ordered files (wrong SMJ results once the sort is
      * elided). Old logs carry bare-expression stamps, which simply stop
      * matching → ordering unreported → safe.  cannot appear in a
      * column identifier, so stamps never collide across keys. */
    def stamp(k: SortKey): String =
      s"${k.expr}${if (k.ascending) "a" else "d"}${if (k.nullsFirst) "f" else "l"}"
  }
  case class SortInfoEntry(
      tableId: Long,
      keys: List[SortKey],
      begin: Long,
      end: Option[Long])

  /** A layout name recorded under an older schema epoch, at the scan
    * snapshot (see [[CatalogState.layoutShift]]): renamed, None when its
    * column is gone, unchanged when `m` does not name it. */
  private def shifted(name: String, m: Map[String, Option[String]]): Option[String] =
    m.getOrElse(name, Some(name))

  /** Translation of a recorded partition-value label: bare names
    * (identity transform) map directly; "transform(col)" — including
    * "bucket[N](col)" — translates the inner column. Unknown shapes pass
    * through (conservative: an untranslated label just never matches). */
  private[lake] def translateLabel(label: String, m: Map[String, Option[String]]): Option[String] = {
    val i = label.indexOf('(')
    if (i < 0) shifted(label, m)
    else if (!label.endsWith(")")) Some(label)
    else shifted(label.substring(i + 1, label.length - 1), m)
      .map(n => label.substring(0, i + 1) + n + ")")
  }

  /** Translation of a file's [[DataFileEntry.sortedBy]] stamp:
    * current stamps are "expr<dir><nulls>" ([[SortKey.stamp]]);
    * legacy logs carry the bare expression. Either way the expression part
    * is a column name — translate it, keep the suffix. */
  private[lake] def translateStamp(stamp: String, m: Map[String, Option[String]]): Option[String] = {
    val i = stamp.indexOf('\u0001')
    if (i < 0) shifted(stamp, m)
    else shifted(stamp.substring(0, i), m).map(_ + stamp.substring(i))
  }

  /** Translation of a stats row's columnName: plain names map directly;
    * variant-path stats ("v.$.price") translate the base column before
    * the first dot. */
  private[lake] def translateStatName(name: String, m: Map[String, Option[String]]): Option[String] = {
    val i = name.indexOf('.')
    if (i < 0) shifted(name, m)
    else shifted(name.substring(0, i), m).map(_ + name.substring(i))
  }

  /** Inlined small-insert data (the reference's per-table
    * ducklake_inlined_data_<tid> tables): rows kept in the catalog as JSON,
    * avoiding tiny parquet files. Row ids default to the contiguous range
    * [firstRowId, firstRowId+n); a batch rewritten by DELETE/UPDATE carries
    * explicit per-row ids (`rowIds`) because the survivors keep their
    * original identity (mirrors the reference's row_id column on
    * ducklake_inlined_data_* tables). */
  case class InlinedBatch(
      batchId: Long,
      tableId: Long,
      schemaVersion: Long,
      firstRowId: Long,
      rowsJson: List[String],
      begin: Long,
      end: Option[Long],
      rowIds: Option[List[Long]] = None) {
    def ids: List[Long] =
      rowIds.getOrElse((firstRowId until firstRowId + rowsJson.length).toList)
  }

  /** ducklake_metadata / ducklake_tag: global or per-table options. */
  case class TagEntry(
      scope: String,                   // "global" or tableId.toString
      key: String,
      value: String,
      begin: Long,
      end: Option[Long])

  /** ducklake_files_scheduled_for_deletion. */
  case class ScheduledDeletion(path: String, scheduledAtMs: Long, snapshotId: Long)

  /** One committed snapshot = one JSON delta file. "ended*" lists carry the
    * identity of rows whose `end` becomes this snapshot's id. */
  case class CommitDelta(
      snapshot: Snapshot,
      newTables: List[TableEntry] = Nil,
      endedTables: List[Long] = Nil,              // tableIds
      newColumns: List[ColumnEntry] = Nil,
      endedColumns: List[String] = Nil,            // "tableId:columnId"
      newFiles: List[DataFileEntry] = Nil,
      endedFiles: List[Long] = Nil,                // fileIds
      newDeleteFiles: List[DeleteFileEntry] = Nil,
      endedDeleteFiles: List[Long] = Nil,          // deleteFileIds
      newStats: List[FileColumnStats] = Nil,
      newPartitionInfo: List[PartitionInfoEntry] = Nil,
      endedPartitionInfo: List[Long] = Nil,        // tableIds
      newSortInfo: List[SortInfoEntry] = Nil,
      endedSortInfo: List[Long] = Nil,             // tableIds
      newInlined: List[InlinedBatch] = Nil,
      endedInlined: List[Long] = Nil,              // batchIds
      newTags: List[TagEntry] = Nil,
      endedTags: List[String] = Nil,               // "scope:key"
      newScheduledDeletions: List[ScheduledDeletion] = Nil,
      removedScheduledDeletions: List[String] = Nil,    // paths
      expiredSnapshots: List[Long] = Nil)               // snapshotIds

  /** Interval check: is a row live as of snapshot S? */
  /** concrete parquet paths for reading a set of delete files: the parts
    * recorded at write time when present (zero filesystem listings), else
    * the directory path (legacy entries / thawed external catalogs). */
  def deleteReadPaths(ds: Seq[DeleteFileEntry]): Seq[String] =
    ds.flatMap(d => if (d.parts.nonEmpty) d.parts else List(d.path))

  def liveAt(begin: Long, end: Option[Long], s: Long): Boolean =
    begin <= s && end.forall(_ > s)

  /** ALTER COLUMN TYPE is a lossless PROMOTION or it is rejected (r16 —
    * DuckLake's type-promotion rule, the semantics behind
    * docs/ducklake_feature_coverage.md:27 / test/regression/sql/ddl.sql:22):
    * a narrowing change would make existing file values silently truncate
    * at read time. Allowed: up the signed-int chain
    * tinyint→smallint→int→bigint, float→double, and the exactly-
    * representable int→double cases (≤32-bit ints fit double's mantissa;
    * bigint does not, and int→float loses low bits — both rejected). */
  def typePromotes(from: String, to: String): Boolean = {
    val intRank = Map("tinyint" -> 1, "smallint" -> 2, "int" -> 3, "bigint" -> 4)
    // alias-normalize BEFORE comparison (ADVICE r16): user-spelled
    // "integer" must behave exactly like "int" on every arm, and a
    // same-type respell across aliases (int -> integer) is a no-op
    // promotion, not a rejection
    def norm(s: String): String = s.trim.toLowerCase match {
      case "integer" => "int"
      case x => x
    }
    val (f, t) = (norm(from), norm(to))
    if (f == t) true
    else (intRank.get(f), intRank.get(t)) match {
      case (Some(a), Some(b)) => a < b
      case _ => (f, t) match {
        case ("float", "double") => true
        case ("tinyint" | "smallint" | "int", "double") => true
        case _ => false
      }
    }
  }

  /** Materialized catalog: every entity row ever written, with its final
    * (possibly closed) interval. Queries filter with [[liveAt]]. */
  case class CatalogState(
      snapshots: Vector[Snapshot],
      tables: Vector[TableEntry],
      columns: Vector[ColumnEntry],
      files: Vector[DataFileEntry],
      deleteFiles: Vector[DeleteFileEntry],
      stats: Vector[FileColumnStats],
      partitionInfo: Vector[PartitionInfoEntry],
      sortInfo: Vector[SortInfoEntry],
      inlined: Vector[InlinedBatch],
      tags: Vector[TagEntry],
      scheduledDeletions: Vector[ScheduledDeletion]) {

    def currentSnapshotId: Long =
      if (snapshots.isEmpty) -1L else snapshots.last.snapshotId

    def snapshotAtTime(tsMs: Long): Option[Long] =
      snapshots.reverseIterator.find(_.snapshotTimeMs <= tsMs).map(_.snapshotId)

    /** whether every snapshot of the window (s0, s1] is in the history:
      * none expired, none beyond the current one (ids are dense from 0) */
    def hasAllSnapshots(s0: Long, s1: Long): Boolean =
      snapshots.count(s => s.snapshotId > s0 && s.snapshotId <= s1) >= s1 - math.max(s0, -1L)

    def tableAt(schema: String, name: String, s: Long): Option[TableEntry] =
      tables.find(t => t.schemaName == schema && t.tableName == name
        && liveAt(t.begin, t.end, s))

    def tableById(tableId: Long, s: Long): Option[TableEntry] =
      tables.find(t => t.tableId == tableId && liveAt(t.begin, t.end, s))

    def columnsAt(tableId: Long, s: Long): Vector[ColumnEntry] =
      columns.filter(c => c.tableId == tableId && liveAt(c.begin, c.end, s))
        .sortBy(_.ordinal)

    def filesAt(tableId: Long, s: Long): Vector[DataFileEntry] =
      files.filter(f => f.tableId == tableId && liveAt(f.begin, f.end, s))
        .sortBy(_.fileId)

    def deleteFilesAt(tableId: Long, s: Long): Vector[DeleteFileEntry] =
      deleteFiles.filter(d => d.tableId == tableId && liveAt(d.begin, d.end, s))
        .sortBy(_.deleteFileId)

    def inlinedAt(tableId: Long, s: Long): Vector[InlinedBatch] =
      inlined.filter(b => b.tableId == tableId && liveAt(b.begin, b.end, s))
        .sortBy(_.batchId)

    /** columnId → name of the table's columns live at snapshot s */
    def namesById(tableId: Long, s: Long): Map[Long, String] =
      columns.filter(c => c.tableId == tableId && liveAt(c.begin, c.end, s))
        .map(c => c.columnId -> c.name).toMap

    /** Translation of name-keyed LAYOUT metadata (stats, partition-value
      * labels, sort stamps) recorded under the names live at snapshot
      * `from` to the names live at `to`, by column id — columnId is
      * rename-stable, so this is the exact name history (the reference's
      * ducklake_name_mapping role, src/pgducklake_freeze.cpp:52-53). A
      * renamed column maps to its new name; a column not live at `to` maps
      * to None: its metadata is dropped, so a later column that reuses the
      * name (DROP + ADD, or a rename onto it) never inherits its stats.
      * None = nothing moved or went (the fast path every DDL-free table
      * takes, at zero allocation). */
    def layoutShift(tableId: Long, from: Long, to: Long): Option[Map[String, Option[String]]] = {
      if (from == to) return None
      val a = namesById(tableId, from)
      if (a.isEmpty) return None
      val b = namesById(tableId, to)
      val moved = a.collect { case (cid, n1) if !b.get(cid).contains(n1) => n1 -> b.get(cid) }
      if (moved.isEmpty) None else Some(moved)
    }

    /** RENAME-COLUMN translation (VERDICT r14 #2): map from the names a
      * column had at snapshot `from` to its name at `to`, for every
      * columnId live at both. None = no name moved. */
    def nameShift(tableId: Long, from: Long, to: Long): Option[Map[String, String]] =
      layoutShift(tableId, from, to)
        .map(_.collect { case (n1, Some(n2)) => n1 -> n2 }).filter(_.nonEmpty)

    /** View of a file with its name-keyed LAYOUT metadata — recorded
      * partition-value labels and sort stamps, both written under the
      * file's own schema epoch — translated to the names live at snapshot
      * s ([[layoutShift]]). Without this, renaming a partitioned/sorted
      * column silently kills pruning, SPJ grouping and the ordering report
      * (the file's "year(ts)" label never matches a filter on the new
      * name) while staying correctness-safe — the 100 TB full-scan trap
      * VERDICT r14 #2 names. A stamp list stops at the first gone column
      * (the file stays sorted by the prefix). Identity (same object) when
      * nothing moved. */
    def fileNamesAt(tableId: Long, s: Long): DataFileEntry => DataFileEntry = {
      // memoize the shift per schema epoch: layoutShift is two O(columns)
      // passes — per FILE that is O(files x columns) driver allocation on
      // a million-file table; per EPOCH it is O(DDLs x columns)
      val byEpoch = scala.collection.mutable.Map.empty[Long, Option[Map[String, Option[String]]]]
      f => byEpoch.getOrElseUpdate(f.schemaVersion,
          layoutShift(tableId, f.schemaVersion, s)) match {
        case None => f
        case Some(m) => f.copy(
          partitionValues = f.partitionValues.flatMap { case (lbl, v) =>
            Meta.translateLabel(lbl, m).map(_ -> v) },
          sortedBy = f.sortedBy.map(_.map(Meta.translateStamp(_, m))
            .takeWhile(_.isDefined).flatten))
      }
    }

    /** statsFor with each row's columnName translated from the owning
      * file's schema epoch to snapshot s ([[layoutShift]]; stats are
      * recorded under write-time names, rows of gone columns dropped). The
      * file list scopes the fileId → epoch lookup; unknown fileIds pass
      * through untranslated. */
    def statsForAt(tableId: Long, s: Long, files: Seq[DataFileEntry])
        : Long => Vector[FileColumnStats] = {
      val shifts: Map[Long, Map[String, Option[String]]] = files
        .map(_.schemaVersion).distinct
        .flatMap(sv => layoutShift(tableId, sv, s).map(sv -> _)).toMap
      if (shifts.isEmpty) statsFor
      else {
        val epochById = files.map(f => f.fileId -> f.schemaVersion).toMap
        (fid: Long) => {
          val raw = statsFor(fid)
          epochById.get(fid).flatMap(shifts.get) match {
            case None => raw
            case Some(m) => raw.flatMap(st =>
              Meta.translateStatName(st.columnName, m).map(n => st.copy(columnName = n)))
          }
        }
      }
    }

    def partitionKeysAt(tableId: Long, s: Long): List[PartitionKey] =
      partitionInfo.find(p => p.tableId == tableId && liveAt(p.begin, p.end, s))
        .map(p => nameShift(tableId, p.begin, s) match {
          case None => p.keys
          case Some(m) =>
            p.keys.map(k => k.copy(column = m.getOrElse(k.column, k.column)))
        }).getOrElse(Nil)

    def sortKeysAt(tableId: Long, s: Long): List[SortKey] =
      sortInfo.find(p => p.tableId == tableId && liveAt(p.begin, p.end, s))
        .map(p => nameShift(tableId, p.begin, s) match {
          case None => p.keys
          case Some(m) =>
            p.keys.map(k => k.copy(expr = m.getOrElse(k.expr, k.expr)))
        }).getOrElse(Nil)

    def tagAt(scope: String, key: String, s: Long): Option[String] =
      tags.find(t => t.scope == scope && t.key == key && liveAt(t.begin, t.end, s))
        .map(_.value)

    /** Catalog-option resolution (docs/settings.md scoping, plus the
      * schema level the reference lists as unsupported): table beats
      * schema beats global. The schema scope is keyed by name
      * (`schema:<name>`) — schemas have no ids in this catalog. */
    def optionAt(tableId: Long, key: String, s: Long): Option[String] =
      tagAt(tableId.toString, key, s)
        .orElse(tableById(tableId, s).flatMap(t =>
          tagAt(s"schema:${t.schemaName}", key, s)))
        .orElse(tagAt("global", key, s))

    def statsFor(fileId: Long): Vector[FileColumnStats] =
      stats.filter(_.fileId == fileId)

    def nextTableId: Long = (tables.map(_.tableId) :+ 0L).max + 1
    def nextColumnId(tableId: Long): Long =
      (columns.filter(_.tableId == tableId).map(_.columnId) :+ 0L).max + 1
    def nextFileId: Long =
      ((files.map(_.fileId) ++ deleteFiles.map(_.deleteFileId)) :+ 0L).max + 1
    def nextBatchId: Long = (inlined.map(_.batchId) :+ 0L).max + 1
    def nextRowId(tableId: Long): Long = {
      val fromFiles = files.filter(_.tableId == tableId)
        .map(f => f.firstRowId + f.rowCount)
      val fromInline = inlined.filter(_.tableId == tableId)
        .map(b => (b.ids :+ (b.firstRowId - 1)).max + 1)
      ((fromFiles ++ fromInline) :+ 0L).max
    }
  }

  object CatalogState {
    val empty: CatalogState = CatalogState(Vector.empty, Vector.empty,
      Vector.empty, Vector.empty, Vector.empty, Vector.empty, Vector.empty,
      Vector.empty, Vector.empty, Vector.empty, Vector.empty)
  }

  /** Fold one commit delta into the state. */
  def apply(state: CatalogState, d: CommitDelta): CatalogState = {
    val s = d.snapshot.snapshotId
    def endRows[A](rows: Vector[A], shouldEnd: A => Boolean, withEnd: A => A): Vector[A] =
      rows.map(r => if (shouldEnd(r)) withEnd(r) else r)
    CatalogState(
      // expiry removes the snapshot ROW (time travel/CDF refuse it); the
      // interval-versioned entity rows keep their begin/end history
      snapshots = state.snapshots.filterNot(sn =>
        d.expiredSnapshots.contains(sn.snapshotId)) :+ d.snapshot,
      tables = endRows[TableEntry](state.tables,
        t => d.endedTables.contains(t.tableId) && t.end.isEmpty,
        _.copy(end = Some(s))) ++ d.newTables,
      columns = endRows[ColumnEntry](state.columns,
        c => d.endedColumns.contains(s"${c.tableId}:${c.columnId}") && c.end.isEmpty,
        _.copy(end = Some(s))) ++ d.newColumns,
      files = endRows[DataFileEntry](state.files,
        f => d.endedFiles.contains(f.fileId) && f.end.isEmpty,
        _.copy(end = Some(s))) ++ d.newFiles,
      deleteFiles = endRows[DeleteFileEntry](state.deleteFiles,
        f => d.endedDeleteFiles.contains(f.deleteFileId) && f.end.isEmpty,
        _.copy(end = Some(s))) ++ d.newDeleteFiles,
      stats = state.stats ++ d.newStats,
      partitionInfo = endRows[PartitionInfoEntry](state.partitionInfo,
        p => d.endedPartitionInfo.contains(p.tableId) && p.end.isEmpty,
        _.copy(end = Some(s))) ++ d.newPartitionInfo,
      sortInfo = endRows[SortInfoEntry](state.sortInfo,
        p => d.endedSortInfo.contains(p.tableId) && p.end.isEmpty,
        _.copy(end = Some(s))) ++ d.newSortInfo,
      inlined = endRows[InlinedBatch](state.inlined,
        b => d.endedInlined.contains(b.batchId) && b.end.isEmpty,
        _.copy(end = Some(s))) ++ d.newInlined,
      tags = endRows[TagEntry](state.tags,
        t => d.endedTags.contains(s"${t.scope}:${t.key}") && t.end.isEmpty,
        _.copy(end = Some(s))) ++ d.newTags,
      scheduledDeletions = state.scheduledDeletions
        .filterNot(sd => d.removedScheduledDeletions.contains(sd.path))
        ++ d.newScheduledDeletions)
  }
}
