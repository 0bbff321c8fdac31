package graft.lake

// no java.nio imports: every filesystem touch in this file goes through
// the StoreIO seam (VERDICT r7 wrinkle (c) — audited, the import was dead)
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Meta._

/** Maintenance jobs + metadata TVFs + change data feed — the `ducklake.*`
  * function surface (SURVEY.md §2.A A12-A28; sql/pg_ducklake--0.1.0.sql).
  * Everything metadata-shaped returns a DataFrame so the surface composes
  * with Spark SQL exactly like the reference's TVFs compose with PG SQL.
  */
class Lake(val spark: SparkSession, val root: String,
    txStore: Option[MetadataStore] = None) {
  val store: MetadataStore = txStore.getOrElse(new MetadataStore(root))

  /** the shared-database catalog URL when this lake's metadata lives in
    * one (pass it as the `jdbc` option to DSv2 catalogs / stream
    * sources/sinks targeting the same lake) */
  def jdbcUrl: Option[String] = store match {
    case j: JdbcMetadataStore => Some(j.url)
    case _ => None
  }

  /** Run `body` as ONE transaction: every DDL/DML op inside commits into a
    * staging log (reads see the transaction's own writes, and nothing
    * outside sees any of them), and the whole group lands as a SINGLE
    * snapshot on successful return — reference `BEGIN; ...; COMMIT`
    * semantics (test/regression/sql/transaction.sql,
    * test/isolation/specs/explicit_transaction_commit.spec). If `body`
    * throws, every staged data file is deleted and no metadata changes —
    * rollback invisibility. If another writer committed since the
    * transaction began, the commit aborts the same way with
    * `ConcurrentModificationException` (serial transactions; the caller
    * retries the whole block, exactly like a PG serialization failure).
    * Maintenance ops (vacuum/cleanup/freeze/rewrites) are rejected inside a
    * transaction — they delete physical files, which cannot be rolled back.
    * Returns (body result, committed snapshot id). */
  def transaction[T](body: Lake => T): (T, Long) = {
    require(!store.isInstanceOf[StagingStore], "transactions cannot nest")
    val staging = new StagingStore(store)
    val tx = new Lake(spark, root, Some(staging))
    def rollback(): Unit = staging.stagedPaths.foreach(LakeWrite.deleteRecursively)
    val result =
      try body(tx)
      catch { case e: Throwable => rollback(); throw e }
    val stagedDeltas = staging.staged.toList
    if (stagedDeltas.isEmpty) return (result, store.state().currentSnapshotId)
    val finalSid = staging.baseSid + 1
    val merged = LakeTransaction.merge(staging.baseSid, stagedDeltas, finalSid,
      System.currentTimeMillis())
    // same message stamping + require_commit_message enforcement as every
    // other write path (commitWithRetry) — a transaction snapshot is not a
    // back door around a live require_commit_message tag (ADVICE r5)
    try store.commit(store.stampCommitMessage(store.state(), merged))
    catch {
      case e: CommitConflictException =>
        rollback()
        throw new java.util.ConcurrentModificationException(
          s"transaction conflicts with a concurrent commit: ${e.getMessage}")
      case e: Throwable => // e.g. require_commit_message unmet: same rollback
        rollback(); throw e
    }
    (result, finalSid)
  }

  private def requireNotInTransaction(op: String): Unit =
    require(!store.isInstanceOf[StagingStore],
      s"$op deletes or exports physical files and cannot run inside a transaction")

  /** role/user/grant DDL + ACL metadata (SURVEY §2.A A30, [[LakeAcl]]) */
  def acl: AclOps = new AclOps(this)

  /** DDL + maintenance gate: when the session declares a user
    * (`graft.user`), these ops require the superuser role — the
    * reference's intended-access matrix (docs/access_control.md), with
    * the enforcement its pg_duckdb planner skips. Zero metadata reads
    * when no user is declared. */
  private def aclSuper(op: String): Unit =
    if (LakeAcl.enforced(spark)) {
      val st = store.state()
      LakeAcl.requireSuperuser(spark, st, op, st.currentSnapshotId)
    }

  def schemaOf(table: String): (String, String) = table.split('.') match {
    case Array(s, t) => (s, t)
    case Array(t) => ("main", t)
    case _ => throw new IllegalArgumentException(s"bad table name: $table")
  }

  private def resolve(table: String, st: CatalogState): TableEntry = {
    val (sn, tn) = schemaOf(table)
    st.tableAt(sn, tn, st.currentSnapshotId)
      .getOrElse(throw new NoSuchElementException(s"no table $table"))
  }

  // ---------------------------------------------------------------- DDL/DML

  def createTable(table: String, schema: StructType,
      partitionKeys: List[PartitionKey] = Nil,
      sortKeys: List[SortKey] = Nil,
      props: Map[String, String] = Map.empty): Long = {
    aclSuper("CREATE TABLE")
    val (sn, tn) = schemaOf(table)
    store.commitWithRetry() { (st, sid) =>
      require(st.tableAt(sn, tn, st.currentSnapshotId).isEmpty, s"table $table exists")
      val tid = st.nextTableId
      CommitDelta(
        snapshot = Snapshot(sid, System.currentTimeMillis(), sid,
          List(s"created_table:$sn.$tn")),
        newTables = List(TableEntry(tid, sn, tn, sid, None)),
        newColumns = schema.fields.zipWithIndex.map { case (f, i) =>
          // column metadata {"graft.type": "geometry"} declares a catalog
          // type annotation over the Spark storage type (WKB-in-binary)
          val declared =
            if (f.metadata.contains("graft.type")) f.metadata.getString("graft.type")
            else LakeRead.relaxNullability(f.dataType).sql
          ColumnEntry(tid, i + 1, i, f.name, declared, f.nullable, None, sid, None)
        }.toList,
        newPartitionInfo =
          if (partitionKeys.nonEmpty) List(PartitionInfoEntry(tid, partitionKeys, sid, None)) else Nil,
        newSortInfo =
          if (sortKeys.nonEmpty) List(SortInfoEntry(tid, sortKeys, sid, None)) else Nil,
        newTags = props.map { case (k, v) => TagEntry(tid.toString, k, v, sid, None) }.toList)
    }
  }

  def append(table: String, df: DataFrame, overwrite: Boolean = false): Long = {
    val (sn, tn) = schemaOf(table)
    LakeWrite.append(spark, store, sn, tn, df, overwrite = overwrite)
  }

  /** DROP TABLE (API twin of the DSv2 path, LakeCatalog.dropTable): ends
    * the table's interval and schedules its files for deletion. */
  def dropTable(table: String): Long = {
    aclSuper("DROP TABLE")
    val (sn, tn) = schemaOf(table)
    store.commitWithRetry() { (st, sid) =>
      val cur = st.currentSnapshotId
      val entry = st.tableAt(sn, tn, cur)
        .getOrElse(throw new NoSuchElementException(s"no table $table"))
      val tid = entry.tableId
      val paths = st.filesAt(tid, cur).map(_.path) ++ st.deleteFilesAt(tid, cur).map(_.path)
      CommitDelta(
        snapshot = Snapshot(sid, System.currentTimeMillis(),
          st.snapshots.lastOption.map(_.schemaVersion).getOrElse(0L),
          List(s"dropped_table:$sn.$tn")),
        endedTables = List(tid),
        endedFiles = st.filesAt(tid, cur).map(_.fileId).toList,
        endedDeleteFiles = st.deleteFilesAt(tid, cur).map(_.deleteFileId).toList,
        endedInlined = st.inlinedAt(tid, cur).map(_.batchId).toList,
        newScheduledDeletions = paths.map(p =>
          ScheduledDeletion(p, System.currentTimeMillis(), sid)).toList)
    }
  }

  /** CTAS (reference src/pgducklake_table.cpp:679-699) */
  def createTableAs(table: String, df: DataFrame,
      partitionKeys: List[PartitionKey] = Nil): Long = {
    createTable(table, df.schema, partitionKeys)
    append(table, df)
  }

  def insertRows(table: String, rows: Seq[Seq[Any]]): Long = {
    val (sn, tn) = schemaOf(table)
    LakeAcl.check(spark, store, "INSERT", sn, tn)
    LakeWrite.insertRows(spark, store, sn, tn, rows)
  }

  /** add_data_files (upstream DuckLake `ducklake_add_data_files`; the
    * reference lists it unsupported, docs/ducklake_feature_coverage.md:94):
    * register existing parquet files into a table WITHOUT rewriting them.
    *
    * Metadata-first by design — row counts and sizes come from the parquet
    * footers and the filesystem, so registering a 100 TB directory reads
    * zero data rows. With `collectStats` (default) the files also get the
    * write path's per-file stats ([[LakeWrite.fileStats]]: footers first,
    * else one distributed agg job), so registered files prune exactly like
    * native ones; `collectStats = false` is the pure-footer
    * bulk path — absent stats make the pruner keep the files, never drop
    * them. Identity partition-key values are recorded when a file's stats
    * prove a single value (min == max, no nulls); transform keys stay
    * unrecorded → the file is always read, never mis-pruned.
    *
    * Validation is strict: every file column must exist in the table with
    * the exact Spark type (no silent widening — the native scan tier
    * stamps these files with the CURRENT schema epoch and Spark's by-name
    * parquet reader does not cast); table columns absent from a file must
    * be nullable with no existence default (the reader null-fills them).
    * Registered files become lake-managed: compaction may rewrite them and
    * `cleanup_old_files` may delete them once superseded. */
  def addDataFiles(table: String, paths: Seq[String],
      collectStats: Boolean = true): Long = {
    aclSuper("add_data_files")
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    require(paths.nonEmpty, "addDataFiles: no paths given")
    val st0 = store.state()
    val e = resolve(table, st0)
    val tid = e.tableId
    val cur = st0.currentSnapshotId
    val cols = st0.columnsAt(tid, cur)
    val byName = cols.map(c => c.name -> c).toMap
    val hconf = spark.sessionState.newHadoopConf()

    case class Candidate(path: String, fileName: String, rows: Long, size: Long)
    val cands = paths.map { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(hconf)
      val status = fs.getFileStatus(hp) // throws loudly when absent
      require(status.isFile, s"addDataFiles: not a file: $p")
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(hp, hconf))
      val rows = try reader.getRecordCount finally reader.close()
      val fileSchema = spark.read.parquet(p).schema
      fileSchema.fields.foreach { f =>
        val c = byName.getOrElse(f.name, throw new IllegalArgumentException(
          s"addDataFiles: $p has column '${f.name}' not in table $table"))
        val want = LakeRead.sparkType(c.dataType)
        require(LakeRead.relaxNullability(f.dataType).sql ==
            LakeRead.relaxNullability(want).sql,
          s"addDataFiles: $p column '${f.name}' is ${f.dataType.sql}, table declares ${want.sql}")
      }
      val present = fileSchema.fieldNames.toSet
      cols.filterNot(c => present.contains(c.name)).foreach { c =>
        require(c.nullable && c.existsDefault.isEmpty,
          s"addDataFiles: $p lacks column '${c.name}' (not null-fillable)")
      }
      Candidate(hp.toString, hp.getName, rows, status.getLen)
    }
    val names = cands.map(_.fileName)
    require(names.distinct.size == names.size,
      s"addDataFiles: duplicate file names in batch: ${names.diff(names.distinct).distinct.mkString(", ")}")
    // fileName is the positional-delete join key — unique store-wide
    val taken = st0.files.map(_.fileName).toSet
    names.find(taken).foreach(n => throw new IllegalArgumentException(
      s"addDataFiles: file name '$n' is already registered; rename the file"))

    // the write path's stats (footer-first, r17, guide §6): foreign files
    // carry their writers' statistics, which parquet-mr's reader already
    // sanitizes (legacy corrupt binary stats are dropped at decode →
    // harvest falls back); physical-vs-declared type mismatches fall back
    // inside FooterStats
    val stats: Map[String, Seq[FileColumnStats]] =
      if (!collectStats || cands.forall(_.rows == 0L)) Map.empty
      else LakeWrite.fileStats(spark, cols, cands.map(cd => cd.fileName -> cd.path))
        .map { case (name, (_, s)) => name -> s }
    val partKeys = st0.partitionKeysAt(tid, cur)
    val written = LakeWrite.WrittenFiles(cands.sortBy(_.fileName).map { cd =>
      val s = stats.getOrElse(cd.fileName, Nil)
      val pvals = partKeys.filter(_.transform == "identity").flatMap { pk =>
        s.find(_.columnName == pk.column).collect {
          case FileColumnStats(_, _, _, Some(mn), mx, 0L) if mx.contains(mn) => pk.label -> mn
        }
      }.toMap
      LakeWrite.NewFile(cd.path, cd.fileName, cd.rows, cd.size, pvals, s)
    }, explicitRowIds = false)

    store.commitWithRetry() { (st, sid) =>
      if (st.tableById(tid, st.currentSnapshotId).isEmpty)
        throw new IllegalStateException(s"table $table dropped concurrently")
      val schemaVersion = st.snapshots.lastOption.map(_.schemaVersion).getOrElse(0L)
      val (newFiles, newStats) =
        written.entries(tid, sid, schemaVersion, st.nextFileId, st.nextRowId(tid))
      CommitDelta(
        snapshot = Snapshot(sid, System.currentTimeMillis(), schemaVersion,
          List(s"inserted:$tid:${written.rows}")),
        newFiles = newFiles, newStats = newStats)
    }
  }

  def delete(table: String, cond: Column): (Long, Long) = {
    val (sn, tn) = schemaOf(table)
    LakeWrite.delete(spark, store, sn, tn, cond)
  }

  def update(table: String, cond: Column, set: Map[String, Column]): (Long, Long) = {
    val (sn, tn) = schemaOf(table)
    LakeWrite.update(spark, store, sn, tn, cond, set)
  }

  /** MERGE INTO (SQL `MERGE` lowers onto the same call). Source column
    * names must be disjoint from the target's — rename (e.g. prefix
    * `_src_`) before calling. Returns (snapshotId, updated, deleted,
    * inserted). */
  def merge(table: String, source: DataFrame, on: Column,
      matched: Seq[LakeWrite.MergeMatched],
      notMatched: Seq[LakeWrite.MergeInsert],
      notMatchedBySource: Seq[LakeWrite.MergeMatched] = Nil): (Long, Long, Long, Long) = {
    val (sn, tn) = schemaOf(table)
    LakeWrite.merge(spark, store, sn, tn, source, on, matched, notMatched, notMatchedBySource)
  }

  // ---------------------------------------------------------------- reads

  /** snapshot-scoped scan; version None = current (or session as-of conf) */
  def table(name: String, version: Option[Long] = None): DataFrame = {
    val st = store.state()
    val entry = resolve(name, st)
    val s = version
      .orElse(spark.conf.getOption("spark.graft.lake.asOfSnapshot").map(_.toLong))
      .orElse(spark.conf.getOption("spark.graft.lake.asOfTimestampMs")
        .flatMap(ms => st.snapshotAtTime(ms.toLong)))
      .getOrElse(st.currentSnapshotId)
    require(st.snapshots.exists(_.snapshotId == s),
      s"snapshot $s does not exist or has been expired")
    require(liveAt(entry.begin, entry.end, s) ||
      st.tableById(entry.tableId, s).isDefined, s"table $name not live at $s")
    LakeRead.scanDF(spark, st, entry.tableId, s)
  }

  /** scan surfacing the hidden meta columns (_graft_file, _graft_pos,
    * _graft_row_id) — lets callers observe physical row order (sorted
    * tables) and stable row identity. */
  def tableWithRowMeta(name: String): DataFrame = {
    val st = store.state()
    val e = resolve(name, st)
    LakeRead.scanDF(spark, st, e.tableId, st.currentSnapshotId, Nil, withRowMeta = true)
  }

  /** time travel by wall-clock ms (reference time_travel(tbl, ts)) */
  def tableAsOfTime(name: String, tsMs: Long): DataFrame = {
    val st = store.state()
    val s = st.snapshotAtTime(tsMs)
      .getOrElse(throw new NoSuchElementException(s"no snapshot at or before $tsMs"))
    table(name, Some(s))
  }

  // ------------------------------------------------------------- metadata TVFs

  private val snapshotSchema = StructType(Seq(
    StructField("snapshot_id", LongType), StructField("snapshot_time", TimestampType),
    StructField("schema_version", LongType), StructField("changes", StringType),
    StructField("commit_message", StringType)))

  private def snapshotRow(s: Snapshot): Row =
    Row(s.snapshotId, new java.sql.Timestamp(s.snapshotTimeMs), s.schemaVersion,
      s.changes.mkString(","), s.commitMessage.orNull)

  /** snapshots() TVF (reference src/pgducklake_functions.cpp:93-103) */
  def snapshots(): DataFrame = {
    val st = store.state()
    spark.createDataFrame(st.snapshots.map(snapshotRow).toList.asJava, snapshotSchema)
  }

  /** last_committed_snapshot() TVF (sql/pg_ducklake--0.1.0.sql:296-300;
    * snapshots.sql Test 2: exactly one row — the newest committed snapshot,
    * which in this engine is also the current one since commits are the
    * only way snapshots appear). */
  def lastCommittedSnapshot(): DataFrame = {
    val st = store.state()
    spark.createDataFrame(
      st.snapshots.lastOption.map(snapshotRow).toList.asJava, snapshotSchema)
  }

  def currentSnapshot(): Long = store.state().currentSnapshotId

  /** get_partition TVF (sql/pg_ducklake--0.1.0.sql:214-239): the table's
    * live partition keys, one row per key, ordered by key index. */
  def getPartition(table: String): DataFrame = {
    val st = store.state()
    val e = resolve(table, st)
    val rows = st.partitionKeysAt(e.tableId, st.currentSnapshotId).zipWithIndex
      .map { case (k, i) => Row(i.toLong, k.column, k.transform) }
    spark.createDataFrame(rows.toList.asJava, StructType(Seq(
      StructField("partition_key_index", LongType),
      StructField("column_name", StringType),
      StructField("transform", StringType))))
  }

  /** get_sort TVF (sql/pg_ducklake--0.1.0.sql:254-278): the table's live
    * sort keys with direction and null order, ordered by key index. */
  def getSort(table: String): DataFrame = {
    val st = store.state()
    val e = resolve(table, st)
    val rows = st.sortKeysAt(e.tableId, st.currentSnapshotId).zipWithIndex
      .map { case (k, i) =>
        Row(i.toLong, k.expr, if (k.ascending) "ASC" else "DESC",
          // underscore form matches the reference's output exactly
          // (test/regression/expected/sorted_table.out:19,28-29)
          if (k.nullsFirst) "NULLS_FIRST" else "NULLS_LAST")
      }
    spark.createDataFrame(rows.toList.asJava, StructType(Seq(
      StructField("sort_key_index", LongType), StructField("expression", StringType),
      StructField("direction", StringType), StructField("null_order", StringType))))
  }

  /** list_files TVF (reference sql/pg_ducklake--0.1.0.sql:312-323) */
  def listFiles(table: String): DataFrame = {
    val st = store.state()
    val e = resolve(table, st)
    val rows = st.filesAt(e.tableId, st.currentSnapshotId).map(f =>
      Row(f.fileId, f.fileName, f.rowCount, f.fileSizeBytes,
        mapAsString(f.partitionValues), f.begin))
    spark.createDataFrame(rows.toList.asJava, StructType(Seq(
      StructField("file_id", LongType), StructField("file_name", StringType),
      StructField("row_count", LongType), StructField("file_size", LongType),
      StructField("partition_values", StringType), StructField("begin_snapshot", LongType))))
  }

  private def mapAsString(m: Map[String, String]): String =
    m.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")

  /** Per-table SPJ operating recommendation from the SAME file-size
    * histogram the key-grouped scan's skew split derives its per-group
    * decision from (VERDICT r14 #6, settled): the session conf
    * `partiallyClusteredDistribution.enabled` is Spark's MASTER switch —
    * it keys the join's OTHER-side replication at planning, so a catalog
    * option can only NARROW it (`spj.mode=ordering`), never widen it
    * per-table. What the engine CAN do is tell the operator which tables
    * would benefit from the session flip:
    *   - "skew-split": some key group holds >1 file and more than
    *     `NativeParquet.SkewFactor` × the median group's bytes — the
    *     per-file split would relieve a straggler;
    *   - "ordering": SPJ-groupable and balanced — fused groups keep the
    *     sort-elision report;
    *   - None: not SPJ-groupable (no identity/bucket partition spec, or
    *     files without recorded values).
    */
  private def spjRecommendation(st: CatalogState, tableId: Long, cur: Long): Option[String] = {
    val pks = st.partitionKeysAt(tableId, cur)
    def groupable(pk: PartitionKey): Boolean =
      pk.transform == "identity" || BucketTransform.unapply(pk.transform).isDefined
    if (pks.isEmpty || !pks.forall(groupable)) return None
    val files = st.filesAt(tableId, cur).map(st.fileNamesAt(tableId, cur))
    if (files.isEmpty) return None
    val keyed = files.map { f =>
      pks.map(pk => f.partitionValues.getOrElse(pk.label, return None)) ->
        f.fileSizeBytes
    }
    val groups = keyed.groupBy(_._1).values
      .map(fs => (fs.map(_._2).sum, fs.size)).toSeq
    val bytes = groups.map(_._1).sorted
    val median = math.max(1L, bytes(bytes.size / 2))
    val hot = groups.exists { case (b, n) =>
      n > 1 && b > org.apache.spark.sql.graft.NativeParquet.SkewFactor * median }
    Some(if (hot) "skew-split" else "ordering")
  }

  /** table_info TVF */
  def tableInfo(): DataFrame = {
    val st = store.state()
    val cur = st.currentSnapshotId
    val rows = st.tables.filter(t => liveAt(t.begin, t.end, cur)).map { t =>
      val files = st.filesAt(t.tableId, cur)
      val inl = st.inlinedAt(t.tableId, cur)
      val dels = st.deleteFilesAt(t.tableId, cur)
      Row(t.tableId, t.schemaName, t.tableName, files.length.toLong,
        files.map(_.rowCount).sum + inl.map(_.rowsJson.length.toLong).sum,
        files.map(_.fileSizeBytes).sum, dels.length.toLong,
        inl.map(_.rowsJson.length.toLong).sum,
        spjRecommendation(st, t.tableId, cur).orNull)
    }
    spark.createDataFrame(rows.toList.asJava, StructType(Seq(
      StructField("table_id", LongType), StructField("schema_name", StringType),
      StructField("table_name", StringType), StructField("file_count", LongType),
      StructField("row_count", LongType), StructField("file_size_bytes", LongType),
      StructField("delete_file_count", LongType), StructField("inlined_row_count", LongType),
      StructField("spj_recommendation", StringType))))
  }

  // ------------------------------------------------------------ change feed

  /** table_changes(tbl, s0, s1]: insert / delete / update_preimage /
    * update_postimage rows (reference sql/pg_ducklake--0.1.0.sql:344-449,
    * docs/sql_objects.md §table_changes, data_change_feed.sql).
    *
    * Metadata plus lake scans, as the reference computes it (SURVEY.md
    * A16): the window walk classifies every snapshot on the driver, and
    * every data read is one [[LakeNativeScan]] whose rows carry their
    * (`_snapshot_id`, `_change_type`) from that walk ([[LakeRead.Feed]]) —
    * O(1) scans per window regardless of its snapshot count, and no join
    * outside MERGE:
    *   - inserts and post-images: ONE scan over every new file / inline
    *     batch of the window, each tagged as a whole. A delete of the
    *     snapshot that created a file (one transaction) masks its positions
    *     like a live delete: those rows were never observable;
    *   - deletes and pre-images: ONE scan over the files the window's
    *     delete entries hit that are older than the delete, reading only
    *     the deleted positions, each tagged by its entry (position sets are
    *     disjoint across entries: a row is deleted once), plus the replaced
    *     inline batches' vanished or changed rows;
    *   - one LEFT join of MERGE pre-images to a scan of the same snapshot's
    *     post-image row ids, planned only when the window has MERGEs: a
    *     MERGE deletes and updates in one snapshot, and its delete file does
    *     not record which positions were updates.
    * The walk reads every snapshot of the window, so a window missing one
    * to expiry fails loudly (an expired `startExclusive` alone is fine).
    *
    * Mid-window DDL: all scans run at the WINDOW-END snapshot; scanDF maps
    * every file's schema epoch to the end columns by columnId, so RENAME /
    * ADD / DROP inside the window keep the feed consumable. */
  def tableChanges(table: String, startExclusive: Long, endInclusive: Long): DataFrame = {
    val st = store.state()
    val e = resolve(table, st)
    LakeAcl.requirePriv(spark, st, "SELECT", e.schemaName, e.tableName,
      st.currentSnapshotId)
    require(st.hasAllSnapshots(startExclusive, endInclusive),
      s"table_changes($table, $startExclusive, $endInclusive): the window holds " +
        "snapshots that were expired or do not exist, so its changes are lost")
    val tid = e.tableId
    val cols = st.columnsAt(tid, endInclusive)
    val metaSchema = Seq(StructField("_change_type", StringType),
      StructField("_snapshot_id", LongType), StructField("_row_id", LongType))
    val outSchema = StructType(LakeRead.structFor(cols) ++ metaSchema)
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema)

    // ---- window walk: driver-side classification, O(snapshots) metadata;
    // every file, batch and delete entry with its (snapshot, change type)
    type Tag = (Long, String)
    val insFiles = Vector.newBuilder[(DataFileEntry, Tag)]
    val insBatches = Vector.newBuilder[(InlinedBatch, Tag)]
    val delTagged = Vector.newBuilder[(DeleteFileEntry, Tag)]
    val preBatches = Vector.newBuilder[(InlinedBatch, Tag)]
    val mergePostFiles = Vector.newBuilder[(DataFileEntry, Tag)]
    val mergePostBatches = Vector.newBuilder[(InlinedBatch, Tag)]
    val MergePre = "merge" // sentinel: split into update_preimage/delete below

    st.snapshots
      .filter(s => s.snapshotId > startExclusive && s.snapshotId <= endInclusive)
      .foreach { snap =>
        val sid = snap.snapshotId
        // per-ENTRY, per-TABLE tag scan: a transaction snapshot carries one
        // change entry PER staged op (LakeTransaction.merge concatenates
        // them), so keying on the HEAD entry misattributes everything after
        // the first op — a tx led by a DDL op (setSort; append) used to
        // drop its DML from the feed entirely. Entries are
        // "tag:tid[:detail]"; match tag AND this table's id.
        def has(tags: String*): Boolean = snap.changes.exists(c =>
          tags.exists(t => c == s"$t:$tid" || c.startsWith(s"$t:$tid:")))
        val insertish = has("inserted", "inlined")
        val dml = has("deleted", "updated")
        val mergy = has("merged")
        // non-logical writes (DDL, compaction, flush) are not changes
        if (insertish || dml || mergy) {
          val delta = store.delta(sid)
          val hasDeletes = delta.newDeleteFiles.exists(_.tableId == tid)
          if (insertish && !dml && !mergy && !hasDeletes) {
            delta.newFiles.filter(_.tableId == tid)
              .foreach(f => insFiles += ((f, (sid, "insert"))))
            delta.newInlined.filter(b => b.tableId == tid && b.rowIds.isEmpty)
              .foreach(b => insBatches += ((b, (sid, "insert"))))
          } else if (dml || insertish) {
            // a transaction snapshot can carry inserts AND deletes in one
            // delta; every new file/batch of an update-tagged snapshot is a
            // post-image, of a delete/insert-tagged one an insert
            val post = (sid, if (has("updated")) "update_postimage" else "insert")
            val pre = (sid, if (has("updated")) "update_preimage" else "delete")
            delta.newFiles.filter(_.tableId == tid).foreach(f => insFiles += ((f, post)))
            delta.newInlined.filter(b => b.tableId == tid && b.rowIds.isEmpty)
              .foreach(b => insBatches += ((b, post)))
            changedInline(st, delta, tid).foreach(b => insBatches += ((b, post)))
            delta.newDeleteFiles.filter(_.tableId == tid).foreach(d => delTagged += ((d, pre)))
            removedInline(st, delta, tid).foreach(b => preBatches += ((b, pre)))
          } else { // pure MERGE snapshot
            val (ins, post, pre) = ((sid, "insert"), (sid, "update_postimage"), (sid, MergePre))
            delta.newFiles.filter(_.tableId == tid).foreach { f =>
              if (!f.explicitRowIds) insFiles += ((f, ins))
              else { insFiles += ((f, post)); mergePostFiles += ((f, post)) }
            }
            delta.newInlined.filter(b => b.tableId == tid && b.rowIds.isEmpty)
              .foreach(b => insBatches += ((b, ins)))
            changedInline(st, delta, tid).foreach { b =>
              insBatches += ((b, post)); mergePostBatches += ((b, post))
            }
            delta.newDeleteFiles.filter(_.tableId == tid).foreach(d => delTagged += ((d, pre)))
            removedInline(st, delta, tid).foreach(b => preBatches += ((b, pre)))
          }
        }
      }
    val insFilesV = insFiles.result()
    val insBatchesV = insBatches.result()
    val delTaggedV = delTagged.result()
    val preBatchesV = preBatches.result()
    val mergePostFilesV = mergePostFiles.result()
    val mergePostBatchesV = mergePostBatches.result()

    def tags(files: Seq[(DataFileEntry, Tag)], batches: Seq[(InlinedBatch, Tag)]): Map[String, Tag] =
      (files.map { case (f, t) => f.fileName -> t } ++
        batches.map { case (b, t) => s"inline:${b.batchId}" -> t }).toMap
    def scan(files: Seq[DataFileEntry], batches: Seq[InlinedBatch], feed: LakeRead.Feed) =
      LakeRead.scanDF(spark, scopedState(st, files, batches), tid, endInclusive,
        feed = Some(feed))
    // the window's delete entries against the table's files (the live
    // read's rule, LakeTable.deleteHits), split by the hit file's age
    val tagOf = delTaggedV.map { case (d, t) => d.deleteFileId -> t }.toMap
    val (ownSnapshot, older) = LakeTable.deleteHits(delTaggedV.map(_._1),
        st.files.filter(_.tableId == tid))
      .partition { case (d, f, _) => f.begin == tagOf(d.deleteFileId)._1 }

    // ---- inserted side
    val insertedPart: Option[DataFrame] =
      if (insFilesV.isEmpty && insBatchesV.isEmpty) None
      else {
        val names = insFilesV.map(_._1.fileName).toSet
        Some(scan(insFilesV.map(_._1), insBatchesV.map(_._1), LakeRead.Feed(
          tags(insFilesV, insBatchesV),
          LakeTable.partsByFile(ownSnapshot.filter(h => names(h._2.fileName))))))
      }

    // ---- pre-image side: the deleted positions of the files live before
    // their delete, and the replaced inline rows
    val preHits = older.filter { case (d, f, _) =>
      liveAt(f.begin, f.end, tagOf(d.deleteFileId)._1 - 1) }
    val prePart: Option[DataFrame] =
      if (preHits.isEmpty && preBatchesV.isEmpty) None
      else Some(scan(preHits.map(_._2).distinctBy(_.fileId).sortBy(_.fileId),
        preBatchesV.map(_._1), LakeRead.Feed(
          tags(Nil, preBatchesV) ++
            preHits.flatMap { case (d, _, ps) => ps.map(_ -> tagOf(d.deleteFileId)) },
          LakeTable.partsByFile(preHits), preImages = true)))
        .map { pre =>
          val merged = col("_change_type") === MergePre
          if (mergePostFilesV.isEmpty && mergePostBatchesV.isEmpty)
            pre.withColumn("_change_type", when(merged, "delete").otherwise(col("_change_type")))
          else {
            val post = scan(mergePostFilesV.map(_._1), mergePostBatchesV.map(_._1),
                LakeRead.Feed(tags(mergePostFilesV, mergePostBatchesV)))
              .select(col("_row_id").as("_graft_prid"), col("_snapshot_id").as("_graft_psid"))
            pre.join(post, pre("_row_id") === post("_graft_prid") &&
                pre("_snapshot_id") === post("_graft_psid"), "left")
              .withColumn("_change_type", when(!merged, col("_change_type"))
                .when(col("_graft_prid").isNotNull, "update_preimage")
                .otherwise("delete"))
              .drop("_graft_prid", "_graft_psid")
          }
        }

    (insertedPart.toSeq ++ prePart.toSeq).foldLeft(empty)(_ unionByName _)
  }

  def tableInsertions(table: String, s0: Long, s1: Long): DataFrame =
    tableChanges(table, s0, s1).filter(col("_change_type").isin("insert", "update_postimage"))

  def tableDeletions(table: String, s0: Long, s1: Long): DataFrame =
    tableChanges(table, s0, s1).filter(col("_change_type").isin("delete", "update_preimage"))

  /** Timestamp overloads (reference table_changes/insertions/deletions
    * taking timestamptz bounds, sql/pg_ducklake--0.1.0.sql:356-445): the
    * wall-clock window [t0Ms, t1Ms] resolves to the snapshots committed
    * inside it via snapshot times. */
  private def timeWindowToSnapshots(t0Ms: Long, t1Ms: Long): (Long, Long) = {
    val st = store.state()
    val before = st.snapshots.filter(_.snapshotTimeMs < t0Ms)
    val s0 = before.lastOption.map(_.snapshotId).getOrElse(-1L)
    val s1 = st.snapshotAtTime(t1Ms).getOrElse(-1L)
    (s0, s1)
  }

  def tableChangesBetweenTimes(table: String, t0Ms: Long, t1Ms: Long): DataFrame = {
    val (s0, s1) = timeWindowToSnapshots(t0Ms, t1Ms)
    tableChanges(table, s0, s1)
  }

  def tableInsertionsBetweenTimes(table: String, t0Ms: Long, t1Ms: Long): DataFrame = {
    val (s0, s1) = timeWindowToSnapshots(t0Ms, t1Ms)
    tableInsertions(table, s0, s1)
  }

  def tableDeletionsBetweenTimes(table: String, t0Ms: Long, t1Ms: Long): DataFrame = {
    val (s0, s1) = timeWindowToSnapshots(t0Ms, t1Ms)
    tableDeletions(table, s0, s1)
  }

  /** scope a state view to an explicit file/batch set: intervals are opened
    * so the scan keeps them regardless of the snapshot used for schema */
  private def scopedState(st: CatalogState, files: Seq[DataFileEntry],
      batches: Seq[InlinedBatch]): CatalogState =
    st.copy(
      files = files.map(_.copy(begin = 0L, end = None)).toVector,
      deleteFiles = Vector.empty,
      inlined = batches.map(_.copy(begin = 0L, end = None)).toVector)

  /** old-row JSON by row id from the batches this snapshot replaced */
  private def priorInlineJson(st: CatalogState, delta: CommitDelta, tid: Long): Map[Long, String] =
    st.inlined.filter(b => b.tableId == tid && delta.endedInlined.contains(b.batchId))
      .flatMap(b => b.rowsJson.zip(b.ids).map { case (j, rid) => rid -> j }).toMap

  /** rewritten inline batches restricted to rows whose content CHANGED
    * (update post-images); untouched survivors are not changes */
  private def changedInline(st: CatalogState, delta: CommitDelta, tid: Long): Seq[InlinedBatch] = {
    val oldJson = priorInlineJson(st, delta, tid)
    delta.newInlined.filter(b => b.tableId == tid && b.rowIds.isDefined)
      .map { b =>
        val kept = b.rowsJson.zip(b.ids)
          .filter { case (j, rid) => oldJson.get(rid).exists(_ != j) }
        b.copy(rowsJson = kept.map(_._1), rowIds = Some(kept.map(_._2)))
      }.filter(_.rowsJson.nonEmpty)
  }

  /** inline pre-images: rows of replaced batches that vanished or changed */
  private def removedInline(st: CatalogState, delta: CommitDelta, tid: Long): Seq[InlinedBatch] = {
    val endedBatches = st.inlined.filter(b => b.tableId == tid &&
      delta.endedInlined.contains(b.batchId))
    val replacement: Map[Long, String] = delta.newInlined.filter(_.tableId == tid)
      .flatMap(b => b.rowsJson.zip(b.ids).map { case (j, rid) => rid -> j }).toMap
    endedBatches.map { b =>
      val gone = b.rowsJson.zip(b.ids)
        .filter { case (j, rid) => replacement.get(rid).forall(_ != j) }
      b.copy(rowsJson = gone.map(_._1), rowIds = Some(gone.map(_._2)))
    }.filter(_.rowsJson.nonEmpty)
  }

  // ------------------------------------------------------------ maintenance

  /** scoped option: table beats schema beats global (docs/settings.md) */
  private def optionTag(st: CatalogState, tid: Long, key: String): Option[String] =
    st.optionAt(tid, key, st.currentSnapshotId)

  /** the table's `target_file_size` in bytes (DuckLake's default when unset) */
  private def targetFileSize(st: CatalogState, tid: Long): Long =
    optionTag(st, tid, "target_file_size")
      .map(LakeOptions.parseBytes).getOrElse(LakeOptions.DefaultTargetFileSize)

  /** how many ~target_file_size files a whole-table rewrite of `live` writes */
  private def rewriteFileCount(st: CatalogState, tid: Long, live: Seq[DataFileEntry]): Int =
    math.max(1, math.ceil(live.map(_.fileSizeBytes).sum.toDouble / targetFileSize(st, tid)).toInt)

  /** Merge adjacent small files (VACUUM step 2, src/pgducklake_vacuum.cpp:
    * 73-86; DuckLake `ducklake_merge_adjacent_files`): live files SMALLER
    * than `target_file_size` are bin-packed — within one hidden-partition
    * value — into groups whose sum stays under the target, and each group
    * is rewritten by its own task (the plan is a union of single-partition
    * branches, so one distributed job re-writes all groups in parallel,
    * one output file per group). Files already at target size are NOT
    * read or rewritten — on a 100 TB table the job touches only the
    * small-file tail, never the whole table. One snapshot swaps the file
    * entries; row ids are preserved (explicit `_graft_row_id`).
    *
    * Pack order (r14, VERDICT r13 #3): when the table has sort keys and
    * every small file carries usable leading-key stats, files pack in
    * LEADING-KEY RANGE order (min for ascending, max descending) instead
    * of fileId order — same I/O, but merging range-adjacent files keeps
    * (or creates) pairwise-DISJOINT output ranges, so routine maintenance
    * preserves the multi-file SPJ sort-elision report instead of silently
    * interleaving ranges until a full rewriteSorted. Tables without sort
    * keys or stats keep the fileId order. */
  def mergeAdjacentFiles(table: String): Long = {
    aclSuper("merge_adjacent_files")
    requireNotInTransaction("mergeAdjacentFiles")
    val (sn, tn) = schemaOf(table)
    val st = store.state()
    val e = resolve(table, st)
    val tid = e.tableId
    val cur = st.currentSnapshotId
    val target = targetFileSize(st, tid)
    val live = st.filesAt(tid, cur)
    val packOrder: Vector[DataFileEntry] => Vector[DataFileEntry] = {
      // safety valve / A-B gate (metadata-only: the job reads and writes
      // the same bytes either way, only the grouping changes)
      val rangeAware = spark.conf
        .getOption("spark.graft.lake.rangeAwareCompaction").forall(_.toBoolean)
      val k1 = if (rangeAware) st.sortKeysAt(tid, cur).headOption else None
      val dt = k1.flatMap(k => st.columnsAt(tid, cur).find(_.name == k.expr))
        .map(_.dataType)
      (k1, dt) match {
        case (Some(k), Some(t)) => fs => {
          // range key per file: min (asc) / max (desc); any file without a
          // comparable bound keeps the whole partition on fileId order.
          // Stats names normalized across renames (k.expr is current-name).
          val statsAt = st.statsForAt(tid, cur, fs)
          val keyed = fs.map { f =>
            val s = statsAt(f.fileId).find(_.columnName == k.expr)
            val bound = s.flatMap(x => if (k.ascending) x.minValue else x.maxValue)
              .filter(b => Pruning.cmpTyped(t, b, b).isDefined)
            (f, bound)
          }
          if (keyed.exists(_._2.isEmpty)) fs.sortBy(_.fileId)
          else keyed.sortWith { case ((fa, Some(a)), (fb, Some(b))) =>
            val c = Pruning.cmpTyped(t, a, b).get
            if (c != 0) (c < 0) == k.ascending else fa.fileId < fb.fileId
          case _ => false
          }.map(_._1)
        }
        case _ => _.sortBy(_.fileId)
      }
    }
    val groups: Seq[Vector[DataFileEntry]] = live
      .filter(_.fileSizeBytes < target)
      .groupBy(_.partitionValues).toSeq.sortBy(_._1.toString)
      .flatMap { case (_, fs) => LakeOptions.binPack(packOrder(fs), target) }
      .filter(_.length >= 2)
    if (groups.isEmpty) return cur
    // one single-partition branch per group: each task reads exactly its
    // group's adjacent files (delete files applied inside the branch scan)
    val df = groups.map { g =>
        LakeRead.scanDF(spark, st.copy(files = g, inlined = Vector.empty),
          tid, cur, Nil, withRowMeta = true)
          .drop(LakeRead.FileCol, LakeRead.PosCol)
          .coalesce(1)
      }.reduce(_ unionByName _)
    // Spark 4.1's spark.sql.unionOutputPartitioning ZIPS a union whose
    // children share a partitioning — N coalesce(1) branches is exactly
    // that shape, so the whole rewrite would execute as ONE task whose
    // sort spills the entire table (observed: 6 GB spills per task at
    // sf100, ENOSPC). Pin it off for this job: the point of the branch
    // shape is one TASK per bin-packed group.
    val unionConfKey = "spark.sql.unionOutputPartitioning"
    val prevUnionConf = spark.conf.getOption(unionConfKey)
    spark.conf.set(unionConfKey, "false")
    try LakeWrite.append(spark, store, sn, tn, df, explicitRowIds = true,
      changeTag = "compacted", sorted = true, repartitionForWrite = false,
      replaces = Some(LakeWrite.ReadSet.rewrite(s"compaction of $table", st, tid, cur,
        groups.flatten)))
    finally prevUnionConf match {
      case Some(v) => spark.conf.set(unionConfKey, v)
      case None => spark.conf.unset(unionConfKey)
    }
  }

  /** Cluster-rewrite: globally range-partition the table's live rows by the
    * declared sort order and rewrite into ~target_file_size files with
    * DISJOINT sort-key ranges.
    *
    * The reference sorts each compaction batch independently
    * (src/pgducklake_sorted_by.cpp, sorted_table.sql), which leaves
    * per-file ranges overlapping across batches; after this rewrite the
    * per-file min/max zone maps are disjoint, so the scan's stats pruning
    * and the runtime (DPP) filters eliminate whole files instead of
    * touching all of them. Plan shape at scale: ONE range-partitioning
    * shuffle (sampled bounds), write parallelism = output file count; no
    * driver-side data movement. Merge-on-read overlays are consumed (the
    * rewrite scans survivors) and inline batches are absorbed. A
    * concurrent DML on what it read, or a concurrent change of the table's
    * columns, sort keys or partition keys, is a retryable conflict; a
    * concurrent append stays live beside the rewrite
    * ([[LakeWrite.requireUnchanged]]). Change feed sees no logical change
    * (compacted tag).
    */
  def rewriteSorted(table: String): Long = {
    aclSuper("rewrite_sorted")
    requireNotInTransaction("rewriteSorted")
    val (sn, tn) = schemaOf(table)
    val st = store.state()
    val e = resolve(table, st)
    val tid = e.tableId
    val cur = st.currentSnapshotId
    val sortKeys = st.sortKeysAt(tid, cur)
    require(sortKeys.nonEmpty, s"$table has no declared sort order (set_sort first)")
    val live = st.filesAt(tid, cur)
    if (live.isEmpty && st.inlinedAt(tid, cur).isEmpty) return cur
    val nOut = rewriteFileCount(st, tid, live)
    val df = LakeRead.scanDF(spark, st, tid, cur, Nil, withRowMeta = true)
      .drop(LakeRead.FileCol, LakeRead.PosCol)
      .repartitionByRange(nOut, sortKeys.map(LakeWrite.sortCol): _*)
    // a concurrent ALTER TABLE would commit rows under a stale schema, a
    // set_sort/set_partition reset would stamp the rewrite as clustered by
    // an order the table no longer declares: both conflict (layout)
    LakeWrite.append(spark, store, sn, tn, df, explicitRowIds = true,
      changeTag = "compacted", sorted = true, repartitionForWrite = false,
      replaces = Some(LakeWrite.ReadSet.rewrite(s"sorted rewrite of $table", st, tid, cur,
        live, st.inlinedAt(tid, cur), layout = true)))
  }

  /** Z-order clustering rewrite: re-cluster the whole table by the Morton
    * interleave of 2-4 columns' quantile buckets, so per-file min/max zone
    * maps tighten on EVERY participating column at once — a point/range
    * filter on any z-column prunes files, where [[rewriteSorted]]'s linear
    * order only serves its leading key. The multi-dimensional analogue of
    * Delta's OPTIMIZE ZORDER BY, expressed Spark-first: one
    * approx-quantile pass derives per-column cut points (skew-balanced
    * buckets), the codegen'd [[graft.functions.ZValue]] stamps the key,
    * and ONE `repartitionByRange` shuffle re-clusters into
    * size-targeted files — identical commit/conflict machinery to
    * [[rewriteSorted]] (absorbs delete overlays + inline batches, aborts
    * on a concurrent DML on what it read or a metadata change, CDF-silent
    * `compacted` snapshot). Columns must be numeric, date, or timestamp. */
  def rewriteZOrder(table: String, zcols: Seq[String], buckets: Int = 256): Long = {
    aclSuper("rewrite_zorder")
    requireNotInTransaction("rewriteZOrder")
    require(zcols.size >= 2 && zcols.size <= 4,
      "rewriteZOrder takes 2-4 columns (one column wants rewriteSorted)")
    require(buckets >= 2 && buckets <= 65536, "buckets must be in [2, 65536]")
    val (sn, tn) = schemaOf(table)
    val st = store.state()
    val e = resolve(table, st)
    val tid = e.tableId
    val cur = st.currentSnapshotId
    val names = st.columnsAt(tid, cur).map(_.name).toSet
    zcols.foreach(c => require(names.contains(c), s"$table has no column $c"))
    val live = st.filesAt(tid, cur)
    if (live.isEmpty && st.inlinedAt(tid, cur).isEmpty) return cur
    val nOut = rewriteFileCount(st, tid, live)
    val base = LakeRead.scanDF(spark, st, tid, cur, Nil, withRowMeta = true)
      .drop(LakeRead.FileCol, LakeRead.PosCol)
    // numeric/timestamp → double directly; date routes via timestamp (a
    // direct date→double cast is not defined in Spark)
    def zDouble(c: String): Column = base.schema(c).dataType match {
      case org.apache.spark.sql.types.DateType =>
        col(c).cast("timestamp").cast("double")
      case _ => col(c).cast("double")
    }
    // quantile cut points per column (skew-balanced buckets)
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val cuts: Array[Array[Double]] = zcols.map { c =>
      val d = base.select(zDouble(c).as("v")).filter(col("v").isNotNull)
      val q = d.stat.approxQuantile("v", probs, 1.0 / (4 * buckets))
      val distinctCuts = q.distinct.sorted
      require(distinctCuts.nonEmpty, s"rewriteZOrder: column $c has no values")
      distinctCuts
    }.toArray
    import org.apache.spark.sql.graft.NativeParquet.{columnOf, expressionOf}
    val zv = columnOf(graft.functions.ZValue(
      zcols.map(c => expressionOf(zDouble(c))), cuts))
    val df = base.withColumn("_graft_zv", zv)
      .repartitionByRange(nOut, col("_graft_zv"))
      .sortWithinPartitions("_graft_zv")
      .drop("_graft_zv")
    LakeWrite.append(spark, store, sn, tn, df, explicitRowIds = true,
      changeTag = "compacted", sorted = false, repartitionForWrite = false,
      replaces = Some(LakeWrite.ReadSet.rewrite(s"z-order rewrite of $table", st, tid, cur,
        live, st.inlinedAt(tid, cur), layout = true)))
  }

  /** Consolidate a table's live delete files into ONE sorted delete dir.
    *
    * Every DELETE/UPDATE/MERGE leaves its own delete dir; files BELOW the
    * rewrite threshold keep accumulating overlays until vacuum. Each live
    * delete dir costs every delete-aware scan task a footer probe, so the
    * maintenance move is to merge them: read all live (file, pos, row_id)
    * rows, rewrite range-partitioned/sorted by (file, pos) (the same
    * layout single-DML delete files get), and swap the entries in one
    * snapshot. Row data is untouched — this is metadata+overlay hygiene,
    * distributed like any delete-file write. The snapshot tag is
    * `compacted:` so the change feed correctly sees NO logical change.
    * Returns the committed snapshot id, or the current one if the table
    * has fewer than two live delete files. */
  def consolidateDeleteFiles(table: String): Long = {
    aclSuper("consolidate_delete_files")
    requireNotInTransaction("consolidateDeleteFiles")
    val st0 = store.state()
    val e = resolve(table, st0)
    val tid = e.tableId
    val cur = st0.currentSnapshotId
    val dels = st0.deleteFilesAt(tid, cur)
    if (dels.size < 2) return cur
    val delStruct = StructType(Seq(StructField("file", StringType),
      StructField("pos", LongType), StructField("row_id", LongType)))
    val hits = spark.read.schema(delStruct).parquet(deleteReadPaths(dels): _*)
      .select(col("file").as(LakeRead.FileCol), col("pos").as(LakeRead.PosCol),
        col("row_id").as(LakeRead.RowIdCol))
    // positions the entries record: they partition the new file exactly
    val written = LakeWrite.writeDeleteFile(spark, store, tid, hits,
      rowBound = dels.map(_.deleteCount).sum).file.getOrElse(return cur)
    // a concurrent rewrite that ended a merged delete file conflicts; a
    // concurrent DML's new delete file stays live beside the merged one
    val reads = LakeWrite.ReadSet(s"delete-file consolidation of $table", tid, cur,
      deleteFiles = dels.map(_.deleteFileId).toSet)
    val byName = st0.filesAt(tid, cur).map(f => f.fileName -> f.fileId).toMap
    store.commitWithRetry() { (st, sid) =>
      LakeWrite.requireUnchanged(st, reads)
      CommitDelta(
        snapshot = Snapshot(sid, System.currentTimeMillis(),
          st.snapshots.lastOption.map(_.schemaVersion).getOrElse(0L),
          List(s"compacted:$tid:deletes")),
        newDeleteFiles = List(written.entry(st.nextFileId, tid, sid, byName)),
        endedDeleteFiles = dels.map(_.deleteFileId).toList,
        newScheduledDeletions = dels.map(d =>
          ScheduledDeletion(d.path, System.currentTimeMillis(), sid)).toList)
    }
  }

  /** rewrite files past the delete threshold, reading the threshold from
    * the `rewrite_delete_threshold` option (table scope, then global, then
    * the reference GUC default 0.1 — src/pgducklake_guc.cpp:21,37-41). */
  def rewriteDataFiles(table: String): Long = {
    val st = store.state()
    val tid = resolve(table, st).tableId
    rewriteDataFiles(table, optionTag(st, tid, "rewrite_delete_threshold")
      .map(_.toDouble).getOrElse(0.1))
  }

  /** rewrite files whose deleted fraction ≥ threshold (VACUUM step 1,
    * src/pgducklake_vacuum.cpp:45-66; default threshold from GUC
    * ducklake.vacuum_delete_threshold = 0.1). */
  def rewriteDataFiles(table: String, threshold: Double): Long = {
    aclSuper("rewrite_data_files")
    requireNotInTransaction("rewriteDataFiles")
    val (sn, tn) = schemaOf(table)
    val st = store.state()
    val e = resolve(table, st)
    val cur = st.currentSnapshotId
    val tid = e.tableId
    val deleted: Map[Long, Long] = st.deleteFilesAt(tid, cur)
      .flatMap(_.countsByFile.toSeq.map { case (fid, c) => fid.toLong -> c })
      .groupBy(_._1).map { case (fid, cs) => fid -> cs.map(_._2).sum }
    val victims = st.filesAt(tid, cur).filter(f =>
      f.rowCount > 0 && deleted.getOrElse(f.fileId, 0L).toDouble / f.rowCount >= threshold)
    if (victims.isEmpty) return cur
    // rows of the victim files minus their deletes, row ids preserved
    val scoped = st.copy(files = victims, inlined = Vector.empty)
    val df = LakeRead.scanDF(spark, scoped, tid, cur, Nil, withRowMeta = true)
      .drop(LakeRead.FileCol, LakeRead.PosCol)
    LakeWrite.append(spark, store, sn, tn, df, explicitRowIds = true,
      changeTag = "rewrote", sorted = true,
      replaces = Some(LakeWrite.ReadSet.rewrite(s"rewrite of $table", st, tid, cur, victims)))
  }

  /** full VACUUM = rewrite past threshold, then merge small files
    * (reference src/pgducklake_vacuum.cpp:24-101 + A28 VACUUM hook);
    * no-arg form reads `rewrite_delete_threshold` from the options. */
  def vacuum(table: String): Long = {
    rewriteDataFiles(table)
    mergeAdjacentFiles(table)
  }

  def vacuum(table: String, threshold: Double): Long = {
    rewriteDataFiles(table, threshold)
    mergeAdjacentFiles(table)
  }

  /** flush_inlined_data (reference src/pgducklake_functions.cpp:213-266):
    * move inline-log rows into parquet, preserving row ids. */
  def flushInlinedData(table: String): Long = {
    aclSuper("flush_inlined_data")
    val (sn, tn) = schemaOf(table)
    val st = store.state()
    val e = resolve(table, st)
    val batches = st.inlinedAt(e.tableId, st.currentSnapshotId)
    if (batches.isEmpty) return st.currentSnapshotId
    val scoped = st.copy(files = Vector.empty, deleteFiles = Vector.empty)
    // the inline log is bounded by data_inlining_row_limit → one output
    // file, like the reference's flush (functions.cpp:213-266)
    val df = LakeRead.scanDF(spark, scoped, e.tableId, st.currentSnapshotId,
      Nil, withRowMeta = true)
      .drop(LakeRead.FileCol, LakeRead.PosCol)
      .coalesce(1)
    LakeWrite.append(spark, store, sn, tn, df, explicitRowIds = true,
      changeTag = "flushed", sorted = true,
      replaces = Some(LakeWrite.ReadSet.rewrite(s"flush of $table", st, e.tableId,
        st.currentSnapshotId, Nil, batches)))
  }

  /** cleanup_old_files (reference src/pgducklake_functions.cpp:142-203):
    * physically delete files scheduled for deletion. The retention window
    * defaults to the `delete_older_than` option (docs/settings.md). */
  def cleanupOldFiles(olderThanMs: Option[Long] = None): Long = {
    aclSuper("cleanup_old_files")
    requireNotInTransaction("cleanupOldFiles")
    val st = store.state()
    val now = System.currentTimeMillis()
    val window = olderThanMs.orElse(
      st.tagAt("global", "delete_older_than", st.currentSnapshotId)
        .map(LakeOptions.parseIntervalMs))
    val victims = st.scheduledDeletions.filter(sd =>
      window.forall(ms => sd.scheduledAtMs <= now - ms))
    // deleteRecursively handles files and directories on any substrate
    victims.foreach(sd => LakeWrite.deleteRecursively(sd.path))
    // superseded metadata checkpoints are cleanup's responsibility too —
    // auto-checkpointing every N commits otherwise accretes full-state
    // snapshots forever (newest 2 kept: a torn newest falls back)
    store.gcCheckpoints()
    if (victims.isEmpty) return st.currentSnapshotId
    store.commitWithRetry() { (stN, sid) =>
      CommitDelta(
        snapshot = Snapshot(sid, System.currentTimeMillis(),
          stN.snapshots.lastOption.map(_.schemaVersion).getOrElse(0L),
          List(s"cleanup:${victims.length}")),
        removedScheduledDeletions = victims.map(_.path).toList)
    }
  }

  /** delete_orphaned_files (upstream `ducklake_delete_orphaned_files()`,
    * which the reference itself lacks, docs/ducklake_feature_coverage.md:84):
    * remove files sitting under a table directory that NO catalog row —
    * live or historical — references and no scheduled deletion owns. These
    * are the residue of writers that crashed between staging promotion and
    * commit; at 100 TB scale with preemptible executors that residue is a
    * real storage-cost leak no snapshot-based GC can see (GC only walks
    * files the catalog knows). The grace window (default 1h, override via
    * `olderThanMs` or option `orphan_older_than`) spares files another
    * writer has promoted but not yet committed. Returns the deleted paths. */
  def deleteOrphanedFiles(olderThanMs: Option[Long] = None): Vector[String] = {
    aclSuper("delete_orphaned_files")
    requireNotInTransaction("deleteOrphanedFiles")
    val st = store.state()
    val io = StoreIO.forPath(store.root)
    val graceMs = olderThanMs.orElse(
      st.tagAt("global", "orphan_older_than", st.currentSnapshotId)
        .map(LakeOptions.parseIntervalMs)).getOrElse(3600L * 1000)
    val horizon = System.currentTimeMillis() - graceMs
    // every path any catalog interval references, live OR ended (ended
    // files are owned by scheduled deletions until cleanup reaps them)
    val referenced: Set[String] =
      (st.files.map(_.path) ++
        st.deleteFiles.flatMap(d => d.path +: d.parts)).toSet
    val protectedPrefixes = st.scheduledDeletions.map(_.path) ++
      st.deleteFiles.map(_.path) // delete dirs: non-parquet sidecars stay
    val deleted = Vector.newBuilder[String]
    st.tables.map(_.tableId).distinct.foreach { tid =>
      val dir = LakeWrite.tableDir(store.root, tid)
      val listed = io.listFilesRecursive(dir)
      // a checksum sidecar is its file's: it stays while the file does and
      // goes with it (`delete` takes it along); only a sidecar whose file
      // is gone is judged on its own
      val sidecars = listed.map(StoreIO.sidecar).toSet
      listed.filterNot(sidecars).foreach { rel =>
        val p = s"$dir/$rel"
        val owned = referenced.contains(p) ||
          protectedPrefixes.exists(pref => p == pref || p.startsWith(pref + "/"))
        // <= : with a zero grace window a file created in the same
        // millisecond as the horizon must still count as past it
        if (!owned && io.mtime(p) <= horizon) { io.delete(p); deleted += p }
      }
    }
    deleted.result()
  }

  /** expire_snapshots (docs/settings.md expire_older_than): snapshots older
    * than the retention window disappear from the history — time travel,
    * `snapshots()`, and the change feed refuse them afterwards. The
    * interval-versioned catalog rows keep their begin/end intervals, and
    * files replaced by DML/compaction were already scheduled for deletion
    * at replacement time, so expiry + `cleanupOldFiles` together bound how
    * far back the physical data must be retained. */
  def expireSnapshots(olderThanMs: Option[Long] = None): Long = {
    aclSuper("expire_snapshots")
    requireNotInTransaction("expireSnapshots")
    val st = store.state()
    val cur = st.currentSnapshotId
    val window = olderThanMs.orElse(
      st.tagAt("global", "expire_older_than", cur).map(LakeOptions.parseIntervalMs))
    window match {
      case None => cur
      case Some(ms) =>
        val horizon = System.currentTimeMillis() - ms
        val victims = st.snapshots
          .filter(s => s.snapshotId != cur && s.snapshotTimeMs < horizon)
          .map(_.snapshotId).toList
        if (victims.isEmpty) cur
        else store.commitWithRetry() { (stN, sid) =>
          CommitDelta(
            snapshot = Snapshot(sid, System.currentTimeMillis(),
              stN.snapshots.lastOption.map(_.schemaVersion).getOrElse(0L),
              List(s"expired_snapshots:${victims.length}")),
            expiredSnapshots = victims)
        }
    }
  }

  // ------------------------------------------------------------- options

  /** set_option (reference docs/settings.md, sql/pg_ducklake--0.1.0.sql:150-176).
    * `schema` adds the middle scope of table > schema > global — the
    * schema-level scoping the reference lists as unsupported
    * (docs/ducklake_feature_coverage.md:112). */
  def setOption(key: String, value: String, table: Option[String] = None,
      schema: Option[String] = None): Long = {
    aclSuper("set_option")
    require(table.isEmpty || schema.isEmpty, "setOption: give table OR schema, not both")
    val st0 = store.state()
    val scope = table.map(t => resolve(t, st0).tableId.toString)
      .orElse(schema.map(sc => s"schema:$sc")).getOrElse("global")
    store.commitWithRetry() { (st, sid) =>
      CommitDelta(
        snapshot = Snapshot(sid, System.currentTimeMillis(),
          st.snapshots.lastOption.map(_.schemaVersion).getOrElse(0L),
          List(s"option:$key")),
        endedTags = List(s"$scope:$key"),
        newTags = List(TagEntry(scope, key, value, sid, None)))
    }
  }

  /** ALTER COLUMN SET/DROP NOT NULL (reference lists NOT NULL management
    * unsupported, docs/ducklake_feature_coverage.md:112). Spark's SQL
    * analyzer refuses nullable→non-nullable outright ("Cannot change
    * nullable column to non-nullable") because it cannot validate the
    * data — this API can: the catalog path proves absence of nulls from
    * per-file stats, falling back to one column-pruned scan. DROP NOT
    * NULL also works through plain SQL. */
  def setNotNull(table: String, column: String, notNull: Boolean = true): Long = {
    aclSuper("ALTER TABLE")
    requireNotInTransaction("setNotNull")
    val (sn, tn) = schemaOf(table)
    val cat = new LakeCatalog()
    val m = new java.util.HashMap[String, String]()
    m.put("root", root)
    jdbcUrl.foreach(m.put("jdbc", _)) // route through THIS lake's catalog
    cat.initialize("lake", new org.apache.spark.sql.util.CaseInsensitiveStringMap(m))
    cat.alterTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array(sn), tn),
      org.apache.spark.sql.connector.catalog.TableChange
        .updateColumnNullability(Array(column), !notNull))
    store.state().currentSnapshotId
  }

  /** COMMENT ON TABLE (reference lists comments unsupported,
    * docs/ducklake_feature_coverage.md:34; upstream DuckLake keeps them in
    * ducklake_tag). SQL `COMMENT ON TABLE` lowers onto the same tag via
    * the DSv2 catalog's SetProperty("comment"). None clears. */
  def setComment(table: String, comment: Option[String]): Long = {
    aclSuper("COMMENT ON TABLE")
    val st0 = store.state()
    val tid = resolve(table, st0).tableId
    store.commitWithRetry() { (st, sid) =>
      CommitDelta(
        snapshot = Snapshot(sid, System.currentTimeMillis(),
          st.snapshots.lastOption.map(_.schemaVersion).getOrElse(0L),
          List(s"comment:$tid")),
        endedTags = List(s"$tid:comment"),
        newTags = comment.map(c => TagEntry(tid.toString, "comment", c, sid, None)).toList)
    }
  }

  /** COMMENT ON COLUMN — scope `col:<tid>:<colId>`, frozen as
    * ducklake_column_tag (pgducklake_freeze.cpp:40). The column EPOCH is
    * untouched: comments never affect file readability or time travel. */
  def setColumnComment(table: String, column: String, comment: Option[String]): Long = {
    aclSuper("COMMENT ON COLUMN")
    val st0 = store.state()
    val tid = resolve(table, st0).tableId
    val c = st0.columnsAt(tid, st0.currentSnapshotId).find(_.name == column)
      .getOrElse(throw new IllegalArgumentException(s"no column $column in $table"))
    store.commitWithRetry() { (st, sid) =>
      CommitDelta(
        snapshot = Snapshot(sid, System.currentTimeMillis(),
          st.snapshots.lastOption.map(_.schemaVersion).getOrElse(0L),
          List(s"comment:$tid")),
        endedTags = List(s"col:$tid:${c.columnId}:comment"),
        newTags = comment.map(v =>
          TagEntry(s"col:$tid:${c.columnId}", "comment", v, sid, None)).toList)
    }
  }

  /** commented objects of one table: (object_type, name, comment) */
  def comments(table: String): DataFrame = {
    val st = store.state()
    val cur = st.currentSnapshotId
    val e = resolve(table, st)
    val tid = e.tableId
    val rows =
      st.tagAt(tid.toString, "comment", cur)
        .map(v => Row("table", e.tableName, v)).toList ++
      st.columnsAt(tid, cur).flatMap(c =>
        st.tagAt(s"col:$tid:${c.columnId}", "comment", cur)
          .map(v => Row("column", c.name, v)))
    spark.createDataFrame(rows.toList.asJava, StructType(Seq(
      StructField("object_type", StringType), StructField("name", StringType),
      StructField("comment", StringType)))).orderBy("object_type", "name")
  }

  // ---------------------------------------------------------- views / macros

  /** Materialized grouped aggregate of `source`, incrementally refreshed
    * from the change feed — see [[LakeMaterializedView]]. `cntCols` adds
    * COUNT(col) columns, `avgCols` adds AVG(col) (derived from maintained
    * sum+count state), `filterSql` restricts the view to matching source
    * rows (folded into the change-feed scan on refresh). */
  def createMaterializedView(name: String, source: String,
      groupCols: Seq[String], sumCols: Seq[String] = Nil,
      minMaxCols: Seq[String] = Nil, cntCols: Seq[String] = Nil,
      avgCols: Seq[String] = Nil, filterSql: Option[String] = None,
      dimTable: Option[String] = None,
      dimKeys: Seq[(String, String)] = Nil,
      dims: Seq[(String, Seq[(String, String)])] = Nil,
      groupExprs: Seq[(String, String)] = Nil,
      rewrite: Option[String] = None): Long = {
    aclSuper("CREATE MATERIALIZED VIEW")
    LakeMaterializedView.create(this, name, source, groupCols, sumCols,
      minMaxCols, cntCols, avgCols, filterSql, dimTable, dimKeys, dims,
      groupExprs, rewrite)
  }

  /** Fold the source change feed since the last refresh into the MV;
    * returns the applied source snapshot (exactly-once, CAS-guarded). */
  def refreshMaterializedView(name: String): Long = {
    aclSuper("REFRESH MATERIALIZED VIEW")
    LakeMaterializedView.refresh(this, name)
  }

  /** CREATE [OR REPLACE] VIEW (catalog table `ducklake_view`,
    * pgducklake_freeze.cpp:38; the reference lists CREATE VIEW as
    * unsupported for itself, docs/ducklake_feature_coverage.md:30, and only
    * round-trips foreign rows — graft stores the definition AND executes
    * it, see [[view]]). `viewSql` is Spark SQL over lake table/view names
    * (`t` or `schema.t`); `aliases` rename the output columns
    * (ducklake_view.column_aliases). The definition rides the
    * interval-versioned tag machinery (scope `view:<schema>`), so OR
    * REPLACE ends the old generation and time travel resolves the
    * definition live at the requested snapshot. */
  def createView(name: String, viewSql: String, aliases: Seq[String] = Nil,
      orReplace: Boolean = true): Long = {
    aclSuper("CREATE VIEW")
    val (sn, vn) = schemaOf(name)
    // parse now: a syntactically broken definition should fail CREATE,
    // not the first read
    spark.sessionState.sqlParser.parsePlan(viewSql)
    val json = LakeViewDefs.encodeView(LakeViewDefs.ViewDef(viewSql,
      aliases.toList, java.util.UUID.randomUUID().toString))
    store.commitWithRetry() { (st, sid) =>
      val existing = LakeViewDefs.viewAt(st, sn, vn, st.currentSnapshotId)
      require(orReplace || existing.isEmpty, s"view $name already exists")
      require(st.tableAt(sn, vn, st.currentSnapshotId).isEmpty,
        s"a table named $name exists")
      CommitDelta(
        snapshot = Snapshot(sid, System.currentTimeMillis(),
          st.snapshots.lastOption.map(_.schemaVersion).getOrElse(0L),
          List(s"created_view:$sn.$vn")),
        endedTags = List(s"${LakeViewDefs.viewScope(sn)}:$vn"),
        newTags = List(TagEntry(LakeViewDefs.viewScope(sn), vn, json, sid, None)))
    }
  }

  def dropView(name: String): Long = {
    aclSuper("DROP VIEW")
    val (sn, vn) = schemaOf(name)
    store.commitWithRetry() { (st, sid) =>
      require(LakeViewDefs.viewAt(st, sn, vn, st.currentSnapshotId).isDefined,
        s"no view $name")
      CommitDelta(
        snapshot = Snapshot(sid, System.currentTimeMillis(),
          st.snapshots.lastOption.map(_.schemaVersion).getOrElse(0L),
          List(s"dropped_view:$sn.$vn")),
        endedTags = List(s"${LakeViewDefs.viewScope(sn)}:$vn"))
    }
  }

  /** Execute a stored view. Both the DEFINITION and every lake table it
    * references resolve at the same snapshot (`version`, else the session
    * as-of conf, else current) — an AS-OF read of a view sees the view
    * text AND the data as they were then. Table names inside the SQL
    * resolve views-first (views can stack), in the view's own schema, then
    * `main`; names that are neither stay unresolved for the session
    * analyzer (temp views etc.). */
  def view(name: String, version: Option[Long] = None): DataFrame = {
    val st = store.state()
    val s = version
      .orElse(spark.conf.getOption("spark.graft.lake.asOfSnapshot").map(_.toLong))
      .orElse(spark.conf.getOption("spark.graft.lake.asOfTimestampMs")
        .flatMap(ms => st.snapshotAtTime(ms.toLong)))
      .getOrElse(st.currentSnapshotId)
    require(st.snapshots.exists(_.snapshotId == s),
      s"snapshot $s does not exist or has been expired")
    resolveView(st, name, s, depth = 0)
  }

  private def resolveView(st: CatalogState, name: String, s: Long,
      depth: Int): DataFrame =
    LakeViewDefs.resolveViewDF(spark, st, name, s, depth)

  /** live views: (schema_name, view_name, sql, column_aliases, view_uuid) */
  def views(): DataFrame = {
    val st = store.state()
    val cur = st.currentSnapshotId
    val rows = st.tags.filter(LakeViewDefs.isViewTag)
      .filter(t => liveAt(t.begin, t.end, cur))
      .map { t =>
        val v = LakeViewDefs.decodeView(t.value)
        Row(LakeViewDefs.schemaOfScope(t), t.key, v.sql,
          if (v.aliases.isEmpty) null else v.aliases.mkString(","), v.uuid)
      }.sortBy(r => (r.getString(0), r.getString(1)))
    spark.createDataFrame(rows.toList.asJava, StructType(Seq(
      StructField("schema_name", StringType), StructField("view_name", StringType),
      StructField("sql", StringType), StructField("column_aliases", StringType),
      StructField("view_uuid", StringType))))
  }

  /** CREATE [OR REPLACE] MACRO — a scalar SQL macro with DuckDB CREATE
    * MACRO semantics: LAZY TEXTUAL EXPANSION at analysis time, not a
    * compiled function (catalog tables ducklake_macro /
    * ducklake_macro_impl / ducklake_macro_parameters,
    * pgducklake_freeze.cpp:55-57). The macro registers into the session's
    * FunctionRegistry on create, so `expr("name(args)")` / spark.sql use
    * it immediately; a fresh session re-registers via [[registerMacros]].
    * Positional `params` substitute into the parsed `body` expression by
    * (case-insensitive) name. */
  def createMacro(name: String, params: Seq[String], body: String,
      orReplace: Boolean = true, kind: String = "scalar"): Long = {
    aclSuper("CREATE MACRO")
    require(kind == "scalar" || kind == "table", s"macro kind: $kind")
    val (sn, mn) = schemaOf(name)
    // a broken body fails the CREATE, not the first use: scalar bodies
    // must parse as expressions, table bodies as plans (SELECTs)
    if (kind == "table") spark.sessionState.sqlParser.parsePlan(body)
    else spark.sessionState.sqlParser.parseExpression(body)
    val json = LakeViewDefs.encodeMacro(LakeViewDefs.MacroDef(params.toList,
      body, java.util.UUID.randomUUID().toString, kind))
    val sid = store.commitWithRetry() { (st, sid) =>
      val existing = LakeViewDefs.macroAt(st, sn, mn, st.currentSnapshotId)
      require(orReplace || existing.isEmpty, s"macro $name already exists")
      existing.foreach(m => require(m.kind == kind,
        s"macro $name exists with kind ${m.kind}; DROP it before " +
          s"re-creating as $kind"))
      CommitDelta(
        snapshot = Snapshot(sid, System.currentTimeMillis(),
          st.snapshots.lastOption.map(_.schemaVersion).getOrElse(0L),
          List(s"created_macro:$sn.$mn")),
        endedTags = List(s"${LakeViewDefs.macroScope(sn)}:$mn"),
        newTags = List(TagEntry(LakeViewDefs.macroScope(sn), mn, json, sid, None)))
    }
    if (kind == "table") registerTableMacro(mn, params.toList, body)
    else registerMacro(mn, params.toList, body)
    sid
  }

  /** DROP MACRO (kind `scalar`) / DROP MACRO TABLE (kind `table`) — like
    * DuckDB, the statement kind must match the stored macro's kind. */
  def dropMacro(name: String, kind: String = "scalar"): Long = {
    aclSuper("DROP MACRO")
    val (sn, mn) = schemaOf(name)
    val sid = store.commitWithRetry() { (st, sid) =>
      val m = LakeViewDefs.macroAt(st, sn, mn, st.currentSnapshotId)
      require(m.isDefined, s"no macro $name")
      require(m.get.kind == kind,
        s"macro $name is a ${m.get.kind} macro — use DROP MACRO" +
          (if (m.get.kind == "table") " TABLE" else "") + " to drop it")
      CommitDelta(
        snapshot = Snapshot(sid, System.currentTimeMillis(),
          st.snapshots.lastOption.map(_.schemaVersion).getOrElse(0L),
          List(s"dropped_macro:$sn.$mn")),
        endedTags = List(s"${LakeViewDefs.macroScope(sn)}:$mn"))
    }
    if (kind == "table")
      spark.sessionState.tableFunctionRegistry.dropFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(mn))
    else
      spark.sessionState.functionRegistry.dropFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(mn))
    sid
  }

  private def registerMacro(fname: String, params: List[String],
      body: String): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
    val lowered = params.map(_.toLowerCase)
    val builder = (children: Seq[Expression]) => {
      require(children.length == params.length,
        s"macro $fname takes ${params.length} argument(s), got ${children.length}")
      val byName = lowered.zip(children).toMap
      spark.sessionState.sqlParser.parseExpression(body).transformUp {
        case a: UnresolvedAttribute if a.nameParts.length == 1 &&
            byName.contains(a.name.toLowerCase) => byName(a.name.toLowerCase)
      }
    }
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(fname),
      new ExpressionInfo("graft.lake.Lake", fname,
        s"$fname(${params.mkString(", ")}) - lake macro: $body"),
      builder)
  }

  /** TABLE macro: a parameterized stored SELECT registered as a session
    * table function, so `SELECT * FROM name(args)` works in plain SQL
    * (DuckDB `CREATE MACRO ... AS TABLE` semantics — lazy textual
    * expansion at analysis time). Parameter names substitute for
    * single-part attributes inside the BODY's own expressions only
    * (substituted lake relations are already analyzed subplans, so table
    * columns can never be captured by a same-named parameter); lake
    * table/view names inside the body resolve snapshot-consistently at
    * invocation time, honoring the session as-of confs exactly like
    * [[view]]. */
  private def registerTableMacro(fname: String, params: List[String],
      body: String): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    val lowered = params.map(_.toLowerCase)
    val builder = (children: Seq[Expression]) => {
      require(children.length == params.length,
        s"table macro $fname takes ${params.length} argument(s), got ${children.length}")
      val byName = lowered.zip(children).toMap
      val st = store.state()
      val s = spark.conf.getOption("spark.graft.lake.asOfSnapshot").map(_.toLong)
        .orElse(spark.conf.getOption("spark.graft.lake.asOfTimestampMs")
          .flatMap(ms => st.snapshotAtTime(ms.toLong)))
        .getOrElse(st.currentSnapshotId)
      val substituted = spark.sessionState.sqlParser.parsePlan(body).transformUp {
        case u: UnresolvedRelation =>
          val candidates = u.multipartIdentifier match {
            case Seq(t1) => Seq(("main", t1))
            case Seq(s1, t1) => Seq((s1, t1))
            case _ => Nil
          }
          candidates.collectFirst {
            case (cs, ct) if LakeViewDefs.viewAt(st, cs, ct, s).isDefined =>
              LakeViewDefs.resolveViewDF(spark, st, s"$cs.$ct", s)
                .queryExecution.analyzed
            case (cs, ct) if st.tableAt(cs, ct, s).isDefined =>
              LakeRead.scanDF(spark, st, st.tableAt(cs, ct, s).get.tableId, s)
                .queryExecution.analyzed
          }.getOrElse(u)
      }
      substituted.transformAllExpressions {
        case a: UnresolvedAttribute if a.nameParts.length == 1 &&
            byName.contains(a.name.toLowerCase) => byName(a.name.toLowerCase)
      }: LogicalPlan
    }
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier(fname),
      new ExpressionInfo("graft.lake.Lake", fname,
        s"$fname(${params.mkString(", ")}) - lake table macro: $body"),
      builder)
  }

  /** register every live macro into this session's Function/TableFunction
    * registry (a fresh session attaching to an existing store calls this
    * once) */
  def registerMacros(): Unit = {
    val st = store.state()
    val cur = st.currentSnapshotId
    st.tags.filter(LakeViewDefs.isMacroTag)
      .filter(t => liveAt(t.begin, t.end, cur))
      .foreach { t =>
        val m = LakeViewDefs.decodeMacro(t.value)
        if (m.kind == "table") registerTableMacro(t.key, m.params, m.sql)
        else registerMacro(t.key, m.params, m.sql)
      }
  }

  /** live macros: (schema_name, macro_name, parameters, sql, macro_uuid) */
  def macros(): DataFrame = {
    val st = store.state()
    val cur = st.currentSnapshotId
    val rows = st.tags.filter(LakeViewDefs.isMacroTag)
      .filter(t => liveAt(t.begin, t.end, cur))
      .map { t =>
        val m = LakeViewDefs.decodeMacro(t.value)
        Row(LakeViewDefs.schemaOfScope(t), t.key, m.params.mkString(","),
          m.sql, m.uuid, m.kind)
      }.sortBy(r => (r.getString(0), r.getString(1)))
    spark.createDataFrame(rows.toList.asJava, StructType(Seq(
      StructField("schema_name", StringType), StructField("macro_name", StringType),
      StructField("parameters", StringType), StructField("sql", StringType),
      StructField("macro_uuid", StringType), StructField("macro_type", StringType))))
  }

  def options(): DataFrame = {
    val st = store.state()
    val cur = st.currentSnapshotId
    val rows = st.tags.filter(t => liveAt(t.begin, t.end, cur))
      .sortBy(t => (t.scope, t.key))
      .map(t => Row(t.scope, t.key, t.value))
    spark.createDataFrame(rows.toList.asJava, StructType(Seq(
      StructField("scope", StringType), StructField("key", StringType),
      StructField("value", StringType))))
  }

  /** Instance metadata (upstream `ducklake_settings()`,
    * docs/ducklake_feature_coverage.md:74 — unimplemented in the
    * reference): ENGINE-level settings as (setting, value) rows, distinct
    * from [[options]] (catalog-level, snapshot-versioned). Values resolve
    * session conf > default, the same resolution the commit path uses. */
  def settings(): DataFrame = {
    def conf(key: String, default: String): String =
      spark.conf.getOption(s"spark.graft.lake.$key").getOrElse(default)
    val backend = store match {
      case _: JdbcMetadataStore => "jdbc"
      case _ if StoreIO.isRemote(root) => "hadoop"
      case _ => "file"
    }
    val rows = Vector(
      "max_retry_count" -> conf("maxRetryCount", "20"),
      "metadata_backend" -> backend,
      // every SQL read is native; the row stays for catalog parity
      "native_scan" -> "true",
      "retry_backoff" -> conf("retryBackoff", "2.0"),
      "retry_wait_ms" -> conf("retryWaitMs", "5")).map(kv => Row(kv._1, kv._2))
    spark.createDataFrame(rows.toList.asJava, StructType(Seq(
      StructField("setting", StringType), StructField("value", StringType))))
  }

  /** set_partition (reference src/pgducklake_partition.cpp:31-74): applies
    * to FUTURE files; existing files keep their recorded values
    * (partition.sql:43-57 retroactive safety). */
  def setPartition(table: String, keys: List[PartitionKey]): Long = {
    val st0 = store.state()
    val tid = resolve(table, st0).tableId
    store.commitWithRetry() { (st, sid) =>
      CommitDelta(
        snapshot = Snapshot(sid, System.currentTimeMillis(),
          st.snapshots.lastOption.map(_.schemaVersion).getOrElse(0L),
          List(s"partition:$tid")),
        endedPartitionInfo = List(tid),
        newPartitionInfo = if (keys.isEmpty) Nil
          else List(PartitionInfoEntry(tid, keys, sid, None)))
    }
  }

  /** reset_partition (native proc, sql/pg_ducklake--0.1.0.sql:209-211):
    * ends the live partition info; future files land unpartitioned. */
  def resetPartition(table: String): Long = setPartition(table, Nil)

  /** reset_sort (sql/pg_ducklake--0.1.0.sql:249-251) */
  def resetSort(table: String): Long = setSort(table, Nil)

  /** set_sort (reference src/pgducklake_sorted_by.cpp:186-268): sort
    * applied on compaction/flush, not direct inserts. */
  def setSort(table: String, keys: List[SortKey]): Long = {
    val st0 = store.state()
    val tid = resolve(table, st0).tableId
    store.commitWithRetry() { (st, sid) =>
      CommitDelta(
        snapshot = Snapshot(sid, System.currentTimeMillis(),
          st.snapshots.lastOption.map(_.schemaVersion).getOrElse(0L),
          List(s"sort:$tid")),
        endedSortInfo = List(tid),
        newSortInfo = if (keys.isEmpty) Nil else List(SortInfoEntry(tid, keys, sid, None)))
    }
  }

  /** freeze/export (reference src/pgducklake_freeze.cpp:81-140) */
  /** Materialize the folded catalog state into one checkpoint file so cold
    * opens read checkpoint + tail instead of the whole log (the reference
    * lists CHECKPOINT as unsupported — this is the at-scale requirement a
    * 100k-commit catalog has). Pure read accelerator: the delta log stays
    * authoritative; time travel and the change feed are unaffected. */
  def checkpoint(): Long = {
    requireNotInTransaction("checkpoint")
    store.checkpoint()
  }

  /** All-in-one maintenance (upstream DuckLake's `CHECKPOINT`, which runs
    * every maintenance op sequentially — docs/ducklake_feature_coverage.md:88
    * lists it unsupported in the reference): per live table flush inlined
    * rows, bin-pack small files, and rewrite past the delete threshold
    * (vacuum); then expire old snapshots, reap scheduled deletions and
    * orphaned files, and checkpoint the metadata log. One call a scheduler
    * can cron against a 100 TB lake instead of six. Window arguments
    * default to the catalog options (`expire_older_than`,
    * `delete_older_than`, `orphan_older_than`). Returns an op→count
    * summary. */
  def maintain(expireOlderThanMs: Option[Long] = None,
      deleteOlderThanMs: Option[Long] = None,
      orphanOlderThanMs: Option[Long] = None): Map[String, Long] = {
    requireNotInTransaction("maintain")
    val st = store.state()
    val cur = st.currentSnapshotId
    val live = st.tables.filter(t => t.begin <= cur && t.end.forall(_ > cur))
    live.foreach { t =>
      val name = s"${t.schemaName}.${t.tableName}"
      flushInlinedData(name)
      vacuum(name) // merge small files + rewrite past delete threshold
    }
    // materialized views ride the maintenance pass too (r12): a stale MV
    // after a cron maintain() is a silent correctness hazard for its
    // readers; refresh is exactly-once (watermark CAS) and an idle
    // source's refresh early-outs without a commit, so this is O(changed
    // bytes) across the lake, not O(MVs)
    val mvRefreshed = live.count { t =>
      st.tagAt(t.tableId.toString, "mv_source", cur).isDefined &&
        (try { refreshMaterializedView(s"${t.schemaName}.${t.tableName}"); true }
         catch {
           // an MV whose source was dropped is orphaned, not fatal to the
           // rest of the maintenance pass
           case _: NoSuchElementException => false
           // a concurrent refresher (e.g. the auto-refresh streaming sink
           // running beside a cron maintain) won the watermark CAS — the
           // window is applied, count it and keep maintaining
           case _: ConcurrentMvRefreshException => true
         })
    }
    expireSnapshots(expireOlderThanMs)
    val stE = store.state()
    val expired =
      (st.snapshots.map(_.snapshotId).toSet --
        stE.snapshots.map(_.snapshotId).toSet).size
    val beforeClean = stE.scheduledDeletions.size
    cleanupOldFiles(deleteOlderThanMs)
    val cleaned = beforeClean - store.state().scheduledDeletions.size
    val orphans = deleteOrphanedFiles(orphanOlderThanMs).size
    val ckpt = checkpoint()
    // operator signal (VERDICT r14 #6): how many tables' file-size
    // histograms currently want the partially-clustered session flip —
    // per-table detail in tableInfo().spj_recommendation
    val stR = store.state()
    val wantSplit = live.count(t =>
      spjRecommendation(stR, t.tableId, stR.currentSnapshotId)
        .contains("skew-split"))
    Map(
      "tables_maintained" -> live.size.toLong,
      "mvs_refreshed" -> mvRefreshed.toLong,
      "snapshots_expired" -> expired.toLong,
      "scheduled_deletions_cleaned" -> cleaned.toLong,
      "orphans_deleted" -> orphans.toLong,
      "spj_skew_split_recommended" -> wantSplit.toLong,
      "checkpoint_snapshot" -> ckpt)
  }

  /** Whole-database migration (upstream `COPY FROM DATABASE`,
    * docs/ducklake_feature_coverage.md:97 — unimplemented in the
    * reference): every parquet table under `sourceDir` (a file or dataset
    * directory named `<table>.parquet`) becomes a lake table in
    * `targetSchema`, schema inferred, data physically copied through the
    * normal write path so the lake owns its files (zero-copy registration
    * of external files is [[addDataFiles]]). Returns migrated table names.
    * `only` restricts to named tables. */
  def migrate(sourceDir: String, targetSchema: String = "main",
      only: Seq[String] = Nil): Vector[String] = {
    val io = StoreIO.forPath(sourceDir)
    val found = io.list(sourceDir, "", ".parquet")
      .map(_.stripSuffix(".parquet")).sorted
    val names = if (only.nonEmpty) found.filter(only.contains(_)) else found
    require(names.nonEmpty, s"migrate: no parquet tables under $sourceDir")
    names.foreach { n =>
      createTableAs(s"$targetSchema.$n",
        spark.read.parquet(s"$sourceDir/$n.parquet"))
    }
    names
  }

  def freeze(target: String, parquetCatalog: Boolean = true): Unit = {
    requireNotInTransaction("freeze")
    // Interop caveat: the exported catalog lists data-file paths verbatim;
    // for an `encrypted` table those files are PME parquet, readable only
    // by engines that speak Parquet Modular Encryption with key access —
    // plain DuckDB will see the catalog but cannot open the data.
    store.freeze(target)
    // the engine-neutral interop artifact (thaw/import surface): the
    // ducklake_* layout as parquet datasets an external engine can COPY
    // from AND mutate — see Thaw. Opt out (parquetCatalog=false) when the
    // freeze only feeds a read-only mount / views.sql consumer — the
    // 13-dataset dump is the bulk of freeze's job cost (l14 bench).
    if (parquetCatalog)
      Thaw.dumpParquet(spark, store.state(), s"$target/catalog_parquet")
  }

  /** Thaw: import an externally-written `ducklake_*` parquet catalog
    * (reference interop surface: FDW attach pgducklake_fdw.cpp:167-190 +
    * external-writer sync metadata_sync.sql). The full snapshot history is
    * replayed into THIS store — time travel and the change feed work on
    * the imported snapshots. Data files are adopted in place by path.
    *
    * Repeated sync (VERDICT r5 #2 — the reference's FDW attach is LIVE:
    * an external writer keeps committing and readers see new snapshots on
    * re-read, metadata_sync.sql syncs the same catalog repeatedly): into a
    * NON-empty store, only snapshots newer than the local head are
    * appended. The local history must be a prefix of the external one —
    * the head id must exist externally and every common snapshot id must
    * carry the same commit time; anything else means the two catalogs
    * forked (or the external side expired past our head) and a silent
    * merge would corrupt both, so the import aborts. Entity rows the
    * external writer ENDED in a new snapshot (deletes/compaction of files
    * we already imported) arrive through the ended-id lists of the
    * reconstructed deltas and stamp the local rows as usual.
    *
    * Returns the imported current snapshot id. */
  def importCatalog(catalogDir: String): Long = {
    requireNotInTransaction("importCatalog")
    val external = Thaw.load(spark, catalogDir)
    val local = store.state()
    val head = local.currentSnapshotId
    val deltas =
      if (head == -1L) Thaw.reconstructDeltas(external)
      else {
        val localById = local.snapshots.map(s => s.snapshotId -> s.snapshotTimeMs).toMap
        if (!external.snapshots.exists(_.snapshotId == head))
          throw new IllegalStateException(
            s"divergent history: local head snapshot $head does not exist in " +
              s"$catalogDir (external head " +
              s"${external.snapshots.lastOption.map(_.snapshotId).getOrElse(-1L)})")
        external.snapshots.filter(s => s.snapshotId <= head)
          .find(s => localById.get(s.snapshotId).exists(_ != s.snapshotTimeMs))
          .foreach(s => throw new IllegalStateException(
            s"divergent history: snapshot ${s.snapshotId} in $catalogDir has " +
              s"commit time ${s.snapshotTimeMs} but the local copy has " +
              s"${localById(s.snapshotId)} — the catalogs forked"))
        Thaw.reconstructDeltas(external).filter(_.snapshot.snapshotId > head)
      }
    deltas.foreach(store.commit)
    store.state().currentSnapshotId
  }

  /** Incremental change-feed consumption: tracks the last snapshot seen and
    * returns (changesSinceLastPoll, newCursor) per call — the snapshot-range
    * batch surface the reference exposes (A16) lifted into a poll loop,
    * which is exactly how its consumers drive `table_changes` (the
    * reference has no push/streaming surface either; SURVEY.md §1.1). */
  def changeFeedPoller(table: String): ChangeFeedPoller =
    new ChangeFeedPoller(this, table, currentSnapshot())

  private implicit class ListAsJava[A](l: List[A]) {
    def asJava: java.util.List[A] = {
      val jl = new java.util.ArrayList[A](l.size)
      l.foreach(jl.add)
      jl
    }
  }
}

/** Stateful cursor over a table's change feed. Each poll() returns the
  * changes committed strictly after the previous poll (exclusive) up to the
  * current snapshot (inclusive). */
class ChangeFeedPoller(lake: Lake, table: String, startAt: Long) {
  @volatile private var cursor: Long = startAt
  def lastSeenSnapshot: Long = cursor
  def poll(): DataFrame = synchronized {
    val upTo = lake.currentSnapshot()
    val df = lake.tableChanges(table, cursor, upTo)
    cursor = upTo
    df
  }
}

/** Option-value parsing + compaction bin-packing (docs/settings.md value
  * forms: sizes like '128MB', intervals like '7 days'). */
object LakeOptions {
  /** DuckLake's default data-file target (docs/settings.md target_file_size) */
  val DefaultTargetFileSize: Long = 512L << 20

  private val SizeRe = """(?i)\s*(\d+(?:\.\d+)?)\s*(b|kb|kib|mb|mib|gb|gib|tb|tib)?\s*""".r

  /** '128MB' / '64KiB' / raw byte count → bytes */
  def parseBytes(v: String): Long = v match {
    case SizeRe(num, unit) =>
      val mult = Option(unit).map(_.toLowerCase) match {
        case None | Some("b") => 1L
        case Some("kb") | Some("kib") => 1L << 10
        case Some("mb") | Some("mib") => 1L << 20
        case Some("gb") | Some("gib") => 1L << 30
        case Some("tb") | Some("tib") => 1L << 40
        case _ => 1L
      }
      (num.toDouble * mult).toLong
    case other => other.trim.toLong
  }

  private val IntervalRe =
    """(?i)\s*(\d+(?:\.\d+)?)\s*(ms|millisecond|second|sec|minute|min|hour|day|week)s?\s*""".r

  /** '24 hours' / '7 days' / '30 minutes' → milliseconds */
  def parseIntervalMs(v: String): Long = v match {
    case IntervalRe(num, unit) =>
      val mult = unit.toLowerCase match {
        case "ms" => 1L
        case "millisecond" => 1L
        case "second" | "sec" => 1000L
        case "minute" | "min" => 60L * 1000
        case "hour" => 3600L * 1000
        case "day" => 24L * 3600 * 1000
        case "week" => 7L * 24 * 3600 * 1000
      }
      (num.toDouble * mult).toLong
    case other => other.trim.toLong
  }

  /** Greedy in-order bin-packing: adjacent runs of files whose sizes sum to
    * ≤ target (a lone oversize file forms its own singleton, filtered out
    * by the ≥2 rule at the call site). */
  def binPack(files: Seq[Meta.DataFileEntry], targetBytes: Long): Seq[Vector[Meta.DataFileEntry]] = {
    val out = Vector.newBuilder[Vector[Meta.DataFileEntry]]
    var group = Vector.empty[Meta.DataFileEntry]
    var bytes = 0L
    files.foreach { f =>
      if (group.nonEmpty && bytes + f.fileSizeBytes > targetBytes) {
        out += group; group = Vector.empty; bytes = 0L
      }
      group :+= f; bytes += f.fileSizeBytes
    }
    if (group.nonEmpty) out += group
    out.result()
  }
}

/** DuckLake type name ↔ Catalyst type mapping (SURVEY.md §1.2, reference
  * src/pgducklake_table.cpp:955-1036 DuckLakeTypeToPgType) — used for
  * freeze interop so an external DuckLake reader agrees on column types. */
object TypeMap {
  val duckToSpark: Map[String, DataType] = Map(
    // geometry (docs/data_types.md GEOMETRY row): WKB bytes; the catalog
    // keeps the distinct type, Spark reads/writes it as BINARY
    "geometry" -> BinaryType,
    "boolean" -> BooleanType, "int8" -> ByteType, "int16" -> ShortType,
    "int32" -> IntegerType, "int64" -> LongType,
    "uint8" -> ShortType, "uint16" -> IntegerType, "uint32" -> LongType,
    "uint64" -> DecimalType(20, 0), "hugeint" -> DecimalType(38, 0),
    "float32" -> FloatType, "float64" -> DoubleType,
    "varchar" -> StringType, "blob" -> BinaryType,
    "date" -> DateType, "time" -> LongType /* micros-since-midnight */,
    "timestamp" -> TimestampNTZType, "timestamptz" -> TimestampType,
    "uuid" -> StringType, "json" -> StringType,
    "variant" -> VariantType /* semi-structured (variant.sql; Spark 4 native) */)

  def sparkToDuck(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case ByteType => "int8"
    case ShortType => "int16"
    case IntegerType => "int32"
    case LongType => "int64"
    case FloatType => "float32"
    case DoubleType => "float64"
    case d: DecimalType => s"decimal(${d.precision},${d.scale})"
    case StringType => "varchar"
    case BinaryType => "blob"
    case DateType => "date"
    case TimestampNTZType => "timestamp"
    case TimestampType => "timestamptz"
    case _: VariantType => "variant"
    case ArrayType(e, _) => s"${sparkToDuck(e)}[]"
    case s: StructType =>
      s.fields.map(f => s"${f.name} ${sparkToDuck(f.dataType)}").mkString("struct(", ", ", ")")
    case MapType(k, v, _) => s"map(${sparkToDuck(k)}, ${sparkToDuck(v)})"
    case other => "varchar" // unknown types fall back to text (table.cpp:1028-1035)
  }
}
