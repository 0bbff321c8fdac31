package graft.lake

import java.nio.file.{Files, Paths}
import java.util.UUID
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
import Meta._

/** Write path: append (Parquet + snapshot commit), inline fast path, and
  * row-level DELETE/UPDATE via positional delete files (SURVEY.md §2.A
  * A3/A5; reference contracts: test/regression/sql/basic.sql,
  * dml_row_count.sql, vacuum.sql:44-100, data_inlining_row_limit.sql).
  *
  * Scale shape: data moves only through distributed DataFrame jobs (the
  * staged parquet write, the per-file stats aggregation, the delete-match
  * scan, the delete-file write). Driver-side `.collect()` calls gather only
  * O(files) per-file aggregates and inline-log rows (bounded by
  * data_inlining_row_limit) — the same commit-info gathering every
  * lakehouse driver performs; table data never lands on the driver.
  */
object LakeWrite {

  /** default inline threshold; override via tag `data_inlining_row_limit`
    * (reference docs/settings.md) — 0 = inlining off */
  val DefaultInlineLimit = 0L

  private def uuid(): String = UUID.randomUUID().toString.replace("-", "")

  /** Run `body` (a lake-internal parquet write) with
    * spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS, restoring the
    * caller's value after. Spark's INT96 compatibility default carries NO
    * footer statistics, which would force every timestamp-bearing table
    * back onto the stats-job fallback (r17, FooterStats) — and INT64
    * micros is the type DuckDB/Iceberg read natively. Values and query
    * results are identical; only the physical encoding of LAKE data files
    * changes. Scoped here rather than session-wide because a session-wide
    * flip also changes how RESULT frames serialize to the verify sink
    * (tz-annotated micros read back timezone-aware where INT96 reads
    * naive), which is a hash change in the driver's oracle compare. */
  private[lake] def withMicrosTimestamps[T](spark: SparkSession)(body: => T): T = {
    val k = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(k)
    if (prev == "TIMESTAMP_MICROS") body
    else {
      spark.conf.set(k, "TIMESTAMP_MICROS")
      try body finally spark.conf.set(k, prev)
    }
  }

  def tableDir(root: String, tid: Long) = s"$root/t$tid"

  /** stats-eligible leaf types (orderable, cast-to-string round-trippable) */
  private[lake] def statsEligible(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | DateType | TimestampType | BooleanType => true
    case _ => false
  }

  def deleteRecursively(dir: String): Unit =
    StoreIO.forPath(dir).deleteRecursively(dir)

  /** a promoted file, with `staged` its path relative to the staging dir
    * (partition dirs, then Spark's `part-NNNNN` task-indexed name): commits
    * hand out file and row ids in that order, so they do not depend on the
    * random file names */
  private case class StagedFile(path: String, fileName: String,
      partitionValues: Map[String, String], staged: String)

  /** Move staged part-files into the table data dir; parses hidden-partition
    * values from the staged `_gp<i>=<value>` dir layout. With
    * `hivePattern` (option hive_file_pattern, docs/settings.md) files land
    * under Hive-style `<key>=<value>/` subdirs instead of the flat layout —
    * cosmetic for our scan (paths are explicit per file) but interoperable
    * with path-partitioned readers. */
  private def promoteStaged(staging: String, dataDir: String,
      partKeys: List[PartitionKey], hivePattern: Boolean = false): Seq[StagedFile] = {
    // staging lives under the lake root, so promotion is a same-FS rename
    // on every substrate (local nio or Hadoop FS — see StoreIO)
    val io = StoreIO.forPath(staging)
    io.mkdirs(dataDir)
    val out = Vector.newBuilder[StagedFile]
    io.listFilesRecursive(staging).foreach { rel =>
      val name = rel.split('/').last
      if (name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")) {
        val pvs = rel.split('/').dropRight(1).flatMap { seg =>
          seg.split("=", 2) match {
            case Array(k, v) if k.startsWith("_gp") =>
              val i = k.stripPrefix("_gp").toInt
              if (i < partKeys.length) Some(partKeys(i).label -> v) else None
            case _ => None
          }
        }.toMap
        val newName = s"g${uuid()}.parquet"
        val subDir =
          if (hivePattern && pvs.nonEmpty)
            pvs.toSeq.sortBy(_._1).map { case (k, v) =>
              s"${k.replaceAll("[^A-Za-z0-9_.-]", "_")}=$v"
            }.mkString("/") + "/"
          else ""
        val target = s"$dataDir/$subDir$newName"
        if (subDir.nonEmpty) io.mkdirs(s"$dataDir/${subDir.stripSuffix("/")}")
        io.move(s"$staging/$rel", target)
        out += StagedFile(target, newName, pvs, rel)
      }
    }
    deleteRecursively(staging)
    out.result()
  }

  /** partition transform expression for a data column. `bucket[N]` is the
    * Iceberg-style hash transform for high-cardinality keys (superset —
    * the reference supports identity/year/month/day/hour only): the
    * recorded per-file value is `pmod(murmur3(col), N)`, reproduced
    * driver-side by [[Pruning]] for point-filter and DPP file pruning. */
  private[lake] def transformCol(pk: PartitionKey): Column = pk.transform match {
    case "identity" => col(pk.column)
    case "year" => year(col(pk.column))
    case "month" => month(col(pk.column))
    case "day" => dayofmonth(col(pk.column))
    case "hour" => hour(col(pk.column))
    case BucketTransform(n) => pmod(hash(col(pk.column)), lit(n))
    case other => throw new IllegalArgumentException(s"unknown partition transform: $other")
  }

  private[lake] def sortCol(sk: SortKey): Column = {
    val base = expr(sk.expr)
    (sk.ascending, sk.nullsFirst) match {
      case (true, true) => base.asc_nulls_first
      case (true, false) => base.asc_nulls_last
      case (false, true) => base.desc_nulls_first
      case (false, false) => base.desc_nulls_last
    }
  }

  /** Writer options from table/global tags (reference docs/settings.md,
    * test/regression/sql/options.sql): parquet_compression(_level),
    * parquet_row_group_size_bytes, parquet_version map straight onto the
    * parquet writer; target_file_size and parquet_row_group_size (rows) are
    * honored adaptively — bytes/row estimated from the table's existing
    * files (the parquet-hadoop writer sizes row groups in bytes only). */
  private def writeOptions(st: CatalogState, tid: Long, s: Long): Map[String, String] = {
    def tag(k: String): Option[String] = st.optionAt(tid, k, s)
    def bytesPerRow: Option[Long] = {
      val live = st.filesAt(tid, s)
      val rows = live.map(_.rowCount).sum
      val bytes = live.map(_.fileSizeBytes).sum
      if (rows > 0 && bytes > 0) Some(math.max(1L, bytes / rows)) else None
    }
    val b = Map.newBuilder[String, String]
    tag("parquet_compression").foreach(v => b += "compression" -> v)
    tag("parquet_compression_level").foreach(v =>
      b += "parquet.compression.codec.zstd.level" -> v)
    tag("parquet_row_group_size_bytes").foreach(v =>
      b += "parquet.block.size" -> LakeOptions.parseBytes(v).toString)
    tag("parquet_row_group_size").foreach(v => bytesPerRow.foreach(bpr =>
      b += "parquet.block.size" -> (v.toLong * bpr).toString))
    tag("parquet_version").foreach(v => b += "parquet.writer.version" ->
      (if (v.replaceAll("[^0-9]", "") == "2") "PARQUET_2_0" else "PARQUET_1_0"))
    tag("target_file_size").foreach(v => bytesPerRow.foreach(bpr =>
      b += "maxRecordsPerFile" ->
        math.max(1L, LakeOptions.parseBytes(v) / bpr).toString))
    val enc = LakeEncryption.writeOptions(st, tid, s)
    if (enc.nonEmpty) {
      b ++= enc
      // the write path itself reads staged files back (stats, row counts),
      // so the decryption side must be live in this session too
      org.apache.spark.sql.SparkSession.getActiveSession
        .foreach(LakeEncryption.ensureReadConf(_,
          enc.get("parquet.encryption.kms.client.class")))
    }
    b.result()
  }

  /** parse `schema_of_variant_agg` output ("OBJECT<price: BIGINT, tag:
    * STRING, nest: OBJECT<…>>") into top-level (key, spark-ddl-type) pairs,
    * scalar orderable types only — nested objects/arrays aren't prunable
    * ranges. Non-object variants (bare "BIGINT") yield nothing. */
  private[lake] def topLevelVariantPaths(schema: String): Seq[(String, String)] = {
    val s = schema.trim
    if (!s.startsWith("OBJECT<") || !s.endsWith(">")) return Nil
    val inner = s.stripPrefix("OBJECT<").stripSuffix(">")
    // split on top-level commas (angle-bracket depth 0)
    val fields = Vector.newBuilder[String]
    var depth = 0
    val cur = new StringBuilder
    inner.foreach {
      case ',' if depth == 0 => fields += cur.result(); cur.clear()
      case c =>
        if (c == '<') depth += 1 else if (c == '>') depth -= 1
        cur += c
    }
    if (cur.nonEmpty) fields += cur.result()
    fields.result().flatMap { f =>
      f.split(":", 2) match {
        case Array(k, t) =>
          val key = k.trim
          val typ = t.trim.toUpperCase
          val mapped = typ match {
            case "TINYINT" | "SMALLINT" | "INT" | "BIGINT" => Some(typ.toLowerCase)
            case "FLOAT" | "REAL" => Some("float")
            case "DOUBLE" => Some("double")
            case "STRING" => Some("string")
            case "BOOLEAN" => Some("boolean")
            case "DATE" => Some("date")
            case d if d.startsWith("DECIMAL(") => Some(d.toLowerCase)
            case ts if ts.startsWith("TIMESTAMP") => None // tz-sensitive: skip
            case _ => None
          }
          if (key.matches("[A-Za-z_][A-Za-z0-9_]*")) mapped.map(key -> _) else None
        case _ => None
      }
    }
  }

  /** the catalog stats of one written file from its [[statAggsFor]] row */
  private def columnStats(fileId: Long, r: Row, statCols: Seq[ColumnEntry]): Seq[FileColumnStats] =
    statCols.map { c =>
      FileColumnStats(fileId, c.name, c.dataType,
        Option(r.getString(r.fieldIndex(s"_min_${c.name}"))),
        Option(r.getString(r.fieldIndex(s"_max_${c.name}"))),
        r.getLong(r.fieldIndex(s"_nulls_${c.name}")))
    }

  private[lake] def statAggsFor(statCols: Seq[ColumnEntry]): Seq[Column] =
    Seq(count(lit(1)).as("_cnt")) ++ statCols.flatMap { c =>
      Seq(min(col(c.name)).cast(StringType).as(s"_min_${c.name}"),
        max(col(c.name)).cast(StringType).as(s"_max_${c.name}"),
        sum(when(col(c.name).isNull, 1L).otherwise(0L)).as(s"_nulls_${c.name}"))
    }

  /** `v` as column `c` stores it: cast to the declared type and, on a NOT
    * NULL column, guarded per row (codegen'd; `raise_error` runs on the
    * first null only). Every parquet writer aligns its rows through it:
    * append, UPDATE's post-images and MERGE's acted rows. A literal null
    * still fails, where an `assert_true` guard folds away with it. */
  private def stored(c: ColumnEntry, v: Column): Column = {
    val base = v.cast(LakeRead.sparkType(c.dataType))
    (if (c.nullable) base
     else coalesce(base, raise_error(lit(s"NOT NULL constraint on column ${c.name} violated"))))
      .as(c.name)
  }

  /** What a writer's output was computed from: table `tid` as read at
    * snapshot `s0`, and the ids of the data files, delete files and inline
    * batches it read there. `layout` marks a clustering rewrite, whose
    * output also depends on the table's columns, sort keys and partition
    * keys. A DML reads the data files it hits and the inline batches
    * holding its hit rows; a rewrite reads what it replaces, and ends
    * exactly that at commit. `op` names the writer in conflict messages. */
  case class ReadSet(op: String, tid: Long, s0: Long,
      files: Set[Long] = Set.empty, deleteFiles: Set[Long] = Set.empty,
      inlined: Set[Long] = Set.empty, layout: Boolean = false)

  object ReadSet {
    /** a rewrite of `files` and `inlined` read at `s0`: it also absorbs the
      * delete files live at s0 that name only rewritten or already ended
      * data files */
    def rewrite(op: String, st0: CatalogState, tid: Long, s0: Long,
        files: Iterable[DataFileEntry], inlined: Iterable[InlinedBatch] = Nil,
        layout: Boolean = false): ReadSet = {
      val ids = files.map(_.fileId).toSet
      val live = st0.filesAt(tid, s0).map(_.fileId).toSet
      val absorbed = if (ids.isEmpty) Set.empty[Long]
        else st0.deleteFilesAt(tid, s0).filter(_.countsByFile.keys.forall { k =>
          ids(k.toLong) || !live(k.toLong)
        }).map(_.deleteFileId).toSet
      ReadSet(op, tid, s0, ids, absorbed, inlined.map(_.batchId).toSet, layout)
    }
  }

  /** The commit-time conflict rule every lake writer applies inside its
    * `commitWithRetry` closure, against the fresh state `st`: a commit
    * conflicts only with commits that touched what it read (Delta Lake's
    * rule, Armbrust et al., VLDB 2020). Throws
    * `ConcurrentModificationException` when
    *  - an entry of the read set is no longer live (a compaction, rewrite,
    *    flush, consolidation or DML rewrote it),
    *  - a delete file committed after s0 names a read data file (a racing
    *    DELETE, UPDATE or MERGE), or
    *  - for a clustering rewrite, the table's columns, sort keys or
    *    partition keys changed since s0.
    * Committing then would resurrect deleted rows, duplicate rewritten
    * ones, or apply positions to files that no longer hold those rows. A
    * commit that only added entries the writer did not read (an append, an
    * insert) does not conflict: those entries stay live, which is the
    * serial order "writer, then the other commit". The caller re-runs the
    * whole op against fresh state, like the reference's retryable
    * TransactionException (metadata_manager.cpp:294-364). */
  private[lake] def requireUnchanged(st: CatalogState, rs: ReadSet): Unit = {
    def conflict(what: String): Nothing =
      throw new java.util.ConcurrentModificationException(
        s"${rs.op} conflicts with a concurrent write: a concurrent $what")
    def check(what: String, ids: Iterable[Long]): Unit =
      if (ids.nonEmpty) conflict(s"$what ${ids.toSeq.distinct.sorted.mkString(", ")}")
    val cur = st.currentSnapshotId
    def gone(read: Set[Long], live: => Iterable[Long]) = if (read.isEmpty) Nil else read -- live
    check("rewrite of data files", gone(rs.files, st.filesAt(rs.tid, cur).map(_.fileId)))
    check("rewrite of delete files",
      gone(rs.deleteFiles, st.deleteFilesAt(rs.tid, cur).map(_.deleteFileId)))
    check("rewrite of inline batches", gone(rs.inlined, st.inlinedAt(rs.tid, cur).map(_.batchId)))
    if (rs.files.nonEmpty) check("delete on data files",
      st.deleteFiles.filter(d => d.tableId == rs.tid && d.begin > rs.s0)
        .flatMap(_.countsByFile.keys.map(_.toLong)).filter(rs.files))
    if (rs.layout && (st.columnsAt(rs.tid, cur) != st.columnsAt(rs.tid, rs.s0) ||
        st.sortKeysAt(rs.tid, cur) != st.sortKeysAt(rs.tid, rs.s0) ||
        st.partitionKeysAt(rs.tid, cur) != st.partitionKeysAt(rs.tid, rs.s0)))
      conflict("metadata change")
  }

  /** Distributed append of `df`. Returns the committed snapshot id.
    *
    * When the table has partition keys, rows are grouped by the transform
    * values and written `partitionBy` synthetic `_gp<i>` dirs (then promoted
    * to FLAT files with the values recorded per file — DuckLake-style hidden
    * partitioning, reference src/pgducklake_partition.cpp:31-97). Sort keys
    * are applied only on compaction-style writes (`sorted=true`), mirroring
    * the reference (sorted_by.cpp: sort on compaction/flush, not inserts).
    * A rewrite passes what it replaced as `replaces`: the commit applies
    * [[requireUnchanged]] to it and ends exactly its entries.
    */
  def append(
      spark: SparkSession,
      store: MetadataStore,
      schemaName: String,
      tableName: String,
      df: DataFrame,
      overwrite: Boolean = false,
      explicitRowIds: Boolean = false,
      changeTag: String = "inserted",
      replaces: Option[ReadSet] = None,
      sorted: Boolean = false,
      repartitionForWrite: Boolean = true,
      extraTags: (CatalogState, Long) => (List[TagEntry], List[String]) =
        (_, _) => (Nil, Nil)): Long = {
    val st0 = store.state()
    val s0 = st0.currentSnapshotId
    // every insert path funnels here (API, DSv2, SQL DML, streaming
    // sink); overwrite additionally removes rows → DELETE (PG's TRUNCATE
    // analog). LakeAcl scaladoc has the full enforcement map.
    LakeAcl.requirePriv(spark, st0, "INSERT", schemaName, tableName, s0)
    if (overwrite)
      LakeAcl.requirePriv(spark, st0, "DELETE", schemaName, tableName, s0)
    val tid = st0.tableAt(schemaName, tableName, s0)
      .getOrElse(throw new NoSuchElementException(s"no table $schemaName.$tableName")).tableId
    val cols = st0.columnsAt(tid, s0)
    val partKeys = st0.partitionKeysAt(tid, s0)
    val sortKeys = st0.sortKeysAt(tid, s0)
    val schemaVersion = st0.snapshots.lastOption.map(_.schemaVersion).getOrElse(0L)

    def tag(k: String): Option[String] = st0.optionAt(tid, k, s0)

    // align to table schema (by name, cast to declared types, NOT NULL
    // guarded)
    val rowIdSel = if (explicitRowIds) Seq(col(LakeRead.RowIdCol)) else Nil
    var aligned = df.select(cols.map(c => stored(c, col(c.name))) ++ rowIdSel: _*)
    // per_thread_output=false (docs/settings.md): funnel into one output
    // file per write instead of the default one-per-task
    if (tag("per_thread_output").exists(v => v == "false" || v == "0"))
      aligned = aligned.coalesce(1)
    // UNPARTITIONED tables only: the partitioned branch sorts AFTER its
    // repartition (this pre-sort would be discarded by the shuffle — and
    // worse, sorted map output shuffle-compresses so well that AQE's
    // coalescing, which reads COMPRESSED sizes, merges the reduce side
    // into a few giant partitions whose re-sort then spills the whole
    // input per task: 4 × 6 GB spills ENOSPC'd the sf100 fixture build)
    if (sortKeys.nonEmpty && sorted && partKeys.isEmpty)
      aligned = aligned.sortWithinPartitions(sortKeys.map(sortCol): _*)

    val staging = s"${store.root}/_staging/${uuid()}"
    val wopts = writeOptions(st0, tid, s0)
    val hivePattern = partKeys.nonEmpty &&
      tag("hive_file_pattern").exists(v => v == "true" || v == "1")
    withMicrosTimestamps(spark) { if (partKeys.nonEmpty) {
      val pcols = partKeys.zipWithIndex.map { case (pk, i) => transformCol(pk).as(s"_gp$i") }
      // compaction inputs are already grouped partition-pure (one task per
      // bin-packed group), so the shuffle would only break that grouping —
      // the dynamic-partition writer splits by _gp value either way
      val withP0 = aligned.select(aligned.columns.map(col) ++ pcols: _*)
      // EXPLICIT partition count: a bare repartition(cols) is
      // REPARTITION_BY_COL, which AQE's coalescing may merge by COMPRESSED
      // map-output size — naturally-ordered input (TPC-H facts arrive
      // orderkey-sorted) compresses so well that a multi-GB chunk
      // collapsed into a handful of reduce partitions whose per-task sort
      // then spilled ~6 GB apiece (ENOSPC'd the sf100 fixture build).
      // All-bucket specs get one task per bucket (the physical design: a
      // task writes its bucket's one file); other specs pin the session
      // shuffle width.
      val writeParts: Int = {
        val bucketNs = partKeys.map(pk => BucketTransform.unapply(pk.transform))
        if (bucketNs.nonEmpty && bucketNs.forall(_.isDefined))
          math.max(1, bucketNs.flatten.product)
        else spark.sessionState.conf.numShufflePartitions
      }
      val withP = if (repartitionForWrite)
        withP0.repartition(writeParts, partKeys.indices.map(i => col(s"_gp$i")): _*)
      else withP0
      // lead the within-task sort with the partition columns: the dynamic
      // partition writer requires its input ordered by them and would
      // otherwise insert its OWN sort on _gp alone — non-stable under
      // spill merges, which would silently unsort the rows inside each
      // file and falsify the sortedBy stamp below
      val sortedP = if (sortKeys.nonEmpty && sorted)
        withP.sortWithinPartitions(
          partKeys.indices.map(i => col(s"_gp$i")) ++ sortKeys.map(sortCol): _*)
      else withP
      sortedP.write.options(wopts).partitionBy(partKeys.indices.map(i => s"_gp$i"): _*)
        .mode(SaveMode.Overwrite).parquet(staging)
    } else aligned.write.options(wopts).mode(SaveMode.Overwrite).parquet(staging) }

    val staged = promoteStaged(staging, s"${tableDir(store.root, tid)}/data",
      partKeys, hivePattern)

    // per-file stats job (distributed; one aggregate row per file)
    val statCols = cols.filter(c => statsEligible(LakeRead.sparkType(c.dataType)))
    val readStruct = {
      val base = LakeRead.structFor(cols)
      if (explicitRowIds) base.add(StructField(LakeRead.RowIdCol, LongType)) else base
    }
    // variant path stats (ducklake_file_variant_stats,
    // src/pgducklake_freeze.cpp:60; exercised by variant.sql): discover the
    // union of top-level scalar paths via schema_of_variant_agg, then fold
    // per-path min/max/null into the SAME per-file stats job. The stat rows
    // use synthetic names ("v.$.price") that [[LakeVariantPruning]] matches
    // so variant_get predicates prune files.
    val variantCols = cols.filter(c => LakeRead.sparkType(c.dataType) match {
      case _: VariantType => true
      case _ => false
    })
    val variantPaths: Seq[(String, String, String)] = // (colName, key, sparkType)
      if (variantCols.isEmpty || staged.isEmpty) Nil
      else {
        val aggs = variantCols.map(c => schema_of_variant_agg(col(c.name)).as(c.name))
        val row = spark.read.schema(readStruct).parquet(staged.map(_.path): _*)
          .agg(aggs.head, aggs.tail: _*).collect().head
        variantCols.zipWithIndex.flatMap { case (c, i) =>
          topLevelVariantPaths(Option(row.getString(i)).getOrElse(""))
            .map { case (k, t) => (c.name, k, t) }
        }
      }
    val variantAggs: Seq[Column] = variantPaths.zipWithIndex.flatMap {
      case ((cn, k, t), i) =>
        val v = try_variant_get(col(cn), s"$$.$k", t)
        Seq(min(v).cast(StringType).as(s"_vmin_$i"),
          max(v).cast(StringType).as(s"_vmax_$i"),
          sum(when(v.isNull, 1L).otherwise(0L)).as(s"_vnull_$i"))
    }
    // variant tables keep the fused stats+variant-path job; everything else
    // harvests the footers the write just produced (r17, guide §1.2/§6 —
    // no second pass over the written bytes; exact-or-fallback contract in
    // FooterStats)
    val statRows: Map[String, Row] =
      if (staged.isEmpty) Map.empty
      else (if (variantCols.isEmpty)
        org.apache.spark.sql.graft.FooterStats.harvest(spark,
          staged.map(f => f.fileName -> f.path),
          statCols.map(c => c.name -> LakeRead.sparkType(c.dataType)))
      else None).getOrElse {
        val aggs = statAggsFor(statCols) ++ variantAggs
        spark.read.schema(readStruct).parquet(staged.map(_.path): _*)
          .groupBy(col("_metadata.file_name").as("_file"))
          .agg(aggs.head, aggs.tail: _*)
          .collect().map(r => r.getString(0) -> r).toMap // one row per file
      }
    // zero-row part files (empty write partitions) have no stats row:
    // physically drop them, they carry nothing
    val (kept, empty) = staged.partition(f => statRows.contains(f.fileName))
    empty.foreach(f => StoreIO.forPath(f.path).delete(f.path))
    val sizes = kept.map(f => f.fileName -> StoreIO.forPath(f.path).size(f.path)).toMap

    store.commitWithRetry() { (st, sid) =>
      if (st.tableById(tid, st.currentSnapshotId).isEmpty)
        throw new IllegalStateException(s"table $schemaName.$tableName dropped concurrently")
      replaces.foreach(requireUnchanged(st, _))
      var fileId = st.nextFileId
      var rowId = st.nextRowId(tid)
      val newFiles = kept.sortBy(_.staged).map { f =>
        val r = statRows(f.fileName)
        val cnt = r.getLong(r.fieldIndex("_cnt"))
        val fe = DataFileEntry(fileId, tid, f.path, f.fileName, cnt,
          sizes(f.fileName), firstRowId = if (explicitRowIds) 0L else rowId,
          schemaVersion = schemaVersion, explicitRowIds = explicitRowIds,
          partitionValues = f.partitionValues, begin = sid, end = None,
          // sortWithinPartitions ran and every file receives its task's
          // rows in order → each file is internally sorted by the keys.
          // Stamp the FULL key (direction + null order): see SortKey.stamp
          sortedBy = if (sorted && sortKeys.nonEmpty)
            Some(sortKeys.map(SortKey.stamp)) else None)
        fileId += 1; rowId += cnt
        fe
      }.toList
      val newStats = newFiles.flatMap { fe =>
        val r = statRows(fe.fileName)
        columnStats(fe.fileId, r, statCols) ++ variantPaths.zipWithIndex.map { case ((cn, k, t), i) =>
          FileColumnStats(fe.fileId, s"$cn.$$.$k", t,
            Option(r.getString(r.fieldIndex(s"_vmin_$i"))),
            Option(r.getString(r.fieldIndex(s"_vmax_$i"))),
            r.getLong(r.fieldIndex(s"_vnull_$i")))
        }
      }
      def ended(all: => Vector[Long], replaced: ReadSet => Set[Long]): List[Long] =
        (if (overwrite) all.toList else Nil) ++ replaces.toList.flatMap(replaced(_).toList.sorted)
      val cur = st.currentSnapshotId
      val endedFiles = ended(st.filesAt(tid, cur).map(_.fileId), _.files)
      val endedDel = ended(st.deleteFilesAt(tid, cur).map(_.deleteFileId), _.deleteFiles)
      val endedInl = ended(st.inlinedAt(tid, cur).map(_.batchId), _.inlined)
      val n = newFiles.map(_.rowCount).sum
      val (tagsNew, tagsEnded) = extraTags(st, sid)
      CommitDelta(
        snapshot = Snapshot(sid, System.currentTimeMillis(), schemaVersion,
          List(s"$changeTag:$tid:$n")),
        newFiles = newFiles, endedFiles = endedFiles,
        endedDeleteFiles = endedDel, endedInlined = endedInl,
        newTags = tagsNew, endedTags = tagsEnded,
        newStats = newStats,
        newScheduledDeletions = (endedFiles.flatMap(id =>
          st.files.find(_.fileId == id).map(_.path)) ++
          endedDel.flatMap(id => st.deleteFiles.find(_.deleteFileId == id).map(_.path)))
          .map(p => ScheduledDeletion(p, System.currentTimeMillis(), sid)))
    }
  }

  /** Driver-side small-batch append (the reference's direct-insert fast
    * path, src/pgducklake_direct_insert.cpp:266-906): when the batch fits
    * `data_inlining_row_limit`, rows go into the inline log — one metadata
    * commit, NO Spark job. Otherwise falls back to a distributed append. */
  def insertRows(
      spark: SparkSession,
      store: MetadataStore,
      schemaName: String,
      tableName: String,
      rows: Seq[Seq[Any]]): Long = {
    val st0 = store.state()
    val s0 = st0.currentSnapshotId
    val tid = st0.tableAt(schemaName, tableName, s0)
      .getOrElse(throw new NoSuchElementException(s"no table $schemaName.$tableName")).tableId
    val cols = st0.columnsAt(tid, s0)
    // NOT NULL enforcement for the inline fast path (the append path's
    // per-row guard covers everything that writes parquet)
    cols.zipWithIndex.filterNot(_._1.nullable).foreach { case (c, i) =>
      require(rows.forall(r => i < r.length && r(i) != null),
        s"NOT NULL constraint on column ${c.name} violated")
    }
    // variant columns disable inlining entirely (reference:
    // src/pgducklake_direct_insert.cpp:144-146, variant.sql:8-13); binary /
    // geometry (WKB bytes) likewise — raw bytes don't survive the JSON
    // inline log
    val hasVariant = cols.exists(c => c.dataType.toUpperCase.contains("VARIANT") ||
      c.dataType.equalsIgnoreCase("binary") || c.dataType.equalsIgnoreCase("geometry"))
    val limit =
      if (hasVariant) 0L
      else st0.optionAt(tid, "data_inlining_row_limit", s0)
        .map(_.toLong).getOrElse(DefaultInlineLimit)
    if (rows.size > limit) {
      val schema = LakeRead.structFor(cols)
      val rdd = spark.sparkContext.parallelize(rows.map(Row.fromSeq), 1)
      return append(spark, store, schemaName, tableName,
        spark.createDataFrame(rdd, schema))
    }
    val json = rows.map(r => rowJson(cols, r)).toList
    store.commitWithRetry() { (st, sid) =>
      CommitDelta(
        snapshot = Snapshot(sid, System.currentTimeMillis(),
          st.snapshots.lastOption.map(_.schemaVersion).getOrElse(0L),
          List(s"inlined:$tid:${rows.size}")),
        newInlined = List(InlinedBatch(st.nextBatchId, tid,
          st.snapshots.lastOption.map(_.schemaVersion).getOrElse(0L),
          st.nextRowId(tid), json, sid, None)))
    }
  }

  private def jsonEscape(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def rowJson(cols: Seq[ColumnEntry], row: Seq[Any]): String =
    cols.zip(row).map { case (c, v) =>
      val j = v match {
        case null => "null"
        case s: String => jsonEscape(s)
        case d: java.sql.Date => jsonEscape(d.toString)
        case t: java.sql.Timestamp => jsonEscape(t.toString)
        case b: Boolean => b.toString
        case n => n.toString
      }
      s"${jsonEscape(c.name)}: $j"
    }.mkString("{", ", ", "}")

  /** One written positional-delete "file" (a parquet directory): its path,
    * per-data-file hit counts, total hits, and the concrete part files —
    * listed ONCE here at write time and recorded in metadata, so scans
    * never re-list the directory (VERDICT r4 #5). */
  private[lake] case class WrittenDeletes(
      path: String, counts: Map[String, Long], total: Long, parts: List[String]) {
    /** its catalog entry, committed at `sid`; `byName` maps the data file
      * names its counts are keyed by to their ids */
    def entry(id: Long, tid: Long, sid: Long, byName: Map[String, Long]): DeleteFileEntry =
      DeleteFileEntry(id, tid, path, total,
        counts.flatMap { case (fn, c) => byName.get(fn).map(_.toString -> c) },
        sid, None, parts = parts)
  }

  /** What a DML learns of its hits from its delete write, observed as the
    * rows are written: the delete file (None when no data-file row is hit),
    * the row ids of the inline rows it deletes outright, and how many of the
    * written positions are update pre-images. */
  private[lake] case class DeleteHits(
      file: Option[WrittenDeletes], inlineIds: Set[Long], updated: Long)

  /** the `hits` column of [[writeDeleteFile]] flagging update pre-images */
  private val UpdCol = "_upd"

  /** per-data-file hit counts, merged on the driver from O(files) maps */
  private object HitCounts extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    private def add(m: Map[String, Long], f: String, n: Long) = m.updated(f, m.getOrElse(f, 0L) + n)
    def zero: Map[String, Long] = Map.empty
    def reduce(m: Map[String, Long], f: String): Map[String, Long] = add(m, f, 1L)
    def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
      b.foldLeft(a) { case (m, (f, n)) => add(m, f, n) }
    def finish(m: Map[String, Long]): Map[String, Long] = m
    def bufferEncoder: Encoder[Map[String, Long]] = ExpressionEncoder[Map[String, Long]]()
    def outputEncoder: Encoder[Map[String, Long]] = ExpressionEncoder[Map[String, Long]]()
  }

  /** Distributed write of the (file, pos, row_id) rows of `hits` into a
    * positional delete "file" (a parquet directory — the scan reads it as
    * one unit). `hits` carries [[LakeRead.FileCol]], [[LakeRead.PosCol]],
    * [[LakeRead.RowIdCol]] and optionally [[UpdCol]]; its inline rows
    * (file `inline:<batch>`) are observed, not written.
    *
    * The write is the one pass a DML makes over its hits: `Dataset.observe`
    * on it counts them per data file and in total, collects the inline ids
    * and counts the update pre-images, so no DML counts its hits in a job of
    * its own, and a zero-hit write leaves no directory behind.
    * @param rowBound an upper bound on the hits (the live rows the DML's
    *                 scan keeps), which sizes the range partitioning
    * @param oneHitPerRow MERGE's cardinality rule: a (file, pos, row_id)
    *                 aggregate under the range exchange, and the write
    *                 fails — its directory deleted — when a row is hit
    *                 twice */
  private[lake] def writeDeleteFile(
      spark: SparkSession, store: MetadataStore, tid: Long, hits: DataFrame,
      rowBound: Long, oneHitPerRow: Boolean = false): DeleteHits = {
    val upd = if (hits.columns.contains(UpdCol)) col(UpdCol) else lit(false)
    val rows = hits.select(col(LakeRead.FileCol).as("file"), col(LakeRead.PosCol).as("pos"),
      col(LakeRead.RowIdCol).as("row_id"), upd.as(UpdCol))
    val delDir = s"${tableDir(store.root, tid)}/deletes/d${uuid()}"
    val io = StoreIO.forPath(delDir)
    io.mkdirs(s"${tableDir(store.root, tid)}/deletes")
    // range-partition + sort by (file, pos): every output part covers a
    // contiguous file-name range, so a scan task fetching ONE data file's
    // positions prunes to its row groups via file-column min/max stats
    // (the executor-local delete application in NativeParquet) — and the
    // sort stays distributed, no single-task funnel for a big DELETE.
    // Part count derives from the row bound (~4M position rows ≈ a few
    // hundred MB per part, guide §2.2/§6), not the session shuffle width:
    // a DML over fewer rows gets one part with NO range-sampling job, a
    // 100 TB one still fans out.
    val rowsPerPart = 4L << 20
    val nParts = math.max(1L, math.min(
      spark.sessionState.conf.numShufflePartitions.toLong,
      (rowBound + rowsPerPart - 1) / rowsPerPart)).toInt
    val ranged = rows.repartitionByRange(nParts, col("file"), col("pos"))
    // the aggregate's clustering is the range partitioning's (no exchange
    // of its own); observed above the exchange, so a range-sampling job
    // never runs the metrics twice
    val hitRows =
      if (!oneHitPerRow) ranged
      else ranged.groupBy("file", "pos", "row_id")
        .agg(count(lit(1)).as("_mult"), max(col(UpdCol)).as(UpdCol))
    val inline = col("file").startsWith("inline:")
    val seen = new Observation()
    val metrics = Seq(udaf(HitCounts, Encoders.STRING)(col("file")).as("counts"),
      count_if(col(UpdCol) && !inline).as("updated"),
      collect_list(when(inline && !col(UpdCol), col("row_id"))).as("inline")) ++ // ≤ inline limit
      (if (oneHitPerRow) Seq(max(col("_mult")).as("mult")) else Nil)
    hitRows
      .observe(seen, metrics.head, metrics.tail: _*)
      .filter(!inline)
      .sortWithinPartitions("file", "pos")
      .select("file", "pos", "row_id")
      // delete vectors leak row lineage — on an encrypted table they get
      // the same uniform-key treatment as data files
      .write.options({
        val st = store.state()
        LakeEncryption.writeOptions(st, tid, st.currentSnapshotId)
      }).mode(SaveMode.Overwrite).parquet(delDir)
    val m = seen.get
    val counts = m("counts").asInstanceOf[scala.collection.Map[String, Long]]
      .filterNot(_._1.startsWith("inline:")).toMap // O(files)
    val total = counts.values.sum
    val twice = m.get("mult").exists(v => v != null && v.asInstanceOf[Long] > 1)
    if (total == 0 || twice) io.deleteRecursively(delDir)
    if (twice) throw new IllegalStateException("MERGE: a target row matched multiple source rows")
    val file = if (total == 0) None else Some(WrittenDeletes(delDir, counts, total,
      io.list(delDir, "", ".parquet").sorted.map(n => s"$delDir/$n").toList))
    DeleteHits(file, m("inline").asInstanceOf[Seq[Long]].toSet, m("updated").asInstanceOf[Long])
  }

  /** The live rows the lake scans of `df` keep after file pruning, plus
    * their inline rows: an upper bound on the rows a DML over `df` can hit,
    * read off the optimized plan (no job). */
  private def scannedRows(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation if r.scan.isInstanceOf[LakeNativeScan] =>
        r.scan.asInstanceOf[LakeNativeScan].liveRows
    }.sum
  }

  /** Apply `cond` unless it is the literal TRUE (the DELETE/UPDATE-all
    * fallback callers pass when no WHERE was given): a degenerate `true`
    * conjunct buys nothing and is walked by every downstream filter
    * translation (VERDICT r10 #3 — emit no filter instead). */
  private def filterUnlessTrue(df: DataFrame, cond: Column): DataFrame =
    org.apache.spark.sql.graft.CatalogAccess.expressionOf(cond) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(true, _) => df
      case _ => df.filter(cond)
    }

  /** A DML's read set at `s0`: the data files its delete write hit and the
    * inline batches holding its hit inline rows (`inlineHits`, by row id).
    * Also returns the ids at s0 of the table's data files by name, which
    * key the delete file's counts. */
  private def dmlReads(op: String, st0: CatalogState, tid: Long, s0: Long,
      file: Option[WrittenDeletes], inlineHits: Set[Long]): (ReadSet, Map[String, Long]) = {
    val byName = st0.filesAt(tid, s0).map(f => f.fileName -> f.fileId).toMap
    val batches = st0.inlinedAt(tid, s0).filter(_.ids.exists(inlineHits)).map(_.batchId)
    (ReadSet(op, tid, s0, files = file.toList.flatMap(_.counts.keys.flatMap(byName.get)).toSet,
      inlined = batches.toSet), byName)
  }

  /** Row-level DELETE. Returns (snapshotId, deletedRowCount) — the
    * reference asserts exact DML row counts (dml_row_count.sql). */
  def delete(
      spark: SparkSession,
      store: MetadataStore,
      schemaName: String,
      tableName: String,
      cond: Column): (Long, Long) = {
    val st0 = store.state()
    val s0 = st0.currentSnapshotId
    LakeAcl.requirePriv(spark, st0, "DELETE", schemaName, tableName, s0)
    val tid = st0.tableAt(schemaName, tableName, s0)
      .getOrElse(throw new NoSuchElementException(s"no table $schemaName.$tableName")).tableId

    // one action: the delete write observes the hit counts and the inline
    // ids as it writes the positions
    val matched = filterUnlessTrue(
      LakeRead.scanDF(spark, st0, tid, s0, Nil, withRowMeta = true), cond)
    val hits = writeDeleteFile(spark, store, tid, matched, scannedRows(matched))
    val (delFile, inlineIds) = (hits.file, hits.inlineIds)
    val (reads, byName) = dmlReads(s"DELETE on $schemaName.$tableName", st0, tid, s0,
      delFile, inlineIds)

    val total = delFile.map(_.total).getOrElse(0L) + inlineIds.size
    val sid = store.commitWithRetry() { (st, sid) =>
      requireUnchanged(st, reads)
      val (endedB, newB) = rewriteInlineBatches(st, reads, sid, drop = inlineIds)
      CommitDelta(
        snapshot = Snapshot(sid, System.currentTimeMillis(),
          st.snapshots.lastOption.map(_.schemaVersion).getOrElse(0L),
          List(s"deleted:$tid:$total")),
        newDeleteFiles = delFile.toList.map(_.entry(st.nextFileId, tid, sid, byName)),
        endedInlined = endedB, newInlined = newB)
    }
    (sid, total)
  }

  /** The read inline batches of a DML, rewritten without the rows `drop`
    * names: each one ends, and its survivors move to a new batch keeping
    * their row ids. Returns (ended batch ids, new batches). */
  private def rewriteInlineBatches(st: CatalogState, reads: ReadSet, sid: Long,
      drop: Long => Boolean): (List[Long], List[InlinedBatch]) = {
    val read = st.inlined.filter(b => reads.inlined(b.batchId)).sortBy(_.batchId).toList
    val survivors = read.map(b => b -> b.rowsJson.zip(b.ids).filterNot(p => drop(p._2)))
      .filter(_._2.nonEmpty)
    (read.map(_.batchId), survivors.zipWithIndex.map { case ((b, kept), i) =>
      InlinedBatch(st.nextBatchId + i, reads.tid, b.schemaVersion, kept.head._2,
        kept.map(_._1), sid, None, rowIds = Some(kept.map(_._2)))
    })
  }

  /** Row-level UPDATE = positional delete of pre-images + append of
    * post-images carrying the SAME row ids (explicit `_graft_row_id`
    * column) in ONE snapshot — what lets the change feed pair pre/post
    * images (sql/pg_ducklake--0.1.0.sql:344-449, data_change_feed.sql).
    * Returns (snapshotId, updatedRowCount). */
  def update(
      spark: SparkSession,
      store: MetadataStore,
      schemaName: String,
      tableName: String,
      cond: Column,
      set: Map[String, Column]): (Long, Long) = {
    val st0 = store.state()
    val s0 = st0.currentSnapshotId
    LakeAcl.requirePriv(spark, st0, "UPDATE", schemaName, tableName, s0)
    val tid = st0.tableAt(schemaName, tableName, s0)
      .getOrElse(throw new NoSuchElementException(s"no table $schemaName.$tableName")).tableId
    val cols = st0.columnsAt(tid, s0)
    val schemaVersion = st0.snapshots.lastOption.map(_.schemaVersion).getOrElse(0L)

    val scan = filterUnlessTrue(
      LakeRead.scanDF(spark, st0, tid, s0, Nil, withRowMeta = true), cond)
    val rowBound = scannedRows(scan) // before the cache hides the scan
    val matched = scan.persist()
    val inline = col(LakeRead.FileCol).startsWith("inline:")
    val (updatedJson, delFile, staged) = try {
      val updated = matched.select(
        cols.map(c => stored(c, set.getOrElse(c.name, col(c.name)))) ++
          Seq(col(LakeRead.FileCol), col(LakeRead.RowIdCol)): _*)

      // inline side: updated JSON by row id (inline log is small by
      // contract); provably empty — and the two collect jobs skipped — when
      // the table has no inline batches at s0 (r17)
      val updatedJson: Map[Long, String] =
        if (st0.inlinedAt(tid, s0).isEmpty) Map.empty
        else {
          val inlineUpdated = updated.filter(inline)
          val inlineIds = inlineUpdated.select(col(LakeRead.RowIdCol))
            .collect().map(_.getLong(0))
          val inlineJson = inlineUpdated.drop(LakeRead.FileCol, LakeRead.RowIdCol)
            .toJSON.collect()
          inlineIds.zip(inlineJson).toMap
        }

      // parquet side: delete file + post-image files with explicit row ids,
      // the second written only when the first saw a hit
      val delFile = writeDeleteFile(spark, store, tid, matched.filter(!inline), rowBound).file
      val staged: Seq[StagedFile] = delFile match {
        case None => Nil
        case Some(_) =>
          val staging = s"${store.root}/_staging/${uuid()}"
          withMicrosTimestamps(spark)(updated.filter(!inline).drop(LakeRead.FileCol)
            .write.options(writeOptions(st0, tid, s0)).mode(SaveMode.Overwrite).parquet(staging))
          promoteStaged(staging, s"${tableDir(store.root, tid)}/data", Nil)
      }
      (updatedJson, delFile, staged)
    } finally matched.unpersist()

    val statCols = cols.filter(c => statsEligible(LakeRead.sparkType(c.dataType)))
    val readStruct = LakeRead.structFor(cols).add(StructField(LakeRead.RowIdCol, LongType))
    val (keptStaged, statRows, sizes) = stagedStats(spark, readStruct, statCols, staged)

    val total = delFile.map(_.total).getOrElse(0L) + updatedJson.size
    val (reads, byName) = dmlReads(s"UPDATE on $schemaName.$tableName", st0, tid, s0,
      delFile, updatedJson.keySet)
    val sid = store.commitWithRetry() { (st, sid) =>
      requireUnchanged(st, reads)
      var fileId = st.nextFileId
      val newFiles = keptStaged.sortBy(_.staged).map { f =>
        val r = statRows(f.fileName)
        val fe = DataFileEntry(fileId, tid, f.path, f.fileName,
          r.getLong(r.fieldIndex("_cnt")), sizes(f.fileName), firstRowId = 0L,
          schemaVersion = schemaVersion, explicitRowIds = true,
          partitionValues = Map.empty, begin = sid, end = None)
        fileId += 1
        fe
      }.toList
      val newStats = newFiles.flatMap(fe => columnStats(fe.fileId, statRows(fe.fileName), statCols))
      val newDel = delFile.toList.map(_.entry(fileId, tid, sid, byName))
      // inline rewrites: survivors keep their batch's schema epoch; rows the
      // UPDATE re-serialized (current column names) move to their OWN batch
      // stamped with the CURRENT schema version, so a batch never mixes
      // JSON epochs after schema evolution
      val (endedB, keptB) = rewriteInlineBatches(st, reads, sid, drop = updatedJson.contains)
      val updatedBatch =
        if (updatedJson.isEmpty) Nil
        else {
          val ids = updatedJson.keys.toList.sorted
          List(InlinedBatch(
            (keptB.map(_.batchId) :+ (st.nextBatchId - 1)).max + 1, tid,
            schemaVersion, ids.head, ids.map(updatedJson), sid, None,
            rowIds = Some(ids)))
        }
      CommitDelta(
        snapshot = Snapshot(sid, System.currentTimeMillis(), schemaVersion,
          List(s"updated:$tid:$total")),
        newFiles = newFiles, newStats = newStats, newDeleteFiles = newDel,
        endedInlined = endedB, newInlined = keptB ++ updatedBatch)
    }
    (sid, total)
  }

  /** WHEN MATCHED clause: `set` = UPDATE assignments, None = DELETE.
    * Also used for WHEN NOT MATCHED BY SOURCE (target-only expressions). */
  case class MergeMatched(cond: Option[Column], set: Option[Map[String, Column]])
  /** WHEN NOT MATCHED clause: conditional INSERT with per-column values. */
  case class MergeInsert(cond: Option[Column], values: Map[String, Column])

  /** per-file stats over freshly staged parquet; drops zero-row part files.
    * Returns (kept files, stats row per file name, size per file name).
    *
    * r17 (guide §1.2/§6): stats come from the parquet FOOTERS the write
    * itself produced — zero extra Spark jobs, zero re-read of the written
    * bytes (the old job re-read every ingested byte once more; at 100 TB
    * that is a second full pass over the write). FooterStats either
    * reproduces the old aggregate's strings bit-identically or returns
    * None, in which case the old job runs (INT96 timestamps, NaN/±0.0
    * float bounds, >4 KB binary values, encrypted footers). */
  private def stagedStats(spark: SparkSession, readStruct: StructType,
      statCols: Seq[ColumnEntry], staged: Seq[StagedFile])
      : (Seq[StagedFile], Map[String, Row], Map[String, Long]) = {
    if (staged.isEmpty) return (Nil, Map.empty, Map.empty)
    val statRows = org.apache.spark.sql.graft.FooterStats.harvest(spark,
      staged.map(f => f.fileName -> f.path),
      statCols.map(c => c.name -> LakeRead.sparkType(c.dataType))).getOrElse {
      spark.read.schema(readStruct).parquet(staged.map(_.path): _*)
        .groupBy(col("_metadata.file_name").as("_file"))
        .agg(statAggsFor(statCols).head, statAggsFor(statCols).tail: _*)
        .collect().map(r => r.getString(0) -> r).toMap // one row per file
    }
    val (kept, empty) = staged.partition(f => statRows.contains(f.fileName))
    empty.foreach(f => StoreIO.forPath(f.path).delete(f.path))
    (kept, statRows, kept.map(f => f.fileName -> StoreIO.forPath(f.path).size(f.path)).toMap)
  }

  /** MERGE INTO (SQL standard / reference DML surface): one snapshot carrying
    * positional deletes of every affected pre-image, post-image files with
    * PRESERVED row ids for updated rows (so the change feed pairs
    * update_preimage/update_postimage exactly like UPDATE), and fresh-row-id
    * files for inserts. Source column names MUST be disjoint from the
    * target's — the SQL lowering prefixes them `_src_`.
    *
    * Clause semantics: within each group the FIRST clause whose condition
    * holds applies; a target row matched by more than one source row is an
    * error (SQL standard cardinality rule). Returns
    * (snapshotId, updated, deleted, inserted).
    *
    * Scale shape: one join on the ON condition (inner, or outer on the
    * side whose unmatched rows a clause acts on; equi-joins shuffle or
    * broadcast under Catalyst+AQE as usual) reads the source once and the
    * target once. Its acting rows are cached and feed three writes: the
    * delete file, which also counts the hits and enforces the cardinality
    * rule, the post-images and the inserts. Driver-side collects are
    * limited to inline-log rows (bounded by data_inlining_row_limit) and
    * O(files) stats rows. */
  def merge(
      spark: SparkSession,
      store: MetadataStore,
      schemaName: String,
      tableName: String,
      source: DataFrame,
      onCond: Column,
      matched: Seq[MergeMatched],
      notMatched: Seq[MergeInsert],
      notMatchedBySource: Seq[MergeMatched] = Nil): (Long, Long, Long, Long) = {
    val st0 = store.state()
    val s0 = st0.currentSnapshotId
    // PG MERGE checks the privilege per action clause; the lake checks
    // the union of privileges the statement's clauses can exercise
    if (LakeAcl.enforced(spark)) {
      if (matched.nonEmpty || notMatchedBySource.nonEmpty) {
        // set=None is a WHEN ... THEN DELETE clause
        val needsDelete = (matched ++ notMatchedBySource).exists(_.set.isEmpty)
        LakeAcl.requirePriv(spark, st0, "UPDATE", schemaName, tableName, s0)
        if (needsDelete)
          LakeAcl.requirePriv(spark, st0, "DELETE", schemaName, tableName, s0)
      }
      if (notMatched.nonEmpty)
        LakeAcl.requirePriv(spark, st0, "INSERT", schemaName, tableName, s0)
    }
    val tid = st0.tableAt(schemaName, tableName, s0)
      .getOrElse(throw new NoSuchElementException(s"no table $schemaName.$tableName")).tableId
    val cols = st0.columnsAt(tid, s0)
    val schemaVersion = st0.snapshots.lastOption.map(_.schemaVersion).getOrElse(0L)
    val overlap = source.columns.toSet.intersect(cols.map(_.name).toSet)
    require(overlap.isEmpty, s"merge source columns collide with target: $overlap")

    // Every clause gets one action index, column `Act`: the target-side
    // clauses (WHEN MATCHED, then WHEN NOT MATCHED BY SOURCE) from 0, the
    // inserts after
    val Act = "_m_act"
    val tgtClauses = matched ++ notMatchedBySource
    val nT = tgtClauses.size
    /** `base` + the index of the first clause whose condition holds, else -1 */
    def firstMatch(conds: Seq[Option[Column]], base: Int): Column =
      conds.zipWithIndex.foldRight(lit(-1)) { case ((c, i), acc) =>
        // an unconditional clause matches unconditionally — emit the index
        // itself instead of a degenerate when(true, ...) conjunct
        c.map(cc => when(cc, lit(base + i)).otherwise(acc)).getOrElse(lit(base + i))
      }
    /** column `c` as the acting row leaves it: the post-image of an update,
      * the values of an insert, the pre-image of a delete */
    def valueOf(c: ColumnEntry): Column = {
      val arms = tgtClauses.zipWithIndex.collect { case (MergeMatched(_, Some(set)), i) =>
        i -> set.getOrElse(c.name, col(c.name))
      } ++ notMatched.zipWithIndex.map { case (cl, k) =>
        (nT + k) -> cl.values.getOrElse(c.name, lit(null))
      }
      stored(c, arms.foldRight(if (nT == 0) lit(null) else col(c.name)) { case ((i, v), acc) =>
        when(col(Act) === lit(i), v).otherwise(acc)
      })
    }

    // One join reads the source once and the target once: inner for the
    // matched rows, outer on the target for NOT MATCHED BY SOURCE, outer on
    // the source for NOT MATCHED. An insert-only MERGE anti-joins and writes
    // no delete file.
    val tgt = LakeRead.scanDF(spark, st0, tid, s0, Nil, withRowMeta = true)
    val (joined, act) =
      if (nT == 0) (source.join(tgt, onCond, "left_anti"), firstMatch(notMatched.map(_.cond), 0))
      else {
        val joinType = (notMatchedBySource.nonEmpty, notMatched.nonEmpty) match {
          case (false, false) => "inner"
          case (true, false) => "left_outer"
          case (false, true) => "right_outer"
          case (true, true) => "full_outer"
        }
        // a target row carries a row id; a source row, this mark
        val inTgt = col(LakeRead.RowIdCol).isNotNull
        val inSrc = col("_m_src").isNotNull
        (tgt.join(source.withColumn("_m_src", lit(true)), onCond, joinType),
          when(inTgt && inSrc, firstMatch(matched.map(_.cond), 0))
            .when(inTgt, firstMatch(notMatchedBySource.map(_.cond), matched.size))
            .otherwise(firstMatch(notMatched.map(_.cond), nT)))
      }
    val rowBound = if (nT == 0) 0L else scannedRows(tgt)
    val actedRows = joined.withColumn(Act, act).filter(col(Act) >= 0)
      .select(cols.map(valueOf) ++
        (if (nT == 0) Nil else Seq(col(LakeRead.FileCol), col(LakeRead.PosCol),
          col(LakeRead.RowIdCol))) :+ col(Act): _*)
    // the delete write, the post-images and the inserts all read the join
    val acted = if (nT == 0) actedRows else actedRows.persist()
    val isIns = col(Act) >= nT
    val updIdx = tgtClauses.zipWithIndex.collect { case (c, i) if c.set.isDefined => i: Any }
    val isUpd = if (updIdx.isEmpty) lit(false) else col(Act).isin(updIdx: _*)
    val inline = col(LakeRead.FileCol).startsWith("inline:")
    val dataCols = cols.map(c => col(c.name))
    // an outer join on the source side makes the target's row metadata
    // nullable; on target rows it never is, and declaring it so keeps the
    // delete and post-image files' metadata columns required
    def tgtMeta(n: String, none: Any) = coalesce(col(n), lit(none)).as(n)

    val wopts = writeOptions(st0, tid, s0)
    val dataDir = s"${tableDir(store.root, tid)}/data"
    val statCols = cols.filter(c => statsEligible(LakeRead.sparkType(c.dataType)))
    val baseStruct = LakeRead.structFor(cols)
    def stage(rows: DataFrame): Seq[StagedFile] = {
      val staging = s"${store.root}/_staging/${uuid()}"
      withMicrosTimestamps(spark)(
        rows.write.options(wopts).mode(SaveMode.Overwrite).parquet(staging))
      promoteStaged(staging, dataDir, Nil)
    }

    val (hits, inlineUpdJson, postStaged, insStaged) = try {
      // one delete file over every affected pre-image; it also enforces the
      // SQL cardinality rule (a target row hit by two source matches is an
      // error, never a double-apply) before anything else is written
      val hits =
        if (nT == 0) DeleteHits(None, Set.empty, 0L)
        else writeDeleteFile(spark, store, tid, acted.filter(!isIns).select(
          tgtMeta(LakeRead.FileCol, ""), tgtMeta(LakeRead.PosCol, 0L),
          tgtMeta(LakeRead.RowIdCol, 0L), isUpd.as(UpdCol)),
          rowBound, oneHitPerRow = matched.nonEmpty)
      // inline log side (driver-held, bounded by data_inlining_row_limit);
      // provably empty — both collect jobs skipped — when the table has no
      // inline batches at s0 (r17)
      val inlineUpdJson: Map[Long, String] =
        if (nT == 0 || st0.inlinedAt(tid, s0).isEmpty) Map.empty
        else {
          val inlineUpd = acted.filter(!isIns && isUpd && inline)
          val inlineUpdIds = inlineUpd.select(col(LakeRead.RowIdCol))
            .collect().map(_.getLong(0))
          inlineUpdIds.zip(inlineUpd.select(dataCols: _*).toJSON.collect()).toMap
        }
      // post-image files (explicit row ids, like UPDATE), then insert files
      // (fresh row ids assigned at commit)
      val postStaged = if (hits.updated == 0) Nil
        else stage(acted.filter(!isIns && isUpd && !inline)
          .select(dataCols :+ tgtMeta(LakeRead.RowIdCol, 0L): _*))
      val insStaged = if (notMatched.isEmpty) Nil
        else stage(acted.filter(isIns).select(dataCols: _*))
      (hits, inlineUpdJson, postStaged, insStaged)
    } finally acted.unpersist()
    val delFile = hits.file
    val inlineDelIds = hits.inlineIds
    val (postKept, postStats, postSizes) = stagedStats(spark,
      baseStruct.add(StructField(LakeRead.RowIdCol, LongType)), statCols, postStaged)
    val (insKept, insStats, insSizes) = stagedStats(spark, baseStruct, statCols, insStaged)

    val updCnt = hits.updated + inlineUpdJson.size
    val delCnt = delFile.map(_.total).getOrElse(0L) - hits.updated + inlineDelIds.size
    val insCnt = insKept.map(f => insStats(f.fileName).getLong(
      insStats(f.fileName).fieldIndex("_cnt"))).sum

    val (reads, byName) = dmlReads(s"MERGE into $schemaName.$tableName", st0, tid, s0,
      delFile, inlineDelIds ++ inlineUpdJson.keySet)
    val sid = store.commitWithRetry() { (st, sid) =>
      requireUnchanged(st, reads)
      var fileId = st.nextFileId
      var rowId = st.nextRowId(tid)
      def entryFor(f: StagedFile, stats: Map[String, Row], sizes: Map[String, Long],
          explicit: Boolean): DataFileEntry = {
        val r = stats(f.fileName)
        val cnt = r.getLong(r.fieldIndex("_cnt"))
        val fe = DataFileEntry(fileId, tid, f.path, f.fileName, cnt,
          sizes(f.fileName), firstRowId = if (explicit) 0L else rowId,
          schemaVersion = schemaVersion, explicitRowIds = explicit,
          partitionValues = Map.empty, begin = sid, end = None)
        fileId += 1
        if (!explicit) rowId += cnt
        fe
      }
      val newFiles =
        postKept.sortBy(_.staged).map(entryFor(_, postStats, postSizes, explicit = true)).toList ++
          insKept.sortBy(_.staged).map(entryFor(_, insStats, insSizes, explicit = false)).toList
      val newStats = newFiles.flatMap(fe => columnStats(fe.fileId,
        postStats.getOrElse(fe.fileName, insStats(fe.fileName)), statCols))
      val newDel = delFile.toList.map(_.entry(fileId, tid, sid, byName))
      val (endedB, keptB) = rewriteInlineBatches(st, reads, sid,
        drop = rid => inlineDelIds.contains(rid) || inlineUpdJson.contains(rid))
      val updatedBatch =
        if (inlineUpdJson.isEmpty) Nil
        else {
          val ids = inlineUpdJson.keys.toList.sorted
          List(InlinedBatch(
            (keptB.map(_.batchId) :+ (st.nextBatchId - 1)).max + 1, tid,
            schemaVersion, ids.head, ids.map(inlineUpdJson), sid, None,
            rowIds = Some(ids)))
        }
      CommitDelta(
        snapshot = Snapshot(sid, System.currentTimeMillis(), schemaVersion,
          List(s"merged:$tid:${updCnt + delCnt + insCnt}")),
        newFiles = newFiles, newStats = newStats, newDeleteFiles = newDel,
        endedInlined = endedB, newInlined = keptB ++ updatedBatch)
    }
    (sid, updCnt, delCnt, insCnt)
  }
}

/** `bucket[N]` partition-transform name codec: extractor yields N. */
object BucketTransform {
  def apply(n: Int): String = s"bucket[$n]"
  def unapply(transform: String): Option[Int] =
    if (transform.startsWith("bucket[") && transform.endsWith("]"))
      transform.stripPrefix("bucket[").stripSuffix("]").toIntOption.filter(_ > 0)
    else None
}
