package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Expression, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.classic.{SparkSession => ClassicSparkSession}
import org.apache.spark.sql.connector.expressions.{Expressions, Expression => V2Expression}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, SupportsReportPartitioning}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.execution.datasources.{FilePartition, NoopCache, PartitionSpec, PartitionedFile, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions}
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetPartitionReaderFactory, ParquetScan}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.util.SerializableConfiguration
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Bridge into Spark's own DataSource-V2 parquet machinery, so lake scans
  * with no merge-on-read overlay run on the EXACT code path a plain
  * `spark.read.parquet` uses — vectorized columnar reader, whole-stage
  * codegen above it, parquet filter pushdown, file-split planning — with
  * zero per-row conversion tax.
  *
  * The file list, sizes, and schema come from lake metadata, so the scan
  * performs NO filesystem listing at all (the listing cost a plain parquet
  * read pays at planning time); snapshot/stats/partition pruning happened
  * before this is built.
  */
object NativeParquet {

  /** wrap a raw Catalyst Expression as a user-facing Column (Spark 4 hid
    * the Column(expr) constructor behind private[sql] ExpressionUtils;
    * graft builds custom expressions like ZValue programmatically with
    * non-child config that has no SQL-literal form) */
  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** the inverse: the Catalyst expression behind a Column */
  def expressionOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** whether the session opted into partially-clustered SPJ (the skew
    * answer) — key-grouped scans then report per-file partitions */
  private[graft] def partiallyClustered(spark: ClassicSparkSession): Boolean =
    spark.conf.getOption(
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
      .exists(_.toBoolean)

  /** a key group is hot (skewed) when it holds more than this many times
    * the median group's bytes: the key-grouped scan splits it per file,
    * and `tableInfo` recommends the skew split for its table */
  val SkewFactor = 4.0

  /** V2 transform expression of a lake partition key (SPJ reporting):
    * identity and bucket[N] are the SPJ-groupable transforms; bucket
    * resolves against [[graft.lake.LakeBucketFunction]] through the
    * catalog's FunctionCatalog. */
  private[graft] def v2Transform(pk: graft.lake.Meta.PartitionKey): V2Expression =
    pk.transform match {
      case "identity" => Expressions.identity(pk.column)
      case graft.lake.BucketTransform(n) => Expressions.bucket(n, pk.column)
      case other => Expressions.apply(other, Expressions.column(pk.column))
    }

  /** Per-epoch read translation for tables with RENAME COLUMN history
    * (VERDICT r14 #2): files written before a rename carry the OLD
    * physical column names, so each schema epoch's files are read with the
    * read schema (and pushed filters) rewritten current→old for that
    * epoch. Rows are positional, so downstream operators are name-blind —
    * the translation is invisible above the reader. `renames(0)` is always
    * the identity epoch; `epochOfPath` maps a file's UNQUALIFIED path to
    * its rename-epoch index (absent = identity). Driver-side only: the
    * epoch index rides in each InputPartition, never as a fleet-wide map
    * shipped per task. */
  case class EpochReads(
      renames: IndexedSeq[Map[String, String]],
      epochOfPath: Map[String, Int]) {
    def trivial: Boolean = renames.lengthCompare(1) <= 0
    def epochOf(path: String): Int =
      if (trivial) 0 else epochOfPath.getOrElse(path, 0)
  }
  object EpochReads {
    val none: EpochReads = EpochReads(IndexedSeq(Map.empty), Map.empty)
  }

  private[graft] def renameStruct(s: StructType, m: Map[String, String]): StructType =
    if (m.isEmpty) s
    else StructType(s.fields.map(f =>
      m.get(f.name).map(n => f.copy(name = n)).getOrElse(f)))

  /** rewrite a pushed source Filter's attribute names; unknown node types
    * are DROPPED (parquet-level filters are row-group skipping hints only
    * — Spark re-applies every predicate on rows above the scan) */
  private[graft] def renameFilter(f: Filter, m: Map[String, String]): Option[Filter] =
    renameFilterX(f, m).map(_._1)

  /** translation + exactness. A dropped AND side WEAKENS the predicate —
    * sound as a skipping hint (keeps more row groups) at the top level,
    * but UNSOUND one level under Not: ¬(weakened) is STRONGER than the
    * original and would wrongly skip row groups. So exactness is tracked
    * through the fold and Not only negates exact translations (r16,
    * ADVICE): Not over anything weakened drops the whole filter instead. */
  private def renameFilterX(f: Filter, m: Map[String, String])
      : Option[(Filter, Boolean)] = {
    import org.apache.spark.sql.sources._
    def t(a: String) = m.getOrElse(a, a)
    def exact(g: Filter) = Some((g, true))
    f match {
      case EqualTo(a, v) => exact(EqualTo(t(a), v))
      case EqualNullSafe(a, v) => exact(EqualNullSafe(t(a), v))
      case GreaterThan(a, v) => exact(GreaterThan(t(a), v))
      case GreaterThanOrEqual(a, v) => exact(GreaterThanOrEqual(t(a), v))
      case LessThan(a, v) => exact(LessThan(t(a), v))
      case LessThanOrEqual(a, v) => exact(LessThanOrEqual(t(a), v))
      case In(a, vs) => exact(In(t(a), vs))
      case IsNull(a) => exact(IsNull(t(a)))
      case IsNotNull(a) => exact(IsNotNull(t(a)))
      case StringStartsWith(a, v) => exact(StringStartsWith(t(a), v))
      case StringEndsWith(a, v) => exact(StringEndsWith(t(a), v))
      case StringContains(a, v) => exact(StringContains(t(a), v))
      case And(l, r) => (renameFilterX(l, m), renameFilterX(r, m)) match {
        case (Some((a, ea)), Some((b, eb))) => Some((And(a, b), ea && eb))
        // AND may keep either side alone — a deliberate weakening
        case (one, other) => one.orElse(other).map { case (g, _) => (g, false) }
      }
      case Or(l, r) => for { (a, ea) <- renameFilterX(l, m)
                             (b, eb) <- renameFilterX(r, m) }
        yield (Or(a, b), ea && eb) // OR needs both sides or neither
      case Not(c) => renameFilterX(c, m).collect { case (g, true) => (Not(g), true) }
      case _ => None
    }
  }

  private[graft] def renameFilters(fs: Array[Filter], m: Map[String, String]): Array[Filter] =
    if (m.isEmpty) fs else fs.flatMap(renameFilter(_, m))

  /** one Spark parquet reader factory per rename epoch (index-aligned with
    * `epochs.renames`); epoch 0 reads under current names */
  private[graft] def epochFactories(
      spark: ClassicSparkSession,
      files: Seq[(String, Long)],
      dataSchema: StructType,
      readSchema: StructType,
      filters: Array[Filter],
      epochs: EpochReads): IndexedSeq[PartitionReaderFactory] =
    epochs.renames.map { m =>
      ParquetScan(spark, spark.sessionState.newHadoopConf(),
        new MetadataFileIndex(spark, files),
        renameStruct(dataSchema, m), renameStruct(readSchema, m),
        StructType(Nil), renameFilters(filters, m),
        CaseInsensitiveStringMap.empty()).createReaderFactory()
    }

  /** columnar DSv2 Scan over an explicit (path, sizeBytes) parquet file
    * list. `dataSchema` = full table schema, `readSchema` = pruned columns
    * Spark asked for, `filters` = pushed predicates (forwarded to parquet
    * row-group/page skipping; Spark re-applies them on rows above).
    * With a non-trivial `epochs`, renamed epochs read through per-epoch
    * translated factories ([[EpochReads]]). */
  def parquetScan(
      spark: SparkSession,
      files: Seq[(String, Long)],
      dataSchema: StructType,
      readSchema: StructType,
      filters: Array[Filter],
      epochs: EpochReads = EpochReads.none): Scan = {
    val classic = spark.asInstanceOf[ClassicSparkSession]
    if (epochs.trivial)
      ParquetScan(
        classic,
        classic.sessionState.newHadoopConf(),
        new MetadataFileIndex(classic, files),
        dataSchema,
        readSchema,
        StructType(Nil), // no hive-style partition columns: values live in-file
        filters,
        CaseInsensitiveStringMap.empty())
    else new MultiEpochParquetScan(classic, files, dataSchema, readSchema,
      filters, epochs)
  }

  /** key-grouped scan over pre-grouped (partitionKey → files) lists, for
    * storage-partitioned joins; see [[KeyGroupedParquetScan]].
    * `spjMode` is the per-TABLE override of the skew-vs-ordering choice
    * (catalog option `spj.mode`): "ordering" pins fused key groups (the
    * sort-elision shape) even when the session opted into
    * partially-clustered SPJ; "skew-split"/absent follow the session conf.
    * The session conf stays the master switch because Spark keys the
    * OTHER side's replication to it at planning — a table property can
    * only narrow the conf's blast radius, never widen it. */
  def keyGroupedScan(
      spark: SparkSession,
      groups: Seq[(InternalRow, Seq[(String, Long)])],
      keys: Array[graft.lake.Meta.PartitionKey],
      dataSchema: StructType,
      readSchema: StructType,
      filters: Array[Filter],
      ordering: Array[graft.lake.Meta.SortKey] = Array.empty,
      spjMode: Option[String] = None,
      epochs: EpochReads = EpochReads.none): Scan =
    new KeyGroupedParquetScan(spark.asInstanceOf[ClassicSparkSession],
      groups, keys, dataSchema, readSchema, filters, ordering, spjMode,
      epochs)

  /** lake SortKey → connector SortOrder (the ordering-report vocabulary) */
  private[graft] def v2SortOrder(k: graft.lake.Meta.SortKey)
      : org.apache.spark.sql.connector.expressions.SortOrder = {
    import org.apache.spark.sql.connector.expressions.{Expressions => E, SortDirection, NullOrdering}
    E.sort(E.column(k.expr),
      if (k.ascending) SortDirection.ASCENDING else SortDirection.DESCENDING,
      if (k.nullsFirst) NullOrdering.NULLS_FIRST else NullOrdering.NULLS_LAST)
  }

  /** `inner` plus a lake table's inline rows (already in `readSchema`
    * layout) as one extra partition; see [[WithInlineBatch]] */
  def withInline(inner: Batch, rows: Array[InternalRow], readSchema: StructType): Batch =
    WithInlineBatch(inner, InlineRowsPartition(rows), readSchema)

  /** Delete-aware native scan: merge-on-read with EXECUTOR-LOCAL delete
    * application. Each task reads only the delete positions of the data
    * files it scans (row-group-pruned out of the sorted delete parquet),
    * so the delete set never travels — no broadcast, no anti-join shuffle
    * of the table, no driver materialization. This is the Iceberg/Delta-DV
    * plan shape: at 100 TB a `DELETE WHERE` touching 9% of the table costs
    * each scan task a footer read + its own files' position lists, while
    * the composed anti-join alternative re-shuffles every row of the table.
    *
    * Readers are row-based (position skipping is row-level); columnar
    * resumes once vacuum rewrites the deleted files. Spark still applies
    * residual filters + projection above, exactly like the clean scan.
    *
    * @param deletesByFile data-file NAME → delete parquet part paths
    *                      holding positions for it (empty list = clean
    *                      file, scanned with zero skip overhead)
    * @param firstRowIds   Some when `readSchema` holds the lake `_row_id`
    *                      column after the data columns: data-file NAME →
    *                      firstRowId of each implicit-id file, whose
    *                      `_row_id` is firstRowId + row index; other files
    *                      read it from the file (an [[EpochReads]] rename)
    * @param positionMeta  how many of `_graft_file`, `_graft_pos` end
    *                      `readSchema`: the data file's name and the row
    *                      index, emitted by the reader
    */
  def deleteAwareScan(
      spark: SparkSession,
      files: Seq[(String, Long)],
      deletesByFile: Map[String, Seq[String]],
      dataSchema: StructType,
      readSchema: StructType,
      filters: Array[Filter],
      keyed: Option[(Array[graft.lake.Meta.PartitionKey], Seq[(InternalRow, Seq[(String, Long)])])] = None,
      spjMode: Option[String] = None,
      ordering: Array[graft.lake.Meta.SortKey] = Array.empty,
      epochs: EpochReads = EpochReads.none,
      firstRowIds: Option[Map[String, Long]] = None,
      positionMeta: Int = 0): Scan = {
    val classic = spark.asInstanceOf[ClassicSparkSession]
    new LakeDeleteAwareScan(classic, files, deletesByFile, dataSchema, readSchema,
      filters, keyed, spjMode, ordering, epochs, firstRowIds, positionMeta)
  }
}

/** Scan+Batch producing Spark's own parquet readers per file, wrapped with
  * a sorted-merge skip over that file's deleted row positions. */
private[graft] class LakeDeleteAwareScan(
    spark: ClassicSparkSession,
    files: Seq[(String, Long)],
    deletesByFile: Map[String, Seq[String]],
    dataSchema: StructType,
    requiredSchema: StructType,
    filters: Array[Filter],
    keyed: Option[(Array[graft.lake.Meta.PartitionKey], Seq[(InternalRow, Seq[(String, Long)])])] = None,
    spjMode: Option[String] = None,
    ordering: Array[graft.lake.Meta.SortKey] = Array.empty,
    epochs: NativeParquet.EpochReads = NativeParquet.EpochReads.none,
    firstRowIds: Option[Map[String, Long]] = None,
    positionMeta: Int = 0)
  extends Scan with Batch with SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  override def readSchema(): StructType = requiredSchema

  override def toBatch: Batch = this

  /** `fp` with its files' delete parts, rename epochs and row-id bases */
  private def partition(fp: FilePartition, fileEpochs: Array[Int]): DeleteAwareFilePartition = {
    val names = fp.files.toSeq.map(_.toPath.getName)
    DeleteAwareFilePartition(fp,
      names.map(n => n -> deletesByFile.getOrElse(n, Nil)).toMap, fileEpochs,
      firstRowIds.fold(Map.empty[String, Long])(m =>
        names.flatMap(n => m.get(n).map(n -> _)).toMap))
  }

  override def description(): String =
    s"graft-lake delete-aware scan (${files.size} files, " +
      s"${deletesByFile.count(_._2.nonEmpty)} with deletes" +
      keyed.map(k => s", key-grouped on ${k._1.map(_.label).mkString(",")}").getOrElse("") + ")"

  /** position skipping preserves each file's row order, so a sorted
    * group's concatenation stays ordered under a live delete overlay —
    * the same eligibility LakeTable.reportableOrdering proved for the
    * clean tier applies verbatim (the groups arrive range-reordered) */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    ordering.map(NativeParquet.v2SortOrder)

  // with key groups a co-partitioned join stays shuffle-free even while a
  // merge-on-read overlay is live (vacuum is not a prerequisite for SPJ)
  override def outputPartitioning(): Partitioning = keyed match {
    case Some((keys, groups)) => new KeyGroupedPartitioning(
      keys.map(NativeParquet.v2Transform), groups.size)
    case None => new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
  }

  override def planInputPartitions(): Array[InputPartition] = keyed match {
    case Some((_, groups)) if !spjMode.contains("ordering") &&
        NativeParquet.partiallyClustered(spark) =>
      // one partition PER FILE with its key (same shape as the clean
      // key-grouped scan): Spark groups them back for plain SPJ and keeps
      // a skewed key's files split under partially-clustered distribution
      val hc = spark.sessionState.newHadoopConf()
      groups.flatMap { case (key, fs) =>
        fs.map { case (p, size) =>
          val raw = new Path(p)
          val q = raw.getFileSystem(hc).makeQualified(raw)
          val pf = PartitionedFile(InternalRow.empty, SparkPath.fromPath(q),
            0, size, Array.empty[String], 0L, size, Map.empty[String, Any])
          KeyedFilePartition(
            partition(FilePartition(0, Array(pf)), Array(epochs.epochOf(p))),
            key): InputPartition
        }
      }.toArray
    case Some((_, groups)) =>
      val hc = spark.sessionState.newHadoopConf()
      groups.map { case (key, fs) =>
        val splits = fs.map { case (p, size) =>
          val raw = new Path(p)
          val q = raw.getFileSystem(hc).makeQualified(raw)
          PartitionedFile(InternalRow.empty, SparkPath.fromPath(q), 0, size,
            Array.empty[String], 0L, size, Map.empty[String, Any])
        }
        KeyedFilePartition(
          partition(FilePartition(0, splits.toArray),
            fs.map(f => epochs.epochOf(f._1)).toArray),
          key): InputPartition
      }.toArray
    case None => planUngrouped()
  }

  private def planUngrouped(): Array[InputPartition] = {
    // standard Spark split sizing (maxPartitionBytes / openCost / min
    // parallelism), so split granularity matches a plain parquet scan
    val conf = spark.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val minPartitionNum = conf.filesMinPartitionNum
      .getOrElse(spark.sparkContext.defaultParallelism)
    val totalBytes = files.map(_._2 + openCost).sum
    val maxSplit = math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, totalBytes / math.max(1, minPartitionNum)))

    val hc = spark.sessionState.newHadoopConf()
    // pack splits PER rename epoch so a partition never mixes epochs (the
    // per-file reader dispatch then picks one translated factory each) —
    // identical packing to the single-epoch path when no renames exist
    files.groupBy(f => epochs.epochOf(f._1)).toSeq.sortBy(_._1)
      .flatMap { case (e, fse) =>
        val splits: Seq[PartitionedFile] = fse.flatMap { case (p, size) =>
          val raw = new Path(p)
          val q = raw.getFileSystem(hc).makeQualified(raw)
          (0L until size by maxSplit).map { start =>
            PartitionedFile(InternalRow.empty, SparkPath.fromPath(q), start,
              math.min(maxSplit, size - start), Array.empty[String], 0L, size,
              Map.empty[String, Any])
          }
        }
        FilePartition.getFilePartitions(spark, splits, maxSplit)
          .map(fp => partition(fp, Array.fill(fp.files.length)(e)): InputPartition)
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // the inner factory reads required columns PLUS the parquet row index
    // (generated by Spark's readers, correct under row-group/page
    // skipping). Built via a ParquetScan so the broadcast hadoop conf
    // carries everything Spark's readers expect (read-support class,
    // requested-schema json, timezone/legacy flags) — hand-assembling that
    // conf would chase internals across versions.
    val readWithIdx = StructType(requiredSchema.fields.dropRight(positionMeta) :+
      StructField(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType))
    // one factory per rename epoch (index 0 = current names); the
    // row-index column is synthetic and never renamed
    val inners = epochs.renames.map { m =>
      ParquetScan(spark, spark.sessionState.newHadoopConf(),
        new MetadataFileIndex(spark, files),
        NativeParquet.renameStruct(dataSchema, m),
        NativeParquet.renameStruct(readWithIdx, m),
        StructType(Nil), NativeParquet.renameFilters(filters, m),
        CaseInsensitiveStringMap.empty())
        .createReaderFactory().asInstanceOf[ParquetPartitionReaderFactory]
    }
    val bc = SerializableConfiguration.broadcast(spark.sparkContext,
      spark.sessionState.newHadoopConf())
    val base = new DeleteAwareReaderFactory(inners, requiredSchema, bc, positionMeta)
    if (keyed.isDefined) new UnwrapKeyedFactory(base) else base
  }
}

/** @param firstRowIds file NAME → firstRowId of its implicit-id files
  *                    (row-id reads only; see [[DeleteAwareReaderFactory]]) */
private[graft] case class DeleteAwareFilePartition(
    inner: FilePartition,
    deletesByFile: Map[String, Seq[String]],
    fileEpochs: Array[Int] = Array.empty,
    firstRowIds: Map[String, Long] = Map.empty) extends InputPartition

/** Wraps Spark's parquet row readers: per file, skip rows whose row index
  * appears in that file's sorted delete-position list (single forward
  * pointer — both streams are ascending). The inner readers read the
  * columns `schema` holds before its `positionMeta` trailing fields, plus
  * a trailing row index.
  * Rows of a plain read are the inner rows as they are: the row index
  * rides along as a field the consumer never reads (ordinal-based access).
  * Otherwise each row is projected to `schema`:
  *   - a file its partition gives a firstRowId is an implicit-id file of
  *     a row-id read: the last inner column is the lake `_row_id`, emitted
  *     as firstRowId + the row index (other files read it from the file);
  *   - the `positionMeta` trailing fields are the file's name
  *     (`_graft_file`) or the row index (`_graft_pos`). */
private[graft] class DeleteAwareReaderFactory(
    inners: IndexedSeq[ParquetPartitionReaderFactory],
    schema: StructType,
    conf: Broadcast[SerializableConfiguration],
    positionMeta: Int = 0) extends PartitionReaderFactory {

  /** inner columns; the row index follows them */
  private val nInner = schema.length - positionMeta

  override def supportColumnarReads(partition: InputPartition): Boolean = false

  /** `schema` from JoinedRow(inner row, (file name, firstRowId)) */
  private def projection(implicitIds: Boolean): UnsafeProjection = {
    val rowIdx = BoundReference(nInner, LongType, nullable = false)
    val cols = schema.fields.take(nInner).toSeq.zipWithIndex.map {
      case (_, i) if implicitIds && i == nInner - 1 =>
        Add(rowIdx, BoundReference(nInner + 2, LongType, nullable = false))
      case (f, i) => BoundReference(i, f.dataType, nullable = true): Expression
    }
    val file = BoundReference(nInner + 1, org.apache.spark.sql.types.StringType,
      nullable = false)
    UnsafeProjection.create(cols ++ schema.fields.drop(nInner).map(f =>
      if (f.name == graft.lake.LakeRead.FileCol) file else rowIdx))
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val dp = partition.asInstanceOf[DeleteAwareFilePartition]
    new PartitionReader[InternalRow] {
      private var fi = 0
      private var current: PartitionReader[InternalRow] = _
      private var positions: Array[Long] = Array.emptyLongArray
      private var pi = 0
      // the current file's (name, firstRowId), joined after the inner row
      private val base = new GenericInternalRow(Array[Any](null, 0L))
      private lazy val joined = new JoinedRow
      private lazy val plain = projection(implicitIds = false)
      private lazy val withIds = projection(implicitIds = true)
      private var project: UnsafeProjection = _

      private def openNext(): Boolean = {
        if (fi >= dp.inner.files.length) return false
        val pf = dp.inner.files(fi)
        val epoch = if (dp.fileEpochs.isEmpty) 0 else dp.fileEpochs(fi)
        fi += 1
        val name = pf.toPath.getName
        positions = DeletePositions.forFile(name,
          dp.deletesByFile.getOrElse(name, Nil), conf.value.value)
        pi = 0
        base.update(0, org.apache.spark.unsafe.types.UTF8String.fromString(name))
        project = dp.firstRowIds.get(name) match {
          case Some(first) => base.update(1, first); withIds
          case _ => if (positionMeta > 0) plain else null
        }
        current = inners(epoch).createReader(FilePartition(dp.inner.index, Array(pf)))
        true
      }

      override def next(): Boolean = {
        while (true) {
          if (current == null && !openNext()) return false
          if (!current.next()) { current.close(); current = null }
          else {
            if (positions.isEmpty) return true
            val idx = current.get().getLong(nInner)
            while (pi < positions.length && positions(pi) < idx) pi += 1
            if (pi >= positions.length || positions(pi) != idx) return true
            // else deleted: fall through, fetch the next row
          }
        }
        false
      }

      override def get(): InternalRow =
        if (project == null) current.get() else project(joined(current.get(), base))

      override def close(): Unit = if (current != null) current.close()
    }
  }
}

/** Executor-side reader of lake delete files ((file, pos, row_id) parquet,
  * written range-partitioned and sorted by (file, pos)): returns the
  * ascending positions deleted from ONE data file, pruning row groups via
  * the file column's min/max stats so a task touches only its slice of the
  * delete set. */
private[graft] object DeletePositions {

  def forFile(fileName: String, delParts: Seq[String], conf: Configuration): Array[Long] = {
    if (delParts.isEmpty) return Array.emptyLongArray
    val out = mutable.ArrayBuilder.make[Long]
    delParts.foreach { part =>
      // read options from the hadoop conf and path: decryption properties
      // for the delete vectors of an encrypted table come from its crypto
      // factory settings
      val path = new Path(part)
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf),
        org.apache.parquet.HadoopReadOptions.builder(conf, path).build())
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        val colIO = new ColumnIOFactory().getColumnIO(schema)
        blocks.foreach { b =>
          val fileStats = b.getColumns.asScala
            .find(_.getPath.toDotString == "file").map(_.getStatistics)
          val mayContain = fileStats.forall { s =>
            if (s.isEmpty || !s.hasNonNullValue) true
            else {
              val min = new String(s.getMinBytes, java.nio.charset.StandardCharsets.UTF_8)
              val max = new String(s.getMaxBytes, java.nio.charset.StandardCharsets.UTF_8)
              min <= fileName && fileName <= max
            }
          }
          if (!mayContain) reader.skipNextRowGroup()
          else {
            val pages = reader.readNextRowGroup()
            val rr = colIO.getRecordReader(pages, new GroupRecordConverter(schema))
            var i = 0L
            val n = pages.getRowCount
            while (i < n) {
              val g = rr.read()
              if (g.getString("file", 0) == fileName) out += g.getLong("pos", 0)
              i += 1
            }
          }
        }
      } finally reader.close()
    }
    val arr = out.result()
    java.util.Arrays.sort(arr)
    arr
  }
}

/** Key-grouped columnar scan for STORAGE-PARTITIONED JOINS (SPJ): files
  * grouped by their recorded identity-partition values, one
  * `HasPartitionKey` input partition per key. When two lake tables are
  * co-partitioned on the join key and
  * `spark.sql.sources.v2.bucketing.enabled` is on, Spark's
  * EnsureRequirements recognizes the matching `KeyGroupedPartitioning`s
  * and plans the join with ZERO shuffle on either side — at 100 TB the
  * single biggest cost of a fact-fact join. Readers are the same columnar
  * parquet factory as the clean scan (partitions carry whole files).
  */
private[graft] class KeyGroupedParquetScan(
    spark: ClassicSparkSession,
    groups: Seq[(InternalRow, Seq[(String, Long)])],
    keys: Array[graft.lake.Meta.PartitionKey],
    dataSchema: StructType,
    requiredSchema: StructType,
    filters: Array[Filter],
    ordering: Array[graft.lake.Meta.SortKey] = Array.empty,
    spjMode: Option[String] = None,
    epochs: NativeParquet.EpochReads = NativeParquet.EpochReads.none)
  extends Scan with Batch with SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  override def readSchema(): StructType = requiredSchema

  override def toBatch: Batch = this

  override def description(): String =
    s"graft-lake key-grouped scan (${groups.size} partitions on " +
      s"${keys.map(_.label).mkString(",")}, ${groups.map(_._2.size).sum} files" +
      (if (ordering.nonEmpty) s", sorted ${ordering.map(_.expr).mkString(",")}" else "") + ")"

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(keys.map(NativeParquet.v2Transform), groups.size)

  /** per-partition ordering (each partition is ONE stamped-sorted file, or
    * a range-ordered concatenation of stamped files with pairwise-disjoint
    * leading-key ranges — LakeTable.reportableOrdering guards eligibility
    * and reorders the group's files); under SMJ this deletes the
    * per-bucket sorts that were pure overhead on sorted bucket files.
    * The per-file skew split below keeps every split partition internally
    * sorted (one stamped file each), but Spark's exec gate
    * (DataSourceV2ScanExecBase.outputOrdering requires ≤1 input partition
    * per key group) drops a reported ordering whenever any group splits —
    * under partiallyClusteredDistribution the SMJ sorts return. Per-table
    * choice at 100 TB: skew-split hot tables, sort-elide uniform ones. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    ordering.map(NativeParquet.v2SortOrder)

  override def planInputPartitions(): Array[InputPartition] = {
    val hc = spark.sessionState.newHadoopConf()
    def pf(p: String, size: Long): PartitionedFile = {
      val raw = new Path(p)
      val q = raw.getFileSystem(hc).makeQualified(raw)
      PartitionedFile(InternalRow.empty, SparkPath.fromPath(q), 0, size,
        Array.empty[String], 0L, size, Map.empty[String, Any])
    }
    def fused(key: InternalRow, fs: Seq[(String, Long)]): InputPartition =
      KeyedFilePartition(EpochedFilePartition(
        FilePartition(0, fs.map((pf _).tupled).toArray),
        fs.map(f => epochs.epochOf(f._1)).toArray), key)
    // per-table mode (r14, VERDICT r13 #2): "ordering" pins fused groups so
    // a uniform sorted table keeps its sort-elision report in the SAME
    // session where a skewed fact opts into the per-file split; the mixed
    // workload no longer has to choose one behavior for both
    val splitAllowed = !spjMode.contains("ordering")
    if (splitAllowed && NativeParquet.partiallyClustered(spark)) {
      // SKEWED groups report ONE InputPartition PER FILE, each carrying its
      // key (Iceberg's SPJ reporting shape): under
      // partiallyClusteredDistribution Spark KEEPS a hot key's files as
      // separate tasks while replicating the other side — the SPJ-native
      // skew answer (a fused per-key partition leaves Spark nothing to
      // split; AQE skew-split only works on shuffle joins). File
      // granularity = chunked-ingest commits, so a hot bucket splits along
      // its append history.
      //
      // r12: the split is DERIVED PER GROUP from the catalog's file-size
      // histogram (hot = bytes > SkewFactor × median group bytes) instead
      // of splitting every group — r11's all-per-file shape cost a few
      // percent of fixed overhead on every small scan (A/B'd at sf10), so
      // uniform tables now keep fused key groups even under the conf.
      // (Spark's other-side replication is keyed to ITS session conf at
      // planning, so the conf remains the opt-in master switch; the
      // histogram narrows its blast radius to the groups that need it.)
      val bytes = groups.map(_._2.map(_._2).sum)
      val median = { val s = bytes.sorted; math.max(1L, s(s.size / 2)) }
      groups.zip(bytes).flatMap { case ((key, fs), b) =>
        if (fs.lengthCompare(1) > 0 && b > NativeParquet.SkewFactor * median)
          fs.map(f => KeyedFilePartition(EpochedFilePartition(
            FilePartition(0, Array(pf(f._1, f._2))),
            Array(epochs.epochOf(f._1))), key): InputPartition)
        else Seq(fused(key, fs))
      }.toArray
    } else groups.map { case (key, fs) => fused(key, fs) }.toArray
  }

  // a FUSED key-group partition reads its files back to back, each
  // boundary paying a footer read + row-group planning. Building file
  // i+1's reader on a background thread while file i streams measured
  // slower on a warm local[32] box (b-twins at sf100 bounded: 8.87/17.42 s
  // vs 8.38/17.00 s serial for q05b/q07b — BASELINE.md r14), so the chain
  // stays serial.
  override def createReaderFactory(): PartitionReaderFactory =
    new UnwrapKeyedFactory(new EpochDispatchFactory(
      NativeParquet.epochFactories(spark, groups.flatMap(_._2), dataSchema,
        requiredSchema, filters, epochs)))
}

private[graft] case class KeyedFilePartition(inner: InputPartition, key: InternalRow)
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** a [[FilePartition]] whose files each carry a rename-epoch index
  * (aligned with `inner.files`; see [[NativeParquet.EpochReads]]) */
private[graft] case class EpochedFilePartition(inner: FilePartition,
    fileEpochs: Array[Int]) extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** delegates to Spark's parquet reader factory, unwrapping the key carrier */
private[graft] class UnwrapKeyedFactory(inner: PartitionReaderFactory)
  extends PartitionReaderFactory {
  private def unwrap(p: InputPartition): InputPartition =
    p.asInstanceOf[KeyedFilePartition].inner
  override def supportColumnarReads(p: InputPartition): Boolean =
    inner.supportColumnarReads(unwrap(p))
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    inner.createReader(unwrap(p))
  override def createColumnarReader(p: InputPartition) =
    inner.createColumnarReader(unwrap(p))
}

/** Routes each InputPartition (or each FILE of a mixed one) to its rename
  * epoch's translated parquet factory. Epoch-uniform partitions delegate
  * wholesale — Spark's own multi-file iteration and columnar batching,
  * zero overhead on the rename-free path — while a fused group mixing
  * pre- and post-rename files chains per-file readers. */
private[graft] class EpochDispatchFactory(
    factories: IndexedSeq[PartitionReaderFactory])
  extends PartitionReaderFactory {

  private def asEpoched(p: InputPartition): (FilePartition, Array[Int]) = p match {
    case e: EpochedFilePartition => (e.inner, e.fileEpochs)
    case fp: FilePartition => (fp, Array.empty[Int])
  }
  private def singles(fp: FilePartition): IndexedSeq[InputPartition] =
    fp.files.map(f => FilePartition(fp.index, Array(f)): InputPartition).toIndexedSeq

  override def supportColumnarReads(p: InputPartition): Boolean = {
    val (fp, es) = asEpoched(p)
    (if (es.isEmpty) Array(0) else es.distinct)
      .forall(e => factories(e).supportColumnarReads(fp))
  }

  private def make[T](fp: FilePartition, es: Array[Int],
      one: (Int, InputPartition) => PartitionReader[T],
      whole: Int => PartitionReader[T]): PartitionReader[T] = {
    if (es.isEmpty || es.forall(_ == es(0)))
      whole(if (es.isEmpty) 0 else es(0))
    else {
      val parts = singles(fp)
      new ChainReader[T](parts.length, i => one(es(i), parts(i)))
    }
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val (fp, es) = asEpoched(p)
    make(fp, es, (e, part) => factories(e).createReader(part),
      e => factories(e).createReader(fp))
  }
  override def createColumnarReader(p: InputPartition) = {
    val (fp, es) = asEpoched(p)
    make(fp, es, (e, part) => factories(e).createColumnarReader(part),
      e => factories(e).createColumnarReader(fp))
  }
}

/** serial per-file reader chain: files of one partition read
  * back-to-back, each reader built on demand by index */
private[graft] class ChainReader[T](n: Int, create: Int => PartitionReader[T])
  extends PartitionReader[T] {
  private var idx = 0
  private var current: PartitionReader[T] = _
  override def next(): Boolean = {
    while (true) {
      if (current == null) {
        if (idx >= n) return false
        current = create(idx)
        idx += 1
      }
      if (current.next()) return true
      current.close()
      current = null
    }
    false // unreachable
  }
  override def get(): T = current.get()
  override def close(): Unit = if (current != null) current.close()
}

/** Clean ungrouped scan over a table with RENAME COLUMN epochs: files are
  * split and packed PER EPOCH (a partition never mixes epochs), each epoch
  * reading through its translated parquet factory — columnar and
  * codegen'd exactly like the stock single-epoch path, which remains
  * untouched ([[NativeParquet.parquetScan]] only builds this when a
  * non-trivial [[NativeParquet.EpochReads]] exists). */
private[graft] class MultiEpochParquetScan(
    spark: ClassicSparkSession,
    files: Seq[(String, Long)],
    dataSchema: StructType,
    requiredSchema: StructType,
    filters: Array[Filter],
    epochs: NativeParquet.EpochReads)
  extends Scan with Batch {

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-lake multi-epoch scan (${files.size} files, " +
      s"${epochs.renames.size} schema epochs)"

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = spark.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val minPartitionNum = conf.filesMinPartitionNum
      .getOrElse(spark.sparkContext.defaultParallelism)
    val totalBytes = files.map(_._2 + openCost).sum
    val maxSplit = math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, totalBytes / math.max(1, minPartitionNum)))
    val hc = spark.sessionState.newHadoopConf()
    files.groupBy(f => epochs.epochOf(f._1)).toSeq.sortBy(_._1)
      .flatMap { case (e, fse) =>
        val splits: Seq[PartitionedFile] = fse.flatMap { case (pth, size) =>
          val raw = new Path(pth)
          val q = raw.getFileSystem(hc).makeQualified(raw)
          (0L until size by maxSplit).map { start =>
            PartitionedFile(InternalRow.empty, SparkPath.fromPath(q), start,
              math.min(maxSplit, size - start), Array.empty[String], 0L, size,
              Map.empty[String, Any])
          }
        }
        FilePartition.getFilePartitions(spark, splits, maxSplit).map(fp =>
          EpochedFilePartition(fp, Array.fill(fp.files.length)(e)): InputPartition)
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new EpochDispatchFactory(NativeParquet.epochFactories(
      spark, files, dataSchema, requiredSchema, filters, epochs))
}

/** a lake table's live inline rows (decoded on the driver, in the scan's
  * read-schema layout), shipped as one input partition */
private[graft] case class InlineRowsPartition(rows: Array[InternalRow])
  extends InputPartition

/** A native lake batch plus its inline rows as one extra partition. Spark
  * rejects a scan that mixes row and columnar partitions, so the inline
  * partition is read in the mode of the parquet partitions: one
  * `ColumnarBatch` built from the rows when they are columnar, plain rows
  * otherwise (and when there are no parquet partitions at all). */
private[graft] case class WithInlineBatch(
    inner: Batch,
    inline: InlineRowsPartition,
    schema: StructType) extends Batch {

  private lazy val innerParts = inner.planInputPartitions()

  override def planInputPartitions(): Array[InputPartition] = innerParts :+ inline

  override def createReaderFactory(): PartitionReaderFactory = {
    val f = inner.createReaderFactory()
    new WithInlineFactory(f, innerParts.exists(f.supportColumnarReads), schema)
  }
}

private[graft] class WithInlineFactory(
    inner: PartitionReaderFactory,
    columnar: Boolean,
    schema: StructType) extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = p match {
    case _: InlineRowsPartition => columnar
    case other => inner.supportColumnarReads(other)
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = p match {
    case InlineRowsPartition(rows) => new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = rows(i)
      override def close(): Unit = ()
    }
    case other => inner.createReader(other)
  }

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] = p match {
    case InlineRowsPartition(rows) => new PartitionReader[ColumnarBatch] {
      private var batch: ColumnarBatch = _
      override def next(): Boolean = batch == null && {
        batch = org.apache.spark.sql.execution.InlineColumnar.batchOf(rows, schema)
        true
      }
      override def get(): ColumnarBatch = batch
      override def close(): Unit = if (batch != null) batch.close()
    }
    case other => inner.createColumnarReader(other)
  }
}

/** A [[PartitioningAwareFileIndex]] backed entirely by catalog metadata:
  * the file set and sizes are known exactly, so listing/refresh are no-ops
  * (lake files are immutable; a new snapshot builds a new index). */
class MetadataFileIndex(
    spark: ClassicSparkSession,
    files: Seq[(String, Long)])
  extends PartitioningAwareFileIndex(spark, Map.empty, None, NoopCache) {

  // qualify (file:/…) exactly like Spark's own listing does — rootPaths are
  // qualified before the leafDirToChildrenFiles lookup, so unqualified keys
  // would silently list nothing
  private val statuses: Seq[FileStatus] = {
    val hc = spark.sessionState.newHadoopConf()
    files.map { case (p, size) =>
      val raw = new Path(p)
      val q = raw.getFileSystem(hc).makeQualified(raw)
      new FileStatus(size, false, 1, 128L * 1024 * 1024, 0L, q)
    }
  }

  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec

  override protected def leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap(statuses.map(s => s.getPath -> s): _*)

  override protected def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    statuses.groupBy(_.getPath.getParent).map { case (d, fs) => d -> fs.toArray }

  override def rootPaths: Seq[Path] =
    statuses.map(_.getPath.getParent).distinct

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_._2).sum
}
