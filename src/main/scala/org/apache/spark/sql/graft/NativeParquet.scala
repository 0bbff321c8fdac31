package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.{SparkSession => ClassicSparkSession}
import org.apache.spark.sql.connector.expressions.{Expressions, Expression => V2Expression}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.{PartitionedFileUtil, RowBatches}
import org.apache.spark.sql.execution.datasources.{FilePartition, NoopCache, PartitionSpec, PartitionedFile, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetUtils}
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetPartitionReaderFactory, ParquetScan}
import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{Decimal, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray, ColumnarBatch, ColumnarMap}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Bridge into Spark's own DataSource-V2 parquet machinery: every lake
  * file is read by Spark's parquet reader factory — vectorized columnar
  * reader, whole-stage codegen above it, parquet filter pushdown — and a
  * clean partition takes that exact code path with zero per-row or
  * per-batch work ([[LakeFileBatch]], [[LakeReaderFactory]]).
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
  def partiallyClustered(spark: ClassicSparkSession): Boolean =
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
  def v2Transform(pk: graft.lake.Meta.PartitionKey): V2Expression =
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
    * `epochs.renames`); epoch 0 reads under current names. Built via a
    * `ParquetScan`, so the broadcast hadoop conf carries everything Spark's
    * readers expect (read-support class, requested-schema json,
    * timezone/legacy flags) — hand-assembling that conf would chase
    * internals across versions. */
  private[graft] def epochFactories(
      spark: ClassicSparkSession,
      files: Seq[(String, Long)],
      dataSchema: StructType,
      readSchema: StructType,
      filters: Array[Filter],
      epochs: EpochReads): IndexedSeq[ParquetPartitionReaderFactory] =
    epochs.renames.map { m =>
      ParquetScan(spark, spark.sessionState.newHadoopConf(),
        new MetadataFileIndex(spark, files),
        renameStruct(dataSchema, m), renameStruct(readSchema, m),
        StructType(Nil), renameFilters(filters, m),
        CaseInsensitiveStringMap.empty())
        .createReaderFactory().asInstanceOf[ParquetPartitionReaderFactory]
    }

  /** the parquet row index column Spark's readers generate on request
    * (correct under row-group and page skipping, never renamed) */
  private[graft] val RowIndex =
    StructField(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType)

  /** lake SortKey → connector SortOrder (the ordering-report vocabulary) */
  def v2SortOrder(k: graft.lake.Meta.SortKey)
      : org.apache.spark.sql.connector.expressions.SortOrder = {
    import org.apache.spark.sql.connector.expressions.{Expressions => E, SortDirection, NullOrdering}
    E.sort(E.column(k.expr),
      if (k.ascending) SortDirection.ASCENDING else SortDirection.DESCENDING,
      if (k.nullsFirst) NullOrdering.NULLS_FIRST else NullOrdering.NULLS_LAST)
  }
}

/** The lake file scan's one [[Batch]]: one partition planner and one
  * reader factory ([[LakeReaderFactory]]) for every read of a lake table —
  * clean or under deletes, with or without row metadata, key-grouped or
  * not — plus its live inline rows.
  *
  * Partitions:
  *   - ungrouped: files are split and packed PER rename epoch (a partition
  *     never mixes epochs) the way Spark's `FileScan.partitions` packs them
  *     — `FilePartition.maxSplitBytes` over every file, splits sorted by
  *     length descending, then `FilePartition.getFilePartitions` — so a
  *     clean scan gets exactly the partitions a `ParquetScan` of the same
  *     files gets;
  *   - key-grouped (`groups`, for storage-partitioned joins): one
  *     `HasPartitionKey` partition per key group, its files read back to
  *     back. Under `splitSkewed` a HOT group (more than one file, and more
  *     than [[NativeParquet.SkewFactor]] × the median group's bytes)
  *     reports one partition PER FILE instead, each carrying the key
  *     (Iceberg's SPJ reporting shape): under partiallyClusteredDistribution
  *     Spark keeps a hot key's files as separate tasks while replicating
  *     the other side — the SPJ-native skew answer (a fused partition
  *     leaves Spark nothing to split; AQE skew-split only works on shuffle
  *     joins), with file granularity = chunked-ingest commits. Uniform
  *     groups stay fused, so a uniform table pays no per-file overhead
  *     under the conf;
  *   - the inline rows, when given, as one last partition.
  *
  * @param deletesByFile data-file NAME → delete parquet part paths
  * @param firstRowIds   Some when `readSchema` holds the lake `_row_id`
  *                      column after the data columns: data-file NAME →
  *                      firstRowId of each implicit-id file, whose
  *                      `_row_id` is firstRowId + row index; other files
  *                      read it from the file (an [[NativeParquet.EpochReads]]
  *                      rename)
  * @param trailingMeta  how many of `_graft_file`, `_graft_pos`,
  *                      `_change_type`, `_snapshot_id` end `readSchema`:
  *                      the data file's name, the row index and the row's
  *                      change-feed provenance
  * @param tags          a change-feed read's provenance: data-file NAME or
  *                      delete part path → (`_snapshot_id`,
  *                      `_change_type`) of its rows
  * @param preImages     read only the deleted positions of each file, each
  *                      row tagged with the tag of the part that deletes it
  *                      (the change feed's pre-images); files are otherwise
  *                      tagged as a whole
  */
class LakeFileBatch(
    spark: ClassicSparkSession,
    files: Seq[(String, Long)],
    groups: Option[Seq[(InternalRow, Seq[(String, Long)])]],
    splitSkewed: Boolean,
    deletesByFile: Map[String, Seq[String]],
    dataSchema: StructType,
    readSchema: StructType,
    filters: Array[Filter],
    epochs: NativeParquet.EpochReads,
    firstRowIds: Option[Map[String, Long]],
    trailingMeta: Int,
    inline: Option[Array[InternalRow]],
    tags: Map[String, (Long, String)],
    preImages: Boolean) extends Batch {

  private def deletesOf(name: String): Option[Seq[String]] =
    deletesByFile.get(name).filter(_.nonEmpty)

  /** `fp` with its files' rename epochs, delete parts, row-id bases and
    * tags */
  private def partition(fp: FilePartition, fileEpochs: Array[Int]): LakeFilePartition = {
    val names = fp.files.toSeq.map(_.toPath.getName)
    val deletes = names.flatMap(n => deletesOf(n).map(n -> _)).toMap
    LakeFilePartition(fp, fileEpochs, deletes,
      firstRowIds.fold(Map.empty[String, Long])(m =>
        names.flatMap(n => m.get(n).map(n -> _)).toMap),
      (names ++ deletes.values.flatten).flatMap(k => tags.get(k).map(k -> _)).toMap)
  }

  // planned once per batch (a batch serves one file list): Spark asks for
  // the partitions and the reader factory more than once per query, and
  // each factory broadcasts a hadoop conf
  override def planInputPartitions(): Array[InputPartition] = planned
  override def createReaderFactory(): PartitionReaderFactory = factory

  private lazy val planned: Array[InputPartition] =
    (groups.fold(ungrouped())(keyed) ++ inline.map(InlineRowsPartition)).toArray

  private def ungrouped(): Seq[InputPartition] = {
    val listed = files.groupBy(f => epochs.epochOf(f._1)).toSeq.sortBy(_._1)
      .map { case (e, fs) => (e, new MetadataFileIndex(spark, fs).listFiles(Nil, Nil)) }
    val maxSplit = FilePartition.maxSplitBytes(spark, listed.flatMap(_._2))
    listed.flatMap { case (e, dirs) =>
      val splits = dirs.flatMap(d => d.files.flatMap(f => PartitionedFileUtil
        .splitFiles(f, f.getPath, isSplitable = true, maxSplit, d.values))
        .sortBy(_.length)(Ordering[Long].reverse))
      FilePartition.getFilePartitions(spark, splits, maxSplit)
        .map(fp => partition(fp, Array.fill(fp.files.length)(e)))
    }
  }

  private def keyed(gs: Seq[(InternalRow, Seq[(String, Long)])]): Seq[InputPartition] = {
    val hc = spark.sessionState.newHadoopConf()
    def whole(p: String, size: Long): PartitionedFile = {
      val raw = new Path(p)
      PartitionedFile(InternalRow.empty,
        SparkPath.fromPath(raw.getFileSystem(hc).makeQualified(raw)), 0, size,
        Array.empty[String], 0L, size, Map.empty[String, Any])
    }
    def part(key: InternalRow, fs: Seq[(String, Long)]): InputPartition =
      KeyedFilePartition(partition(FilePartition(0, fs.map((whole _).tupled).toArray),
        fs.map(f => epochs.epochOf(f._1)).toArray), key)
    val bytes = gs.map(_._2.map(_._2).sum)
    lazy val median = { val s = bytes.sorted; math.max(1L, s(s.size / 2)) }
    gs.zip(bytes).flatMap { case ((key, fs), b) =>
      if (splitSkewed && fs.lengthCompare(1) > 0 && b > NativeParquet.SkewFactor * median)
        fs.map(f => part(key, Seq(f)))
      else Seq(part(key, fs))
    }
  }

  /** Spark's factories per epoch: plain ones read the required columns,
    * indexed ones also the parquet row index. Each kind is built only when
    * some file reads through it. */
  private lazy val factory: PartitionReaderFactory = {
    val rowMeta = trailingMeta > 0 || firstRowIds.isDefined
    val masked = files.map(f => rowMeta || deletesOf(new Path(f._1).getName).isDefined)
    def factories(used: Boolean, read: StructType) =
      if (!used) IndexedSeq.empty[ParquetPartitionReaderFactory]
      else NativeParquet.epochFactories(spark, files, dataSchema, read, filters, epochs)
    val plain = factories(masked.contains(false), readSchema)
    val indexedRead =
      StructType(readSchema.fields.dropRight(trailingMeta) :+ NativeParquet.RowIndex)
    val indexed = factories(masked.contains(true), indexedRead)
    // Spark reads all of a scan's partitions columnar or all as rows; the
    // inline partition follows the files (rows when there are none)
    val all = plain ++ indexed
    val columnar = all.nonEmpty &&
      all.forall(_.supportColumnarReads(FilePartition(0, Array.empty)))
    val conf = spark.sessionState.conf
    val rowBatches =
      if (ParquetUtils.isBatchReadSupportedForSchema(conf, indexedRead)) None
      else Some(conf.parquetVectorizedReaderBatchSize)
    // delete files open under the session's hadoop conf (decryption for an
    // encrypted table's delete vectors comes from it)
    val deleteConf =
      if (!files.exists(f => deletesOf(new Path(f._1).getName).isDefined)) None
      else Some(SerializableConfiguration.broadcast(spark.sparkContext,
        spark.sessionState.newHadoopConf()))
    new LakeReaderFactory(plain, indexed, readSchema, trailingMeta,
      firstRowIds.isDefined, columnar, rowBatches, deleteConf, preImages)
  }
}

/** a run of lake files: the files, each with its rename epoch (aligned
  * with `files.files`; see [[NativeParquet.EpochReads]]), and those of its
  * files' delete parts and row-id bases (by file NAME) and of their tags
  * (by file NAME or part path) that exist */
private[graft] case class LakeFilePartition(
    files: FilePartition,
    fileEpochs: Array[Int],
    deletes: Map[String, Seq[String]],
    firstRowIds: Map[String, Long],
    tags: Map[String, (Long, String)]) extends InputPartition {
  override def preferredLocations(): Array[String] = files.preferredLocations()
}

private[graft] case class KeyedFilePartition(inner: LakeFilePartition, key: InternalRow)
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** a lake table's live inline rows (decoded on the driver, in the scan's
  * read-schema layout), shipped as one input partition */
private[graft] case class InlineRowsPartition(rows: Array[InternalRow])
  extends InputPartition

/** The lake file scan's reader factory. Every file reads through its rename
  * epoch's Spark parquet factory:
  *   - a partition whose files share one epoch and need no mask (no
  *     deletes, no metadata column) is handed to Spark's plain factory as a
  *     whole: Spark's own multi-file iteration and columnar batching, no
  *     per-batch work;
  *   - otherwise its files read back to back ([[ChainReader]]), the
  *     unmasked ones through the plain factory and the masked ones as
  *     Spark's vectorized batches with the parquet row index, through
  *     [[MaskedFileReader]] — on a `preImages` read keeping only the
  *     deleted positions, tagged by [[DeletePositions.tagged]];
  *   - the inline partition is one on-heap `ColumnarBatch` of its rows
  *     (`RowBatches`), or the rows themselves.
  * Spark reads a scan's partitions all columnar or all as rows
  * (`columnar`). Asked for rows, a masked file serves the rows of its
  * masked batches.
  *
  * @param schema     the read schema: the data columns (`_row_id` last
  *                   among them on a row-id read), then `trailingMeta` of
  *                   `_graft_file`, `_graft_pos`, `_change_type`,
  *                   `_snapshot_id`
  * @param rowBatches Some(capacity) when Spark's vectorized reader cannot
  *                   read the indexed schema: every lake column type is
  *                   one it reads (atomic types, variant among them, and
  *                   structs, arrays and maps of them), so only a session
  *                   that turns it off does this
  *                   (`spark.sql.parquet.enableVectorizedReader`, or
  *                   `spark.sql.parquet.enableNestedColumnVectorizedReader`
  *                   for a nested column). Masked files then read Spark's
  *                   row reader into batches of that many rows
  *                   (`RowBatches`), the one row-reader fallback.
  * @param deleteConf the session's hadoop conf delete files open under,
  *                   when some file has deletes
  */
private[graft] class LakeReaderFactory(
    plain: IndexedSeq[ParquetPartitionReaderFactory],
    indexed: IndexedSeq[ParquetPartitionReaderFactory],
    schema: StructType,
    trailingMeta: Int,
    rowIds: Boolean,
    columnar: Boolean,
    rowBatches: Option[Int],
    deleteConf: Option[Broadcast[SerializableConfiguration]],
    preImages: Boolean) extends PartitionReaderFactory {

  /** the data columns; an indexed read holds the row index after them */
  private val nInner = schema.length - trailingMeta
  private val rowMeta = trailingMeta > 0 || rowIds
  /** the trailing metadata columns' names */
  private val meta = schema.fieldNames.drop(nInner)

  override def supportColumnarReads(p: InputPartition): Boolean = columnar

  private def inlineRows(rows: Array[InternalRow]): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = rows(i)
      override def close(): Unit = ()
    }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = p match {
    case InlineRowsPartition(rows) => inlineRows(rows)
    case _ => files(p, (e, fp) => plain(e).createReader(fp), new BatchRows(_))
  }

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] = p match {
    case InlineRowsPartition(rows) =>
      new RowBatches(inlineRows(rows), schema, math.max(1, rows.length))
    case _ => files(p, (e, fp) => plain(e).createColumnarReader(fp), identity)
  }

  /** `clean` reads unmasked files of one epoch through the plain factory,
    * `out` turns a masked file's batches into the reader's output */
  private def files[T](
      p: InputPartition,
      clean: (Int, FilePartition) => PartitionReader[T],
      out: PartitionReader[ColumnarBatch] => PartitionReader[T]): PartitionReader[T] = {
    val lp = p match {
      case KeyedFilePartition(inner, _) => inner
      case lp: LakeFilePartition => lp
    }
    val fs = lp.files.files
    val es = lp.fileEpochs
    val masked = fs.map(f => rowMeta || lp.deletes.contains(f.toPath.getName))
    if (!masked.contains(true) && es.forall(_ == es(0))) clean(es(0), lp.files)
    else new ChainReader[T](fs.length, { i =>
      val one = FilePartition(lp.files.index, Array(fs(i)))
      if (!masked(i)) clean(es(i), one)
      else {
        val inner = indexed(es(i))
        val name = fs(i).toPath.getName
        val batches = rowBatches.fold(inner.createColumnarReader(one))(n =>
          new RowBatches(inner.createReader(one),
            StructType(schema.take(nInner) :+ NativeParquet.RowIndex), n))
        val parts = lp.deletes.getOrElse(name, Nil)
        def conf = deleteConf.get.value.value
        val (deleted, tags, tagOf) =
          if (preImages) {
            val byTag = parts.groupBy(lp.tags).toSeq
            val (pos, of) = DeletePositions.tagged(name, byTag.map(_._2), conf)
            (pos, byTag.map(_._1), of)
          } else (if (parts.isEmpty) Array.emptyLongArray
            else DeletePositions.forFile(name, parts, conf), lp.tags.get(name).toSeq, null)
        out(new MaskedFileReader(batches, deleted, nInner, lp.firstRowIds.get(name),
          meta, name, tags, tagOf))
      }
    })
  }
}

/** One data file's vectorized batches, read with the parquet row index as
  * their last column, as batches of the scan's read schema:
  *   - deleted positions are dropped through a single forward pointer into
  *     the ascending `deleted` (row indexes ascend within a file, also
  *     across skipped row groups and pages): a batch with no hit passes
  *     through unchanged, a hit batch is seen through a selection of its
  *     surviving rows ([[SelectedVector]]), and a batch with no survivor
  *     is skipped. With `tagOf` (a pre-image read) the test flips: only the
  *     deleted positions are kept, and the file ends with its last one;
  *   - the row index column is dropped, and the metadata columns
  *     appended: `_graft_file` as a constant vector, `_graft_pos` as the
  *     row index, `_snapshot_id`/`_change_type` as the file's one tag in
  *     constant vectors, or on a pre-image read as each row's
  *     `tags(tagOf(i))`, `i` its index in `deleted`;
  *   - with `firstRowId` (an implicit-id file of a row-id read) the last
  *     data column, `_row_id`, is firstRowId + the row index.
  */
private[graft] class MaskedFileReader(
    inner: PartitionReader[ColumnarBatch],
    deleted: Array[Long],
    nInner: Int,
    firstRowId: Option[Long],
    meta: Array[String],
    fileName: String,
    tags: Seq[(Long, String)],
    tagOf: Array[Int]) extends PartitionReader[ColumnarBatch] {
  import graft.lake.LakeRead.{ChangeTypeCol, FileCol, SnapshotIdCol}

  private val name = new ConstantColumnVector(1, StringType)
  name.setUtf8String(UTF8String.fromString(fileName))
  private val preImages = tagOf != null
  /** the sources of `_snapshot_id` and `_change_type`: on a pre-image read
    * one row per tag, seen through each batch's `tagSel`; else the file's
    * tag as constants */
  private val (snapshotIds, changeTypes): (ColumnVector, ColumnVector) =
    if (preImages) {
      val ids = new OnHeapColumnVector(tags.length, LongType)
      val types = new OnHeapColumnVector(tags.length, StringType)
      tags.zipWithIndex.foreach { case ((sid, ct), i) =>
        ids.putLong(i, sid)
        types.putByteArray(i, ct.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      (ids, types)
    } else {
      val ids = new ConstantColumnVector(1, LongType)
      val types = new ConstantColumnVector(1, StringType)
      tags.headOption.foreach { case (sid, ct) =>
        ids.setLong(sid)
        types.setUtf8String(UTF8String.fromString(ct))
      }
      (ids, types)
    }
  /** the first deleted position not below the rows read so far */
  private var di = 0
  /** a pre-image batch's tag index per kept row */
  private var tagSel: Array[Int] = _
  private var batch: ColumnarBatch = _

  override def next(): Boolean = {
    while ((!preImages || di < deleted.length) && inner.next()) {
      val b = inner.get()
      val n = b.numRows()
      val sel = if (n == 0) Array.emptyIntArray else survivors(b.column(nInner), n)
      if (sel == null || sel.nonEmpty) {
        batch = masked(b, sel, if (sel == null) n else sel.length)
        return true
      }
    }
    false
  }

  /** ordinals of the batch's rows not deleted — on a pre-image read, of
    * those deleted, with their tags in `tagSel`; null when all are kept */
  private def survivors(idx: ColumnVector, n: Int): Array[Int] = {
    while (di < deleted.length && deleted(di) < idx.getLong(0)) di += 1
    if (di == deleted.length || deleted(di) > idx.getLong(n - 1))
      return if (preImages) Array.emptyIntArray else null
    val keep = new Array[Int](n)
    if (preImages) tagSel = new Array[Int](n)
    var k = 0
    var i = 0
    while (i < n) {
      val r = idx.getLong(i)
      while (di < deleted.length && deleted(di) < r) di += 1
      if ((di == deleted.length || deleted(di) != r) != preImages) {
        if (preImages) tagSel(k) = tagOf(di)
        keep(k) = i
        k += 1
      }
      i += 1
    }
    if (preImages) tagSel = java.util.Arrays.copyOf(tagSel, k)
    java.util.Arrays.copyOf(keep, k)
  }

  private def masked(b: ColumnarBatch, sel: Array[Int], rows: Int): ColumnarBatch = {
    val idx = b.column(nInner)
    def view(v: ColumnVector, add: Long): ColumnVector =
      if (sel == null && add == 0L) v else new SelectedVector(v, sel, add)
    def tag(v: ColumnVector): ColumnVector =
      if (preImages) new SelectedVector(v, tagSel, 0L) else v
    new ColumnarBatch(Array.tabulate(nInner + meta.length) { c =>
      if (c >= nInner) meta(c - nInner) match {
        case FileCol => name
        case SnapshotIdCol => tag(snapshotIds)
        case ChangeTypeCol => tag(changeTypes)
        case _ => view(idx, 0L)
      }
      else if (c == nInner - 1 && firstRowId.isDefined) view(idx, firstRowId.get)
      else view(b.column(c), 0L)
    }, rows)
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = inner.close()
}

/** `base` through a selection of its rows — row i is `base`'s row `sel(i)`,
  * or row i itself when `sel` is null — with `add` added to every long (an
  * implicit-id file's `_row_id`: firstRowId + the row index). The reader
  * that made `base` owns it; closing the view leaves it open. */
private[graft] final class SelectedVector(base: ColumnVector, sel: Array[Int], add: Long)
    extends ColumnVector(base.dataType()) {
  private def at(i: Int): Int = if (sel == null) i else sel(i)
  /** struct fields, or a variant's value and metadata */
  private val children = new Array[ColumnVector](base.dataType() match {
    case s: StructType => s.length
    case _ => 2
  })

  override def close(): Unit = ()
  override def hasNull(): Boolean = base.hasNull()
  override def numNulls(): Int =
    if (sel == null) base.numNulls() else sel.count(base.isNullAt)
  override def isNullAt(i: Int): Boolean = base.isNullAt(at(i))
  override def getBoolean(i: Int): Boolean = base.getBoolean(at(i))
  override def getByte(i: Int): Byte = base.getByte(at(i))
  override def getShort(i: Int): Short = base.getShort(at(i))
  override def getInt(i: Int): Int = base.getInt(at(i))
  override def getLong(i: Int): Long = base.getLong(at(i)) + add
  override def getFloat(i: Int): Float = base.getFloat(at(i))
  override def getDouble(i: Int): Double = base.getDouble(at(i))
  override def getDecimal(i: Int, precision: Int, scale: Int): Decimal =
    base.getDecimal(at(i), precision, scale)
  override def getUTF8String(i: Int): UTF8String = base.getUTF8String(at(i))
  override def getBinary(i: Int): Array[Byte] = base.getBinary(at(i))
  override def getArray(i: Int): ColumnarArray = base.getArray(at(i))
  override def getMap(i: Int): ColumnarMap = base.getMap(at(i))
  override def getChild(ordinal: Int): ColumnVector = {
    if (children(ordinal) == null)
      children(ordinal) = new SelectedVector(base.getChild(ordinal), sel, 0L)
    children(ordinal)
  }
}

/** the rows of a batch reader's batches */
private[graft] class BatchRows(batches: PartitionReader[ColumnarBatch])
  extends PartitionReader[InternalRow] {
  private var rows: java.util.Iterator[InternalRow] = java.util.Collections.emptyIterator()
  private var row: InternalRow = _
  override def next(): Boolean = {
    while (!rows.hasNext) {
      if (!batches.next()) return false
      rows = batches.get().rowIterator()
    }
    row = rows.next()
    true
  }
  override def get(): InternalRow = row
  override def close(): Unit = batches.close()
}

/** serial per-file reader chain: files of one partition read
  * back-to-back, each reader built on demand by index. Building file i+1's
  * reader on a background thread while file i streams measured slower on
  * a warm local[32] box (b-twins at sf100 bounded: 8.87/17.42 s vs
  * 8.38/17.00 s serial for q05b/q07b — BASELINE.md r14), so the chain
  * stays serial. */
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

  /** [[forFile]] over several groups of parts (one per tag of a pre-image
    * read), merged ascending, with each position's group index. Groups
    * never share a position: a row is deleted once. */
  def tagged(fileName: String, groups: Seq[Seq[String]], conf: Configuration)
      : (Array[Long], Array[Int]) = {
    val runs = groups.map(forFile(fileName, _, conf))
    val all = runs.flatten.toArray
    java.util.Arrays.sort(all)
    val group = new Array[Int](all.length)
    runs.zipWithIndex.foreach { case (run, g) =>
      run.foreach(p => group(java.util.Arrays.binarySearch(all, p)) = g)
    }
    (all, group)
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
