package graft.lake

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Meta._
import LakeRead._

/** The composed merge-on-read reader, kept as an independent oracle for
  * the one lake scan ([[LakeNativeScan]], which `LakeRead.scanDF` plans):
  *
  * rows(table @ snapshot S) =
  *     Σ over live data files:   one `spark.read.parquet` per schema epoch,
  *                               columns mapped from the file's epoch to
  *                               S's by column id (cast, or the existence
  *                               default for columns added since)
  *   ∪ live inlined batches:     [[LakeRead.decodeInline]]'s rows as a
  *                               local relation
  *   ∖ live delete files:        anti-join on (file, position)
  *
  * Row ids of implicit-id files come from a broadcast join on the file
  * name against `firstRowId`. It shares only the inline decoder with the
  * native scan, so a spec comparing the two compares two readers. */
object ComposedReference {

  /** [[scanDF]] of `name` ("schema.table") at the current snapshot, or at
    * `version` */
  def table(lake: Lake, name: String, version: Option[Long] = None,
      withRowMeta: Boolean = false): DataFrame = {
    val st = lake.store.state()
    val (sn, tn) = name.split('.') match {
      case Array(a, b) => (a, b)
      case Array(b) => ("main", b)
    }
    val s = version.getOrElse(st.currentSnapshotId)
    scanDF(lake.spark, st, st.tableAt(sn, tn, s).get.tableId, s,
      withRowMeta = withRowMeta)
  }

  /** row layout of [[LakeRead.decodeInline]]: the snapshot's columns (all
    * nullable, as JSON-parsed values are), then the (file, pos, row id)
    * meta columns */
  private def inlineSchema(cols: Seq[ColumnEntry]): StructType =
    StructType(cols.map(c => StructField(c.name, sparkType(c.dataType))))
      .add(FileCol, StringType).add(PosCol, LongType, nullable = false)
      .add(RowIdCol, LongType, nullable = false)

  /** Scan of `tableId` as of snapshot `s`, composed of DataFrame parts.
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
