package graft.lake

import java.util
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._
import Meta._

/** DSv2 `TableCatalog` over a DuckLake-style metadata store (SURVEY.md
  * §7.1; reference DDL mirror src/pgducklake_table.cpp:570-937).
  *
  * Register with:
  * {{{
  *   spark.conf.set("spark.sql.catalog.lake", classOf[LakeCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.lake.root", "/path/to/lake")
  * }}}
  * then `CREATE TABLE lake.main.t (...)`, `INSERT INTO lake.main.t ...`,
  * `SELECT ... FROM lake.main.t`, `DELETE FROM`, CTAS, and
  * `VERSION AS OF` / `TIMESTAMP AS OF` time travel all resolve here.
  *
  * Time travel (reference src/pgducklake_time_travel.cpp:36-73): version =
  * snapshot id; timestamp = latest snapshot at-or-before. The session-wide
  * as-of conf mirrors the reference's `ducklake.as_of_timestamp` GUC:
  * `spark.graft.lake.asOfSnapshot` / `spark.graft.lake.asOfTimestampMs`.
  *
  * A catalog initialized with `frozen=<dir>` mounts a frozen export
  * read-only (reference A24/A25, src/pgducklake_fdw.cpp:167-190).
  */
class LakeCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ViewCatalog {

  // ---- FunctionCatalog: the `bucket` transform function, so Spark's SPJ
  // planner can resolve a reported bucket(n, col) partitioning ----------
  override def listFunctions(namespace: Array[String])
      : Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(Array.empty[String], "bucket"))
    else Array.empty
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name() == "bucket") LakeBucketFunction
    else throw new NoSuchElementException(s"no function ${ident.name()}")

  private var catalogName: String = _
  private var store: MetadataStore = _
  private var frozenState: Option[CatalogState] = None

  /** SQL BEGIN…COMMIT/ROLLBACK blocks (r15): while a block executes, the
    * catalog's EFFECTIVE store is the transaction's StagingStore, so every
    * statement in the block stages instead of committing and reads its own
    * staged writes — the reference's explicit-transaction semantics
    * (test/regression/sql/transaction.sql) at the SQL surface. The
    * override is THREAD-scoped (r16): a concurrent writer on another
    * thread (a streaming sink, another session's DML) keeps committing to
    * the real store and is never swept into — or discarded with — someone
    * else's block; this is PG's one-transaction-per-session model, where a
    * thread stands in for a session. Nesting on one thread is rejected;
    * maintenance ops keep rejecting staged stores as before. */
  private val txOverrideTL = new ThreadLocal[MetadataStore]()
  private[lake] def txOverride: Option[MetadataStore] = Option(txOverrideTL.get())
  private[lake] def beginTxOverride(s: MetadataStore): Unit = {
    require(txOverrideTL.get() == null, "transactions cannot nest")
    txOverrideTL.set(s)
  }
  private[lake] def endTxOverride(): Unit = txOverrideTL.remove()
  private def effectiveStore: MetadataStore = txOverride.getOrElse(store)

  /** live store behind this catalog; null for frozen mounts (used by the
    * SQL view/macro DDL commands to share the catalog's store instance).
    * Inside a BEGIN block this IS the staging store, so view/macro/MV DDL
    * and DML commands that resolve their Lake through the catalog stage
    * with the rest of the block. */
  private[graft] def metaStore: MetadataStore =
    if (store == null) null else effectiveStore

  // ---- CALL <cat>.system.<proc>(...) — see [[LakeProcedures]] ----------
  private def lakeForProcs(): Lake = {
    requireWritable() // every procedure mutates; frozen mounts refuse
    new Lake(org.apache.spark.sql.SparkSession.active, effectiveStore.root,
      Some(effectiveStore))
  }
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"procedures live in the 'system' namespace, got ${ident.namespace().mkString(".")}")
    LakeProcedures.load(() => lakeForProcs(), ident.name())
  }
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    LakeProcedures.list(namespace)

  // ---- ViewCatalog: the stored-view surface (LakeViewDefs tags) --------
  // ResolveSessionCatalog gates SQL view DDL on this interface; the
  // actual lowering of CreateView/DropView statements is
  // [[ResolveLakeViewDdl]] (no v2 view exec exists in Spark 4.1), and
  // these methods serve DSv2 clients + metadata listings directly.
  import org.apache.spark.sql.catalyst.analysis.NoSuchViewException
  import org.apache.spark.sql.connector.catalog.{View => V2View, ViewInfo}

  private def lakeForViews(): Lake = {
    requireWritable()
    new Lake(SparkSession.active, effectiveStore.root, Some(effectiveStore))
  }

  override def listViews(namespace: String*): Array[Identifier] = {
    val st = state()
    val nsName = if (namespace.isEmpty) "main" else namespace.mkString(".")
    st.tags.filter(LakeViewDefs.isViewTag)
      .filter(t => LakeViewDefs.schemaOfScope(t) == nsName &&
        liveAt(t.begin, t.end, st.currentSnapshotId))
      .map(t => Identifier.of(namespace.toArray, t.key)).toArray
  }

  override def viewExists(ident: Identifier): Boolean = {
    val st = state()
    LakeViewDefs.viewAt(st, ns(ident), ident.name(), st.currentSnapshotId).isDefined
  }

  override def loadView(ident: Identifier): V2View = {
    val st = state()
    val s = sessionAsOf(st).getOrElse(st.currentSnapshotId)
    val vd = LakeViewDefs.viewAt(st, ns(ident), ident.name(), s)
      .getOrElse(throw new NoSuchViewException(ident))
    val schemaName = ns(ident)
    // resolves over the CatalogState directly, so frozen mounts serve
    // loadView read-only and the interface stays self-consistent with
    // listViews/viewExists (ADVICE r8: a DSv2 client iterating listViews
    // must not get 'view not found' for a view it was just shown)
    val df = LakeViewDefs.resolveViewDF(SparkSession.active, st,
      s"$schemaName.${ident.name()}", s)
    new V2View {
      override def name(): String = s"$catalogName.$schemaName.${ident.name()}"
      override def query(): String = vd.sql
      override def currentCatalog(): String = catalogName
      override def currentNamespace(): Array[String] = Array(schemaName)
      override def schema(): StructType = df.schema
      override def queryColumnNames(): Array[String] = Array.empty
      override def columnAliases(): Array[String] = vd.aliases.toArray
      override def columnComments(): Array[String] = Array.empty
      override def properties(): util.Map[String, String] =
        Map("uuid" -> vd.uuid).asJava
    }
  }

  override def createView(info: ViewInfo): V2View = {
    val lake = lakeForViews()
    lake.createView(s"${ns(info.ident())}.${info.ident().name()}", info.sql(),
      Option(info.columnAliases()).map(_.toSeq).getOrElse(Nil),
      orReplace = false)
    loadView(info.ident())
  }

  override def alterView(ident: Identifier,
      changes: org.apache.spark.sql.connector.catalog.ViewChange*): V2View =
    throw new UnsupportedOperationException(
      "ALTER VIEW: drop and re-create (CREATE OR REPLACE VIEW) instead")

  override def dropView(ident: Identifier): Boolean =
    if (!viewExists(ident)) false
    else { lakeForViews().dropView(s"${ns(ident)}.${ident.name()}"); true }

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "RENAME VIEW: re-create under the new name (definitions are versioned tags)")

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    Option(options.get("frozen")) match {
      case Some(dir) => frozenState = Some(MetadataStore.loadFrozen(dir))
      case None =>
        val root = Option(options.get("root")).getOrElse(
          throw new IllegalArgumentException(s"catalog $name: option 'root' required"))
        // option jdbc=<url>: metadata in a shared live database (the
        // reference's N-clients-on-one-PG-catalog deployment shape) —
        // data files stay under `root`
        store = Option(options.get("jdbc")) match {
          case Some(url) => new JdbcMetadataStore(root, url)
          case None => new MetadataStore(root)
        }
    }
  }

  override def name(): String = catalogName
  override def defaultNamespace(): Array[String] = Array("main")

  /** column DEFAULTs are first-class (ddl.sql SET DEFAULT surface) */
  override def capabilities(): util.Set[TableCatalogCapability] =
    Set(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE).asJava

  def readOnly: Boolean = frozenState.isDefined
  private def requireWritable(): Unit =
    if (readOnly) throw new UnsupportedOperationException(
      s"catalog $catalogName is a read-only frozen mount")

  /** DSv2 DDL gate (create/alter/drop/rename): superuser when the
    * session declares a user — see [[LakeAcl]] */
  private def aclSuper(op: String): Unit = {
    val spark = SparkSession.active
    if (LakeAcl.enforced(spark) && frozenState.isEmpty) {
      val st = store.state()
      LakeAcl.requireSuperuser(spark, st, op, st.currentSnapshotId)
    }
  }

  private def state(): CatalogState = frozenState.getOrElse(effectiveStore.state())
  /** read-side state for view resolution (frozen or live) */
  private[graft] def catalogState(): CatalogState = state()

  private def ns(ident: Identifier): String =
    if (ident.namespace().isEmpty) "main" else ident.namespace().mkString(".")

  // ------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val st = state()
    val nsName = if (namespace.isEmpty) "main" else namespace.mkString(".")
    st.tables.filter(t => t.schemaName == nsName &&
      liveAt(t.begin, t.end, st.currentSnapshotId))
      .map(t => Identifier.of(namespace, t.tableName)).toArray
  }

  private[graft] def sessionAsOf(st: CatalogState): Option[Long] = {
    val conf = SparkSession.active.conf
    conf.getOption("spark.graft.lake.asOfSnapshot").map(_.toLong)
      .orElse(conf.getOption("spark.graft.lake.asOfTimestampMs").flatMap(ms =>
        st.snapshotAtTime(ms.toLong)))
  }

  override def loadTable(ident: Identifier): Table = {
    val st = state()
    val s = sessionAsOf(st).getOrElse(st.currentSnapshotId)
    loadAt(ident, st, s)
  }

  /** SQL `VERSION AS OF v` — v is a snapshot id */
  override def loadTable(ident: Identifier, version: String): Table =
    loadAt(ident, state(), version.toLong)

  /** SQL `TIMESTAMP AS OF ts` — micros since epoch */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val st = state()
    val s = st.snapshotAtTime(timestampMicros / 1000L).getOrElse(
      throw new NoSuchTableException(ident))
    loadAt(ident, st, s)
  }

  private def loadAt(ident: Identifier, st: CatalogState, s: Long): Table = {
    // expired snapshots are gone from the history — refuse time travel
    if (!st.snapshots.exists(_.snapshotId == s) ||
        st.tableAt(ns(ident), ident.name(), s).isEmpty)
      throw new NoSuchTableException(ident)
    if (readOnly) new LakeTable(null, ns(ident), ident.name(), s, st) {
      override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo) =
        throw new UnsupportedOperationException("frozen mount is read-only")
      override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
        throw new UnsupportedOperationException("frozen mount is read-only")
      override def scanDF(spark: SparkSession,
          filters: Seq[org.apache.spark.sql.sources.Filter]): org.apache.spark.sql.DataFrame =
        LakeRead.scanDF(spark, this.st, entry.tableId, s, filters)
    }
    else new LakeTable(effectiveStore, ns(ident), ident.name(), s, st)
  }

  override def tableExists(ident: Identifier): Boolean = {
    val st = state()
    st.tableAt(ns(ident), ident.name(), st.currentSnapshotId).isDefined
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    requireWritable()
    aclSuper("CREATE TABLE")
    val schemaName = ns(ident)
    val partKeys = partitions.toList.map(parseTransform)
    // PROP_COMMENT stays: `CREATE TABLE ... COMMENT '...'` and
    // `COMMENT ON TABLE` land in ducklake_tag (key 'comment') like any
    // other table-scoped tag — the reference lists comments unsupported
    // (docs/ducklake_feature_coverage.md:34) but stores them there
    val props = properties.asScala.toMap -
      (TableCatalog.PROP_PROVIDER, TableCatalog.PROP_OWNER, TableCatalog.PROP_LOCATION,
        TableCatalog.PROP_EXTERNAL)
    effectiveStore.commitWithRetry() { (st, sid) =>
      if (st.tableAt(schemaName, ident.name(), st.currentSnapshotId).isDefined)
        throw new TableAlreadyExistsException(ident)
      val tid = st.nextTableId
      val cols = schema.fields.zipWithIndex.map { case (f, i) =>
        ColumnEntry(tid, columnId = i + 1, ordinal = i, name = f.name,
          dataType = LakeRead.relaxNullability(f.dataType).sql, nullable = f.nullable,
          defaultValue = None, begin = sid, end = None)
      }.toList
      CommitDelta(
        snapshot = Snapshot(sid, System.currentTimeMillis(), schemaVersion = sid,
          List(s"created_table:$schemaName.${ident.name()}")),
        newTables = List(TableEntry(tid, schemaName, ident.name(), sid, None)),
        newColumns = cols,
        newPartitionInfo =
          if (partKeys.nonEmpty) List(PartitionInfoEntry(tid, partKeys, sid, None)) else Nil,
        newTags = props.map { case (k, v) => TagEntry(tid.toString, k, v, sid, None) }.toList)
    }
    loadTable(ident)
  }

  private def parseTransform(t: Transform): PartitionKey = {
    // bucket(n, col) carries its width literal before the reference, so
    // locate the column by type rather than by position
    val colName = t.arguments().collectFirst {
      case r: org.apache.spark.sql.connector.expressions.NamedReference =>
        r.fieldNames().mkString(".")
    }.getOrElse(
      throw new IllegalArgumentException(s"unsupported partition transform: $t"))
    t.name().toLowerCase match {
      case "identity" => PartitionKey("identity", colName)
      case "years" | "year" => PartitionKey("year", colName)
      case "months" | "month" => PartitionKey("month", colName)
      case "days" | "day" => PartitionKey("day", colName)
      case "hours" | "hour" => PartitionKey("hour", colName)
      case "bucket" =>
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value().toString.toInt
        }.getOrElse(throw new IllegalArgumentException(
          s"bucket transform needs a width literal: $t"))
        PartitionKey(BucketTransform(n), colName)
      case other => throw new IllegalArgumentException(s"unsupported partition transform: $other")
    }
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    requireWritable()
    aclSuper("ALTER TABLE")
    val schemaName = ns(ident)
    effectiveStore.commitWithRetry() { (st, sid) =>
      val cur = st.currentSnapshotId
      val entry = st.tableAt(schemaName, ident.name(), cur)
        .getOrElse(throw new NoSuchTableException(ident))
      val tid = entry.tableId
      val cols = st.columnsAt(tid, cur)
      var nextColId = st.nextColumnId(tid)
      var nextOrd = cols.map(_.ordinal).maxOption.getOrElse(-1) + 1
      val newCols = List.newBuilder[ColumnEntry]
      val endedCols = List.newBuilder[String]
      val newTags = List.newBuilder[TagEntry]
      val endedTags = List.newBuilder[String]
      var ddl = false
      changes.foreach {
        case a: TableChange.AddColumn =>
          ddl = true
          val dv = Option(a.defaultValue()).map(_.getSql)
          newCols += ColumnEntry(tid, nextColId, nextOrd,
            a.fieldNames().mkString("."), a.dataType().sql, a.isNullable,
            defaultValue = dv, begin = sid, end = None,
            existsDefault = dv) // frozen now; later SET DEFAULT won't touch it
          nextColId += 1; nextOrd += 1
        case d: TableChange.DeleteColumn =>
          ddl = true
          val name = d.fieldNames().mkString(".")
          cols.find(_.name == name).foreach(c => endedCols += s"$tid:${c.columnId}")
        case r: TableChange.RenameColumn =>
          ddl = true
          val name = r.fieldNames().mkString(".")
          cols.find(_.name == name).foreach { c =>
            endedCols += s"$tid:${c.columnId}"
            newCols += c.copy(name = r.newName(), begin = sid, end = None)
          }
        case u: TableChange.UpdateColumnType =>
          ddl = true
          val name = u.fieldNames().mkString(".")
          cols.find(_.name == name).foreach { c =>
            val to = u.newDataType().sql
            // promotion-or-reject (r16): a narrowing change would silently
            // truncate existing file values at read time (Meta.typePromotes)
            if (!Meta.typePromotes(c.dataType, to))
              throw new IllegalArgumentException(
                s"ALTER COLUMN $name TYPE: ${c.dataType} -> $to is not a " +
                "lossless promotion (allowed: tinyint->smallint->int->bigint, " +
                "float->double, tinyint/smallint/int->double)")
            endedCols += s"$tid:${c.columnId}"
            newCols += c.copy(dataType = to, begin = sid, end = None)
          }
        // ALTER COLUMN SET DEFAULT (reference ddl.sql; the merge-on-read
        // scan fills the default for files written before the column —
        // LakeRead mapToCurrent). A new interval row (same columnId) keeps
        // the old default visible to time travel.
        case d: TableChange.UpdateColumnDefaultValue =>
          val name = d.fieldNames().mkString(".")
          cols.find(_.name == name).foreach { c =>
            endedCols += s"$tid:${c.columnId}"
            newCols += c.copy(
              defaultValue = Option(d.newDefaultValue()).filter(_.nonEmpty),
              begin = sid, end = None)
          }
        // ALTER COLUMN SET/DROP NOT NULL (reference lists NOT NULL
        // management unsupported, docs/ducklake_feature_coverage.md:112).
        // SET NOT NULL proves the data first: the metadata path accepts
        // when every live file's recorded nullCount is 0 and no inline
        // batches exist; otherwise one column-pruned scan checks for a
        // surviving null (deletes may have removed them all, so stats
        // alone may not refuse). Not a file-schema change — epochs and
        // file readability are untouched.
        case nl: TableChange.UpdateColumnNullability =>
          val name = nl.fieldNames().mkString(".")
          cols.find(_.name == name).foreach { c =>
            if (!nl.nullable()) {
              val statsClean = st.inlinedAt(tid, cur).isEmpty &&
                st.deleteFilesAt(tid, cur).isEmpty &&
                st.filesAt(tid, cur).forall(f => st.statsFor(f.fileId)
                  .exists(s => s.columnName == name && s.nullCount == 0L))
              if (!statsClean) {
                val nulls = LakeRead.scanDF(SparkSession.active, st, tid, cur, Nil)
                  .filter(org.apache.spark.sql.functions.col(name).isNull)
                  .limit(1).count()
                if (nulls > 0) throw new IllegalStateException(
                  s"ALTER COLUMN $name SET NOT NULL: column contains nulls")
              }
            }
            endedCols += s"$tid:${c.columnId}"
            newCols += c.copy(nullable = nl.nullable(), begin = sid, end = None)
          }
        case p: TableChange.SetProperty =>
          endedTags += s"$tid:${p.property()}"
          newTags += TagEntry(tid.toString, p.property(), p.value(), sid, None)
        case p: TableChange.RemoveProperty =>
          endedTags += s"$tid:${p.property()}"
        // ALTER TABLE t ALTER COLUMN c COMMENT '...': stored per-column in
        // the `col:<tid>:<colId>` scope, dumped as ducklake_column_tag on
        // freeze (pgducklake_freeze.cpp:40). Not a DDL change — the column
        // epoch (and file readability) is untouched.
        case cc: TableChange.UpdateColumnComment =>
          val name = cc.fieldNames().mkString(".")
          cols.find(_.name == name).foreach { c =>
            endedTags += s"col:$tid:${c.columnId}:comment"
            newTags += TagEntry(s"col:$tid:${c.columnId}", "comment",
              cc.newComment(), sid, None)
          }
        case other =>
          throw new UnsupportedOperationException(s"unsupported table change: $other")
      }
      CommitDelta(
        snapshot = Snapshot(sid, System.currentTimeMillis(),
          schemaVersion = if (ddl) sid else st.snapshots.lastOption.map(_.schemaVersion).getOrElse(0L),
          List(s"altered_table:$schemaName.${ident.name()}")),
        newColumns = newCols.result(), endedColumns = endedCols.result(),
        newTags = newTags.result(), endedTags = endedTags.result())
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    requireWritable()
    aclSuper("DROP TABLE")
    val schemaName = ns(ident)
    try {
      effectiveStore.commitWithRetry() { (st, sid) =>
        val cur = st.currentSnapshotId
        val entry = st.tableAt(schemaName, ident.name(), cur)
          .getOrElse(throw new NoSuchTableException(ident))
        val tid = entry.tableId
        val paths = st.filesAt(tid, cur).map(_.path) ++ st.deleteFilesAt(tid, cur).map(_.path)
        CommitDelta(
          snapshot = Snapshot(sid, System.currentTimeMillis(),
            st.snapshots.lastOption.map(_.schemaVersion).getOrElse(0L),
            List(s"dropped_table:$schemaName.${ident.name()}")),
          endedTables = List(tid),
          endedFiles = st.filesAt(tid, cur).map(_.fileId).toList,
          endedDeleteFiles = st.deleteFilesAt(tid, cur).map(_.deleteFileId).toList,
          endedInlined = st.inlinedAt(tid, cur).map(_.batchId).toList,
          newScheduledDeletions = paths.map(p =>
            ScheduledDeletion(p, System.currentTimeMillis(), sid)).toList)
      }
      true
    } catch { case _: NoSuchTableException => false }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    requireWritable()
    aclSuper("RENAME TABLE")
    effectiveStore.commitWithRetry() { (st, sid) =>
      val cur = st.currentSnapshotId
      val entry = st.tableAt(ns(oldIdent), oldIdent.name(), cur)
        .getOrElse(throw new NoSuchTableException(oldIdent))
      if (st.tableAt(ns(newIdent), newIdent.name(), cur).isDefined)
        throw new TableAlreadyExistsException(newIdent)
      CommitDelta(
        snapshot = Snapshot(sid, System.currentTimeMillis(),
          st.snapshots.lastOption.map(_.schemaVersion).getOrElse(0L),
          List(s"renamed_table:${oldIdent.name()}:${newIdent.name()}")),
        endedTables = List(entry.tableId),
        newTables = List(TableEntry(entry.tableId, ns(newIdent), newIdent.name(), sid, None)))
    }
  }

  override def invalidateTable(ident: Identifier): Unit = ()

  // --------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] = {
    val st = state()
    val fromTables = st.tables.filter(t => liveAt(t.begin, t.end, st.currentSnapshotId))
      .map(_.schemaName)
    val fromTags = st.tags.filter(t => t.scope == "global" &&
      t.key.startsWith("namespace:") && liveAt(t.begin, t.end, st.currentSnapshotId))
      .map(_.key.stripPrefix("namespace:"))
    (fromTables ++ fromTags ++ Seq("main")).distinct.sorted.map(Array(_)).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 &&
      listNamespaces().exists(_.sameElements(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    requireWritable()
    val nsName = namespace.mkString(".")
    effectiveStore.commitWithRetry() { (st, sid) =>
      CommitDelta(
        snapshot = Snapshot(sid, System.currentTimeMillis(),
          st.snapshots.lastOption.map(_.schemaVersion).getOrElse(0L),
          List(s"created_schema:$nsName")),
        newTags = List(TagEntry("global", s"namespace:$nsName", "1", sid, None)))
    }
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("alterNamespace not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    requireWritable()
    val nsName = namespace.mkString(".")
    if (!cascade && listTables(namespace).nonEmpty)
      throw new IllegalStateException(s"namespace $nsName not empty")
    listTables(namespace).foreach(dropTable)
    effectiveStore.commitWithRetry() { (st, sid) =>
      CommitDelta(
        snapshot = Snapshot(sid, System.currentTimeMillis(),
          st.snapshots.lastOption.map(_.schemaVersion).getOrElse(0L),
          List(s"dropped_schema:$nsName")),
        endedTags = List(s"global:namespace:$nsName"))
    }
    true
  }
}
