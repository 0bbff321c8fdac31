package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions.{col, lit, struct}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.lake._
import graft.lake.Meta._

/** Pending inline rows on the native scan tier: a SQL read of a table with
  * live inline batches plans a [[LakeNativeScan]] (one extra partition of
  * driver-decoded rows), and every answer equals the composed reference
  * reader's ([[ComposedReference]]) for each table shape. */
class InlineScanSpec extends AnyFunSuite {
  import TestSession.spark

  private val abSchema = StructType(Seq(
    StructField("a", IntegerType), StructField("b", StringType)))

  /** a fresh lake registered as a SQL catalog; returns (lake, catalog) */
  private def newCat(): (Lake, String) = {
    val lake = new Lake(spark, Files.createTempDirectory("graft_inl").toString)
    val cat = s"linl${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", lake.root)
    (lake, cat)
  }

  private def inlinable(lake: Lake, t: String): Unit =
    lake.setOption("data_inlining_row_limit", "100", Some(t))

  private def scansOf(df: DataFrame): Seq[Scan] =
    df.queryExecution.optimizedPlan.collect { case r: DataSourceV2ScanRelation => r.scan }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** `sql` plans a native scan of every lake table it reads, and its
    * answer equals the same query over temp views of the composed
    * reference reader ([[ComposedReference.table]]) — each
    * `<catalog>.main.<t> [VERSION AS OF n]` is swapped for one */
  private def assertNativeMatchesComposed(lake: Lake, sql: String): Seq[String] = {
    val native = spark.sql(sql)
    assert(scansOf(native).nonEmpty &&
      scansOf(native).forall(_.isInstanceOf[LakeNativeScan]),
      s"expected native scans: ${scansOf(native)}")
    val got = rows(native)
    val viaApi = """\w+\.main\.(\w+)(?: VERSION AS OF (\d+))?""".r.replaceAllIn(sql, m => {
      val version = Option(m.group(2)).map(_.toLong)
      val view = s"inl_ref_${m.group(1)}_${version.getOrElse("cur")}"
      ComposedReference.table(lake, s"main.${m.group(1)}", version)
        .createOrReplaceTempView(view)
      view
    })
    assert(got == rows(spark.sql(viaApi)), s"native scan and reference disagree on: $sql")
    got
  }

  private def nativeScan(lake: Lake, table: String, snapshot: Option[Long] = None)
      : LakeNativeScan = {
    val st = lake.store.state()
    new LakeTable(lake.store, "main", table, snapshot.getOrElse(st.currentSnapshotId), st)
      .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      .build().asInstanceOf[LakeNativeScan]
  }

  private def columnarScan(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("ColumnarToRow")

  test("inline-only table reads on the native tier") {
    val (lake, cat) = newCat()
    lake.createTable("main.io", abSchema)
    inlinable(lake, "main.io")
    lake.insertRows("main.io", Seq(Seq(1, "x"), Seq(2, null)))
    lake.insertRows("main.io", Seq(Seq(3, "z\"q")))
    assert(assertNativeMatchesComposed(lake, s"SELECT * FROM $cat.main.io") ==
      Seq("[1,x]", "[2,null]", "[3,z\"q]"))
    assertNativeMatchesComposed(lake, s"SELECT b FROM $cat.main.io WHERE a = 3")
    assertNativeMatchesComposed(lake, s"SELECT count(*), sum(a) FROM $cat.main.io")
    // observability: the file text stays as it was, inline counts follow
    val scan = nativeScan(lake, "io")
    assert(scan.description().endsWith(
      "(0 files, 0 with deletes) + 2 inline batches, 3 inline rows"), scan.description())
    assert(scan.estimateStatistics().numRows().getAsLong == 3L)
    assert(scan.estimateStatistics().sizeInBytes().getAsLong > 0L)
  }

  test("inline + clean parquet stays columnar, one extra partition") {
    val (lake, cat) = newCat()
    import spark.implicits._
    lake.createTable("main.ic", abSchema)
    inlinable(lake, "main.ic")
    lake.append("main.ic", (1 to 50).map(i => (i, s"p$i")).toDF("a", "b"))
    lake.insertRows("main.ic", Seq(Seq(100, "i100"), Seq(101, "i101")))
    val df = spark.sql(s"SELECT a, b FROM $cat.main.ic")
    assert(columnarScan(df), df.queryExecution.executedPlan.toString)
    assert(assertNativeMatchesComposed(lake, s"SELECT a, b FROM $cat.main.ic").size == 52)
    assertNativeMatchesComposed(lake, s"SELECT b FROM $cat.main.ic WHERE a >= 50")
    assertNativeMatchesComposed(lake, s"SELECT count(*) FROM $cat.main.ic")
    val scan = nativeScan(lake, "ic")
    val parts = scan.toBatch.planInputPartitions()
    assert(parts.last.getClass.getSimpleName == "InlineRowsPartition")
    assert(scan.estimateStatistics().numRows().getAsLong == 52L)
  }

  test("inline + delete overlay reads columnar, deletes masked per batch") {
    val (lake, cat) = newCat()
    import spark.implicits._
    lake.createTable("main.id", abSchema)
    inlinable(lake, "main.id")
    lake.append("main.id", (1 to 20).map(i => (i, s"p$i")).toDF("a", "b").coalesce(1))
    lake.delete("main.id", col("a") <= 5)
    lake.insertRows("main.id", Seq(Seq(200, "i200"), Seq(3, "again")))
    val df = spark.sql(s"SELECT * FROM $cat.main.id")
    assert(columnarScan(df), df.queryExecution.executedPlan.toString)
    assert(assertNativeMatchesComposed(lake, s"SELECT * FROM $cat.main.id").size == 17)
    assertNativeMatchesComposed(lake, s"SELECT a FROM $cat.main.id WHERE a = 3")
    assert(nativeScan(lake, "id").description().contains(
      "(1 files, 1 with deletes) + 1 inline batches, 2 inline rows"))
    // an inline row deleted by DML leaves the inline log, not a position
    lake.delete("main.id", col("a") === 200)
    assert(assertNativeMatchesComposed(lake, s"SELECT * FROM $cat.main.id").size == 16)
  }

  test("inline batches of older schema epochs decode into the current schema") {
    val (lake, cat) = newCat()
    import spark.implicits._
    lake.createTable("main.ie", abSchema)
    inlinable(lake, "main.ie")
    lake.insertRows("main.ie", Seq(Seq(1, "old1"), Seq(2, null)))          // epoch 0
    spark.sql(s"ALTER TABLE $cat.main.ie ADD COLUMN c INT DEFAULT 7")
    spark.sql(s"ALTER TABLE $cat.main.ie RENAME COLUMN b TO bb")
    spark.sql(s"ALTER TABLE $cat.main.ie ALTER COLUMN a TYPE BIGINT")
    lake.insertRows("main.ie", Seq(Seq(3L, "new3", 30)))                    // current epoch
    // parquet written under the current epoch keeps the files eligible
    lake.append("main.ie", Seq((4L, "file4", 40)).toDF("a", "bb", "c"))
    assert(assertNativeMatchesComposed(lake, s"SELECT * FROM $cat.main.ie") ==
      Seq("[1,old1,7]", "[2,null,7]", "[3,new3,30]", "[4,file4,40]"))
    assertNativeMatchesComposed(lake, s"SELECT c, bb FROM $cat.main.ie WHERE a < 3")
    assertNativeMatchesComposed(lake, s"SELECT sum(a) FROM $cat.main.ie")
  }

  test("time travel to a snapshot with live inline rows") {
    val (lake, cat) = newCat()
    import spark.implicits._
    lake.createTable("main.it", abSchema)
    inlinable(lake, "main.it")
    val s1 = lake.insertRows("main.it", Seq(Seq(1, "a")))
    lake.append("main.it", Seq((2, "b")).toDF("a", "b"))
    val s2 = lake.currentSnapshot()
    lake.insertRows("main.it", Seq(Seq(3, "c")))
    lake.flushInlinedData("main.it")
    assert(assertNativeMatchesComposed(lake,
      s"SELECT * FROM $cat.main.it VERSION AS OF $s1") == Seq("[1,a]"))
    assert(assertNativeMatchesComposed(lake,
      s"SELECT * FROM $cat.main.it VERSION AS OF $s2") == Seq("[1,a]", "[2,b]"))
    assert(assertNativeMatchesComposed(lake, s"SELECT * FROM $cat.main.it").size == 3)
  }

  test("a runtime (DPP) re-plan keeps the inline partition") {
    val (lake, cat) = newCat()
    lake.createTable("main.fact", StructType(Seq(
      StructField("k", IntegerType), StructField("v", LongType))),
      partitionKeys = List(PartitionKey("identity", "k")))
    inlinable(lake, "main.fact")
    (0 until 4).foreach { k =>
      lake.append("main.fact",
        spark.range(0, 5000).selectExpr(s"cast($k as int) AS k", "id AS v"))
    }
    lake.insertRows("main.fact", Seq(Seq(2, -1L), Seq(3, -2L)))
    val scan = nativeScan(lake, "fact")
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("k", Array(2))))
    assert(scan.currentFileCount == 1)
    assert(scan.toBatch.planInputPartitions().last.getClass.getSimpleName ==
      "InlineRowsPartition")
    // end to end: a join on the partition column against a filtered dim
    import spark.implicits._
    val dimDir = Files.createTempDirectory("graft_inl_dim").toString
    Seq((2, "keep"), (7, "other")).toDF("k", "tag")
      .write.mode("overwrite").parquet(dimDir)
    spark.read.parquet(dimDir).createOrReplaceTempView("inl_dpp_dim")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10240")
    try {
      val sql = s"""SELECT tag, count(*) AS n, sum(v) AS s FROM $cat.main.fact f
                   |JOIN inl_dpp_dim d ON f.k = d.k WHERE d.tag = 'keep'
                   |GROUP BY tag""".stripMargin
      assert(spark.sql(sql).queryExecution.optimizedPlan.toString
        .contains("dynamicpruning"))
      val n = 5000L
      assert(assertNativeMatchesComposed(lake, sql) ==
        Seq(s"[keep,${n + 1},${n * (n - 1) / 2 - 1}]"))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("SPJ on: live inline rows report no key grouping and no ordering") {
    val (lake, cat) = newCat()
    def mk(name: String): Unit = {
      lake.createTable(s"main.$name", StructType(Seq(
        StructField("k", IntegerType), StructField("v", LongType))),
        partitionKeys = List(PartitionKey("identity", "k")),
        sortKeys = List(SortKey("v", ascending = true, nullsFirst = false)))
      inlinable(lake, s"main.$name")
      (0 until 3).foreach { k =>
        lake.append(s"main.$name",
          spark.range(0, 200).selectExpr(s"cast($k as int) AS k", "id AS v"))
      }
    }
    mk("sa")
    mk("sb")
    lake.insertRows("main.sa", Seq(Seq(1, 1000L)))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val withInline = nativeScan(lake, "sa")
      assert(withInline.outputPartitioning().isInstanceOf[UnknownPartitioning])
      assert(withInline.outputOrdering().isEmpty)
      assert(nativeScan(lake, "sb").outputPartitioning()
        .isInstanceOf[KeyGroupedPartitioning], "the clean side keeps SPJ")
      assertNativeMatchesComposed(lake,
        s"""SELECT a.k, count(*), sum(a.v + b.v) FROM $cat.main.sa a
           |JOIN $cat.main.sb b ON a.k = b.k AND a.v = b.v GROUP BY a.k""".stripMargin)
    } finally spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
  }

  test("_row_id reads on the native tier: inline, clean, deletes, explicit ids") {
    val (lake, cat) = newCat()
    import spark.implicits._
    lake.createTable("main.ir", abSchema)
    inlinable(lake, "main.ir")
    /** (_row_id, a, b) by SQL, planned on native scans only, equal to the
      * composed reference reader's `_graft_row_id` */
    def check(): Seq[(Long, Int)] = {
      val df = spark.sql(s"SELECT _row_id, a, b FROM $cat.main.ir")
      assert(scansOf(df).nonEmpty && scansOf(df).forall(_.isInstanceOf[LakeNativeScan]),
        s"expected native scans: ${scansOf(df)}")
      val st = lake.store.state()
      val s = st.currentSnapshotId
      val ref = ComposedReference.scanDF(spark, st, st.tableAt("main", "ir", s).get.tableId, s,
        withRowMeta = true).select(col(LakeRead.RowIdCol), col("a"), col("b"))
      val got = rows(df)
      assert(got == rows(ref), "native _row_id differs from the reference's")
      // the row metadata of the Lake API's reads (one native scan) equals
      // the reference's: file, position and row id of every live row
      val meta = Seq(col(LakeRead.FileCol), col(LakeRead.PosCol), col(LakeRead.RowIdCol),
        col("a"), col("b"))
      val api = lake.tableWithRowMeta("main.ir")
      assert(scansOf(api).size == 1 && scansOf(api).forall(_.isInstanceOf[LakeNativeScan]))
      assert(rows(api.select(meta: _*)) == rows(ComposedReference.table(lake, "main.ir",
        withRowMeta = true).select(meta: _*)), "row metadata differs from the reference's")
      val ids = df.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      assert(ids.map(_._1).distinct.size == ids.size, s"row ids not unique: $ids")
      ids
    }
    lake.insertRows("main.ir", Seq(Seq(1, "x"), Seq(2, "y")))
    assert(check().size == 2)
    lake.append("main.ir", (10 to 29).map(i => (i, s"p$i")).toDF("a", "b").coalesce(1))
    assert(check().size == 22)
    lake.delete("main.ir", col("a") % 3 === 0)
    val before = check().toMap.map(_.swap)
    assert(before.size == 16)
    // an UPDATE rewrites the row into an explicit-id file; it keeps its id
    lake.update("main.ir", col("a") === 11, Map("b" -> lit("u")))
    val st = lake.store.state()
    assert(st.filesAt(st.tableAt("main", "ir", st.currentSnapshotId).get.tableId,
      st.currentSnapshotId).exists(_.explicitRowIds))
    val after = check().toMap.map(_.swap)
    assert(after == before)
    // a _row_id predicate, on an explicit-id and an implicit-id file
    Seq(11, 10).foreach { a =>
      assert(spark.sql(s"SELECT a FROM $cat.main.ir WHERE _row_id = ${after(a)}")
        .collect().map(_.getInt(0)).toSeq == Seq(a))
    }
    assert(scansOf(spark.sql(s"SELECT a FROM $cat.main.ir"))
      .forall(_.isInstanceOf[LakeNativeScan]))
  }

  test("inline struct column under nested column pruning") {
    val (lake, cat) = newCat()
    import spark.implicits._
    lake.createTable("main.is", StructType(Seq(StructField("a", IntegerType),
      StructField("s", StructType(Seq(StructField("x", IntegerType),
        StructField("y", StringType)))))))
    inlinable(lake, "main.is")
    lake.append("main.is", Seq((1, (10, "p"))).toDF("a", "s")
      .select(col("a"), col("s").cast("struct<x:int,y:string>").as("s")))
    lake.insertRows("main.is", Seq(Seq(2, null), Seq(3, null)))
    // an UPDATE of inline rows rewrites the batch with the struct value
    lake.update("main.is", col("a") === 3,
      Map("s" -> struct(lit(30).as("x"), lit("r").as("y"))))
    assert(assertNativeMatchesComposed(lake, s"SELECT a, s.y FROM $cat.main.is") ==
      Seq("[1,p]", "[2,null]", "[3,r]"))
    assertNativeMatchesComposed(lake, s"SELECT s FROM $cat.main.is")
  }
}
