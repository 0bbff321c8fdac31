package graft

import java.nio.file.{Files, Paths}
import java.util.Base64
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.lake._
import graft.lake.Meta.{DataFileEntry, PartitionKey}

/** UPDATE's post-images and MERGE's post-images and inserts are data files
  * like any append's: they carry the table's partition values (so pruning
  * drops them and storage-partitioned joins group them), the variant path
  * stats, and the table's encryption. */
class DmlWriteSpec extends AnyFunSuite {
  import TestSession.spark

  private def newLake(): Lake =
    new Lake(spark, Files.createTempDirectory("graft_dmlw").toString)

  private def liveFiles(lake: Lake, table: String): Vector[DataFileEntry] = {
    val st = lake.store.state()
    val Array(sn, tn) = table.split('.')
    st.filesAt(st.tableAt(sn, tn, st.currentSnapshotId).get.tableId, st.currentSnapshotId)
  }

  /** (kept, live) files of `table` under `filter`, pruned as a scan prunes */
  private def pruned(lake: Lake, table: String,
      filter: org.apache.spark.sql.sources.Filter): (Vector[DataFileEntry], Vector[DataFileEntry]) = {
    val st = lake.store.state()
    val Array(sn, tn) = table.split('.')
    val tid = st.tableAt(sn, tn, st.currentSnapshotId).get.tableId
    val files = st.filesAt(tid, st.currentSnapshotId)
    val types = st.columnsAt(tid, st.currentSnapshotId).map(c => c.name -> c.dataType).toMap
    (Pruning.prune(files, st.statsFor, types,
      st.partitionKeysAt(tid, st.currentSnapshotId), Seq(filter)), files)
  }

  /** UPDATE every third row, then MERGE an update arm over k in [0, 30)
    * and an insert arm for k in [1000, 1010) */
  private def updateAndMerge(lake: Lake, table: String): Unit = {
    import spark.implicits._
    val (_, n) = lake.update(table, col("k") % 3 === 0, Map("v" -> (col("v") + 1)))
    assert(n == 67)
    val src = (0L until 30L).map(k => (k, k * 100)).toDF("sk", "sv")
      .union((1000L until 1010L).map(k => (k, k * 100)).toDF("sk", "sv"))
    val (_, u, d, i) = lake.merge(table, src, col("k") === col("sk"),
      matched = Seq(LakeWrite.MergeMatched(None, Some(Map("v" -> col("sv"))))),
      notMatched = Seq(LakeWrite.MergeInsert(None,
        Map("p" -> (col("sk") % 4).cast("int"), "k" -> col("sk"), "v" -> col("sv")))))
    assert((u, d, i) == (30L, 0L, 10L))
  }

  /** the table's rows after [[updateAndMerge]], computed without the lake */
  private def expected: DataFrame = spark.range(0, 200).union(spark.range(1000, 1010))
    .select((col("id") % 4).cast("int").as("p"), col("id").as("k"),
      when(col("id") < 30 || col("id") >= 1000, col("id") * 100)
        .when(col("id") % 3 === 0, col("id") * 2 + 1)
        .otherwise(col("id") * 2).as("v"))

  private def rows(df: DataFrame): Seq[(Int, Long, Long)] =
    df.select("p", "k", "v").collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._2)

  private def partitionedLake(key: PartitionKey): Lake = {
    val lake = newLake()
    val df = spark.range(0, 200).select((col("id") % 4).cast("int").as("p"),
      col("id").as("k"), (col("id") * 2).as("v"))
    lake.createTable("main.t", df.schema, partitionKeys = List(key))
    lake.append("main.t", df)
    updateAndMerge(lake, "main.t")
    assert(rows(lake.table("main.t")) == rows(expected))
    lake
  }

  test("identity-partitioned table: DML files record partition values and prune") {
    val key = PartitionKey("identity", "p")
    val lake = partitionedLake(key)
    val live = liveFiles(lake, "main.t")
    assert(live.count(_.explicitRowIds) > 0, "the UPDATE and MERGE post-images are live")
    live.foreach(f => assert(f.partitionValues.contains(key.label), s"no partition value: $f"))
    val (kept, files) = pruned(lake, "main.t", EqualTo("p", 2))
    assert(kept.nonEmpty && kept == files.filter(_.partitionValues(key.label) == "2"),
      s"p = 2 kept ${kept.map(_.partitionValues)} of ${files.map(_.partitionValues)}")
    assert(rows(lake.table("main.t").filter(col("p") === 2)) ==
      rows(expected.filter(col("p") === 2)))
  }

  test("bucket[8] table: DML files record bucket values and a point filter prunes to one") {
    val key = PartitionKey(BucketTransform(8), "k")
    val lake = partitionedLake(key)
    val live = liveFiles(lake, "main.t")
    assert(live.count(_.explicitRowIds) > 0, "the UPDATE and MERGE post-images are live")
    live.foreach(f => assert(f.partitionValues.contains(key.label), s"no bucket value: $f"))
    // k = 12 was updated by the UPDATE, then by the MERGE; k = 1003 was inserted
    Seq(12L, 1003L).foreach { k =>
      val bucket = spark.range(1).select(pmod(hash(lit(k)), lit(8))).head.getInt(0).toString
      val (kept, _) = pruned(lake, "main.t", EqualTo("k", k))
      assert(kept.nonEmpty && kept.forall(_.partitionValues(key.label) == bucket),
        s"k = $k (bucket $bucket) kept ${kept.map(_.partitionValues)}")
      assert(rows(lake.table("main.t").filter(col("k") === k)) ==
        rows(expected.filter(col("k") === k)))
    }
  }

  test("bucketed join after UPDATE and MERGE plans no shuffle") {
    val key = PartitionKey(BucketTransform(8), "k")
    val lake = partitionedLake(key)
    val b = spark.range(0, 600).select((col("id") % 4).cast("int").as("p"),
      (col("id") % 200).as("k"), col("id").as("v"))
    lake.createTable("main.b", b.schema, partitionKeys = List(key))
    lake.append("main.b", b)
    val cat = s"dmlw${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", lake.root)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val sumQ = "SELECT count(*) AS n, sum(a.v * b.v) AS s FROM %s a JOIN %s b ON a.k = b.k"
      val q = spark.sql(sumQ.format(s"$cat.main.t", s"$cat.main.b"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"join over the DML-written bucketed table shuffled:\n$plan")
      expected.createOrReplaceTempView("dmlw_plain_a")
      b.createOrReplaceTempView("dmlw_plain_b")
      assert(q.collect().toSeq ==
        spark.sql(sumQ.format("dmlw_plain_a", "dmlw_plain_b")).collect().toSeq)
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("variant table: UPDATE post-images get variant path stats like an append") {
    val lake = newLake()
    lake.createTable("main.vp", StructType(Seq(
      StructField("id", IntegerType), StructField("v", VariantType))))
    lake.append("main.vp", spark.range(10).coalesce(1).selectExpr("cast(id as int) AS id",
      """parse_json(concat('{"price": ', id, ', "tag": "t', id % 3, '"}')) AS v"""))
    val (_, n) = lake.update("main.vp", col("id") < 5,
      Map("v" -> expr("""parse_json(concat('{"price": ', id + 500, '}'))""")))
    assert(n == 5)
    val st = lake.store.state()
    val post = liveFiles(lake, "main.vp").filter(_.explicitRowIds)
    assert(post.size == 1, s"one post-image file: $post")
    val price = st.stats.filter(s => s.fileId == post.head.fileId && s.columnName == "v.$.price")
    assert(price.map(s => (s.minValue, s.maxValue)) == Seq((Some("500"), Some("504"))),
      s"post-image v.$$.price stats: $price")
  }

  test("encrypted table: UPDATE and MERGE post-images and inserts are encrypted") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set(LakeEncryption.KeysConf,
      s"graft0:${Base64.getEncoder.encodeToString(Array.tabulate[Byte](16)(_.toByte))}")
    val lake = newLake()
    lake.setOption("encrypted", "true")
    val df = spark.range(0, 200).select((col("id") % 4).cast("int").as("p"),
      col("id").as("k"), (col("id") * 2).as("v"))
    lake.createTableAs("main.e", df)
    updateAndMerge(lake, "main.e")
    val live = liveFiles(lake, "main.e")
    assert(live.count(_.explicitRowIds) >= 2, s"the UPDATE and MERGE post-images: $live")
    live.foreach { f =>
      val in = Files.newInputStream(Paths.get(f.path))
      val magic = try { val b = new Array[Byte](4); in.read(b); new String(b, "US-ASCII") }
        finally in.close()
      assert(magic == "PARE", s"${f.path} not encrypted")
    }
    assert(rows(lake.table("main.e")) == rows(expected))
  }
}
