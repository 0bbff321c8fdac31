package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThan}
import org.scalatest.funsuite.AnyFunSuite
import graft.lake._
import graft.lake.Meta.PartitionKey

/** Iceberg-style `bucket[N]` hidden-partition transform: the scale answer
  * for point lookups on HIGH-CARDINALITY keys, where identity partitioning
  * would mint millions of partitions and year/month serve only time. A
  * point filter prunes to the one bucket's files (murmur3 of the literal
  * reproduced driver-side); range filters must NOT prune — bucket is not
  * monotone. */
class BucketSpec extends AnyFunSuite {
  import TestSession.spark

  private def bucketedLake(n: Int): (Lake, String) = {
    val lake = new Lake(spark, Files.createTempDirectory("graft_bucket").toString)
    val df = spark.range(0, 5000).select(col("id").as("k"), (col("id") * 3).as("v"))
    lake.createTable("main.b", df.schema,
      partitionKeys = List(PartitionKey(BucketTransform(n), "k")))
    lake.append("main.b", df)
    (lake, "main.b")
  }

  private def pruned(lake: Lake, f: org.apache.spark.sql.sources.Filter): (Int, Int) = {
    val st = lake.store.state()
    val e = st.tableAt("main", "b", st.currentSnapshotId).get
    val files = st.filesAt(e.tableId, st.currentSnapshotId)
    val ct = st.columnsAt(e.tableId, st.currentSnapshotId)
      .map(c => c.name -> c.dataType).toMap
    val kept = Pruning.prune(files, st.statsFor, ct,
      st.partitionKeysAt(e.tableId, st.currentSnapshotId), Seq(f))
    (kept.size, files.size)
  }

  test("point filter prunes to one bucket; ranges keep everything; scans exact") {
    val (lake, t) = bucketedLake(8)
    val st = lake.store.state()
    val e = st.tableAt("main", "b", st.currentSnapshotId).get
    val files = st.filesAt(e.tableId, st.currentSnapshotId)
    assert(files.size == 8, s"one file per bucket expected, got ${files.size}")
    assert(files.forall(_.partitionValues.contains("bucket[8](k)")))

    val (keptEq, total) = pruned(lake, EqualTo("k", 1234L))
    assert(keptEq == 1, s"point filter must keep exactly the literal's bucket, kept $keptEq/$total")
    // the surviving file really contains the row
    assert(lake.table(t).filter(col("k") === 1234L).count() == 1)
    assert(lake.table(t).filter(col("k") === 1234L).head.getLong(1) == 3702L)

    // bucket is not monotone, so the TRANSFORM must not range-prune; the
    // per-file min/max stats may still legitimately drop buckets whose
    // k-range misses the predicate — safety bound: every bucket holding a
    // matching key survives, and the scan is exact
    val matchBuckets = spark.range(4991, 5000)
      .select(pmod(hash(col("id")), lit(8)).as("b")).distinct().count()
    val (keptGt, _) = pruned(lake, GreaterThan("k", 4990L))
    assert(keptGt >= matchBuckets,
      s"range filter kept $keptGt files but $matchBuckets buckets hold matches")
    assert(lake.table(t).filter(col("k") > 4990L).count() == 9)
  }

  test("SQL DDL round trip: PARTITIONED BY (bucket(4, k)) via the catalog") {
    val root = Files.createTempDirectory("graft_bucket_sql").toString
    val cat = "bcat" + java.util.UUID.randomUUID().toString.take(6).replace("-", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.main.bt (k BIGINT, v BIGINT) PARTITIONED BY (bucket(4, k))")
    spark.sql(s"INSERT INTO $cat.main.bt SELECT id, id * 2 FROM range(0, 1000)")
    val lake = new Lake(spark, root)
    val st = lake.store.state()
    val e = st.tableAt("main", "bt", st.currentSnapshotId).get
    assert(st.partitionKeysAt(e.tableId, st.currentSnapshotId) ==
      List(PartitionKey("bucket[4]", "k")))
    assert(st.filesAt(e.tableId, st.currentSnapshotId).size == 4)
    assert(spark.sql(s"SELECT v FROM $cat.main.bt WHERE k = 77").head.getLong(0) == 154L)
    // the reported partitioning renders back as a bucket transform
    val show = spark.sql(s"DESCRIBE TABLE EXTENDED $cat.main.bt").collect()
      .map(_.mkString(" ")).mkString("\n")
    assert(show.contains("bucket(4, k)"), s"DESCRIBE missing bucket transform:\n$show")
  }

  test("bucket SPJ: co-bucketed tables join with NO shuffle on either side") {
    val lake = new Lake(spark, Files.createTempDirectory("graft_bspj").toString)
    def mk(name: String, rows: Long): Unit = {
      lake.createTable(s"main.$name", spark.range(0, 1).selectExpr(
        "id AS k", "id AS v").schema,
        partitionKeys = List(PartitionKey(BucketTransform(8), "k")))
      lake.append(s"main.$name",
        spark.range(0, rows).selectExpr("id % 500 AS k", "id AS v"))
    }
    mk("ba", 2000); mk("bb", 1500)
    val cat = s"bspj${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", lake.root)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = spark.sql(
        s"SELECT count(*) AS n FROM $cat.main.ba a JOIN $cat.main.bb b ON a.k = b.k")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-bucketed join still shuffled:\n$plan")
      // oracle: both sides have k = id % 500; ba 4 rows/k, bb 3 rows/k
      assert(q.collect().head.getLong(0) == 500L * 4 * 3)
      // value-bearing: the bucketed join equals the same join over plain
      // (non-lake) frames of the same rows
      val sumQ = "SELECT count(*) AS n, sum(a.v * b.v) AS s " +
        "FROM %s a JOIN %s b ON a.k = b.k"
      def plain(rows: Long) = spark.range(0, rows).selectExpr("id % 500 AS k", "id AS v")
      plain(2000).createOrReplaceTempView("bspj_plain_a")
      plain(1500).createOrReplaceTempView("bspj_plain_b")
      assert(spark.sql(sumQ.format(s"$cat.main.ba", s"$cat.main.bb")).collect().toSeq ==
        spark.sql(sumQ.format("bspj_plain_a", "bspj_plain_b")).collect().toSeq)
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("sorted bucket files report ordering: SPJ SMJ plans with NO sorts") {
    // r12 (VERDICT r11 #3): when every bucket is ONE file stamped sorted on
    // the join key, the key-grouped scan reports per-partition ordering
    // (SupportsReportOrdering) and EnsureRequirements elides both SMJ sorts
    val lake = new Lake(spark, Files.createTempDirectory("graft_bso").toString)
    def mk(name: String, rows: Long): Unit = {
      lake.createTable(s"main.$name", spark.range(0, 1).selectExpr(
        "id AS k", "id AS v").schema,
        partitionKeys = List(PartitionKey(BucketTransform(8), "k")),
        sortKeys = List(Meta.SortKey("k", ascending = true, nullsFirst = true)))
      lake.append(s"main.$name",
        spark.range(0, rows).selectExpr("id % 500 AS k", "id AS v"))
      // rewriteSorted compacts each bucket into sorted, STAMPED files
      lake.rewriteSorted(s"main.$name")
    }
    mk("sa", 2000); mk("sb", 1500)
    val cat = s"bso${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", lake.root)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = spark.sql(
        s"SELECT a.k, a.v, b.v AS bv FROM $cat.main.sa a JOIN $cat.main.sb b ON a.k = b.k")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-bucketed join still shuffled:\n$plan")
      assert(!plan.contains("Sort ["),
        s"SMJ over sorted single-file buckets still sorts:\n$plan")
      assert(q.count() == 500L * 4 * 3)
      // a plain unsorted append breaks the single-sorted-file-per-bucket
      // invariant -> the scan must STOP reporting ordering (sorts return)
      lake.append("main.sa",
        spark.range(0, 100).selectExpr("id % 500 AS k", "id AS v"))
      val q2 = spark.sql(
        s"SELECT a.k FROM $cat.main.sa a JOIN $cat.main.sb b ON a.k = b.k")
      val plan2 = q2.queryExecution.executedPlan.toString
      assert(plan2.contains("Sort ["),
        s"stale ordering report survived an unsorted append:\n$plan2")
      assert(q2.count() == 500L * 4 * 3 + 100L * 3)
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("multi-file buckets with DISJOINT sorted ranges report ordering; overlap stops it") {
    // r13 (VERDICT r12 #1): ordering eligibility no longer demands ONE file
    // per bucket — a bucket of 3+ stamped files with pairwise-disjoint
    // leading-key ranges is emitted range-ordered, so SPJ sort elision
    // survives BOUNDED file sizes (rewriteSorted splits each bucket at
    // target_file_size) instead of requiring one unbounded file per bucket
    val lake = new Lake(spark, Files.createTempDirectory("graft_bmf").toString)
    def mk(name: String, rows: Long): Unit = {
      lake.createTable(s"main.$name", spark.range(0, 1).selectExpr(
        "id AS k", "id AS v").schema,
        partitionKeys = List(PartitionKey(BucketTransform(4), "k")),
        sortKeys = List(Meta.SortKey("k", ascending = true, nullsFirst = true)))
      lake.append(s"main.$name",
        spark.range(0, rows).selectExpr("id % 400 AS k", "id AS v"))
      // target far below bucket bytes: the cluster-rewrite range-splits
      // each bucket into several DISJOINT sorted files
      lake.setOption("target_file_size", "16KB", Some(s"main.$name"))
      lake.rewriteSorted(s"main.$name")
    }
    mk("ma", 60000); mk("mb", 30000)
    val st = lake.store.state()
    val e = st.tableAt("main", "ma", st.currentSnapshotId).get
    val perBucket = st.filesAt(e.tableId, st.currentSnapshotId)
      .groupBy(_.partitionValues).map(_._2.size)
    assert(perBucket.forall(_ >= 3),
      s"fixture must produce 3+ files per bucket, got $perBucket")
    val cat = s"bmf${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", lake.root)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def q() = spark.sql(
        s"SELECT count(*) AS n FROM $cat.main.ma a JOIN $cat.main.mb b ON a.k = b.k")
      val plan = q().queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-bucketed join shuffled:\n$plan")
      assert(!plan.contains("Sort ["),
        s"disjoint multi-file buckets still sort:\n$plan")
      assert(q().head.getLong(0) == 400L * 150 * 75)
      // a sorted chunk append spanning the FULL key range OVERLAPS every
      // existing file in its bucket: stamps alone must not keep the report
      // alive — the sorts must come back, results stay right
      val (sn, tn) = lake.schemaOf("main.ma")
      graft.lake.LakeWrite.append(spark, lake.store, sn, tn,
        spark.range(0, 4000).selectExpr("id % 400 AS k", "id AS v"),
        sorted = true)
      val plan2 = q().queryExecution.executedPlan.toString
      assert(plan2.contains("Sort ["),
        s"overlapping stamped append left a false ordering report:\n$plan2")
      assert(q().head.getLong(0) == 400L * 160 * 75)
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("setSort flipping direction invalidates old sort stamps (no false ordering)") {
    // regression (r13 ADVICE): stamps stored only the sort EXPRESSION, so
    // files sorted ASC under the old spec still matched after setSort
    // flipped to DESC — the scan reported DESC over ASC files and an
    // elided-sort SMJ would join garbage
    val lake = new Lake(spark, Files.createTempDirectory("graft_bsd").toString)
    def mk(name: String): Unit = {
      lake.createTable(s"main.$name", spark.range(0, 1).selectExpr(
        "id AS k", "id AS v").schema,
        partitionKeys = List(PartitionKey(BucketTransform(4), "k")),
        sortKeys = List(Meta.SortKey("k", ascending = true, nullsFirst = true)))
      lake.append(s"main.$name",
        spark.range(0, 1000).selectExpr("id % 100 AS k", "id AS v"))
      lake.rewriteSorted(s"main.$name")
    }
    mk("da"); mk("db")
    val cat = s"bsd${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", lake.root)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def plan(): String = spark.sql(
        s"SELECT a.k FROM $cat.main.da a JOIN $cat.main.db b ON a.k = b.k")
        .queryExecution.executedPlan.toString
      assert(!plan().contains("Sort ["), s"baseline should elide sorts:\n${plan()}")
      // flip the direction on the SAME column: old ASC stamps must stop
      // matching and the SMJ sorts must come back
      lake.setSort("main.da", List(Meta.SortKey("k", ascending = false, nullsFirst = true)))
      val p2 = plan()
      assert(p2.contains("Sort ["),
        s"direction flip left a stale ordering report active:\n$p2")
      // results stay correct either way
      assert(spark.sql(
        s"SELECT count(*) AS n FROM $cat.main.da a JOIN $cat.main.db b ON a.k = b.k")
        .head.getLong(0) == 100L * 10 * 10)
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("skewed bucket splits under partially-clustered SPJ, still zero exchanges") {
    // r11: key-grouped scans report ONE InputPartition PER FILE (Spark
    // groups them back for plain SPJ), so with
    // partiallyClusteredDistribution a hot bucket's files stay separate
    // tasks while the other side replicates — the SPJ-native skew answer
    // (AQE skew-split only works on shuffle joins; SPJ has no shuffle).
    val lake = new Lake(spark, Files.createTempDirectory("graft_bskew").toString)
    // key 7 holds ~90% of the left side; left ingested in 4 chunks so the
    // hot bucket has 4 files to split along
    val left = spark.range(0, 100000).selectExpr(
      "CASE WHEN id % 10 < 9 THEN 7L ELSE id % 64 END AS k", "id AS v")
    lake.createTable("main.skl", left.schema,
      partitionKeys = List(PartitionKey(BucketTransform(8), "k")))
    (0 until 4).foreach(c =>
      lake.append("main.skl", left.filter(expr(s"v % 4 = $c"))))
    val right = spark.range(0, 1000).selectExpr("id % 64 AS k", "id AS w")
    lake.createTable("main.skr", right.schema,
      partitionKeys = List(PartitionKey(BucketTransform(8), "k")))
    lake.append("main.skr", right)
    val cat = s"bskw${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", lake.root)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    @volatile var tasks = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        tasks += sc.stageInfo.numTasks
    }
    spark.sparkContext.addSparkListener(listener)
    def run(partial: Boolean): (Int, Long, Long) = {
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled",
        partial.toString)
      val q = spark.sql(s"SELECT count(*) AS n, sum(a.v) AS sv " +
        s"FROM $cat.main.skl a JOIN $cat.main.skr b ON a.k = b.k")
      assert(!q.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"), "SPJ lost")
      tasks = 0
      val r = q.collect().head
      Thread.sleep(500) // listener bus drain (private API in Spark 4)
      (tasks, r.getLong(0), r.getLong(1))
    }
    try {
      val (tGrouped, n1, s1) = run(partial = false)
      val (tSplit, n2, s2) = run(partial = true)
      assert((n1, s1) == (n2, s2), "results diverged between modes")
      assert(tSplit > tGrouped,
        s"hot bucket did not split: $tGrouped grouped vs $tSplit split tasks")

      // r12: the split is histogram-DERIVED per group — a UNIFORM pair of
      // tables under the SAME conf must keep fused key groups (r11 split
      // every group per-file, a few % of fixed overhead on every scan)
      def mkUniform(name: String): Unit = {
        val u = spark.range(0, 20000).selectExpr("id % 64 AS k", "id AS v")
        lake.createTable(s"main.$name", u.schema,
          partitionKeys = List(PartitionKey(BucketTransform(8), "k")))
        (0 until 4).foreach(c =>
          lake.append(s"main.$name", u.filter(expr(s"v % 4 = $c"))))
      }
      mkUniform("ul"); mkUniform("ur")
      def runUniform(partial: Boolean): (Int, Long) = {
        spark.conf.set(
          "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled",
          partial.toString)
        val q = spark.sql(s"SELECT count(*) AS n " +
          s"FROM $cat.main.ul a JOIN $cat.main.ur b ON a.k = b.k")
        tasks = 0
        val n = q.collect().head.getLong(0)
        Thread.sleep(500)
        (tasks, n)
      }
      val (uGrouped, un1) = runUniform(partial = false)
      val (uSplit, un2) = runUniform(partial = true)
      assert(uSplit == uGrouped,
        s"uniform table split under the conf: $uGrouped fused vs $uSplit tasks")
      assert(un1 == un2)
      // the same skew rule holds under a live delete: uniform groups stay
      // fused with or without partially-clustered distribution
      lake.delete("main.ul", expr("v % 5 = 0"))
      val (dGrouped, dn1) = runUniform(partial = false)
      val (dSplit, dn2) = runUniform(partial = true)
      assert(dSplit == dGrouped,
        s"uniform table split under a live delete: $dGrouped fused vs $dSplit tasks")
      assert(dn1 == dn2 && dn1 < un1, s"$dn1 / $dn2 rows after the delete, $un1 before")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.unset("spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("skew split and ordering report COMPOSE on a multi-file sorted hot bucket") {
    // r13 (VERDICT r12 #9): the r12 features were mutually exclusive — the
    // report needed ONE file per bucket, the skew splitter needed MANY.
    // With multi-file eligibility the hot key's bounded sorted files (all
    // ranges [hot,hot], ties allowed) report ordering in the DEFAULT fused
    // mode. Under partiallyClusteredDistribution the split itself works,
    // but Spark's exec gate (DataSourceV2ScanExecBase.outputOrdering keeps
    // a reported ordering only when EVERY key group has ≤1 input
    // partition) re-inserts the SMJ sorts — a per-table trade the operator
    // picks: skew-split for hot tables, sort-elision for uniform ones.
    val lake = new Lake(spark, Files.createTempDirectory("graft_bso2").toString)
    val left = spark.range(0, 100000).selectExpr(
      "CASE WHEN id % 10 < 9 THEN 7L ELSE id % 64 END AS k", "id AS v")
    lake.createTable("main.skl", left.schema,
      partitionKeys = List(PartitionKey(BucketTransform(8), "k")),
      sortKeys = List(Meta.SortKey("k", ascending = true, nullsFirst = true)))
    lake.append("main.skl", left)
    lake.setOption("target_file_size", "64KB", Some("main.skl"))
    lake.rewriteSorted("main.skl") // bounded files; hot key spans several
    val right = spark.range(0, 1000).selectExpr("id % 64 AS k", "id AS w")
    lake.createTable("main.skr", right.schema,
      partitionKeys = List(PartitionKey(BucketTransform(8), "k")),
      sortKeys = List(Meta.SortKey("k", ascending = true, nullsFirst = true)))
    lake.append("main.skr", right)
    lake.rewriteSorted("main.skr")
    // precondition: the hot bucket really is multi-file
    val st = lake.store.state()
    val e = st.tableAt("main", "skl", st.currentSnapshotId).get
    val hot = st.filesAt(e.tableId, st.currentSnapshotId)
      .groupBy(_.partitionValues).values.map(_.size).max
    assert(hot >= 3, s"hot bucket should hold 3+ bounded files, got $hot")
    val cat = s"bso2${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", lake.root)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    @volatile var tasks = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        tasks += sc.stageInfo.numTasks
    }
    spark.sparkContext.addSparkListener(listener)
    def run(partial: Boolean): (Int, Long, Long, String) = {
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled",
        partial.toString)
      val q = spark.sql(s"SELECT count(*) AS n, sum(a.v) AS sv " +
        s"FROM $cat.main.skl a JOIN $cat.main.skr b ON a.k = b.k")
      val plan = q.queryExecution.executedPlan.toString
      tasks = 0
      val r = q.collect().head
      Thread.sleep(500)
      (tasks, r.getLong(0), r.getLong(1), plan)
    }
    try {
      val (tGrouped, n1, s1, p1) = run(partial = false)
      val (tSplit, n2, s2, p2) = run(partial = true)
      assert((n1, s1) == (n2, s2), "results diverged between modes")
      Seq(p1, p2).foreach(p =>
        assert(!p.contains("Exchange hashpartitioning"), s"SPJ lost:\n$p"))
      // fused mode: bounded multi-file buckets keep the sort elision
      assert(!p1.contains("Sort ["),
        s"multi-file sorted buckets lost the ordering report:\n$p1")
      // split mode: the hot bucket splits per file; Spark's exec gate
      // drops the (per-partition-true) ordering report, so the sorts
      // return — assert the CURRENT Spark semantics so an upstream change
      // (per-partition ordering surviving multi-partition groups) shows up
      assert(p2.contains("Sort ["),
        s"Spark kept a reported ordering over a split key group — " +
          s"re-check semantics and drop this guard if 4.x relaxed the gate:\n$p2")
      assert(tSplit > tGrouped,
        s"hot bucket did not split: $tGrouped grouped vs $tSplit split tasks")
      // oracle computed outside the lake
      val oracle = left.join(right, "k")
        .agg(count(lit(1)), sum(col("v"))).head
      assert((n1, s1) == (oracle.getLong(0), oracle.getLong(1)))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.unset("spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
      spark.conf.unset("spark.sql.sources.v2.bucketing.pushPartValues.enabled")
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("join over a scan that projects AWAY the bucket column must not crash") {
    // regression (r11, found by the q05b leg probes): filterAttributes
    // declared partition/sort columns unconditionally; when the query
    // prunes that column out of the read schema, Spark's PartitionPruning
    // resolves the declared attribute against the relation output and
    // THROWS ("Unable to resolve k given [v]"). The scan must only claim
    // runtime-filterable columns present in its pruned output.
    val (lake, _) = bucketedLake(4)
    val cat = s"bproj${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", lake.root)
    val dim = spark.range(0, 100).selectExpr("id * 3 AS dv")
    // b's bucket column k is projected away BEFORE the join on v
    val n = spark.table(s"$cat.main.b").select(col("v"))
      .join(dim, col("v") === col("dv")).count()
    assert(n == 100L) // v = 3*id for id<5000 ∩ dv = 3*id for id<100
  }

  test("chunked appends + mergeAdjacentFiles: bucket values survive, SPJ intact") {
    // BucketedFacts-style ingest leaves several files per bucket (one per
    // append chunk); compaction bin-packs WITHIN a hidden-partition value,
    // so the merged table must still carry per-file bucket values and the
    // co-bucketed join must still plan with zero exchanges
    val lake = new Lake(spark, Files.createTempDirectory("graft_bspjc").toString)
    def mk(name: String): Unit = {
      lake.createTable(s"main.$name", spark.range(0, 1).selectExpr(
        "id AS k", "id AS v").schema,
        partitionKeys = List(PartitionKey(BucketTransform(4), "k")))
      (0 until 3).foreach { i =>
        lake.append(s"main.$name",
          spark.range(i * 500L, (i + 1) * 500L).selectExpr("id % 200 AS k", "id AS v"))
      }
    }
    mk("ca"); mk("cb")
    val tid = { val st = lake.store.state()
      st.tableAt("main", "ca", st.currentSnapshotId).get.tableId }
    assert(lake.store.state().filesAt(tid,
      lake.store.state().currentSnapshotId).size == 12, "3 chunks x 4 buckets")
    lake.mergeAdjacentFiles("main.ca")
    val st = lake.store.state()
    val files = st.filesAt(tid, st.currentSnapshotId)
    assert(files.size == 4, s"one file per bucket after merge, got ${files.size}")
    assert(files.forall(_.partitionValues.contains("bucket[4](k)")))
    val cat = s"bspjc${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", lake.root)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = spark.sql(
        s"SELECT count(*) AS n FROM $cat.main.ca a JOIN $cat.main.cb b ON a.k = b.k")
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"merged bucketed join shuffled:\n$plan")
      // ids 0..1499, k = id % 200: k < 100 has 8 rows, k >= 100 has 7
      assert(q.collect().head.getLong(0) == 100L * 64 + 100L * 49)
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("per-table spj.mode: skew table splits while ordering table stays sort-free in ONE session") {
    // r14 (VERDICT r13 #2): the skew-split/ordering choice was a SESSION
    // conf, but the recorded operating rule is per-TABLE ("skew-split hot
    // tables, sort-elide uniform ones"). The catalog option `spj.mode`
    // narrows the session conf: "ordering" pins a table's key groups fused
    // (keeping its sort-elision report) even while
    // partiallyClusteredDistribution splits a skewed neighbor's hot bucket.
    // The session conf stays the master switch — Spark keys the OTHER
    // side's replication to it at planning, so the property can only
    // narrow, never widen.
    val lake = new Lake(spark, Files.createTempDirectory("graft_bmode").toString)
    // skewed pair: key 7 holds ~90% of the left side, ingested in 4 chunks
    val left = spark.range(0, 40000).selectExpr(
      "CASE WHEN id % 10 < 9 THEN 7L ELSE id % 64 END AS k", "id AS v")
    lake.createTable("main.hka", left.schema,
      partitionKeys = List(PartitionKey(BucketTransform(8), "k")))
    (0 until 4).foreach(c =>
      lake.append("main.hka", left.filter(expr(s"v % 4 = $c"))))
    val right = spark.range(0, 640).selectExpr("id % 64 AS k", "id AS w")
    lake.createTable("main.hkb", right.schema,
      partitionKeys = List(PartitionKey(BucketTransform(8), "k")))
    lake.append("main.hkb", right)
    // uniform sorted pair, pinned to ordering mode
    def mkSorted(name: String, rows: Long): Unit = {
      lake.createTable(s"main.$name", spark.range(0, 1).selectExpr(
        "id AS k", "id AS v").schema,
        partitionKeys = List(PartitionKey(BucketTransform(4), "k")),
        sortKeys = List(Meta.SortKey("k", ascending = true, nullsFirst = true)))
      lake.append(s"main.$name",
        spark.range(0, rows).selectExpr("id % 400 AS k", "id AS v"))
      lake.setOption("target_file_size", "16KB", Some(s"main.$name"))
      lake.rewriteSorted(s"main.$name")
      lake.setOption("spj.mode", "ordering", Some(s"main.$name"))
    }
    mkSorted("oa", 30000); mkSorted("ob", 15000)
    val cat = s"bmode${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", lake.root)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", "true")
    @volatile var tasks = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        tasks += sc.stageInfo.numTasks
    }
    spark.sparkContext.addSparkListener(listener)
    def countTasks(sql: String): (Int, Long, String) = {
      val q = spark.sql(sql)
      val plan = q.queryExecution.executedPlan.toString
      tasks = 0
      val n = q.collect().head.getLong(0)
      Thread.sleep(500) // listener bus drain
      (tasks, n, plan)
    }
    try {
      // with the conf ON session-wide: the UN-pinned skewed table splits
      // its hot bucket...
      val (tSkew, nSkew, pSkew) = countTasks(
        s"SELECT count(*) AS n FROM $cat.main.hka a JOIN $cat.main.hkb b ON a.k = b.k")
      assert(!pSkew.contains("Exchange hashpartitioning"), s"SPJ lost:\n$pSkew")
      // ...while in the SAME session the ordering-pinned table keeps fused
      // sorted groups: SMJ with zero sorts, zero exchanges
      val (tOrd, nOrd, pOrd) = countTasks(
        s"SELECT count(*) AS n FROM $cat.main.oa a JOIN $cat.main.ob b ON a.k = b.k")
      assert(!pOrd.contains("Exchange hashpartitioning"), s"SPJ lost:\n$pOrd")
      assert(!pOrd.contains("Sort ["),
        s"spj.mode=ordering table lost sort elision under the session conf:\n$pOrd")
      // every ob row's key matches exactly 30000/400 = 75 oa rows
      assert(nOrd == 75L * 15000)
      // pin the skewed table to ordering mode too: the split must stop
      lake.setOption("spj.mode", "ordering", Some("main.hka"))
      val (tPinned, nPinned, _) = countTasks(
        s"SELECT count(*) AS n FROM $cat.main.hka a JOIN $cat.main.hkb b ON a.k = b.k")
      assert(nPinned == nSkew, "results diverged after pinning")
      assert(tPinned < tSkew,
        s"ordering pin did not stop the hot-bucket split: $tSkew vs $tPinned tasks")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.unset("spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
      spark.conf.unset("spark.sql.sources.v2.bucketing.pushPartValues.enabled")
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("tableInfo surfaces the per-table SPJ recommendation from the file-size histogram") {
    // VERDICT r14 #6 (settled): the partially-clustered session conf is
    // Spark's master switch (it keys the OTHER side's replication at
    // planning), so a catalog option can only narrow it — what the engine
    // CAN do is tell the operator which tables want the session flip,
    // from the same histogram the scan's per-group split derives from
    val lake = new Lake(spark, Files.createTempDirectory("graft_spjrec").toString)
    val schema = spark.range(0, 1).selectExpr("id AS k", "id AS v").schema
    // uniform bucketed table → fused groups keep sort elision: "ordering"
    lake.createTable("main.u", schema,
      partitionKeys = List(PartitionKey(BucketTransform(4), "k")))
    lake.append("main.u", spark.range(0, 4000).selectExpr("id % 400 AS k", "id AS v"))
    // one key's bucket grows across chunked appends → "skew-split"; the
    // tiny target_file_size keeps the hot bucket MULTI-FILE through the
    // maintenance compaction below (the 100 TB shape: a hot key's bytes
    // exceed any one file) — a bucket vacuum can fuse back to one file
    // legitimately flips to "ordering", since a single file cannot split
    lake.createTable("main.h", schema,
      partitionKeys = List(PartitionKey(BucketTransform(4), "k")))
    lake.setOption("target_file_size", "64KB", Some("main.h"))
    lake.append("main.h", spark.range(0, 4000).selectExpr("id % 400 AS k", "id AS v"))
    (0 until 3).foreach(_ => lake.append("main.h",
      spark.range(0, 30000).selectExpr("CAST(7 AS BIGINT) AS k", "id AS v")))
    // unpartitioned → not SPJ-groupable → no recommendation
    lake.createTableAs("main.p", spark.range(0, 10).toDF("a"))
    val rec = lake.tableInfo().collect()
      .map(r => r.getString(2) -> Option(r.getString(8))).toMap
    assert(rec("u").contains("ordering"), s"uniform: ${rec("u")}")
    assert(rec("h").contains("skew-split"), s"skewed: ${rec("h")}")
    assert(rec("p").isEmpty, s"unpartitioned: ${rec("p")}")
    // the maintenance summary carries the operator count
    val summary = lake.maintain(expireOlderThanMs = Some(Long.MaxValue),
      deleteOlderThanMs = Some(0L), orphanOlderThanMs = Some(0L))
    assert(summary("spj_skew_split_recommended") >= 1L)
  }

  test("one null-bearing sorted file per bucket keeps the ordering report; two forfeit it") {
    // r14 (VERDICT r13 #7): a NULL run sorts to a deterministic end per the
    // stamped null order. ONE null-bearing file placed at that end keeps
    // the multi-file concatenation physically ordered; a second one cannot
    // also sit there, so the report must drop (sorts return, results stay
    // right — inner-join null keys never match anyway).
    val lake = new Lake(spark, Files.createTempDirectory("graft_bnull").toString)
    def mk(name: String, rows: Long): Unit = {
      lake.createTable(s"main.$name", spark.range(0, 1).selectExpr(
        "id AS k", "id AS v").schema,
        partitionKeys = List(PartitionKey(BucketTransform(4), "k")),
        sortKeys = List(Meta.SortKey("k", ascending = true, nullsFirst = true)))
      lake.append(s"main.$name",
        spark.range(0, rows).selectExpr("id % 400 AS k", "id AS v"))
      lake.setOption("target_file_size", "16KB", Some(s"main.$name"))
      lake.rewriteSorted(s"main.$name")
    }
    mk("na", 60000); mk("nb", 30000)
    val cat = s"bnull${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", lake.root)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def q() = spark.sql(
        s"SELECT count(*) AS n FROM $cat.main.na a JOIN $cat.main.nb b ON a.k = b.k")
      val expected = 400L * 150 * 75
      assert(!q().queryExecution.executedPlan.toString.contains("Sort ["))
      // ONE all-null stamped chunk: all its rows hash to one bucket
      // (hash(NULL) is a constant), adding one null-bearing sorted file
      // there — nullsFirst pins it to the front, the report survives
      val (sn, tn) = lake.schemaOf("main.na")
      def appendNulls(): Unit = graft.lake.LakeWrite.append(spark, lake.store, sn, tn,
        spark.range(0, 50).selectExpr("CAST(NULL AS BIGINT) AS k", "id AS v"),
        sorted = true)
      appendNulls()
      val p1 = q().queryExecution.executedPlan.toString
      assert(!p1.contains("Sort ["),
        s"a single null-bearing sorted file dropped the ordering report:\n$p1")
      assert(q().head.getLong(0) == expected, "null keys must not join")
      // a SECOND null-bearing file in the same bucket: two null runs cannot
      // both sit at the null end — the report must drop
      appendNulls()
      val p2 = q().queryExecution.executedPlan.toString
      assert(p2.contains("Sort ["),
        s"two null-bearing files kept a false ordering report:\n$p2")
      assert(q().head.getLong(0) == expected)
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("range-aware compaction restores the ordering report on out-of-order sorted ingest") {
    // r14 (VERDICT r13 #3): bin-packing by fileId merges files whose
    // leading-key ranges INTERLEAVE when ingest wasn't range-correlated
    // (late data), producing overlapping outputs that kill the multi-file
    // sort-elision report until a full rewriteSorted. Packing each
    // partition's small files by leading-key min instead (same I/O)
    // merges range-adjacent files, so the outputs are disjoint and the
    // report comes back — routine maintenance REPAIRS the layout.
    val lake = new Lake(spark, Files.createTempDirectory("graft_brap").toString)
    def mk(name: String): Unit = {
      lake.createTable(s"main.$name", spark.range(0, 1).selectExpr(
        "id AS k", "id AS v").schema,
        partitionKeys = List(PartitionKey(BucketTransform(2), "k")),
        sortKeys = List(Meta.SortKey("k", ascending = true, nullsFirst = true)))
      val (sn, tn) = lake.schemaOf(s"main.$name")
      // four sorted chunked appends in NON-range order: fileId order per
      // bucket is [200,300),[0,100),[300,400),[100,200)
      Seq((200L, 300L), (0L, 100L), (300L, 400L), (100L, 200L)).foreach {
        case (lo, hi) =>
          graft.lake.LakeWrite.append(spark, lake.store, sn, tn,
            spark.range(lo * 25, hi * 25).selectExpr("id % 400 AS k", "id AS v")
              .filter(col("k") >= lo && col("k") < hi)
              .orderBy(col("k")),
            sorted = true)
      }
    }
    mk("ra"); mk("rb")
    val st0 = lake.store.state()
    val e = st0.tableAt("main", "ra", st0.currentSnapshotId).get
    val files0 = st0.filesAt(e.tableId, st0.currentSnapshotId)
    assert(files0.groupBy(_.partitionValues).forall(_._2.size == 4),
      s"fixture expects 4 files per bucket, got ${files0.groupBy(_.partitionValues).map(_._2.size)}")
    // target sized from the REAL file bytes so bins hold exactly two files
    val m = files0.map(_.fileSizeBytes).max
    Seq("ra", "rb").foreach(t =>
      lake.setOption("target_file_size", s"${(m * 2.5).toLong}B", Some(s"main.$t")))
    val cat = s"brap${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", lake.root)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def q() = spark.sql(
        s"SELECT count(*) AS n FROM $cat.main.ra a JOIN $cat.main.rb b ON a.k = b.k")
      val expected = q().head.getLong(0)
      // before compaction the chunk ranges interleave in fileId order but
      // ARE pairwise disjoint — the report already orders them; the kill
      // case is what COMPACTION does to them. fileId-order packing merges
      // non-adjacent ranges → overlapping outputs → sorts return:
      spark.conf.set("spark.graft.lake.rangeAwareCompaction", "false")
      lake.mergeAdjacentFiles("main.rb")
      val pBad = q().queryExecution.executedPlan.toString
      assert(pBad.contains("Sort ["),
        s"fileId-order compaction unexpectedly kept disjoint outputs:\n$pBad")
      assert(q().head.getLong(0) == expected)
      // range-aware packing merges range-ADJACENT files → outputs stay
      // disjoint → the report survives compaction on `ra`; and compacting
      // the damaged `rb` again REPAIRS it (its two overlapping outputs +
      // nothing else exceed the bin, so re-split by range)
      spark.conf.unset("spark.graft.lake.rangeAwareCompaction")
      lake.mergeAdjacentFiles("main.ra")
      val st1 = lake.store.state()
      val filesA = st1.filesAt(e.tableId, st1.currentSnapshotId)
      assert(filesA.groupBy(_.partitionValues).forall(_._2.size == 2),
        "range-aware compaction should leave 2 files per bucket")
      // rb still has overlapping outputs → join still sorts; fix rb too
      // (its merged files are now target-sized, so re-merge won't touch
      // them: restore via rewriteSorted — the documented full repair)
      lake.rewriteSorted("main.rb")
      val pGood = q().queryExecution.executedPlan.toString
      assert(!pGood.contains("Sort ["),
        s"range-aware compacted ra (+ rewritten rb) still sorts:\n$pGood")
      assert(q().head.getLong(0) == expected)
    } finally {
      spark.conf.unset("spark.graft.lake.rangeAwareCompaction")
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("SPJ survives live positional deletes (delete-aware key-grouped tier)") {
    // r14 (VERDICT r13 stretch #9): a DELETE on a bucketed table must not
    // silently forfeit the storage-partitioned join until rewrite — the
    // delete-aware scan reports the same KeyGroupedPartitioning, applying
    // positions executor-locally inside each key group's readers
    val lake = new Lake(spark, Files.createTempDirectory("graft_bdel").toString)
    def mk(name: String, rows: Long): Unit = {
      lake.createTable(s"main.$name", spark.range(0, 1).selectExpr(
        "id AS k", "id AS v").schema,
        partitionKeys = List(PartitionKey(BucketTransform(8), "k")))
      lake.append(s"main.$name",
        spark.range(0, rows).selectExpr("id % 500 AS k", "id AS v"))
    }
    mk("da2", 2000); mk("db2", 1500)
    // live positional deletes on BOTH sides, not vacuumed
    lake.delete("main.da2", col("v") % 4 === 0)
    lake.delete("main.db2", col("v") % 5 === 0)
    val st = lake.store.state()
    val e = st.tableAt("main", "da2", st.currentSnapshotId).get
    assert(st.deleteFilesAt(e.tableId, st.currentSnapshotId).nonEmpty,
      "fixture must carry live delete files")
    val cat = s"bdel${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", lake.root)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = spark.sql(s"SELECT count(*) AS n " +
        s"FROM $cat.main.da2 a JOIN $cat.main.db2 b ON a.k = b.k")
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"live deletes forfeited SPJ:\n$plan")
      // oracle outside the lake: same data, same deletes
      val left = spark.range(0, 2000).selectExpr("id % 500 AS k", "id AS v")
        .filter(col("v") % 4 =!= 0)
      val right = spark.range(0, 1500).selectExpr("id % 500 AS k", "id AS v")
        .filter(col("v") % 5 =!= 0)
      assert(q.head.getLong(0) == left.join(right, "k").count())

      // SORTED buckets keep the ordering report through a live delete
      // too: position skipping preserves file order, so the SMJ plans
      // sort-free while the merge-on-read overlay is live
      def mkSorted(name: String, rows: Long): Unit = {
        lake.createTable(s"main.$name", spark.range(0, 1).selectExpr(
          "id AS k", "id AS v").schema,
          partitionKeys = List(PartitionKey(BucketTransform(8), "k")),
          sortKeys = List(Meta.SortKey("k", ascending = true, nullsFirst = true)))
        lake.append(s"main.$name",
          spark.range(0, rows).selectExpr("id % 500 AS k", "id AS v"))
        lake.rewriteSorted(s"main.$name")
      }
      mkSorted("sda", 2000); mkSorted("sdb", 1500)
      lake.delete("main.sda", col("v") % 4 === 0)
      val q2 = spark.sql(s"SELECT count(*) AS n " +
        s"FROM $cat.main.sda a JOIN $cat.main.sdb b ON a.k = b.k")
      val plan2 = q2.queryExecution.executedPlan.toString
      assert(!plan2.contains("Exchange hashpartitioning"),
        s"live delete on sorted buckets forfeited SPJ:\n$plan2")
      assert(!plan2.contains("Sort ["),
        s"live delete on sorted buckets forfeited the ordering report:\n$plan2")
      assert(q2.head.getLong(0) ==
        left.join(spark.range(0, 1500).selectExpr("id % 500 AS k"), "k").count())
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("DPP: a runtime IN filter on the bucketed key re-prunes the file list") {
    val (lake, _) = bucketedLake(8)
    val st = lake.store.state()
    val e = st.tableAt("main", "b", st.currentSnapshotId).get
    val files = st.filesAt(e.tableId, st.currentSnapshotId)
    val ct = st.columnsAt(e.tableId, st.currentSnapshotId)
      .map(c => c.name -> c.dataType).toMap
    val keys = st.partitionKeysAt(e.tableId, st.currentSnapshotId)
    val kept = Pruning.prune(files, st.statsFor, ct, keys,
      Seq(org.apache.spark.sql.sources.In("k", Array(5L, 6L))))
    assert(kept.size <= 2 && kept.nonEmpty,
      s"IN(2 keys) must keep at most their 2 buckets, kept ${kept.size}")
  }

  test("in-place raw→bucketed migration: setPartition + rewriteSorted flips the plan") {
    // VERDICT r15 #2: setPartition applies to FUTURE files only
    // (partition.sql:43-57), so an existing raw fact migrates in place via
    // setPartition(bucket[N]) + setSort + rewriteSorted — the rewrite's
    // writer groups by the LIVE spec (LakeWrite partitioned branch), so one
    // range shuffle absorbs every pre-spec file into the bucketed layout
    // and the SAME tables' join flips from both-sides-shuffle to the
    // storage-partitioned shape.
    val lake = new Lake(spark, Files.createTempDirectory("graft_bmig").toString)
    def mkRaw(name: String, rows: Long): Unit = {
      lake.createTable(s"main.$name",
        spark.range(0, 1).selectExpr("id AS k", "id AS v").schema)
      lake.append(s"main.$name",
        spark.range(0, rows).selectExpr("id % 500 AS k", "id AS v"))
    }
    mkRaw("ma", 60000); mkRaw("mb", 30000)
    val cat = s"bmig${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", lake.root)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def q() = spark.sql(
        s"SELECT count(*) AS n FROM $cat.main.ma a JOIN $cat.main.mb b ON a.k = b.k")
      val expected = 500L * 120 * 60
      val before = q().queryExecution.executedPlan.toString
      assert(before.contains("Exchange hashpartitioning"),
        s"raw join should shuffle before migration:\n$before")
      assert(q().head.getLong(0) == expected)
      def sums() = spark.sql(s"SELECT sum(a.v * b.v) AS s " +
        s"FROM $cat.main.ma a JOIN $cat.main.mb b ON a.k = b.k").head.getLong(0)
      val rawSums = sums()

      Seq("main.ma", "main.mb").foreach { t =>
        lake.setPartition(t, List(PartitionKey(BucketTransform(8), "k")))
        lake.setSort(t,
          List(Meta.SortKey("k", ascending = true, nullsFirst = true)))
        lake.rewriteSorted(t)
      }

      // every live file now carries the bucket value (none left behind on
      // the old layout), so the scan reports KeyGroupedPartitioning
      val st = lake.store.state()
      Seq("ma", "mb").foreach { n =>
        val e = st.tableAt("main", n, st.currentSnapshotId).get
        val fs = st.filesAt(e.tableId, st.currentSnapshotId)
        assert(fs.nonEmpty && fs.forall(_.partitionValues.contains("bucket[8](k)")),
          s"$n: ${fs.count(!_.partitionValues.contains("bucket[8](k)"))} of " +
            s"${fs.size} files missed the new layout")
      }
      val after = q().queryExecution.executedPlan.toString
      assert(!after.contains("Exchange hashpartitioning"),
        s"join must plan ZERO exchanges after the in-place migration:\n$after")
      assert(q().head.getLong(0) == expected)
      assert(sums() == rawSums, "migrated join disagrees with the raw join")
      // and a point lookup now prunes to the literal's one bucket
      val e = st.tableAt("main", "ma", st.currentSnapshotId).get
      val ct = st.columnsAt(e.tableId, st.currentSnapshotId)
        .map(c => c.name -> c.dataType).toMap
      val kept = Pruning.prune(st.filesAt(e.tableId, st.currentSnapshotId),
        st.statsFor, ct, st.partitionKeysAt(e.tableId, st.currentSnapshotId),
        Seq(EqualTo("k", 123L)))
      val total = st.filesAt(e.tableId, st.currentSnapshotId).size
      assert(kept.size < total,
        s"post-migration point filter must prune buckets, kept ${kept.size}/$total")
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
