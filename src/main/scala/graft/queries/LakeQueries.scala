package graft.queries

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.connector.catalog.{Identifier, TableChange}
import graft.lake._
import graft.lake.Meta.{PartitionKey, SortKey}

/** Oracle-checked query surface for the lakehouse layer (SURVEY.md §2.A).
  *
  * Each entry builds a FRESH lake in a private temp dir, drives a scripted
  * op sequence over driver-provided testdata, and returns a deterministic
  * result; the oracle SQL computes the same expected outcome directly from
  * the original parquet tables (post-DML table state is a pure function of
  * the inputs). Snapshot ids are deterministic because every entry starts
  * from snapshot 0; wall-clock fields never appear in results.
  *
  * Reference contracts exercised: basic.sql (l01, l03), ctas.sql (l02),
  * dml_row_count.sql (l04, l05), time_travel.sql (l06, l07),
  * snapshots.sql (l08), list_files.sql/table_info (l09),
  * data_change_feed.sql (l10), partition.sql (l11), vacuum.sql (l12),
  * data_inlining_row_limit.sql (l13), freeze.sql/frozen_fdw.sql (l14),
  * readme_examples.sql CSV ingest (l15), sorted_table.sql (l16),
  * options.sql (l17), ddl drop/rename (l18), gucs.sql as-of conf (l19),
  * cleanup_old_files (l20).
  */
object LakeQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** fresh lake in a private temp dir (shared with StreamOps entries) */
  private[queries] def freshLake(s: SparkSession): Lake = {
    val dir = Files.createTempDirectory("graft_lakeq")
    // bench/verify create one lake per invocation; reap them on JVM exit
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => LakeWrite.deleteRecursively(dir.toString)))
    // SPARK_GRAFT_JDBC routes EVERY registry lake through the JDBC
    // metadata store: "derby" gives each lake its own embedded database
    // (the isolation the per-lake temp dirs already provide), any other
    // value is used as the literal shared-database URL. This runs the
    // whole registry over the unique-key-CAS backend (VERDICT r11 #5; the
    // PG dialect itself is proven by scripts/pg_catalog_check.py replay —
    // no PG JDBC driver jar is resolvable in the offline build env).
    sys.env.get("SPARK_GRAFT_JDBC").filter(_.nonEmpty) match {
      case Some("derby") =>
        val db = Files.createTempDirectory("graft_lakeq_db")
        Runtime.getRuntime.addShutdownHook(
          new Thread(() => LakeWrite.deleteRecursively(db.toString)))
        new Lake(s, dir.toString,
          Some(new JdbcMetadataStore(dir.toString, s"jdbc:derby:$db/cat;create=true")))
      case Some(url) =>
        new Lake(s, dir.toString, Some(new JdbcMetadataStore(dir.toString, url)))
      case None => new Lake(s, dir.toString)
    }
  }

  private def newLake(s: SparkSession): Lake = freshLake(s)

  /** register `cat` over `lake` — carries the jdbc option along when the
    * lake's metadata lives in a shared database */
  private[queries] def wireCatalog(s: SparkSession, cat: String, lake: Lake): Unit = {
    s.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", lake.root)
    lake.jdbcUrl.foreach(u => s.conf.set(s"spark.sql.catalog.$cat.jdbc", u))
  }

  /** root (+ jdbc) options for stream sources/sinks over `lake` */
  private[queries] def lakeOpts(lake: Lake): Map[String, String] =
    Map("root" -> lake.root) ++ lake.jdbcUrl.map("jdbc" -> _)

  /** TVF root argument for `lake` (`<root>` or `<root>;jdbc=<url>`) */
  private[queries] def rootArg(lake: Lake): String =
    lake.root + lake.jdbcUrl.map(u => s";jdbc=$u").getOrElse("")

  private def catalogFor(lake: Lake): LakeCatalog = {
    val c = new LakeCatalog()
    val m = new java.util.HashMap[String, String]()
    m.put("root", lake.root)
    lake.jdbcUrl.foreach(m.put("jdbc", _))
    c.initialize("lq", new CaseInsensitiveStringMap(m))
    c
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- A8+A3+A2: create → append → filtered snapshot scan ---------------
    "l01_create_scan" -> ((s, dir) => {
      val lake = newLake(s)
      val nation = t(s, dir, "nation")
      lake.createTable("main.nat", nation.schema)
      lake.append("main.nat", nation)
      lake.table("main.nat").filter(col("n_regionkey") === 2).orderBy("n_nationkey")
    }),

    // ---- A4 CTAS + aggregation over the lake table ------------------------
    "l02_ctas" -> ((s, dir) => {
      val lake = newLake(s)
      lake.createTableAs("main.ords", t(s, dir, "orders").filter(col("o_orderkey") < 2000))
      lake.table("main.ords")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
        .orderBy("o_orderstatus")
    }),

    // ---- A3: multiple appends accumulate ----------------------------------
    "l03_multi_append" -> ((s, dir) => {
      val lake = newLake(s)
      val region = t(s, dir, "region")
      lake.createTable("main.reg", region.schema)
      lake.append("main.reg", region)
      lake.append("main.reg", region.select(
        (col("r_regionkey") + 10).cast(IntegerType).as("r_regionkey"), col("r_name")))
      lake.table("main.reg").orderBy("r_regionkey")
    }),

    // ---- A3 DELETE via positional delete files ----------------------------
    "l04_delete" -> ((s, dir) => {
      val lake = newLake(s)
      lake.createTableAs("main.cust", t(s, dir, "customer").filter(col("c_custkey") < 1500))
      lake.delete("main.cust", col("c_mktsegment") === "BUILDING")
      lake.table("main.cust")
        .agg(count(lit(1)).as("n_rows"),
          min("c_custkey").as("min_key"), max("c_custkey").as("max_key"))
    }),

    // ---- A3 UPDATE = delete + re-insert with preserved row ids ------------
    "l05_update" -> ((s, dir) => {
      val lake = newLake(s)
      lake.createTableAs("main.nat", t(s, dir, "nation"))
      lake.update("main.nat", col("n_regionkey") === 0, Map("n_name" -> lit("ZERO")))
      lake.table("main.nat").select("n_nationkey", "n_name").orderBy("n_nationkey")
    }),

    // ---- A12 time travel by version ---------------------------------------
    "l06_time_travel" -> ((s, dir) => {
      val lake = newLake(s)
      val region = t(s, dir, "region")
      lake.createTable("main.reg", region.schema) // snapshot 0
      val v1 = lake.append("main.reg", region) // snapshot 1
      lake.append("main.reg", region.select(
        (col("r_regionkey") + 10).cast(IntegerType).as("r_regionkey"), col("r_name")))
      lake.table("main.reg", Some(v1)).orderBy("r_regionkey")
    }),

    // ---- A10 schema evolution: old files null-fill new columns ------------
    "l07_schema_evolution" -> ((s, dir) => {
      val lake = newLake(s)
      val nation = t(s, dir, "nation").select("n_nationkey", "n_name")
      lake.createTable("main.ev", nation.schema)
      lake.append("main.ev", nation)
      catalogFor(lake).alterTable(Identifier.of(Array("main"), "ev"),
        TableChange.addColumn(Array("flag"), IntegerType))
      lake.append("main.ev", nation.select(
        (col("n_nationkey") + 100).cast(IntegerType).as("n_nationkey"),
        col("n_name"), lit(1).as("flag")))
      lake.table("main.ev").orderBy("n_nationkey")
    }),

    // ---- A14 snapshots() TVF ----------------------------------------------
    "l08_snapshots" -> ((s, dir) => {
      val lake = newLake(s)
      val nation = t(s, dir, "nation")
      lake.createTable("main.nat", nation.schema)
      lake.append("main.nat", nation)
      lake.delete("main.nat", col("n_regionkey") === 0)
      lake.snapshots().select("snapshot_id", "changes").orderBy("snapshot_id")
    }),

    // ---- A15 table_info() TVF ---------------------------------------------
    "l09_table_info" -> ((s, dir) => {
      val lake = newLake(s)
      val nation = t(s, dir, "nation")
      lake.createTable("main.nat", nation.schema)
      lake.append("main.nat", nation.coalesce(1))
      lake.delete("main.nat", col("n_regionkey") === 0)
      lake.tableInfo().select("schema_name", "table_name", "file_count",
        "row_count", "delete_file_count", "inlined_row_count")
    }),

    // ---- A16 change data feed incl. update pre/post images ----------------
    "l10_change_feed" -> ((s, dir) => {
      val lake = newLake(s)
      val nation = t(s, dir, "nation")
      lake.createTable("main.nat", nation.schema)
      lake.append("main.nat", nation)
      lake.delete("main.nat", col("n_regionkey") === 4)
      lake.update("main.nat", col("n_regionkey") === 3, Map("n_name" -> lit("X")))
      lake.tableChanges("main.nat", 0L, lake.currentSnapshot())
        .select("_change_type", "n_nationkey", "n_name")
        .orderBy("_change_type", "n_nationkey")
    }),

    // ---- A21 hidden partitioning: per-file partition values ---------------
    "l11_partition_files" -> ((s, dir) => {
      val lake = newLake(s)
      val orders = t(s, dir, "orders").filter(col("o_orderkey") < 5000)
      lake.createTable("main.po", orders.schema,
        partitionKeys = List(PartitionKey("year", "o_orderdate")))
      lake.append("main.po", orders)
      lake.listFiles("main.po").select("partition_values", "row_count")
        .orderBy("partition_values")
    }),

    // ---- A17/A18/A28 vacuum: merge + rewrite past delete threshold --------
    "l12_vacuum" -> ((s, dir) => {
      val lake = newLake(s)
      val region = t(s, dir, "region")
      lake.createTable("main.r3", region.schema)
      lake.setSort("main.r3", List(SortKey("r_regionkey", ascending = true, nullsFirst = false)))
      (1 to 3).foreach(_ => lake.append("main.r3", region))
      lake.delete("main.r3", col("r_regionkey") === 0)
      lake.vacuum("main.r3", 0.1)
      val info = lake.tableInfo().select("file_count", "delete_file_count")
      lake.table("main.r3").crossJoin(info)
        .orderBy("r_regionkey", "r_name")
    }),

    // ---- A5/A20 inline log + DML over inlined rows ------------------------
    "l13_inline" -> ((s, dir) => {
      val lake = newLake(s)
      lake.createTable("main.il", StructType(Seq(
        StructField("a", IntegerType), StructField("b", IntegerType))))
      lake.setOption("data_inlining_row_limit", "100", Some("main.il"))
      lake.insertRows("main.il", Seq(Seq(1, 10), Seq(2, 20)))
      lake.insertRows("main.il", Seq(Seq(3, 30)))
      lake.delete("main.il", col("a") === 2)
      val info = lake.tableInfo().select("file_count", "inlined_row_count")
      lake.table("main.il").crossJoin(info).orderBy("a")
    }),

    // ---- A24/A25 freeze + read-only frozen mount --------------------------
    "l14_freeze_mount" -> ((s, dir) => {
      val lake = newLake(s)
      val nation = t(s, dir, "nation").filter(col("n_regionkey") <= 1)
      lake.createTable("main.nat", nation.schema)
      lake.append("main.nat", nation)
      val frozenDir = Files.createTempDirectory("graft_frozenq").toString
      // mount-only freeze: the frozen mount reads the JSON manifest +
      // views.sql, so skip the 13-dataset parquet catalog dump (l36/l38
      // exercise the dump + import loop with parquetCatalog on)
      lake.freeze(frozenDir, parquetCatalog = false)
      val c = new LakeCatalog()
      val m = new java.util.HashMap[String, String]()
      m.put("frozen", frozenDir)
      c.initialize("fz", new CaseInsensitiveStringMap(m))
      c.loadTable(Identifier.of(Array("main"), "nat"))
        .asInstanceOf[LakeTable].scanDF(s)
        .orderBy("n_nationkey")
    }),

    // ---- §2.B CSV ingest (readme_examples.sql:25-27) ----------------------
    "l15_csv_ingest" -> ((s, dir) => {
      val lake = newLake(s)
      val nation = t(s, dir, "nation")
      val csvDir = Files.createTempDirectory("graft_csv").toString + "/nation"
      nation.write.option("header", "true").mode("overwrite").csv(csvDir)
      val back = s.read.option("header", "true").schema(nation.schema).csv(csvDir)
      lake.createTableAs("main.natcsv", back)
      lake.table("main.natcsv").orderBy("n_nationkey")
    }),

    // ---- A22 sorted tables: compaction applies the declared sort order ----
    // (reference src/pgducklake_sorted_by.cpp:64-385, sorted_table.sql).
    // Physical row order is observable through the scan's position column.
    "l16_sorted_table" -> ((s, dir) => {
      val lake = newLake(s)
      val region = t(s, dir, "region")
      lake.createTable("main.sr", region.schema)
      lake.setSort("main.sr", List(SortKey("r_name", ascending = false, nullsFirst = false)))
      (1 to 3).foreach(_ => lake.append("main.sr", region))
      lake.mergeAdjacentFiles("main.sr")
      lake.tableWithRowMeta("main.sr")
        .select(col(LakeRead.PosCol).as("pos"), col("r_regionkey"), col("r_name"))
        .orderBy("pos")
    }),

    // ---- A23 options surface (docs/settings.md, options.sql): set_option
    // persists table/global scoped tags; parquet_compression is honored by
    // the write path (codec asserted in LakeSpec) --------------------------
    "l17_options" -> ((s, dir) => {
      val lake = newLake(s)
      val region = t(s, dir, "region")
      lake.createTable("main.o", region.schema)
      lake.setOption("parquet_compression", "zstd", Some("main.o"))
      lake.setOption("data_inlining_row_limit", "100")
      lake.append("main.o", region)
      val cnt = lake.table("main.o").agg(count(lit(1)).as("n_rows"))
      lake.options().crossJoin(cnt).orderBy("scope", "key")
    }),

    // ---- A9 dropTable + rename (src/pgducklake_table.cpp:704-937) ---------
    "l18_drop_rename" -> ((s, dir) => {
      val lake = newLake(s)
      lake.createTableAs("main.a", t(s, dir, "region"))
      lake.createTableAs("main.b", t(s, dir, "nation"))
      val cat = catalogFor(lake)
      cat.dropTable(Identifier.of(Array("main"), "a"))
      cat.renameTable(Identifier.of(Array("main"), "b"), Identifier.of(Array("main"), "c"))
      val agg = lake.table("main.c").agg(count(lit(1)).as("n"),
        min("n_nationkey").as("min_k"), max("n_nationkey").as("max_k"))
      lake.tableInfo().select("schema_name", "table_name", "row_count").crossJoin(agg)
    }),

    // ---- A13 session-wide as-of conf (ducklake.as_of_timestamp GUC,
    // src/pgducklake_guc.cpp:22,43-47): the conf pins reads made under it;
    // later reads see current state -----------------------------------------
    "l19_session_asof" -> ((s, dir) => {
      val lake = newLake(s)
      val region = t(s, dir, "region")
      lake.createTable("main.r", region.schema)
      val v1 = lake.append("main.r", region)
      lake.append("main.r", region.select(
        (col("r_regionkey") + 10).cast(IntegerType).as("r_regionkey"), col("r_name")))
      s.conf.set("spark.graft.lake.asOfSnapshot", v1.toString)
      val old = try lake.table("main.r")
        finally s.conf.unset("spark.graft.lake.asOfSnapshot")
      old.withColumn("src", lit("asof"))
        .unionByName(lake.table("main.r").withColumn("src", lit("current")))
        .orderBy("src", "r_regionkey")
    }),

    // ---- A19 cleanup_old_files (src/pgducklake_functions.cpp:142-203):
    // compaction schedules the replaced files; cleanup physically removes
    // them and clears the schedule ------------------------------------------
    "l20_cleanup" -> ((s, dir) => {
      val lake = newLake(s)
      val region = t(s, dir, "region")
      lake.createTable("main.g", region.schema)
      (1 to 3).foreach(_ => lake.append("main.g", region))
      lake.mergeAdjacentFiles("main.g")
      lake.cleanupOldFiles()
      val st = lake.store.state()
      val tid = st.tableAt("main", "g", st.currentSnapshotId).get.tableId
      val dataDir = java.nio.file.Paths.get(LakeWrite.tableDir(lake.root, tid), "data")
      val listing = Files.list(dataDir)
      val onDisk = try listing.filter(p => p.toString.endsWith(".parquet")).count()
        finally listing.close()
      lake.table("main.g")
        .withColumn("files_on_disk", lit(onDisk))
        .withColumn("scheduled_remaining", lit(st.scheduledDeletions.size.toLong))
        .orderBy("r_regionkey", "r_name")
    }),

    // ---- A17 bin-packed compaction (ducklake_merge_adjacent_files,
    // src/pgducklake_vacuum.cpp:73-86): only files below target_file_size
    // are merged; the big file survives untouched -------------------------
    "l22_binpack_compaction" -> ((s, dir) => {
      val lake = newLake(s)
      val region = t(s, dir, "region")
      lake.createTable("main.bp", StructType(Seq(
        StructField("k", LongType), StructField("v", StringType))))
      lake.setOption("target_file_size", "64KB", Some("main.bp"))
      // one big file: 2000 incompressible rows per region row (≫ 64 KB)
      lake.append("main.bp", region
        .select(col("r_regionkey").cast(LongType).as("rk"),
          explode(sequence(lit(1), lit(2000))).as("i"))
        .select((col("rk") * 2000 + col("i").cast(LongType)).as("k"),
          md5(concat(col("rk"), lit(":"), col("i"))).as("v"))
        .coalesce(1))
      // four small files
      (0 to 3).foreach(j => lake.append("main.bp",
        region.filter(col("r_regionkey") === j)
          .select((col("r_regionkey") + 100000).cast(LongType).as("k"),
            col("r_name").as("v")).coalesce(1)))
      lake.mergeAdjacentFiles("main.bp")
      val agg = lake.table("main.bp")
        .agg(count(lit(1)).as("n_rows"), sum("k").as("sum_k"))
      lake.tableInfo().select("file_count").crossJoin(agg)
    }),

    // ---- A20 flush_inlined_data (src/pgducklake_functions.cpp:213-266,
    // data_inlining_row_limit.sql Test 6): inline rows move to parquet,
    // file_count 0→1, inlined_row_count →0, rows intact ---------------------
    "l23_flush_inline" -> ((s, dir) => {
      val lake = newLake(s)
      lake.createTable("main.fi", StructType(Seq(
        StructField("a", IntegerType), StructField("b", IntegerType))))
      lake.setOption("data_inlining_row_limit", "100", Some("main.fi"))
      lake.insertRows("main.fi", Seq(Seq(1, 10), Seq(2, 20), Seq(3, 30)))
      val before = lake.tableInfo().select(col("file_count").as("fc_before"),
        col("inlined_row_count").as("inl_before"))
      lake.flushInlinedData("main.fi")
      val after = lake.tableInfo().select(col("file_count").as("fc_after"),
        col("inlined_row_count").as("inl_after"))
      lake.table("main.fi").crossJoin(before).crossJoin(after).orderBy("a")
    }),

    // ---- §2.B SQL UPDATE statement (dml_row_count.sql UPDATE tag):
    // resolves through the DSv2 catalog, lowered onto the native
    // positional-delete update by graft.lake.ResolveLakeUpdate -------------
    "l24_sql_update" -> ((s, dir) => {
      val lake = newLake(s)
      lake.createTableAs("main.nu", t(s, dir, "nation"))
      val cat = s"lqup${System.nanoTime()}"
      wireCatalog(s, cat, lake)
      val n = s.sql(s"UPDATE $cat.main.nu SET n_name = concat(n_name, '!') " +
        "WHERE n_regionkey = 1").collect().head.getLong(0)
      lake.table("main.nu")
        .select(col("n_nationkey"), col("n_name"), lit(n).as("n_updated"))
        .orderBy("n_nationkey")
    }),

    // ---- A2/A3 delete-aware native scan: a catalog SQL read over a table
    // with live positional deletes runs scan-local position skipping (the
    // delete set never joins/broadcasts) and must agree with the oracle --
    "l29_native_delete_scan" -> ((s, dir) => {
      val lake = newLake(s)
      lake.createTableAs("main.od", t(s, dir, "orders"))
      lake.delete("main.od", col("o_orderstatus") === "F")
      val cat = s"lqnd${System.nanoTime()}"
      wireCatalog(s, cat, lake)
      s.sql(
        s"""SELECT o_orderpriority, count(*) AS n,
           |  CAST(sum(o_orderkey) AS BIGINT) AS keysum
           |FROM $cat.main.od WHERE o_orderkey > 100
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }),

    // ---- maintenance: consolidate per-DML delete overlays into one sorted
    // delete file (scan tasks probe one footer instead of one per DML) ----
    "l30_delete_consolidation" -> ((s, dir) => {
      val lake = newLake(s)
      lake.createTableAs("main.dc", t(s, dir, "nation"))
      lake.delete("main.dc", col("n_regionkey") === 0)
      lake.delete("main.dc", col("n_regionkey") === 4)
      lake.consolidateDeleteFiles("main.dc")
      val info = lake.tableInfo().select(col("delete_file_count"))
      lake.table("main.dc").crossJoin(info).orderBy("n_nationkey")
    }),

    // ---- metadata TVFs get_partition / get_sort / last_committed_snapshot
    // (sql/pg_ducklake--0.1.0.sql:214-300; sorted_table.sql Tests 1-4,
    // snapshots.sql Test 2) plus reset_partition / reset_sort -------------
    "l31_sort_partition_meta" -> ((s, dir) => {
      val lake = newLake(s)
      lake.createTable("main.sp", t(s, dir, "orders").schema)
      lake.setPartition("main.sp", List(PartitionKey("year", "o_orderdate")))
      lake.setSort("main.sp", List(
        SortKey("o_orderdate", ascending = true, nullsFirst = true),
        SortKey("o_totalprice", ascending = false, nullsFirst = false)))
      val parts = lake.getPartition("main.sp")
        .select(lit("partition").as("kind"), col("partition_key_index").as("idx"),
          col("column_name").as("name"), col("transform").as("detail"))
      // the SQL TVF route for sort keys (extensions registered in Tables)
      val sorts = s.sql(s"SELECT * FROM graft_get_sort('${rootArg(lake)}', 'main.sp')")
        .select(lit("sort").as("kind"), col("sort_key_index").as("idx"),
          col("expression").as("name"),
          concat_ws(" ", col("direction"), col("null_order")).as("detail"))
      lake.resetSort("main.sp")
      lake.resetPartition("main.sp")
      // DROP INDEX / reset leaves no live keys (sorted_table.sql Test 4)
      val nAfter = lake.getPartition("main.sp").count() + lake.getSort("main.sp").count()
      val lcs = lake.lastCommittedSnapshot()
      val lcsRow = lcs.select(lit("last_committed").as("kind"), lit(nAfter).as("idx"),
        lit(if (lcs.count() == 1L) "one_row" else "bad_count").as("name"),
        (col("snapshot_id") === lit(lake.currentSnapshot())).cast("string").as("detail"))
      parts.unionByName(sorts).unionByName(lcsRow).orderBy("kind", "idx")
    }),

    // ---- hybrid scan (hybrid_scan.sql): one query combining a lake scan
    // (merge-on-read, with a live delete overlay) and a plain non-lake
    // relation — the lake table is just another Catalyst source, so the
    // optimizer still broadcasts the small side and pushes filters --------
    "l32_hybrid_scan" -> ((s, dir) => {
      val lake = newLake(s)
      lake.createTableAs("main.hn", t(s, dir, "nation"))
      lake.delete("main.hn", col("n_nationkey") === 0)
      t(s, dir, "region").join(lake.table("main.hn"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_nations"), min(col("n_name")).as("first_nation"))
        .orderBy(col("r_name"))
    }),

    // ---- cluster rewrite: one range-partitioning shuffle turns an
    // interleaved-append sorted table into disjoint per-file sort-key
    // ranges (zone maps become selective; overlays/inline absorbed) ------
    "l33_sorted_rewrite" -> ((s, dir) => {
      val lake = newLake(s)
      val orders = t(s, dir, "orders").filter(col("o_orderkey") < 50000)
      lake.createTable("main.so", orders.schema)
      lake.setSort("main.so", List(SortKey("o_orderkey", ascending = true, nullsFirst = false)))
      lake.setOption("target_file_size", "65536", Some("main.so"))
      (1 to 3).foreach(_ => lake.append("main.so", orders))
      lake.delete("main.so", col("o_orderkey") < 100)
      lake.rewriteSorted("main.so")
      val ranges = lake.tableWithRowMeta("main.so")
        .groupBy(col(LakeRead.FileCol))
        .agg(min(col("o_orderkey")).as("mn"), max(col("o_orderkey")).as("mx"))
      // strict-interior overlap: adjacent files may legitimately SHARE one
      // boundary key (a duplicate-key run split across a writer file roll);
      // clustering is broken only when interiors interleave
      val overlapping = ranges.as("a").join(ranges.as("b"),
        col(s"a.${LakeRead.FileCol}") < col(s"b.${LakeRead.FileCol}") &&
          col("a.mn") < col("b.mx") && col("b.mn") < col("a.mx")).count()
      val delFiles = lake.tableInfo().filter(col("table_name") === "so")
        .collect().head.getAs[Long]("delete_file_count")
      lake.table("main.so")
        .agg(count(lit(1)).as("n_rows"), sum(col("o_orderkey")).as("sum_key"))
        .withColumn("overlapping_file_pairs", lit(overlapping))
        .withColumn("delete_files_left", lit(delFiles))
    }),

    // ---- rowid virtual column (upstream DuckLake rowid; exposed as the
    // _row_id DSv2 metadata column): ids assign in write order and
    // survivors keep them across DML ---------------------------------------
    "l34_rowid" -> ((s, dir) => {
      val lake = newLake(s)
      val nation = t(s, dir, "nation").orderBy("n_nationkey").coalesce(1)
      lake.createTableAs("main.ri", nation)
      lake.delete("main.ri", col("n_regionkey") === 2)
      val cat = s"lqrid${System.nanoTime()}"
      wireCatalog(s, cat, lake)
      s.sql(s"SELECT _row_id AS rid, n_nationkey, n_name FROM $cat.main.ri ORDER BY n_nationkey")
    }),

    // ---- multi-statement transaction grouping (transaction.sql,
    // explicit_transaction_commit.spec): two appends + a delete inside one
    // lake.transaction{} land as EXACTLY ONE snapshot; a failing
    // transaction is observably absent (rollback invisibility) ------------
    "l35_transaction" -> ((s, dir) => {
      val lake = newLake(s)
      val nation = t(s, dir, "nation")
      lake.createTable("main.tx", nation.schema)
      val before = lake.currentSnapshot()
      lake.transaction { tx =>
        tx.append("main.tx", nation.filter(col("n_nationkey") < 13))
        tx.append("main.tx", nation.filter(col("n_nationkey") >= 13))
        tx.delete("main.tx", col("n_regionkey") === 2)
      }
      // rollback invisibility: the failed transaction contributes nothing
      try lake.transaction { tx =>
        tx.append("main.tx", nation)
        throw new RuntimeException("client abort")
      } catch { case e: RuntimeException if e.getMessage == "client abort" => () }
      val after = lake.currentSnapshot()
      lake.table("main.tx").select("n_nationkey", "n_name", "n_regionkey")
        .withColumn("txn_snapshots", lit(after - before))
        .orderBy("n_nationkey")
    }),

    // ---- thaw / external-catalog import (pgducklake_fdw.cpp:167-190,
    // metadata_sync.sql): freeze exports the ducklake_* catalog as parquet;
    // an EXTERNAL writer appends a data file + snapshot by mutating those
    // dumps; importCatalog replays the whole history into a fresh lake ----
    "l36_thaw" -> ((s, dir) => {
      val a = newLake(s)
      val nation = t(s, dir, "nation")
      a.createTableAs("main.ext", nation)
      a.delete("main.ext", col("n_regionkey") === 3)
      val frozen = Files.createTempDirectory("graft_thawq").toString
      a.freeze(frozen)
      val cat = s"$frozen/catalog_parquet"

      // external writer: parquet data written OUTSIDE the engine...
      val extData = Files.createTempDirectory("graft_extdata").toString
      val extra = nation.filter(col("n_regionkey") === 3)
        .withColumn("n_name", concat(col("n_name"), lit("_EXT")))
      extra.coalesce(1).write.mode("overwrite").parquet(extData)
      val part = new java.io.File(extData).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      // ...committed by appending rows to the catalog dumps (what a foreign
      // engine's COPY back into ducklake_snapshot/ducklake_data_file does)
      val snaps = s.read.parquet(s"$cat/ducklake_snapshot.parquet").collect()
      val sid = snaps.map(_.getLong(0)).max + 1
      val schemaVer = snaps.maxBy(_.getLong(0)).getLong(2)
      val filesDf = s.read.parquet(s"$cat/ducklake_data_file.parquet")
      val fileRows = filesDf.collect()
      val tid = s.read.parquet(s"$cat/ducklake_table.parquet")
        .filter(col("table_name") === "ext").collect().head.getLong(0)
      val nextFid = fileRows.map(_.getLong(0)).max + 1
      val nextRow = fileRows.map(r => r.getLong(7) + r.getLong(5)).max
      import s.implicits._
      val mutated = Files.createTempDirectory("graft_thawmut").toString
      // copy the untouched dumps byte-for-byte (no Spark jobs needed),
      // rewrite only the two the external writer mutates
      val catDir = java.nio.file.Paths.get(cat)
      java.nio.file.Files.list(catDir).forEach { p =>
        val name = p.getFileName.toString
        if (name != "ducklake_snapshot.parquet" && name != "ducklake_data_file.parquet") {
          val dst = java.nio.file.Paths.get(mutated, name)
          java.nio.file.Files.createDirectories(dst)
          java.nio.file.Files.list(p).forEach(f =>
            java.nio.file.Files.copy(f, dst.resolve(f.getFileName.toString)))
        }
      }
      s.read.parquet(s"$cat/ducklake_snapshot.parquet")
        .unionByName(Seq((sid, System.currentTimeMillis(), schemaVer))
          .toDF("snapshot_id", "snapshot_time_ms", "schema_version"))
        .write.parquet(s"$mutated/ducklake_snapshot.parquet")
      filesDf.unionByName(Seq((nextFid, tid, sid, Option.empty[Long],
          part.getAbsolutePath, extra.count(), part.length(), nextRow,
          schemaVer, false))
          .toDF("data_file_id", "table_id", "begin_snapshot", "end_snapshot",
            "path", "record_count", "file_size_bytes", "row_id_start",
            "schema_version", "explicit_row_ids"))
        .write.parquet(s"$mutated/ducklake_data_file.parquet")

      val b = newLake(s)
      b.importCatalog(mutated)
      b.table("main.ext").select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    }),

    // ---- repeated external-catalog sync (VERDICT r5 #2; the reference's
    // FDW attach is LIVE — pgducklake_fdw.cpp:167-190, metadata_sync.sql
    // re-syncs the same foreign catalog as an external writer keeps
    // committing): import a frozen catalog, let the writer commit two more
    // snapshots, re-import into the NOW NON-EMPTY store — only the new
    // snapshots append, and the change feed works over the synced range --
    "l38_incremental_import" -> ((s, dir) => {
      val a = newLake(s)
      val nation = t(s, dir, "nation")
      a.createTableAs("main.sync", nation)
      a.delete("main.sync", col("n_regionkey") === 4)
      val f1 = Files.createTempDirectory("graft_sync1").toString
      a.freeze(f1)
      val b = newLake(s)
      b.importCatalog(s"$f1/catalog_parquet")
      val head1 = b.currentSnapshot()
      // the external writer keeps committing into the shared catalog...
      a.append("main.sync", nation.filter(col("n_regionkey") === 4)
        .withColumn("n_name", concat(col("n_name"), lit("_V2"))))
      a.delete("main.sync", col("n_nationkey") === 0)
      val f2 = Files.createTempDirectory("graft_sync2").toString
      a.freeze(f2)
      // ...and a re-sync appends ONLY the snapshots past the local head
      val head2 = b.importCatalog(s"$f2/catalog_parquet")
      val counts = b.tableChanges("main.sync", head1, head2).agg(
        count(when(col("_change_type") === "insert", 1)).as("feed_inserts"),
        count(when(col("_change_type") === "delete", 1)).as("feed_deletes"))
      b.table("main.sync").select("n_nationkey", "n_name", "n_regionkey")
        .withColumn("new_snapshots", lit(head2 - head1))
        .crossJoin(broadcast(counts))
        .orderBy("n_nationkey")
    }),

    // ---- add_data_files: register external parquet without rewriting it.
    // Batch 1 takes the stats path (footer counts + one distributed stats
    // job), batch 2 the pure-footer bulk path (no stats, pruner keeps the
    // file); a positional delete then proves registered files join the
    // delete layer by name exactly like native ones -------------------------
    "l39_add_data_files" -> ((s, dir) => {
      val lake = newLake(s)
      val nation = t(s, dir, "nation")
      lake.createTableAs("main.ext", nation.filter(col("n_nationkey") < 10))
      val ext = Files.createTempDirectory("graft_ext").toString
      nation.filter(col("n_nationkey") >= 10 && col("n_nationkey") < 20)
        .coalesce(1).write.mode("overwrite").parquet(s"$ext/a")
      nation.filter(col("n_nationkey") >= 20)
        .coalesce(1).write.mode("overwrite").parquet(s"$ext/b")
      def parts(d: String): Seq[String] = new java.io.File(d).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
      lake.addDataFiles("main.ext", parts(s"$ext/a"))
      lake.addDataFiles("main.ext", parts(s"$ext/b"), collectStats = false)
      lake.delete("main.ext", col("n_nationkey") === 12)
      lake.table("main.ext").orderBy("n_nationkey")
    }),

    // ---- COMMENT ON TABLE/COLUMN: stored as ducklake_tag /
    // ducklake_column_tag, set through Spark SQL, and proven to survive a
    // freeze → thaw round-trip into a second lake ---------------------------
    "l40_comments" -> ((s, dir) => {
      val lake = newLake(s)
      lake.createTableAs("main.cmt", t(s, dir, "region"))
      val cat = s"lcmt${System.nanoTime()}"
      wireCatalog(s, cat, lake)
      s.sql(s"COMMENT ON TABLE $cat.main.cmt IS 'regions snapshot'")
      s.sql(s"ALTER TABLE $cat.main.cmt ALTER COLUMN r_name COMMENT 'region name'")
      val frozen = Files.createTempDirectory("graft_cmt").toString
      lake.freeze(frozen)
      val thawed = newLake(s)
      thawed.importCatalog(s"$frozen/catalog_parquet")
      thawed.comments("main.cmt")
    }),

    // ---- NOT NULL management: SET NOT NULL validates existing data (via
    // stats or one scan), the constraint then rejects violating writes ------
    "l41_notnull" -> ((s, dir) => {
      val lake = newLake(s)
      lake.createTableAs("main.nn", t(s, dir, "nation"))
      val cat = s"lnn${System.nanoTime()}"
      wireCatalog(s, cat, lake)
      lake.setNotNull("main.nn", "n_name")
      val rejected =
        try { lake.insertRows("main.nn", Seq(Seq(99, null, 0, "x"))); 0 }
        catch { case _: IllegalArgumentException => 1 }
      // DROP NOT NULL goes through plain Spark SQL; the insert then lands
      s.sql(s"ALTER TABLE $cat.main.nn ALTER COLUMN n_name DROP NOT NULL")
      lake.insertRows("main.nn", Seq(Seq(99, null, 0, "x")))
      lake.table("main.nn")
        .select(col("n_nationkey"), col("n_name"), lit(rejected).as("rejected_nulls"))
        .orderBy("n_nationkey")
    }),

    // ---- executable views + macros: definition versioning (OR REPLACE),
    // snapshot-scoped execution, macro expansion at analysis time ----------
    "l42_views_macros" -> ((s, dir) => {
      val lake = newLake(s)
      lake.createTableAs("main.nat", t(s, dir, "nation"))
      val g1 = lake.createView("main.v",
        "SELECT n_regionkey AS rk, count(*) AS n_nations FROM nat GROUP BY n_regionkey")
      lake.createMacro("main.keysq", Seq("k"), "cast(k * k + 1 AS bigint)")
      lake.createView("main.v", // replace: generation 2 filters
        "SELECT n_regionkey AS rk, count(*) AS n_nations FROM nat " +
          "WHERE n_nationkey >= 10 GROUP BY n_regionkey")
      val cur = lake.view("main.v")
        .selectExpr("rk", "n_nations", "keysq(rk) AS k2", "'current' AS gen")
      val old = lake.view("main.v", Some(g1)) // old text AND old data
        .selectExpr("rk", "n_nations", "keysq(rk) AS k2", "'v1' AS gen")
      cur.union(old).orderBy("gen", "rk")
    }),

    // ---- live shared JDBC catalog: two engines, one metadata database ----
    "l43_jdbc_catalog" -> ((s, dir) => {
      val dataRoot = Files.createTempDirectory("graft_jdbcq").toString
      val dbDir = Files.createTempDirectory("graft_jdbcq_db").toString
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        LakeWrite.deleteRecursively(dataRoot); LakeWrite.deleteRecursively(dbDir)
      }))
      val url = s"jdbc:derby:$dbDir/cat;create=true"
      val writer = new Lake(s, dataRoot, Some(new JdbcMetadataStore(dataRoot, url)))
      val reader = new Lake(s, dataRoot, Some(new JdbcMetadataStore(dataRoot, url)))
      writer.createTableAs("main.nat", t(s, dir, "nation"))
      writer.delete("main.nat", col("n_regionkey") === 0)
      // the OTHER engine mutates the shared catalog; the writer's next
      // read sees it — live, no freeze/import
      reader.update("main.nat", col("n_regionkey") === 1,
        Map("n_name" -> lit("SHARED")))
      writer.table("main.nat")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy("n_nationkey")
    }),

    // ---- A25 frozen mount over HTTP (the reference's frozen_url shape:
    // a frozen catalog served by any web server, no shared filesystem —
    // src/pgducklake_fdw.cpp:84-93). Metadata crosses HTTP GET through
    // Hadoop's read-only HttpFileSystem via the StoreIO seam; data files
    // still read from the lake's storage root ----------------------------
    "l44_http_frozen_mount" -> ((s, dir) => {
      val lake = newLake(s)
      val nation = t(s, dir, "nation").filter(col("n_regionkey") >= 3)
      lake.createTableAs("main.nath", nation)
      lake.delete("main.nath", col("n_nationkey") % 2 === 0)
      val frozenDir = Files.createTempDirectory("graft_httpfzq").toString
      lake.freeze(frozenDir, parquetCatalog = false)
      val srv = MiniHttp.serve(frozenDir)
      try {
        val c = new LakeCatalog()
        val m = new java.util.HashMap[String, String]()
        m.put("frozen", s"http://127.0.0.1:${srv.getAddress.getPort}")
        c.initialize("httpfzq", new CaseInsensitiveStringMap(m))
        c.loadTable(Identifier.of(Array("main"), "nath"))
          .asInstanceOf[LakeTable].scanDF(s)
          .orderBy("n_nationkey")
        // catalog state fully materializes at initialize; the server can
        // stop before the (lazy) scan runs — only data-file reads remain
      } finally srv.stop(0)
    }),

    // ---- Parquet Modular Encryption (the ENCRYPTED flag both the
    // reference and upstream DuckLake leave unimplemented,
    // docs/ducklake_feature_coverage.md:63): every data + delete file is
    // an encrypted-footer parquet (magic PARE), envelope-encrypted under
    // a master key the session provides; scans decrypt transparently.
    // The result carries all_encrypted = 1 asserting on-disk ciphertext.
    "l45_encryption" -> ((s, dir) => {
      // deterministic demo master key (bytes 0..15); real deployments set
      // graft.encryption.keys themselves or plug a KMS-backed client
      s.sparkContext.hadoopConfiguration.set(
        LakeEncryption.KeysConf, "graft0:AAECAwQFBgcICQoLDA0ODw==")
      val lake = newLake(s)
      lake.setOption("encrypted", "true")
      lake.createTableAs("main.encn", t(s, dir, "nation"))
      lake.delete("main.encn", col("n_regionkey") === 2)
      def pareOnDisk(): Boolean = {
        var all = true; var seen = 0
        Files.walk(java.nio.file.Paths.get(lake.root)).iterator()
          .forEachRemaining { p =>
            if (p.toString.endsWith(".parquet")) {
              seen += 1
              val in = Files.newInputStream(p)
              val b = new Array[Byte](4)
              try in.read(b) finally in.close()
              all &&= new String(b, "US-ASCII") == "PARE"
            }
          }
        all && seen > 0
      }
      lake.table("main.encn")
        .withColumn("all_encrypted", lit(if (pareOnDisk()) 1 else 0))
        .orderBy("n_nationkey")
    }),

    // ---- delete_orphaned_files (upstream ducklake_delete_orphaned_files,
    // unimplemented in the reference): catalog-vs-disk diff reaps the
    // residue of writers that crashed after staging promotion ------------
    "l46_orphan_cleanup" -> ((s, dir) => {
      val lake = newLake(s)
      lake.createTableAs("main.orp", t(s, dir, "nation"))
      // simulate the crash residue: a stray parquet beside the real data
      var dataDir: String = null
      Files.walk(java.nio.file.Paths.get(lake.root)).iterator()
        .forEachRemaining { p =>
          if (p.toString.contains("/data/") && p.toString.endsWith(".parquet"))
            dataDir = p.getParent.toString
        }
      Files.write(java.nio.file.Paths.get(s"$dataDir/part-orphan.parquet"),
        Array[Byte](0, 1, 2, 3))
      val reaped = lake.deleteOrphanedFiles(olderThanMs = Some(0L))
      lake.table("main.orp")
        .withColumn("n_orphans_deleted", lit(reaped.size))
        .orderBy("n_nationkey")
    }),

    // ---- CHECKPOINT all-in-one maintenance (upstream runs every
    // maintenance op sequentially; unimplemented in the reference) -------
    "l47_maintenance" -> ((s, dir) => {
      val lake = newLake(s)
      val region = t(s, dir, "region")
      lake.createTable("main.mt", region.schema)
      lake.setOption("data_inlining_row_limit", "10", Some("main.mt"))
      lake.append("main.mt", region.filter(col("r_regionkey") < 2))  // inlined
      lake.append("main.mt", region.filter(col("r_regionkey") >= 2)) // inlined
      val summary = lake.maintain(
        expireOlderThanMs = Some(Long.MaxValue), // keep all history
        deleteOlderThanMs = Some(0L), orphanOlderThanMs = Some(0L))
      val st = lake.store.state()
      val tid = st.tableAt("main", "mt", st.currentSnapshotId).get.tableId
      lake.table("main.mt")
        .withColumn("n_files",
          lit(st.filesAt(tid, st.currentSnapshotId).size))
        .withColumn("n_inlined",
          lit(st.inlinedAt(tid, st.currentSnapshotId).map(_.rowsJson.size).sum))
        .withColumn("tables_maintained", lit(summary("tables_maintained")))
        .orderBy("r_regionkey")
    }),

    // ---- COPY FROM DATABASE migration (upstream whole-database import;
    // unimplemented in the reference): every parquet table under a
    // directory becomes a lake table, schema inferred, data owned -------
    "l48_migrate" -> ((s, dir) => {
      import s.implicits._
      val lake = newLake(s)
      val migrated = lake.migrate(dir, "lakedb",
        only = Seq("nation", "region", "supplier"))
      migrated.map(n => (n, lake.table(s"lakedb.$n").count()))
        .toDF("table_name", "n_rows").orderBy("table_name")
    }),

    // ---- settings() instance metadata (upstream ducklake_settings();
    // unimplemented in the reference) -----------------------------------
    "l49_settings" -> ((s, dir) => {
      val lake = newLake(s)
      lake.createTableAs("main.st", t(s, dir, "region"))
      lake.settings()
        .crossJoin(lake.table("main.st").agg(count(lit(1)).as("n_rows")))
        .orderBy("setting")
    }),

    // ---- Z-order clustering rewrite (multi-dimensional complement of
    // l33's linear rewriteSorted; Delta OPTIMIZE ZORDER analogue): one
    // quantile pass + Morton-key range-repartition; zone maps tighten on
    // every z column (pruning asserted in ZOrderSpec; content identity
    // oracle-checked here) ----------------------------------------------
    "l50_zorder" -> ((s, dir) => {
      val lake = newLake(s)
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") < 2000)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"))
      lake.createTableAs("main.zli", li)
      lake.setOption("target_file_size", "32KB", Some("main.zli"))
      lake.rewriteZOrder("main.zli", Seq("l_partkey", "l_suppkey"))
      lake.table("main.zli")
        .orderBy("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    }),

    // ---- SQL stored procedures: CALL <cat>.system.<proc>(...) over the
    // DSv2 ProcedureCatalog SPI — the Spark-native CALL ducklake.set_option
    // routing (src/pgducklake_hooks.cpp:263-313), generalized to the whole
    // maintenance surface ------------------------------------------------
    "l51_sql_procedures" -> ((s, dir) => {
      val lake = newLake(s)
      val cat = "lqp" + java.util.UUID.randomUUID().toString.replace("-", "").take(10)
      wireCatalog(s, cat, lake)
      val nation = t(s, dir, "nation")
      lake.createTableAs("main.pt", nation)
      lake.append("main.pt", nation.filter(col("n_regionkey") === 0))
      s.sql(s"CALL $cat.system.merge_adjacent_files('main.pt')")
      s.sql(s"CALL $cat.system.set_option('parquet_compression', 'zstd', 'main.pt')")
      val st = lake.store.state()
      val tid = st.tableAt("main", "pt", st.currentSnapshotId).get.tableId
      lake.table("main.pt")
        .withColumn("n_files", lit(st.filesAt(tid, st.currentSnapshotId).size))
        .withColumn("compression",
          lit(st.optionAt(tid, "parquet_compression", st.currentSnapshotId).orNull))
        .orderBy("n_nationkey", "n_name")
    }),

    // ---- SQL view/macro DDL statements (r8, VERDICT r7 #4): CREATE
    // [OR REPLACE] VIEW lowers at the parse boundary onto the versioned
    // stored-definition tags; CREATE MACRO is the reference/DuckDB
    // grammar Spark lacks (GraftSqlParser). The AS-OF read resolves the
    // OLD definition over the OLD data — statement-created rows are
    // byte-identical to API-created ones (same l42 oracle shape) --------
    "l53_sql_view_ddl" -> ((s, dir) => {
      val lake = newLake(s)
      lake.createTableAs("main.nat", t(s, dir, "nation"))
      val cat = s"lqvd${System.nanoTime()}"
      wireCatalog(s, cat, lake)
      val g1 = s.sql(s"CREATE VIEW $cat.main.sv AS " +
          "SELECT n_regionkey AS rk, count(*) AS n_nations FROM nat GROUP BY n_regionkey")
        .head.getLong(0)
      s.sql(s"CREATE MACRO $cat.main.keysq(k) AS cast(k * k + 1 AS bigint)")
      Thread.sleep(60) // distinct snapshot_time for the TIMESTAMP AS OF read
      s.sql(s"CREATE OR REPLACE VIEW $cat.main.sv AS " +
        "SELECT n_regionkey AS rk, count(*) AS n_nations FROM nat " +
        "WHERE n_nationkey >= 10 GROUP BY n_regionkey")
      val cur = s.sql(s"SELECT rk, n_nations, keysq(rk) AS k2, 'current' AS gen " +
        s"FROM graft_view('${rootArg(lake)}', 'main.sv')")
      val old = s.sql(s"SELECT rk, n_nations, keysq(rk) AS k2, 'v1' AS gen " +
        s"FROM graft_view('${rootArg(lake)}', 'main.sv', $g1)")
      // r9: the TIMESTAMP form on a stored view — maps the instant to the
      // snapshot current then (g1's), resolving the OLD definition like
      // the reference's time_travel(tbl, ts) overload
      val t1 = lake.snapshots().filter(col("snapshot_id") === g1)
        .select(col("snapshot_time")).head.getTimestamp(0)
      val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS")
      fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
      val ts = s.sql(s"SELECT rk, n_nations, keysq(rk) AS k2, 'ts' AS gen " +
        s"FROM $cat.main.sv TIMESTAMP AS OF '${fmt.format(new java.util.Date(t1.getTime))}'")
      cur.union(old).union(ts).orderBy("gen", "rk")
    }),

    // ---- GEOMETRY round-trip (r8, VERDICT r7 stretch #9; the one §1.2
    // type row without an oracle entry): geometry is a catalog-level
    // annotation over WKB BinaryType (docs/data_types.md — "GEOMETRY has
    // no PG equivalent type", so the reference has no PG surface either).
    // Real WKB (point / linestring / polygon) goes create → append →
    // DML → freeze → import into a fresh lake; the bytes come back
    // bit-identical and the frozen ducklake_column row carries
    // column_type='geometry', not 'blob' -------------------------------
    "l54_geometry" -> ((s, dir) => {
      import s.implicits._
      val lake = newLake(s)
      val geoMeta = new org.apache.spark.sql.types.MetadataBuilder()
        .putString("graft.type", "geometry").build()
      lake.createTable("main.geo", StructType(Seq(
        StructField("id", IntegerType),
        StructField("geom", org.apache.spark.sql.types.BinaryType,
          nullable = true, metadata = geoMeta))))
      val df = Seq(
        (1, "0101000000000000000000F03F0000000000000040"), // POINT(1 2)
        (2, "01020000000200000000000000000000000000000000000000000000000000F03F000000000000F03F"), // LINESTRING(0 0,1 1)
        (3, "010300000001000000050000000000000000000000000000000000000000000000000010400000000000000000000000000000104000000000000010400000000000000000000000000000104000000000000000000000000000000000") // POLYGON((0 0,4 0,4 4,0 4,0 0))
      ).toDF("id", "hx").select(col("id"), unhex(col("hx")).as("geom"))
      lake.append("main.geo", df)
      lake.delete("main.geo", col("id") === 2) // DML over opaque WKB
      val frozen = Files.createTempDirectory("graft_geo_fz").toString
      lake.freeze(frozen)
      val colType = s.read.parquet(s"$frozen/catalog_parquet/ducklake_column.parquet")
        .filter(col("column_name") === "geom")
        .select(col("column_type")).head.getString(0)
      val lake2 = new Lake(s, Files.createTempDirectory("graft_geo_th").toString)
      lake2.importCatalog(s"$frozen/catalog_parquet")
      lake2.table("main.geo")
        .select(col("id"), upper(hex(col("geom"))).as("wkb_hex"),
          lit(colType).as("catalog_type"))
        .orderBy("id")
    }),

    // ---- TABLE macros (r9, VERDICT r8 #4; reference coverage rows
    // docs/ducklake_feature_coverage.md:32-33 `CREATE MACRO (scalar +
    // table)` / `DROP MACRO TABLE`): a parameterized stored SELECT
    // registered as a session table function — created via the DuckDB
    // grammar Spark lacks, invoked as `FROM name(args)` in plain SQL,
    // stored as a versioned kind='table' catalog row (freeze emits
    // macro_type='table' on ducklake_macro) ------------------------------
    "l55_table_macro" -> ((s, dir) => {
      val lake = newLake(s)
      lake.createTableAs("main.nat", t(s, dir, "nation"))
      val cat = s"lqtm${System.nanoTime()}"
      wireCatalog(s, cat, lake)
      s.sql(s"CREATE MACRO $cat.main.nat_by_region(r) AS TABLE " +
        "SELECT n_nationkey, n_name FROM nat WHERE n_regionkey = r")
      val kind = lake.macros().filter(col("macro_name") === "nat_by_region")
        .select("macro_type").head.getString(0)
      s.sql("SELECT * FROM nat_by_region(1)")
        .withColumn("macro_type", lit(kind))
        .orderBy("n_nationkey")
    }),

    // ---- access-control roles (A30; docs/access_control.md — with the
    // DML enforcement the reference documents as a known gap): custom
    // role + SELECT grant, predefined writer role, a denied write, an
    // allowed write, a read under the reader grant ----------------------
    // ---- incremental materialized view (superset; the reference stores
    // only LOGICAL views): a grouped aggregate maintained from the change
    // feed — refresh scans ONLY tableChanges since the watermark, through
    // appends, a delete, AND a group-moving update (pre/post images), and
    // must equal the full GROUP BY of the final state --------------------
    "l57_materialized_view" -> ((s, dir) => {
      val lake = newLake(s)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_orderpriority"))
      // seed with the even orderkeys, MV at that state
      lake.createTableAs("main.mvo", orders.filter(col("o_orderkey") % 2 === 0))
      lake.createMaterializedView("main.mv", "main.mvo",
        groupCols = Seq("o_orderpriority"), sumCols = Seq("o_custkey"),
        minMaxCols = Seq("o_orderkey")) // delete retires maxima → dirty path
      // incremental history: append the odd half, delete a slice, move a
      // slice across groups (update pre/post images must transfer counts)
      lake.append("main.mvo", orders.filter(col("o_orderkey") % 2 === 1))
      lake.delete("main.mvo",
        col("o_orderstatus") === "F" && col("o_orderkey") % 10 === 3)
      lake.update("main.mvo", col("o_orderkey") % 7 === 0,
        Map("o_orderpriority" -> lit("9-MOVED")))
      lake.refreshMaterializedView("main.mv")
      // a second refresh with no source changes is a no-op on the values
      lake.refreshMaterializedView("main.mv")
      lake.table("main.mv").orderBy(col("o_orderpriority"))
    }),

    // ---- MV depth (r12): COUNT(col) with NULLs, AVG derived from
    // maintained sum+count state, and a FILTERED source (the predicate
    // folds into the change-feed scan; update pre/post images crossing
    // the group boundary still net out) — all maintained incrementally
    // through append / delete / group-moving update ----------------------
    "l58_materialized_view_avg" -> ((s, dir) => {
      val lake = newLake(s)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 11 === 0, lit(null))
            .otherwise(col("o_custkey")).cast("long").as("o_custkey"),
          col("o_orderstatus"), col("o_orderpriority"))
      lake.createTableAs("main.mvo", orders.filter(col("o_orderkey") % 2 === 0))
      lake.createMaterializedView("main.mv", "main.mvo",
        groupCols = Seq("o_orderpriority"),
        sumCols = Nil, minMaxCols = Nil,
        cntCols = Seq("o_custkey"), avgCols = Seq("o_custkey"),
        filterSql = Some("o_orderstatus <> 'F'"))
      lake.append("main.mvo", orders.filter(col("o_orderkey") % 2 === 1))
      lake.refreshMaterializedView("main.mv")
      lake.delete("main.mvo", col("o_orderkey") % 10 === 3)
      lake.refreshMaterializedView("main.mv")
      lake.update("main.mvo", col("o_orderkey") % 7 === 0,
        Map("o_orderpriority" -> lit("9-MOVED")))
      lake.refreshMaterializedView("main.mv")
      lake.table("main.mv").orderBy(col("o_orderpriority"))
    }),

    // ---- join-source MV (r13): the dashboard shape that earns an MV at
    // 100 TB is a fact⋈dim rollup grouped by DIM attributes. Maintained
    // from BOTH change feeds: fact appends fold via change feed ⋈ dim, a
    // JOIN-KEY-moving fact update lands its pre/post images in their
    // respective dim groups, a delete retires extrema through the
    // dirty-group recompute — and dim DML (r14) folds through the exact
    // identity Δ(F⋈D) = ΔF⋈D_last + F_cur⋈ΔD, where F_cur is
    // IN-restricted to the changed dim keys; only a dim REPLACE (overwrite
    // or DROP+re-CREATE) still forces a full recompute ---------------------
    "l59_materialized_view_join" -> ((s, dir) => {
      val lake = newLake(s)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
      lake.createTableAs("main.fact", orders.filter(col("o_orderkey") % 2 === 0))
      lake.createTableAs("main.dim", cust)
      lake.createMaterializedView("main.mv", "main.fact",
        groupCols = Seq("c_mktsegment"), sumCols = Seq("o_custkey"),
        minMaxCols = Seq("o_orderkey"),
        dimTable = Some("main.dim"),
        dimKeys = Seq(("o_custkey", "c_custkey")))
      // incremental: fact append folds via change feed ⋈ broadcast dim
      lake.append("main.fact", orders.filter(col("o_orderkey") % 2 === 1))
      lake.refreshMaterializedView("main.mv")
      // key-moving update (±1 in two dim groups) + extrema-retiring delete
      lake.update("main.fact", col("o_orderkey") % 13 === 0,
        Map("o_custkey" -> lit(1L)))
      lake.delete("main.fact",
        col("o_orderstatus") === "F" && col("o_orderkey") % 10 === 3)
      lake.refreshMaterializedView("main.mv")
      // dim change: folds via the r14 dim-delta path (exceeds the default
      // key bound at larger SFs → recompute fallback; identical result)
      lake.update("main.dim", col("c_custkey") % 5 === 0,
        Map("c_mktsegment" -> lit("9-DIMMOVED")))
      lake.refreshMaterializedView("main.mv")
      lake.table("main.mv").orderBy(col("c_mktsegment"))
    }),

    // ---- snowflake join-source MV (r15): N dims via the telescoped exact
    // identity Δ(F⋈D₁⋈D₂) = ΔF⋈D₁ₗ⋈D₂ₗ + F꜀⋈ΔD₁⋈D₂ₗ + F꜀⋈D₁꜀⋈ΔD₂ —
    // orders ⋈ customer ⋈ nation grouped by the OUTER dim's attribute.
    // One window changes BOTH dims plus the fact (all three terms sum);
    // a final nation-only window takes the dim-only path (no fact-side
    // join planned). Each changed dim has its own bounded key probe; a
    // probe past dimDeltaMaxKeys falls back to the recompute (identical
    // result — at larger SFs the customer slice exceeds the default bound)
    "l60_materialized_view_snowflake" -> ((s, dir) => {
      val lake = newLake(s)
      val orders = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      lake.createTableAs("main.fact", orders.filter(col("o_orderkey") % 2 === 0))
      lake.createTableAs("main.d1", t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey")))
      lake.createTableAs("main.d2", t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name")))
      lake.createMaterializedView("main.mv", "main.fact",
        groupCols = Seq("n_name"), sumCols = Seq("o_orderkey"),
        dims = Seq(("main.d1", Seq(("o_custkey", "c_custkey"))),
          ("main.d2", Seq(("c_nationkey", "n_nationkey")))))
      // fact-only window: ΔF ⋈ d1 ⋈ d2
      lake.append("main.fact", orders.filter(col("o_orderkey") % 2 === 1))
      lake.refreshMaterializedView("main.mv")
      // BOTH dims + the fact change in ONE window
      lake.update("main.fact", col("o_orderkey") % 11 === 0,
        Map("o_custkey" -> lit(1L)))
      lake.update("main.d1", col("c_custkey") % 7 === 0,
        Map("c_nationkey" -> ((col("c_nationkey") + 1) % 25)))
      lake.update("main.d2", col("n_nationkey") % 5 === 0,
        Map("n_name" -> concat(lit("X-"), col("n_name"))))
      lake.refreshMaterializedView("main.mv")
      // OUTER-dim-only window: F꜀⋈D₁꜀⋈ΔD₂, fact feed provably empty
      lake.update("main.d2", col("n_nationkey") % 3 === 1,
        Map("n_name" -> concat(lit("Y-"), col("n_name"))))
      lake.refreshMaterializedView("main.mv")
      lake.table("main.mv").orderBy(col("n_name"))
    }),

    "l56_roles" -> ((s, dir) => {
      val lake = newLake(s)
      lake.createTableAs("main.nat", t(s, dir, "nation"))
      lake.acl.createRole("analyst")
      lake.acl.createUser("ana", Seq("analyst"))
      lake.acl.grant("main.nat", "analyst", Seq("SELECT"))
      lake.acl.createUser("wri", Seq("graft_writer"))
      def as[T](u: String)(body: => T): T = {
        s.conf.set(LakeAcl.UserConf, u)
        try body finally s.conf.unset(LakeAcl.UserConf)
      }
      // SELECT-only analyst: the DELETE must bounce
      val deniedTag = as("ana") {
        try { lake.delete("main.nat", col("n_nationkey") === 0); "allowed" }
        catch { case _: SecurityException => "denied" }
      }
      // writer-role member: the same DELETE shape is allowed
      as("wri")(lake.delete("main.nat", col("n_regionkey") === 0))
      as("ana") {
        lake.table("main.nat")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .crossJoin(lake.acl.grants().select(col("role_name"), col("privileges")))
          .withColumn("write_denied", lit(deniedTag))
          .orderBy("n_nationkey")
      }
    }),

    // ---- bucket[N] hidden-partition transform (Iceberg-style; superset —
    // the reference supports identity/year/month/day/hour only): point
    // lookups on a high-cardinality key prune to ONE bucket's files via
    // the driver-side murmur3 of the literal (BucketSpec) ----------------
    "l52_bucket_partition" -> ((s, dir) => {
      val lake = newLake(s)
      val cust = t(s, dir, "customer")
      lake.createTable("main.bc", cust.schema,
        partitionKeys = List(PartitionKey(BucketTransform(8), "c_custkey")))
      lake.append("main.bc", cust)
      lake.table("main.bc").filter(col("c_custkey").isin(7, 42, 99))
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
        .crossJoin(lake.table("main.bc").agg(count(lit(1)).as("n_total")))
        .orderBy("c_custkey")
    }),

    // ---- metadata checkpoint: cold opens read checkpoint + tail ----------
    "l37_checkpoint" -> ((s, dir) => {
      val lake = newLake(s)
      val nation = t(s, dir, "nation")
      lake.createTableAs("main.ck", nation)
      lake.delete("main.ck", col("n_regionkey") === 0)
      lake.checkpoint()
      lake.append("main.ck", nation.filter(col("n_nationkey") === 0)
        .withColumn("n_nationkey", lit(99).cast("int")))
      // a cold store (fresh caches) resolves from checkpoint + tail delta
      val cold = new Lake(s, lake.root,
        lake.jdbcUrl.map(u => new JdbcMetadataStore(lake.root, u)))
      cold.table("main.ck").select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    }),

    // ---- A10 column defaults (ddl.sql): ADD COLUMN DEFAULT backfills old
    // files with the frozen existence default; SET DEFAULT redefines only
    // the current default used by later inserts ---------------------------
    "l25_column_default" -> ((s, dir) => {
      val lake = newLake(s)
      lake.createTableAs("main.dd", t(s, dir, "region"))
      val cat = s"lqdef${System.nanoTime()}"
      wireCatalog(s, cat, lake)
      s.sql(s"ALTER TABLE $cat.main.dd ADD COLUMN tag STRING DEFAULT 'legacy'")
      s.sql(s"ALTER TABLE $cat.main.dd ALTER COLUMN tag SET DEFAULT 'fresh'")
      s.sql(s"INSERT INTO $cat.main.dd (r_regionkey, r_name) VALUES (99, 'NEW')")
      lake.table("main.dd").orderBy("r_regionkey")
    }),

    // ---- A16 timestamptz change-feed overloads (pg_ducklake--0.1.0.sql:
    // 356-445): a wall-clock window resolves to the snapshot range --------
    "l26_cdf_timestamps" -> ((s, dir) => {
      val lake = newLake(s)
      val nation = t(s, dir, "nation")
      lake.createTable("main.tc", nation.schema)
      lake.append("main.tc", nation)
      lake.delete("main.tc", col("n_regionkey") === 2)
      val now = System.currentTimeMillis() + 3600000L
      lake.tableChangesBetweenTimes("main.tc", 0L, now)
        .select("_change_type", "n_nationkey", "n_name")
        .unionByName(lake.tableDeletionsBetweenTimes("main.tc", 0L, now)
          .select(concat(lit("only_"), col("_change_type")).as("_change_type"),
            col("n_nationkey"), col("n_name")))
        .orderBy("_change_type", "n_nationkey")
    }),

    // ---- A23 require_commit_message + expire_older_than (docs/settings.md;
    // commit_message column per metadata_manager.cpp:735): expired
    // snapshots leave the history and refuse time travel --------------------
    "l27_expiry_commitmsg" -> ((s, dir) => {
      val lake = newLake(s)
      val nation = t(s, dir, "nation")
      lake.createTable("main.ex", nation.schema)       // snap 0
      lake.append("main.ex", nation)                   // snap 1
      lake.delete("main.ex", col("n_regionkey") === 0) // snap 2
      lake.setOption("require_commit_message", "true") // snap 3
      s.conf.set("spark.graft.lake.commitMessage", "expire old history")
      try { Thread.sleep(10); lake.expireSnapshots(Some(0L)) } // snap 4
      finally s.conf.unset("spark.graft.lake.commitMessage")
      val ttRefused = try { lake.table("main.ex", Some(1)).count(); 0 }
        catch { case _: IllegalArgumentException => 1 }
      val meta = lake.snapshots()
        .agg(count(lit(1)).as("n_snapshots"),
          max("commit_message").as("last_message"))
        .withColumn("tt_refused", lit(ttRefused))
      lake.table("main.ex").select("n_nationkey", "n_name").crossJoin(meta)
        .orderBy("n_nationkey")
    }),

    // ---- §2.B DML: SQL MERGE INTO lowered onto the native positional-
    // delete machinery (one snapshot; update/delete/insert clauses + exact
    // per-kind row counts, the reference's command-tag contract) -----------
    // ---- SQL BEGIN…COMMIT block (r15): explicit transactions at the SQL
    // surface (reference test/regression/sql/transaction.sql) — the block
    // stages reads-your-own-writes and lands as ONE snapshot; a ROLLBACK
    // block leaves no trace ------------------------------------------------
    "l61_sql_transaction" -> ((s, dir) => {
      val lake = newLake(s)
      lake.createTableAs("main.tx",
        t(s, dir, "nation").select(col("n_nationkey"), col("n_regionkey")))
      val cat = s"lqtx${System.nanoTime()}"
      wireCatalog(s, cat, lake)
      val before = lake.currentSnapshot()
      s.sql(
        s"""BEGIN;
           |INSERT INTO $cat.main.tx SELECT n_nationkey + 100, n_regionkey
           |  FROM $cat.main.tx WHERE n_regionkey = 2;
           |DELETE FROM $cat.main.tx WHERE n_regionkey = 0;
           |COMMIT;""".stripMargin).collect()
      s.sql(
        s"""BEGIN;
           |DELETE FROM $cat.main.tx WHERE n_nationkey >= 0;
           |ROLLBACK;""".stripMargin).collect()
      val after = lake.currentSnapshot()
      // one snapshot for the committed block, none for the rollback
      lake.table("main.tx")
        .withColumn("snapshots_advanced", lit(after - before))
        .orderBy(col("n_nationkey"))
    }),

    // ---- MV query rewrite (r16, VERDICT r15 #5): with
    // spark.graft.mv.rewrite=fresh, a grouped aggregate that structurally
    // matches a FRESH materialized view is answered from the MV table —
    // the entry REQUIRES the rewrite to fire (no Aggregate survives in the
    // optimized plan, i.e. no fact scan) and the values must equal the
    // oracle's direct GROUP BY over the same final state --------------------
    "l62_mv_query_rewrite" -> ((s, dir) => {
      val lake = newLake(s)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_orderpriority"))
      lake.createTableAs("main.mvo", orders.filter(col("o_orderkey") % 2 === 0))
      lake.createMaterializedView("main.mv62", "main.mvo",
        groupCols = Seq("o_orderpriority"), sumCols = Seq("o_custkey"),
        cntCols = Seq("o_custkey"), minMaxCols = Seq("o_orderkey"))
      lake.append("main.mvo", orders.filter(col("o_orderkey") % 2 === 1))
      lake.delete("main.mvo", col("o_orderkey") % 10 === 3)
      lake.refreshMaterializedView("main.mv62")
      val cat = s"lqmvr${System.nanoTime()}"
      wireCatalog(s, cat, lake)
      s.conf.set("spark.graft.mv.rewrite", "fresh")
      try {
        val q = s.sql(
          s"""SELECT o_orderpriority, count(*) AS n_rows,
             |  sum(o_custkey) AS sum_ck, count(o_custkey) AS cnt_ck,
             |  min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
             |FROM $cat.main.mvo GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)
        val opt = q.queryExecution.optimizedPlan
        require(opt.collect {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
        }.isEmpty, s"l62: MV rewrite did not fire — fact aggregate survives:\n$opt")
        q
      } finally s.conf.unset("spark.graft.mv.rewrite")
    }),

    // ---- MV ROLLUP rewrite (r16): the query groups by a SUBSET of the
    // MV's group columns — the rule re-aggregates the group-domain-sized
    // MV (sums of sums, COUNT-guarded, extrema of extrema) instead of
    // scanning the fact; the entry REQUIRES the plan to carry no fact
    // relation (the MV splice reads through an internal relation, the fact
    // through the catalog) ------------------------------------------------
    "l63_mv_rollup" -> ((s, dir) => {
      val lake = newLake(s)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_orderpriority"))
      lake.createTableAs("main.mvo", orders.filter(col("o_orderkey") % 2 === 0))
      lake.createMaterializedView("main.mv63", "main.mvo",
        groupCols = Seq("o_orderpriority", "o_orderstatus"),
        sumCols = Seq("o_custkey"), cntCols = Seq("o_custkey"),
        avgCols = Seq("o_custkey"), minMaxCols = Seq("o_orderkey"))
      lake.append("main.mvo", orders.filter(col("o_orderkey") % 2 === 1))
      lake.delete("main.mvo", col("o_orderkey") % 10 === 7)
      lake.refreshMaterializedView("main.mv63")
      val cat = s"lqmvu${System.nanoTime()}"
      wireCatalog(s, cat, lake)
      s.conf.set("spark.graft.mv.rewrite", "fresh")
      try {
        val q = s.sql(
          s"""SELECT o_orderpriority, count(*) AS n_rows,
             |  sum(o_custkey) AS sum_ck, avg(o_custkey) AS avg_ck,
             |  min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
             |FROM $cat.main.mvo GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)
        val opt = q.queryExecution.optimizedPlan
        require(!graft.lake.LakeTable.readsCatalogTable(opt), s"l63: rollup rewrite did not fire — fact relation survives:\n$opt")
        q
      } finally s.conf.unset("spark.graft.mv.rewrite")
    }),

    // ---- join-MV rewrite (r16): the dashboard query that IS the MV's
    // join (fact ⋈ dim grouped by the dim attribute) is answered from the
    // maintained join-MV — freshness gates on BOTH tables' change feeds;
    // the entry REQUIRES the no-fact-relation plan shape -------------------
    "l64_mv_join_rewrite" -> ((s, dir) => {
      val lake = newLake(s)
      val orders = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      lake.createTableAs("main.fact", orders.filter(col("o_orderkey") % 2 === 0))
      lake.createTableAs("main.dim", cust)
      lake.createMaterializedView("main.mv64", "main.fact",
        groupCols = Seq("c_mktsegment"), sumCols = Seq("o_orderkey"),
        cntCols = Seq("o_orderkey"),
        dimTable = Some("main.dim"), dimKeys = Seq(("o_custkey", "c_custkey")))
      lake.append("main.fact", orders.filter(col("o_orderkey") % 2 === 1))
      lake.delete("main.fact", col("o_orderkey") % 10 === 9)
      lake.refreshMaterializedView("main.mv64")
      val cat = s"lqmvj${System.nanoTime()}"
      wireCatalog(s, cat, lake)
      s.conf.set("spark.graft.mv.rewrite", "fresh")
      try {
        val q = s.sql(
          s"""SELECT c_mktsegment, count(*) AS n_rows, sum(o_orderkey) AS sum_ok
             |FROM $cat.main.fact f JOIN $cat.main.dim d
             |  ON f.o_custkey = d.c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
        val opt = q.queryExecution.optimizedPlan
        require(!graft.lake.LakeTable.readsCatalogTable(opt), s"l64: join-MV rewrite did not fire — fact relation survives:\n$opt")
        q
      } finally s.conf.unset("spark.graft.mv.rewrite")
    }),

    // ---- DECIMAL-measure MV (r17, VERDICT r16 #1): the canonical revenue
    // aggregate — SUM over a DECIMAL column with NULLs — maintained
    // incrementally through append / delete / group-moving update
    // (decimal(38,2) additive state, COUNT-guarded NULL semantics), AND
    // served by the query rewrite: the final SELECT's decimal sum comes
    // from the MV with no fact relation in the plan -----------------------
    "l65_mv_decimal" -> ((s, dir) => {
      val lake = newLake(s)
      val orders = t(s, dir, "orders").select(
        col("o_orderkey"),
        when(col("o_orderkey") % 11 === 0, lit(null))
          .otherwise(col("o_totalprice")).cast("decimal(18,2)")
          .as("o_totalprice"),
        col("o_orderpriority"))
      lake.createTableAs("main.mvo", orders.filter(col("o_orderkey") % 2 === 0))
      lake.createMaterializedView("main.mv65", "main.mvo",
        groupCols = Seq("o_orderpriority"), sumCols = Seq("o_totalprice"),
        cntCols = Seq("o_totalprice"))
      lake.append("main.mvo", orders.filter(col("o_orderkey") % 2 === 1))
      lake.delete("main.mvo", col("o_orderkey") % 10 === 3)
      lake.update("main.mvo", col("o_orderkey") % 7 === 0,
        Map("o_orderpriority" -> lit("9-MOVED")))
      lake.refreshMaterializedView("main.mv65")
      val cat = s"lqmvd${System.nanoTime()}"
      wireCatalog(s, cat, lake)
      s.conf.set("spark.graft.mv.rewrite", "fresh")
      try {
        val q = s.sql(
          s"""SELECT o_orderpriority, count(*) AS n_rows,
             |  sum(o_totalprice) AS sum_tp, count(o_totalprice) AS cnt_tp
             |FROM $cat.main.mvo GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)
        val opt = q.queryExecution.optimizedPlan
        require(!graft.lake.LakeTable.readsCatalogTable(opt), s"l65: decimal MV rewrite did not fire — fact relation survives:\n$opt")
        q
      } finally s.conf.unset("spark.graft.mv.rewrite")
    }),

    // ---- time-bucket MV (r17, VERDICT r16 #2): the single most common
    // reporting MV — GROUP BY date_trunc('DAY', ts) — expressed as an
    // EXPRESSION group key: the key materializes as a named column at
    // create and on every delta fold, and the rewrite matches the query's
    // grouping expression against the stored SQL by canonicalized
    // comparison; the daily-rollup query plans with NO fact relation -----
    "l66_mv_time_bucket" -> ((s, dir) => {
      val lake = newLake(s)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      lake.createTableAs("main.mvo", orders.filter(col("o_orderkey") % 2 === 0))
      lake.createMaterializedView("main.mv66", "main.mvo",
        groupCols = Nil, sumCols = Seq("o_custkey"),
        cntCols = Seq("o_custkey"),
        groupExprs = Seq(("o_day", "date_trunc('DAY', o_orderdate)")))
      lake.append("main.mvo", orders.filter(col("o_orderkey") % 2 === 1))
      lake.delete("main.mvo", col("o_orderkey") % 10 === 5)
      lake.refreshMaterializedView("main.mv66")
      val cat = s"lqmvt${System.nanoTime()}"
      wireCatalog(s, cat, lake)
      s.conf.set("spark.graft.mv.rewrite", "fresh")
      try {
        val q = s.sql(
          s"""SELECT CAST(date_trunc('DAY', o_orderdate) AS DATE) AS o_day,
             |  count(*) AS n_rows, sum(o_custkey) AS sum_ck
             |FROM $cat.main.mvo GROUP BY date_trunc('DAY', o_orderdate)
             |ORDER BY o_day""".stripMargin)
        val opt = q.queryExecution.optimizedPlan
        require(!graft.lake.LakeTable.readsCatalogTable(opt), s"l66: time-bucket MV rewrite did not fire — fact relation survives:\n$opt")
        q
      } finally s.conf.unset("spark.graft.mv.rewrite")
    }),

    // ---- snowflake join-MV rewrite (r17, VERDICT r16 #3): l60's 2-dim
    // chain query (fact ⋈ customer-dim ⋈ nation-dim, grouped by the OUTER
    // dim attribute) answered from the maintained snowflake MV after the
    // same fact+both-dims DML history — freshness gates on ALL THREE
    // tables, and the plan carries no fact/dim relation ------------------
    "l67_mv_snowflake_rewrite" -> ((s, dir) => {
      val lake = newLake(s)
      val orders = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      lake.createTableAs("main.fact", orders.filter(col("o_orderkey") % 2 === 0))
      lake.createTableAs("main.d1", t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey")))
      lake.createTableAs("main.d2", t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name")))
      lake.createMaterializedView("main.mv67", "main.fact",
        groupCols = Seq("n_name"), sumCols = Seq("o_orderkey"),
        cntCols = Seq("o_orderkey"),
        dims = Seq(("main.d1", Seq(("o_custkey", "c_custkey"))),
          ("main.d2", Seq(("c_nationkey", "n_nationkey")))))
      lake.append("main.fact", orders.filter(col("o_orderkey") % 2 === 1))
      lake.update("main.fact", col("o_orderkey") % 11 === 0,
        Map("o_custkey" -> lit(1L)))
      lake.update("main.d1", col("c_custkey") % 7 === 0,
        Map("c_nationkey" -> ((col("c_nationkey") + 1) % 25)))
      lake.update("main.d2", col("n_nationkey") % 5 === 0,
        Map("n_name" -> concat(lit("X-"), col("n_name"))))
      lake.refreshMaterializedView("main.mv67")
      val cat = s"lqmvs${System.nanoTime()}"
      wireCatalog(s, cat, lake)
      s.conf.set("spark.graft.mv.rewrite", "fresh")
      try {
        val q = s.sql(
          s"""SELECT n_name, count(*) AS n_rows, sum(o_orderkey) AS sum_ok
             |FROM $cat.main.fact f
             |JOIN $cat.main.d1 c ON f.o_custkey = c.c_custkey
             |JOIN $cat.main.d2 n ON c.c_nationkey = n.n_nationkey
             |GROUP BY n_name ORDER BY n_name""".stripMargin)
        val opt = q.queryExecution.optimizedPlan
        require(!graft.lake.LakeTable.readsCatalogTable(opt), s"l67: snowflake MV rewrite did not fire — a relation survives:\n$opt")
        q
      } finally s.conf.unset("spark.graft.mv.rewrite")
    }),

    "l28_sql_merge" -> ((s, dir) => {
      import s.implicits._
      val lake = newLake(s)
      val nation = t(s, dir, "nation")
      lake.createTableAs("main.mg", nation)
      val cat = s"lqmg${System.nanoTime()}"
      wireCatalog(s, cat, lake)
      val src = nation.filter(col("n_regionkey").isin(1, 2))
        .select(col("n_nationkey").as("k"),
          when(col("n_regionkey") === 2, "del").otherwise("upd").as("op"),
          col("n_name").as("nm"))
        .unionByName(Seq((100, "ins", "NEWLAND"), (101, "ins", "OLDLAND"))
          .toDF("k", "op", "nm").select(col("k").cast("int"), col("op"), col("nm")))
      val view = s"msrc_${System.nanoTime()}"
      src.createOrReplaceTempView(view)
      val res = s.sql(
        s"""MERGE INTO $cat.main.mg t USING $view s ON t.n_nationkey = s.k
           |WHEN MATCHED AND s.op = 'del' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET n_name = concat('M:', s.nm)
           |WHEN NOT MATCHED THEN INSERT (n_nationkey, n_name, n_regionkey)
           |  VALUES (s.k, s.nm, 9)""".stripMargin).collect().head
      lake.table("main.mg")
        .withColumn("n_upd", lit(res.getLong(0)))
        .withColumn("n_del", lit(res.getLong(1)))
        .withColumn("n_ins", lit(res.getLong(2)))
        .orderBy("n_nationkey")
    }),

    // ---- §1.2 variant: semi-structured columns (variant.sql; Spark 4
    // VariantType). Insert JSON of mixed shapes, DML by extracted field,
    // read back typed extractions ------------------------------------------
    "l21_variant" -> ((s, dir) => {
      import s.implicits._
      val lake = newLake(s)
      lake.createTable("main.vr", StructType(Seq(
        StructField("id", IntegerType), StructField("v", VariantType))))
      val df = Seq(
        (1, """{"name": "alice", "age": 30}"""),
        (2, """{"name": "bob", "age": 41, "tags": ["x", "y"]}"""),
        (3, """[1, 2, 3]"""),
        (4, """42"""),
        (5, """true""")).toDF("id", "j")
        .select(col("id"), expr("parse_json(j)").as("v"))
      lake.append("main.vr", df)
      lake.update("main.vr", expr("variant_get(v, '$.age', 'int') = 30"),
        Map("v" -> expr("""parse_json('{"name": "alice", "age": 31}')""")))
      lake.delete("main.vr", expr("to_json(v) = '42'"))
      lake.table("main.vr").selectExpr("id",
        "cast(variant_get(v, '$.name') as string) AS name",
        "cast(variant_get(v, '$.age') as int) AS age",
        "cast(variant_get(v, '$[0]') as int) AS first_elem")
        .orderBy("id")
    })
  )

  def oracleSql: Map[String, String] = Map(
    "l01_create_scan" ->
      "SELECT * FROM nation WHERE n_regionkey = 2 ORDER BY n_nationkey",

    "l02_ctas" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE o_orderkey < 2000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "l03_multi_append" ->
      """SELECT * FROM (
        |  SELECT r_regionkey, r_name FROM region
        |  UNION ALL
        |  SELECT CAST(r_regionkey + 10 AS INTEGER), r_name FROM region) t
        |ORDER BY r_regionkey""".stripMargin,

    "l04_delete" ->
      """SELECT count(*) AS n_rows, min(c_custkey) AS min_key, max(c_custkey) AS max_key
        |FROM customer WHERE c_custkey < 1500 AND c_mktsegment <> 'BUILDING'""".stripMargin,

    "l05_update" ->
      """SELECT n_nationkey,
        |  CASE WHEN n_regionkey = 0 THEN 'ZERO' ELSE n_name END AS n_name
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "l06_time_travel" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",

    "l07_schema_evolution" ->
      """SELECT * FROM (
        |  SELECT n_nationkey, n_name, CAST(NULL AS INTEGER) AS flag FROM nation
        |  UNION ALL
        |  SELECT CAST(n_nationkey + 100 AS INTEGER), n_name, 1 AS flag FROM nation) t
        |ORDER BY n_nationkey""".stripMargin,

    "l08_snapshots" ->
      """SELECT CAST(s AS BIGINT) AS snapshot_id, c AS changes FROM (VALUES
        |  (0, 'created_table:main.nat'),
        |  (1, 'inserted:1:' || (SELECT CAST(count(*) AS VARCHAR) FROM nation)),
        |  (2, 'deleted:1:' || (SELECT CAST(count(*) AS VARCHAR) FROM nation WHERE n_regionkey = 0))
        |) v(s, c) ORDER BY snapshot_id""".stripMargin,

    "l09_table_info" ->
      """SELECT 'main' AS schema_name, 'nat' AS table_name,
        |  CAST(1 AS BIGINT) AS file_count,
        |  (SELECT count(*) FROM nation) AS row_count,
        |  CAST(1 AS BIGINT) AS delete_file_count,
        |  CAST(0 AS BIGINT) AS inlined_row_count""".stripMargin,

    "l10_change_feed" ->
      """SELECT * FROM (
        |  SELECT 'insert' AS _change_type, n_nationkey, n_name FROM nation
        |  UNION ALL
        |  SELECT 'delete', n_nationkey, n_name FROM nation WHERE n_regionkey = 4
        |  UNION ALL
        |  SELECT 'update_preimage', n_nationkey, n_name FROM nation WHERE n_regionkey = 3
        |  UNION ALL
        |  SELECT 'update_postimage', n_nationkey, 'X' FROM nation WHERE n_regionkey = 3) t
        |ORDER BY _change_type, n_nationkey""".stripMargin,

    "l11_partition_files" ->
      """SELECT 'year(o_orderdate)=' || CAST(year(o_orderdate) AS VARCHAR) AS partition_values,
        |  count(*) AS row_count
        |FROM orders WHERE o_orderkey < 5000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "l12_vacuum" ->
      """SELECT r_regionkey, r_name,
        |  CAST(1 AS BIGINT) AS file_count, CAST(0 AS BIGINT) AS delete_file_count
        |FROM (SELECT * FROM region UNION ALL SELECT * FROM region UNION ALL SELECT * FROM region) t
        |WHERE r_regionkey <> 0
        |ORDER BY r_regionkey, r_name""".stripMargin,

    "l13_inline" ->
      """SELECT a, b, CAST(0 AS BIGINT) AS file_count, CAST(2 AS BIGINT) AS inlined_row_count
        |FROM (VALUES (1, 10), (3, 30)) v(a, b) ORDER BY a""".stripMargin,

    "l14_freeze_mount" ->
      "SELECT * FROM nation WHERE n_regionkey <= 1 ORDER BY n_nationkey",

    "l15_csv_ingest" ->
      "SELECT * FROM nation ORDER BY n_nationkey",

    // ties in ROW_NUMBER are between identical duplicate rows, so any
    // tie-break yields the same result multiset
    "l16_sorted_table" ->
      """SELECT CAST(ROW_NUMBER() OVER (ORDER BY r_name DESC) - 1 AS BIGINT) AS pos,
        |  r_regionkey, r_name
        |FROM (SELECT * FROM region UNION ALL SELECT * FROM region
        |      UNION ALL SELECT * FROM region) t
        |ORDER BY pos""".stripMargin,

    "l17_options" ->
      """SELECT scope, key, value, (SELECT count(*) FROM region) AS n_rows
        |FROM (VALUES
        |  ('1', 'parquet_compression', 'zstd'),
        |  ('global', 'data_inlining_row_limit', '100')) v(scope, key, value)
        |ORDER BY scope, key""".stripMargin,

    "l18_drop_rename" ->
      """SELECT 'main' AS schema_name, 'c' AS table_name,
        |  (SELECT count(*) FROM nation) AS row_count,
        |  (SELECT count(*) FROM nation) AS n,
        |  (SELECT min(n_nationkey) FROM nation) AS min_k,
        |  (SELECT max(n_nationkey) FROM nation) AS max_k""".stripMargin,

    "l19_session_asof" ->
      """SELECT * FROM (
        |  SELECT r_regionkey, r_name, 'asof' AS src FROM region
        |  UNION ALL
        |  SELECT r_regionkey, r_name, 'current' FROM region
        |  UNION ALL
        |  SELECT CAST(r_regionkey + 10 AS INTEGER), r_name, 'current' FROM region) t
        |ORDER BY src, r_regionkey""".stripMargin,

    "l20_cleanup" ->
      """SELECT r_regionkey, r_name,
        |  CAST(1 AS BIGINT) AS files_on_disk, CAST(0 AS BIGINT) AS scheduled_remaining
        |FROM (SELECT * FROM region UNION ALL SELECT * FROM region
        |      UNION ALL SELECT * FROM region) t
        |ORDER BY r_regionkey, r_name""".stripMargin,

    "l22_binpack_compaction" ->
      """SELECT CAST(2 AS BIGINT) AS file_count,
        |  (SELECT count(*) * 2000 FROM region) + 4 AS n_rows,
        |  CAST((SELECT sum(r_regionkey * 2000 + i.i)
        |        FROM region, generate_series(1, 2000) AS i(i)) +
        |       (SELECT sum(r_regionkey + 100000) FROM region WHERE r_regionkey <= 3)
        |       AS BIGINT) AS sum_k""".stripMargin,

    "l23_flush_inline" ->
      """SELECT a, b,
        |  CAST(0 AS BIGINT) AS fc_before, CAST(3 AS BIGINT) AS inl_before,
        |  CAST(1 AS BIGINT) AS fc_after, CAST(0 AS BIGINT) AS inl_after
        |FROM (VALUES (1, 10), (2, 20), (3, 30)) v(a, b) ORDER BY a""".stripMargin,

    "l24_sql_update" ->
      """SELECT n_nationkey,
        |  CASE WHEN n_regionkey = 1 THEN n_name || '!' ELSE n_name END AS n_name,
        |  (SELECT count(*) FROM nation WHERE n_regionkey = 1) AS n_updated
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "l29_native_delete_scan" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS keysum
        |FROM orders WHERE o_orderstatus <> 'F' AND o_orderkey > 100
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "l30_delete_consolidation" ->
      """SELECT n_nationkey, n_name, n_regionkey,
        |  CAST(1 AS BIGINT) AS delete_file_count
        |FROM nation WHERE n_regionkey NOT IN (0, 4)
        |ORDER BY n_nationkey""".stripMargin,

    "l31_sort_partition_meta" ->
      """SELECT * FROM (VALUES
        |  ('last_committed', CAST(0 AS BIGINT), 'one_row', 'true'),
        |  ('partition', CAST(0 AS BIGINT), 'o_orderdate', 'year'),
        |  ('sort', CAST(0 AS BIGINT), 'o_orderdate', 'ASC NULLS_FIRST'),
        |  ('sort', CAST(1 AS BIGINT), 'o_totalprice', 'DESC NULLS_LAST'))
        |  v(kind, idx, name, detail)
        |ORDER BY kind, idx""".stripMargin,

    "l32_hybrid_scan" ->
      """SELECT r_name, count(*) AS n_nations, min(n_name) AS first_nation
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |WHERE n_nationkey <> 0
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "l33_sorted_rewrite" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  CAST(0 AS BIGINT) AS overlapping_file_pairs,
        |  CAST(0 AS BIGINT) AS delete_files_left
        |FROM (SELECT * FROM orders UNION ALL SELECT * FROM orders
        |      UNION ALL SELECT * FROM orders) t
        |WHERE o_orderkey >= 100 AND o_orderkey < 50000""".stripMargin,

    "l34_rowid" ->
      """SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_nationkey) - 1 AS BIGINT)
        |    AS rid,
        |  n_nationkey, n_name
        |FROM nation QUALIFY n_regionkey <> 2
        |ORDER BY n_nationkey""".stripMargin,

    "l35_transaction" ->
      """SELECT n_nationkey, n_name, n_regionkey,
        |  CAST(1 AS BIGINT) AS txn_snapshots
        |FROM nation WHERE n_regionkey <> 2
        |ORDER BY n_nationkey""".stripMargin,

    "l36_thaw" ->
      """SELECT n_nationkey,
        |  CASE WHEN n_regionkey = 3 THEN n_name || '_EXT' ELSE n_name END
        |    AS n_name,
        |  n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "l37_checkpoint" ->
      """SELECT * FROM (
        |  SELECT n_nationkey, n_name, n_regionkey FROM nation
        |  WHERE n_regionkey <> 0
        |  UNION ALL
        |  SELECT CAST(99 AS INTEGER), n_name, n_regionkey FROM nation
        |  WHERE n_nationkey = 0) t
        |ORDER BY n_nationkey""".stripMargin,

    "l38_incremental_import" ->
      """SELECT n_nationkey,
        |  CASE WHEN n_regionkey = 4 THEN n_name || '_V2' ELSE n_name END
        |    AS n_name,
        |  n_regionkey,
        |  CAST(2 AS BIGINT) AS new_snapshots,
        |  (SELECT COUNT(*) FROM nation WHERE n_regionkey = 4) AS feed_inserts,
        |  (SELECT COUNT(*) FROM nation WHERE n_nationkey = 0) AS feed_deletes
        |FROM nation WHERE n_nationkey <> 0
        |ORDER BY n_nationkey""".stripMargin,

    "l39_add_data_files" ->
      """SELECT * FROM nation WHERE n_nationkey <> 12
        |ORDER BY n_nationkey""".stripMargin,

    "l40_comments" ->
      """SELECT * FROM (
        |  SELECT 'column' AS object_type, 'r_name' AS name,
        |         'region name' AS comment
        |  UNION ALL
        |  SELECT 'table', 'cmt', 'regions snapshot') t
        |ORDER BY object_type, name""".stripMargin,

    "l41_notnull" ->
      """SELECT * FROM (
        |  SELECT n_nationkey, n_name, 1 AS rejected_nulls FROM nation
        |  UNION ALL
        |  SELECT 99, NULL, 1) t
        |ORDER BY n_nationkey""".stripMargin,

    "l42_views_macros" ->
      """WITH v1 AS (SELECT n_regionkey AS rk, count(*) AS n_nations
        |            FROM nation GROUP BY 1),
        |     v2 AS (SELECT n_regionkey AS rk, count(*) AS n_nations
        |            FROM nation WHERE n_nationkey >= 10 GROUP BY 1)
        |SELECT * FROM (
        |  SELECT rk, n_nations, CAST(rk * rk + 1 AS BIGINT) AS k2,
        |         'current' AS gen FROM v2
        |  UNION ALL
        |  SELECT rk, n_nations, CAST(rk * rk + 1 AS BIGINT), 'v1' FROM v1) t
        |ORDER BY gen, rk""".stripMargin,

    "l43_jdbc_catalog" ->
      """SELECT n_nationkey,
        |  CASE WHEN n_regionkey = 1 THEN 'SHARED' ELSE n_name END AS n_name,
        |  n_regionkey
        |FROM nation WHERE n_regionkey <> 0
        |ORDER BY n_nationkey""".stripMargin,

    "l44_http_frozen_mount" ->
      """SELECT * FROM nation
        |WHERE n_regionkey >= 3 AND n_nationkey % 2 <> 0
        |ORDER BY n_nationkey""".stripMargin,

    "l45_encryption" ->
      """SELECT *, 1 AS all_encrypted FROM nation
        |WHERE n_regionkey <> 2
        |ORDER BY n_nationkey""".stripMargin,

    "l46_orphan_cleanup" ->
      """SELECT *, 1 AS n_orphans_deleted FROM nation
        |ORDER BY n_nationkey""".stripMargin,

    // after maintain(): both inline batches flushed (0 inlined rows) and
    // bin-packed into ONE parquet file; one live table maintained
    "l47_maintenance" ->
      """SELECT *, 1 AS n_files, 0 AS n_inlined,
        |  CAST(1 AS BIGINT) AS tables_maintained
        |FROM region ORDER BY r_regionkey""".stripMargin,

    "l48_migrate" ->
      """SELECT * FROM (
        |  SELECT 'nation' AS table_name, count(*) AS n_rows FROM nation
        |  UNION ALL SELECT 'region', count(*) FROM region
        |  UNION ALL SELECT 'supplier', count(*) FROM supplier) t
        |ORDER BY table_name""".stripMargin,

    "l49_settings" ->
      """SELECT setting, value, (SELECT count(*) FROM region) AS n_rows
        |FROM (VALUES
        |  ('max_retry_count', '20'), ('metadata_backend', 'file'),
        |  ('native_scan', 'true'), ('retry_backoff', '2.0'),
        |  ('retry_wait_ms', '5')) v(setting, value)
        |ORDER BY setting""".stripMargin,

    "l50_zorder" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_quantity
        |FROM lineitem WHERE l_orderkey < 2000
        |ORDER BY l_orderkey, l_partkey, l_suppkey, l_quantity""".stripMargin,

    "l52_bucket_partition" ->
      """SELECT c_custkey, c_name, c_nationkey,
        |  (SELECT count(*) FROM customer) AS n_total
        |FROM customer WHERE c_custkey IN (7, 42, 99)
        |ORDER BY c_custkey""".stripMargin,

    "l54_geometry" ->
      """SELECT * FROM (
        |  SELECT 1 AS id,
        |    '0101000000000000000000F03F0000000000000040' AS wkb_hex,
        |    'geometry' AS catalog_type
        |  UNION ALL
        |  SELECT 3,
        |    '010300000001000000050000000000000000000000000000000000000000000000000010400000000000000000000000000000104000000000000010400000000000000000000000000000104000000000000000000000000000000000',
        |    'geometry') t
        |ORDER BY id""".stripMargin,

    "l53_sql_view_ddl" ->
      """WITH v1 AS (SELECT n_regionkey AS rk, count(*) AS n_nations
        |            FROM nation GROUP BY 1),
        |     v2 AS (SELECT n_regionkey AS rk, count(*) AS n_nations
        |            FROM nation WHERE n_nationkey >= 10 GROUP BY 1)
        |SELECT * FROM (
        |  SELECT rk, n_nations, CAST(rk * rk + 1 AS BIGINT) AS k2,
        |         'current' AS gen FROM v2
        |  UNION ALL
        |  SELECT rk, n_nations, CAST(rk * rk + 1 AS BIGINT), 'ts' FROM v1
        |  UNION ALL
        |  SELECT rk, n_nations, CAST(rk * rk + 1 AS BIGINT), 'v1' FROM v1) t
        |ORDER BY gen, rk""".stripMargin,

    "l55_table_macro" ->
      """SELECT n_nationkey, n_name, 'table' AS macro_type
        |FROM nation WHERE n_regionkey = 1
        |ORDER BY n_nationkey""".stripMargin,

    // materialized view content == full GROUP BY over the final state the
    // DML sequence leaves behind (delete slice removed, %7 slice moved)
    "l57_materialized_view" ->
      """SELECT o_orderpriority, COUNT(*) AS n_rows,
        |  CAST(SUM(o_custkey) AS BIGINT) AS sum_o_custkey,
        |  MIN(o_orderkey) AS min_o_orderkey, MAX(o_orderkey) AS max_o_orderkey
        |FROM (
        |  SELECT CASE WHEN o_orderkey % 7 = 0 THEN '9-MOVED'
        |              ELSE o_orderpriority END AS o_orderpriority,
        |         o_custkey, o_orderkey
        |  FROM orders
        |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 10 = 3))
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // filtered MV with COUNT(col) + AVG(col): the final state equals the
    // filtered GROUP BY over what the DML sequence leaves behind; AVG is
    // written as sum/count (exactly the engine's derivation) and guarded
    // for empty counts
    "l58_materialized_view_avg" ->
      """SELECT o_orderpriority, COUNT(*) AS n_rows,
        |  COALESCE(CAST(SUM(ck) AS BIGINT), 0) AS sum_o_custkey,
        |  CAST(COUNT(ck) AS BIGINT) AS cnt_o_custkey,
        |  CASE WHEN COUNT(ck) > 0
        |       THEN CAST(SUM(ck) AS DOUBLE) / COUNT(ck) END AS avg_o_custkey
        |FROM (
        |  SELECT CASE WHEN o_orderkey % 7 = 0 THEN '9-MOVED'
        |              ELSE o_orderpriority END AS o_orderpriority,
        |         CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |              ELSE o_custkey END AS ck,
        |         o_orderstatus
        |  FROM orders
        |  WHERE NOT (o_orderkey % 10 = 3))
        |WHERE o_orderstatus <> 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // SQL transaction block: the committed block's insert+delete applied,
    // the rolled-back delete invisible, exactly one snapshot advanced
    "l61_sql_transaction" ->
      """SELECT n_nationkey, n_regionkey, CAST(1 AS BIGINT) AS snapshots_advanced
        |FROM (
        |  SELECT n_nationkey, n_regionkey FROM nation
        |  UNION ALL
        |  SELECT n_nationkey + 100, n_regionkey FROM nation WHERE n_regionkey = 2)
        |WHERE n_regionkey <> 0
        |ORDER BY n_nationkey""".stripMargin,

    // MV query rewrite: the engine answers from the MV table (the entry
    // require()s the plan shape); the oracle is the direct GROUP BY over
    // the same final state the DML sequence leaves behind
    "l62_mv_query_rewrite" ->
      """SELECT o_orderpriority, COUNT(*) AS n_rows,
        |  CAST(SUM(o_custkey) AS BIGINT) AS sum_ck,
        |  CAST(COUNT(o_custkey) AS BIGINT) AS cnt_ck,
        |  MIN(o_orderkey) AS min_ok, MAX(o_orderkey) AS max_ok
        |FROM orders
        |WHERE NOT (o_orderkey % 10 = 3)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // MV rollup rewrite: re-aggregated from the (priority, status) MV; the
    // oracle is the direct coarser GROUP BY over the same final state
    "l63_mv_rollup" ->
      """SELECT o_orderpriority, COUNT(*) AS n_rows,
        |  CAST(SUM(o_custkey) AS BIGINT) AS sum_ck,
        |  CASE WHEN COUNT(o_custkey) > 0
        |       THEN CAST(SUM(o_custkey) AS DOUBLE) / COUNT(o_custkey) END AS avg_ck,
        |  MIN(o_orderkey) AS min_ok, MAX(o_orderkey) AS max_ok
        |FROM orders
        |WHERE NOT (o_orderkey % 10 = 7)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // join-MV rewrite: the engine answers the join query from the MV (the
    // entry require()s the plan); the oracle is the direct join GROUP BY
    "l64_mv_join_rewrite" ->
      """SELECT c_mktsegment, COUNT(*) AS n_rows,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_ok
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE NOT (o_orderkey % 10 = 9)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // decimal-measure MV served by the rewrite: oracle recomputes the same
    // decimal GROUP BY (exact decimal sums; the NULLed slice exercises the
    // COUNT-guarded NULL semantics) over the final DML state
    "l65_mv_decimal" ->
      """SELECT o_orderpriority, COUNT(*) AS n_rows,
        |  SUM(tp) AS sum_tp, CAST(COUNT(tp) AS BIGINT) AS cnt_tp
        |FROM (
        |  SELECT CASE WHEN o_orderkey % 7 = 0 THEN '9-MOVED'
        |              ELSE o_orderpriority END AS o_orderpriority,
        |         CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |              ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS tp
        |  FROM orders
        |  WHERE NOT (o_orderkey % 10 = 3))
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // time-bucket MV served by the rewrite: oracle recomputes the daily
    // rollup over the final DML state (DATE-cast on both sides — DuckDB's
    // date_trunc('day') already returns DATE)
    "l66_mv_time_bucket" ->
      """SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS o_day,
        |  COUNT(*) AS n_rows, CAST(SUM(o_custkey) AS BIGINT) AS sum_ck
        |FROM orders WHERE NOT (o_orderkey % 10 = 5)
        |GROUP BY 1 ORDER BY o_day""".stripMargin,

    // join-source MV: final content == fact⋈dim GROUP BY over what the
    // DML sequence leaves behind, joined against the UPDATED dim
    "l59_materialized_view_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_rows,
        |  CAST(SUM(o_custkey) AS BIGINT) AS sum_o_custkey,
        |  MIN(o_orderkey) AS min_o_orderkey, MAX(o_orderkey) AS max_o_orderkey
        |FROM (
        |  SELECT CASE WHEN o_orderkey % 13 = 0 THEN 1
        |              ELSE o_custkey END AS o_custkey, o_orderkey
        |  FROM orders
        |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 10 = 3)) f
        |JOIN (
        |  SELECT c_custkey, CASE WHEN c_custkey % 5 = 0 THEN '9-DIMMOVED'
        |                         ELSE c_mktsegment END AS c_mktsegment
        |  FROM customer) d
        |  ON f.o_custkey = d.c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // snowflake join-source MV: final content == fact⋈d1⋈d2 GROUP BY over
    // the DML-transformed tables (both dim updates applied in order)
    "l60_materialized_view_snowflake" ->
      """SELECT n_name, COUNT(*) AS n_rows,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_o_orderkey
        |FROM (
        |  SELECT CASE WHEN o_orderkey % 11 = 0 THEN 1
        |              ELSE o_custkey END AS o_custkey, o_orderkey
        |  FROM orders) f
        |JOIN (
        |  SELECT c_custkey, CASE WHEN c_custkey % 7 = 0
        |    THEN (c_nationkey + 1) % 25 ELSE c_nationkey END AS c_nationkey
        |  FROM customer) d1
        |  ON f.o_custkey = d1.c_custkey
        |JOIN (
        |  SELECT n_nationkey, CASE WHEN n_nationkey % 3 = 1
        |    THEN 'Y-' || base ELSE base END AS n_name
        |  FROM (SELECT n_nationkey, CASE WHEN n_nationkey % 5 = 0
        |          THEN 'X-' || n_name ELSE n_name END AS base
        |        FROM nation)) d2
        |  ON d1.c_nationkey = d2.n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    // snowflake-MV rewrite: the 2-dim chain query recomputed directly over
    // the same post-DML state (fact %11 rekey, d1 nationkey shift, d2 X-
    // rename — l60's history minus the second d2 pass)
    "l67_mv_snowflake_rewrite" ->
      """SELECT n_name, COUNT(*) AS n_rows,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_ok
        |FROM (
        |  SELECT CASE WHEN o_orderkey % 11 = 0 THEN 1
        |              ELSE o_custkey END AS o_custkey, o_orderkey
        |  FROM orders) f
        |JOIN (
        |  SELECT c_custkey, CASE WHEN c_custkey % 7 = 0
        |    THEN (c_nationkey + 1) % 25 ELSE c_nationkey END AS c_nationkey
        |  FROM customer) d1
        |  ON f.o_custkey = d1.c_custkey
        |JOIN (
        |  SELECT n_nationkey, CASE WHEN n_nationkey % 5 = 0
        |    THEN 'X-' || n_name ELSE n_name END AS n_name
        |  FROM nation) d2
        |  ON d1.c_nationkey = d2.n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    // roles: reader-grant user reads what the writer-role user's DELETE
    // left behind; the denied write surfaces as a constant column
    "l56_roles" ->
      """SELECT n_nationkey, n_name, n_regionkey,
        |       'analyst' AS role_name, 'SELECT' AS privileges,
        |       'denied' AS write_denied
        |FROM nation WHERE n_regionkey <> 0
        |ORDER BY n_nationkey""".stripMargin,

    // after merge_adjacent_files: one file; set_option visible on the table
    "l51_sql_procedures" ->
      """SELECT *, 1 AS n_files, 'zstd' AS compression FROM (
        |  SELECT * FROM nation
        |  UNION ALL SELECT * FROM nation WHERE n_regionkey = 0) t
        |ORDER BY n_nationkey, n_name""".stripMargin,

    "l25_column_default" ->
      """SELECT * FROM (
        |  SELECT r_regionkey, r_name, 'legacy' AS tag FROM region
        |  UNION ALL
        |  SELECT CAST(99 AS INTEGER), 'NEW', 'fresh') t
        |ORDER BY r_regionkey""".stripMargin,

    "l26_cdf_timestamps" ->
      """SELECT * FROM (
        |  SELECT 'insert' AS _change_type, n_nationkey, n_name FROM nation
        |  UNION ALL
        |  SELECT 'delete', n_nationkey, n_name FROM nation WHERE n_regionkey = 2
        |  UNION ALL
        |  SELECT 'only_delete', n_nationkey, n_name FROM nation WHERE n_regionkey = 2) t
        |ORDER BY _change_type, n_nationkey""".stripMargin,

    "l27_expiry_commitmsg" ->
      """SELECT n_nationkey, n_name,
        |  CAST(2 AS BIGINT) AS n_snapshots,
        |  'expire old history' AS last_message,
        |  1 AS tt_refused
        |FROM nation WHERE n_regionkey <> 0
        |ORDER BY n_nationkey""".stripMargin,

    "l28_sql_merge" ->
      """SELECT n_nationkey, n_name, n_regionkey,
        |  (SELECT count(*) FROM nation WHERE n_regionkey = 1) AS n_upd,
        |  (SELECT count(*) FROM nation WHERE n_regionkey = 2) AS n_del,
        |  CAST(2 AS BIGINT) AS n_ins
        |FROM (
        |  SELECT n_nationkey,
        |    CASE WHEN n_regionkey = 1 THEN 'M:' || n_name ELSE n_name END AS n_name,
        |    n_regionkey
        |  FROM nation WHERE n_regionkey <> 2
        |  UNION ALL SELECT CAST(100 AS INTEGER), 'NEWLAND', CAST(9 AS INTEGER)
        |  UNION ALL SELECT CAST(101 AS INTEGER), 'OLDLAND', CAST(9 AS INTEGER)) t
        |ORDER BY n_nationkey""".stripMargin,

    "l21_variant" ->
      """SELECT id, name, age, first_elem FROM (VALUES
        |  (1, 'alice', 31, CAST(NULL AS INTEGER)),
        |  (2, 'bob', 41, NULL),
        |  (3, NULL, NULL, 1),
        |  (5, NULL, NULL, NULL)) v(id, name, age, first_elem)
        |ORDER BY id""".stripMargin
  )
}

/** Minimal static file server for the HTTP frozen-mount demo (l44) and its
  * spec: stands in for the web server of the reference's `frozen_url`
  * deployment (src/pgducklake_fdw.cpp:84-93). GET-only; the freeze manifest
  * is fixed-name JSON files, so no listing support is needed. */
private[graft] object MiniHttp {
  import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

  def serve(dir: String): HttpServer = {
    val srv = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val f = java.nio.file.Paths.get(dir, ex.getRequestURI.getPath.stripPrefix("/"))
        if (java.nio.file.Files.isRegularFile(f)) {
          val bytes = java.nio.file.Files.readAllBytes(f)
          ex.sendResponseHeaders(200, bytes.length)
          ex.getResponseBody.write(bytes)
        } else ex.sendResponseHeaders(404, -1)
        ex.close()
      }
    })
    srv.start()
    srv
  }
}
