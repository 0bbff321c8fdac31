package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.lake._

/** Incremental materialized views (LakeMaterializedView): refresh applies
  * ONLY the change feed since the watermark, exactly once, through every
  * DML shape — and the watermark commit is CAS-guarded against concurrent
  * refreshers. */
class MaterializedViewSpec extends AnyFunSuite {
  import TestSession.spark

  private def mkLake() = new Lake(spark, Files.createTempDirectory("graft_mv").toString)

  private def mvState(lake: Lake): Map[String, (Long, Long)] =
    lake.table("main.mv").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  private def oracle(lake: Lake): Map[String, (Long, Long)] =
    lake.table("main.src").groupBy(col("g"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("x")), lit(0L)).as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("refresh folds appends, deletes, and group-moving updates, cycle by cycle") {
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.src",
      Seq(("a", 1L), ("a", 2L), ("b", 10L)).toDF("g", "x"))
    lake.createMaterializedView("main.mv", "main.src", Seq("g"), Seq("x"))
    assert(mvState(lake) == Map("a" -> (2L, 3L), "b" -> (1L, 10L)))

    // cycle 1: append into an existing and a new group
    lake.append("main.src", Seq(("b", 5L), ("c", 7L)).toDF("g", "x"))
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == oracle(lake))

    // cycle 2: delete a whole group — its MV row must VANISH, not zero out
    lake.delete("main.src", col("g") === "a")
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == oracle(lake))
    assert(!mvState(lake).contains("a"))

    // cycle 3: update moves rows across groups (pre/post images transfer
    // both the count and the sum) and changes a value in place
    lake.update("main.src", col("g") === "b" && col("x") === 10L,
      Map("g" -> lit("c")))
    lake.update("main.src", col("x") === 5L, Map("x" -> lit(6L)))
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == oracle(lake))

    // refresh with no source changes: values unchanged
    val before = mvState(lake)
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == before)
  }

  test("a stale refresher loses the watermark CAS instead of double-applying") {
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.src", Seq(("a", 1L)).toDF("g", "x"))
    lake.createMaterializedView("main.mv", "main.src", Seq("g"), Seq("x"))
    lake.append("main.src", Seq(("a", 2L)).toDF("g", "x"))
    // refresher A computes its delta, then B refreshes first: A's commit
    // must abort on the in-commit watermark re-check. Simulate by
    // refreshing through a SECOND Lake handle (B) before A commits — here
    // sequentially: B refreshes, then A (same watermark) must see cur ==
    // its recomputed state and not double-apply. The CAS path itself is
    // exercised by calling refresh concurrently from two threads.
    val t1 = new Thread(() => try { lake.refreshMaterializedView("main.mv") } catch { case _: Exception => () })
    val t2 = new Thread(() => try { new Lake(spark, lake.root).refreshMaterializedView("main.mv") } catch { case _: Exception => () })
    t1.start(); t2.start(); t1.join(); t2.join()
    // whichever won, the MV must equal the oracle exactly once
    lake.refreshMaterializedView("main.mv") // settle any loser's abort
    assert(mvState(lake) == Map("a" -> (2L, 3L)))
  }

  test("MIN/MAX: inserts fold monotonically, deletes recompute only dirty groups") {
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.src",
      Seq(("a", 1L), ("a", 9L), ("b", 5L)).toDF("g", "x"))
    lake.createMaterializedView("main.mv2", "main.src", Seq("g"), Nil, Seq("x"))
    def mm(): Map[String, (Long, Long, Long)] =
      lake.table("main.mv2").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(mm() == Map("a" -> (2L, 1L, 9L), "b" -> (1L, 5L, 5L)))

    // insert-only: new max folds without touching the source (monotone)
    lake.append("main.src", Seq(("a", 20L), ("b", 2L)).toDF("g", "x"))
    lake.refreshMaterializedView("main.mv2")
    assert(mm() == Map("a" -> (3L, 1L, 20L), "b" -> (2L, 2L, 5L)))

    // delete the current max of a — the dirty recompute must retire it;
    // b is untouched (clean fold path)
    lake.delete("main.src", col("g") === "a" && col("x") === 20L)
    lake.refreshMaterializedView("main.mv2")
    assert(mm() == Map("a" -> (2L, 1L, 9L), "b" -> (2L, 2L, 5L)))

    // update moves a row out of b into a: b goes dirty (preimage), a's new
    // value folds as an insert
    lake.update("main.src", col("g") === "b" && col("x") === 5L,
      Map("g" -> lit("a")))
    lake.refreshMaterializedView("main.mv2")
    assert(mm() == Map("a" -> (3L, 1L, 9L), "b" -> (1L, 2L, 2L)))
  }

  test("MV definition survives freeze -> thaw and keeps refreshing") {
    // the mv_* definition tags ride the generic interval-versioned tag
    // machinery (ducklake_tag), so the freeze/import path must carry them
    // and a thawed engine must keep maintaining the MV incrementally
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.src", Seq(("a", 1L), ("b", 2L)).toDF("g", "x"))
    lake.createMaterializedView("main.mv", "main.src", Seq("g"), Seq("x"))
    val frozen = Files.createTempDirectory("graft_mvfreeze").toString
    lake.freeze(frozen)
    val thawed = new Lake(spark, Files.createTempDirectory("graft_mvthaw").toString)
    thawed.importCatalog(s"$frozen/catalog_parquet")
    thawed.append("main.src", Seq(("a", 10L)).toDF("g", "x"))
    thawed.refreshMaterializedView("main.mv")
    val got = thawed.table("main.mv").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map("a" -> (2L, 11L), "b" -> (1L, 2L)))
  }

  test("change feed keeps a thawed single-file delete beside a native DELETE") {
    // a foreign catalog records a delete file as ONE parquet file with no
    // part list; in a window that also holds a native DELETE (parts
    // recorded) its rows used to vanish from the feed and from MV refresh
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.src", Seq(("a", 1L), ("a", 2L), ("b", 10L), ("c", 5L))
      .toDF("g", "x").coalesce(1))
    lake.createMaterializedView("main.mv", "main.src", Seq("g"), Seq("x"))
    val s0 = lake.currentSnapshot()
    lake.delete("main.src", col("x") === 2L)
    val frozen = Files.createTempDirectory("graft_mvdelfreeze").toString
    lake.freeze(frozen)
    val cat = s"$frozen/catalog_parquet"
    val foreign = Files.createTempDirectory("graft_mvdelforeign").toString
    java.nio.file.Files.list(java.nio.file.Paths.get(cat)).forEach { p =>
      val name = p.getFileName.toString
      val df = spark.read.parquet(p.toString)
      val out = if (name != "ducklake_delete_file.parquet") df else {
        val dir = df.select("path").collect().map(_.getString(0)).toSeq match {
          case Seq(one) => one
          case other => fail(s"expected one delete file, got $other")
        }
        val parts = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
          .toArray.map(_.toString).filter(_.endsWith(".parquet")).toSeq
        assert(parts.size == 1, s"expected one delete part, got $parts")
        df.withColumn("path", lit(parts.head))
      }
      out.write.parquet(s"$foreign/$name")
    }
    val thawed = new Lake(spark, Files.createTempDirectory("graft_mvdelthaw").toString)
    thawed.importCatalog(foreign)
    assert(thawed.store.state().deleteFiles.forall(_.parts.isEmpty))
    thawed.delete("main.src", col("x") === 10L)
    val ch = thawed.tableChanges("main.src", s0, thawed.currentSnapshot())
      .filter(col("_change_type") === "delete").select("x").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ch == Seq(2L, 10L))
    thawed.refreshMaterializedView("main.mv")
    assert(mvState(thawed) == oracle(thawed))
  }

  test("NULL group keys fold and recompute correctly (null-safe joins)") {
    // regression (r11 review): a using-join's EqualTo never matches NULL
    // with NULL, which split a NULL group into stale+delta rows on every
    // refresh; the merge joins are null-safe (<=>) now
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.src",
      Seq((Some("a"), 1L), (None, 5L), (None, 7L)).toDF("g", "x"))
    lake.createMaterializedView("main.mv", "main.src", Seq("g"), Seq("x"),
      Seq("x"))
    def state(): Map[Option[String], (Long, Long, Long, Long)] =
      lake.table("main.mv").collect().map(r =>
        Option(r.getString(0)) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(state() == Map(Some("a") -> (1L, 1L, 1L, 1L),
      None -> (2L, 12L, 5L, 7L)))
    // fold path: NULL-group insert must merge into the ONE existing row
    lake.append("main.src", Seq((Option.empty[String], 9L)).toDF("g", "x"))
    lake.refreshMaterializedView("main.mv")
    assert(state() == Map(Some("a") -> (1L, 1L, 1L, 1L),
      None -> (3L, 21L, 5L, 9L)))
    // dirty path: delete the NULL group's max — recompute must target it
    lake.delete("main.src", col("x") === 9L)
    lake.refreshMaterializedView("main.mv")
    assert(state() == Map(Some("a") -> (1L, 1L, 1L, 1L),
      None -> (2L, 12L, 5L, 7L)))
  }

  test("source overwrite (logical replace) triggers a full recompute, not a double-count") {
    // regression (r11 advice): append(overwrite=true) retires old files via
    // endedFiles with NO delete records, so the change feed reports the
    // window as pure inserts — a naive fold would double-count every group
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.src", Seq(("a", 1L), ("b", 2L)).toDF("g", "x"))
    lake.createMaterializedView("main.mv", "main.src", Seq("g"), Seq("x"))
    lake.append("main.src", Seq(("a", 5L), ("c", 3L)).toDF("g", "x"),
      overwrite = true)
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == Map("a" -> (1L, 5L), "c" -> (1L, 3L)))
    // and the MV keeps refreshing incrementally afterwards
    lake.append("main.src", Seq(("c", 4L)).toDF("g", "x"))
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == oracle(lake))
  }

  test("source truncate (empty overwrite) empties the MV instead of going stale") {
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.src", Seq(("a", 1L), ("b", 2L)).toDF("g", "x"))
    lake.createMaterializedView("main.mv", "main.src", Seq("g"), Seq("x"))
    lake.append("main.src",
      Seq.empty[(String, Long)].toDF("g", "x"), overwrite = true)
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake).isEmpty)
  }

  test("source DROP + re-CREATE triggers a full recompute (table id changed)") {
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.src", Seq(("a", 1L)).toDF("g", "x"))
    lake.createMaterializedView("main.mv", "main.src", Seq("g"), Seq("x"))
    lake.dropTable("main.src")
    lake.createTableAs("main.src", Seq(("z", 9L), ("z", 1L)).toDF("g", "x"))
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == Map("z" -> (2L, 10L)))
  }

  test("a transaction led by a non-DML op still refreshes the MV") {
    // regression (r13 ADVICE): snapshot classification keyed on the HEAD
    // change entry, so a tx led by setSort tagged its source append 'sort'
    // → the early-out saw no logical change and refresh left the MV stale
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.src", Seq(("a", 1L)).toDF("g", "x"))
    lake.createMaterializedView("main.mv", "main.src", Seq("g"), Seq("x"))
    lake.transaction { tx =>
      tx.setSort("main.src", List(Meta.SortKey("x", ascending = true, nullsFirst = true)))
      tx.append("main.src", Seq(("a", 2L), ("b", 5L)).toDF("g", "x"))
    }
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == Map("a" -> (2L, 3L), "b" -> (1L, 5L)),
      "DDL-led transaction left the MV stale")
  }

  test("a DDL-led transaction that overwrites the source still recomputes") {
    // per-entry replace detection: the overwrite's ended files sit in a
    // snapshot whose HEAD entry is 'sort' — classification must find the
    // insert entry for the SOURCE table and take the full-recompute path.
    // (Maintenance ops are rejected inside transactions, so the
    // maintenance-led variant of this hazard is unreachable via the API.)
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.src", Seq(("a", 1L), ("a", 2L)).toDF("g", "x"))
    lake.createMaterializedView("main.mv", "main.src", Seq("g"), Seq("x"))
    lake.transaction { tx =>
      tx.setSort("main.src", List(Meta.SortKey("x", ascending = true, nullsFirst = true)))
      tx.append("main.src", Seq(("a", 7L)).toDF("g", "x"), overwrite = true)
    }
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == Map("a" -> (1L, 7L)),
      "DDL-led overwrite was folded as a delta instead of recomputed")
  }

  test("CAS losers raise the TYPED signal and maintain() finishes its pass") {
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.src", Seq(("a", 1L)).toDF("g", "x"))
    lake.createMaterializedView("main.mv", "main.src", Seq("g"), Seq("x"))
    // race two refreshers per window a few times; EVERY loser must surface
    // ConcurrentMvRefreshException (a bare ISE here would kill a streaming
    // auto-refresh query and abort a maintenance pass)
    val thrown = scala.collection.mutable.ArrayBuffer.empty[Throwable]
    (1 to 6).foreach { i =>
      lake.append("main.src", Seq(("c", i.toLong)).toDF("g", "x"))
      val ts = Seq(
        new Thread(() => try lake.refreshMaterializedView("main.mv")
          catch { case e: Throwable => thrown.synchronized(thrown += e) }),
        new Thread(() => try new Lake(spark, lake.root).refreshMaterializedView("main.mv")
          catch { case e: Throwable => thrown.synchronized(thrown += e) }))
      ts.foreach(_.start()); ts.foreach(_.join())
    }
    assert(thrown.forall(_.isInstanceOf[ConcurrentMvRefreshException]),
      s"CAS losers raised untyped exceptions: ${thrown.map(_.getClass).distinct}")
    // no double-application regardless of who won each race
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == oracle(lake))
    // and maintain() completes its full pass over the same lake
    val summary = lake.maintain()
    assert(summary("checkpoint_snapshot") >= 0L)
  }

  test("source compaction does NOT trigger a refresh or a recompute") {
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.src", Seq(("a", 1L)).toDF("g", "x"))
    lake.append("main.src", Seq(("a", 2L)).toDF("g", "x"))
    lake.createMaterializedView("main.mv", "main.src", Seq("g"), Seq("x"))
    lake.mergeAdjacentFiles("main.src") // creates AND ends files, non-logically
    val snapAfterCompact = lake.currentSnapshot()
    lake.refreshMaterializedView("main.mv")
    // early-out: no MV commit — compaction moved bytes, not rows
    assert(lake.currentSnapshot() == snapAfterCompact)
    assert(mvState(lake) == Map("a" -> (2L, 3L)))
  }

  test("COUNT(col), AVG(col), and a filtered source maintain incrementally") {
    val lake = mkLake()
    import spark.implicits._
    val rows: Seq[(String, Option[Long])] =
      Seq(("a", Some(4L)), ("a", None), ("b", Some(10L)), ("b", Some(-1L)))
    lake.createTableAs("main.src", rows.toDF("g", "x"))
    // view restricted to x >= 0 (NULLs excluded by the predicate)
    lake.createMaterializedView("main.mvf", "main.src", Seq("g"),
      sumCols = Nil, minMaxCols = Nil, cntCols = Seq("x"),
      avgCols = Seq("x"), filterSql = Some("x >= 0"))
    def state(): Map[String, (Long, Long, Long, Option[Double])] =
      lake.table("main.mvf").collect().map { r =>
        r.getString(0) -> (r.getLong(r.fieldIndex("n_rows")),
          r.getLong(r.fieldIndex("sum_x")), r.getLong(r.fieldIndex("cnt_x")),
          if (r.isNullAt(r.fieldIndex("avg_x"))) None
          else Some(r.getDouble(r.fieldIndex("avg_x"))))
      }.toMap
    assert(state() == Map("a" -> (1L, 4L, 1L, Some(4.0)),
      "b" -> (1L, 10L, 1L, Some(10.0))))

    // append: one passing, one failing the predicate, one NULL (NULL fails
    // `x >= 0` so the whole row is out of the filtered view)
    lake.append("main.src",
      Seq(("a", Some(8L)), ("a", Some(-5L)), ("b", Option.empty[Long]))
        .toDF("g", "x"))
    lake.refreshMaterializedView("main.mvf")
    assert(state() == Map("a" -> (2L, 12L, 2L, Some(6.0)),
      "b" -> (1L, 10L, 1L, Some(10.0))))

    // update moves a row ACROSS the predicate boundary: preimage passed
    // (x=10 >= 0), postimage fails (x=-10) → the group must shed the row
    lake.update("main.src", col("g") === "b" && col("x") === 10L,
      Map("x" -> lit(-10L)))
    lake.refreshMaterializedView("main.mvf")
    assert(state() == Map("a" -> (2L, 12L, 2L, Some(6.0))))
  }

  test("AVG equals the SQL oracle through deletes (sum/count state)") {
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.src",
      Seq(("a", 1L), ("a", 2L), ("a", 6L), ("b", 7L)).toDF("g", "x"))
    lake.createMaterializedView("main.mva", "main.src", Seq("g"),
      avgCols = Seq("x"))
    def avgs(): Map[String, Double] =
      lake.table("main.mva").select(col("g"), col("avg_x")).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(avgs() == Map("a" -> 3.0, "b" -> 7.0))
    lake.delete("main.src", col("x") === 6L)
    lake.refreshMaterializedView("main.mva")
    assert(avgs() == Map("a" -> 1.5, "b" -> 7.0))
  }

  test("column names containing ',' are rejected at create (tag codec)") {
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.src",
      Seq(("a", 1L)).toDF("g,h", "x"))
    val e = intercept[IllegalArgumentException] {
      lake.createMaterializedView("main.mv", "main.src", Seq("g,h"), Seq("x"))
    }
    assert(e.getMessage.contains(","))
  }

  test("a failed create leaves no half-created table behind") {
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.src", Seq(("a", 1L)).toDF("g", "x"))
    intercept[Exception] {
      lake.createMaterializedView("main.mvbad", "main.src", Seq("g"), Seq("x"),
        filterSql = Some("no_such_column > 1"))
    }
    val st = lake.store.state()
    assert(st.tableAt("main", "mvbad", st.currentSnapshotId).isEmpty)
  }

  test("refresh is a WRITE: a reader-role user is denied, reads still serve") {
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.src", Seq(("a", 1L)).toDF("g", "x"))
    lake.createMaterializedView("main.mv", "main.src", Seq("g"), Seq("x"))
    lake.acl.createRole("rdr")
    lake.acl.createUser("ru", Seq("rdr"))
    lake.acl.grant("main.mv", "rdr", Seq("SELECT"))
    lake.append("main.src", Seq(("a", 2L)).toDF("g", "x"))
    spark.conf.set(graft.lake.LakeAcl.UserConf, "ru")
    try {
      intercept[SecurityException] { lake.refreshMaterializedView("main.mv") }
      // the stale-but-granted read still serves
      assert(lake.table("main.mv").count() == 1)
    } finally spark.conf.unset(graft.lake.LakeAcl.UserConf)
    // owner mode refreshes fine afterwards
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == Map("a" -> (2L, 3L)))
  }

  test("a frozen mount serves MV reads but refuses the refresh procedure") {
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.src", Seq(("a", 1L), ("b", 2L)).toDF("g", "x"))
    lake.createMaterializedView("main.mv", "main.src", Seq("g"), Seq("x"))
    val frozenDir = Files.createTempDirectory("graft_mvfrozen").toString
    lake.freeze(frozenDir)
    val cat = s"mvfz${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.frozen", frozenDir)
    assert(spark.sql(s"SELECT * FROM $cat.main.mv").count() == 2)
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.system.refresh_materialized_view('main.mv')").collect()
    }
    assert(e.getMessage.toLowerCase.contains("read-only"))
  }

  test("streaming auto-refresh drains the change feed into the MV exactly once") {
    // graft-mv-refresh sink: the CDF stream supplies cadence; the refresh's
    // own watermark CAS supplies exactly-once — a checkpointed RESTART
    // replays nothing into the MV
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.src", Seq(("a", 1L)).toDF("g", "x"))
    lake.createMaterializedView("main.mv", "main.src", Seq("g"), Seq("x"))
    val ckpt = Files.createTempDirectory("graft_mvstream_ckpt").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft-changes")
        .option("root", lake.root).option("table", "main.src")
        .option("maxSnapshotsPerTrigger", "1").load()
        .writeStream.format("graft-mv-refresh")
        .option("root", lake.root).option("view", "main.mv")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    lake.append("main.src", Seq(("a", 2L), ("b", 5L)).toDF("g", "x"))
    lake.delete("main.src", col("x") === 1L)
    drain()
    assert(mvState(lake) == Map("a" -> (1L, 2L), "b" -> (1L, 5L)))
    // restart from the same checkpoint with more history: only the new
    // delta lands; the replayed range is past the watermark and no-ops
    lake.append("main.src", Seq(("b", 7L)).toDF("g", "x"))
    drain()
    assert(mvState(lake) == Map("a" -> (1L, 2L), "b" -> (2L, 12L)))
    // idle restart: no source change → no MV commit at all
    val snap = lake.currentSnapshot()
    drain()
    assert(lake.currentSnapshot() == snap)
  }

  test("non-additive SUM columns (float/double) are rejected at create") {
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.src", Seq(("a", 1.5)).toDF("g", "x"))
    val e = intercept[IllegalArgumentException] {
      lake.createMaterializedView("main.mv", "main.src", Seq("g"), Seq("x"))
    }
    assert(e.getMessage.contains("integral"))
    // float rejected the same way (FP sums are order-dependent)
    lake.createTableAs("main.srcf",
      Seq(("a", 1.5f)).toDF("g", "x"))
    intercept[IllegalArgumentException] {
      lake.createMaterializedView("main.mvf", "main.srcf", Seq("g"), Seq("x"))
    }
  }

  test("expression group keys (date_trunc): delta refresh tracks bucket-moving DML (r17)") {
    val lake = mkLake()
    import spark.implicits._
    val src = Seq(
      ("2024-03-01 08:00:00", 1L), ("2024-03-01 17:30:00", 2L),
      ("2024-03-02 00:00:01", 10L), ("2024-03-05 12:00:00", 100L))
      .toDF("tss", "x")
      .select(col("tss").cast("timestamp").as("ts"), col("x"))
    lake.createTableAs("main.src", src)
    lake.createMaterializedView("main.mv", "main.src",
      groupCols = Nil, sumCols = Seq("x"),
      groupExprs = Seq(("day_ts", "date_trunc('DAY', ts)")))

    def stateVsRecompute(): Unit = {
      val got = lake.table("main.mv")
        .select(col("day_ts").cast("string"), col("n_rows"), col("sum_x"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val want = lake.table("main.src")
        .groupBy(date_trunc("DAY", col("ts")).cast("string").as("d"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == want, s"mv=$got vs recompute=$want")
    }
    stateVsRecompute()
    // append into an existing and a new bucket
    lake.append("main.src", Seq(("2024-03-02 23:59:59", 20L), ("2024-03-09 01:00:00", 7L))
      .toDF("tss", "x").select(col("tss").cast("timestamp").as("ts"), col("x")))
    lake.refreshMaterializedView("main.mv")
    stateVsRecompute()
    // a ts-moving update crosses the bucket boundary: pre/post images land
    // in their respective days
    lake.update("main.src", col("x") === 10L,
      Map("ts" -> lit("2024-03-01 10:00:00").cast("timestamp")))
    lake.refreshMaterializedView("main.mv")
    stateVsRecompute()
    // delete empties a bucket: its MV row vanishes
    lake.delete("main.src", col("x") === 100L)
    lake.refreshMaterializedView("main.mv")
    stateVsRecompute()
    assert(lake.table("main.mv").count() == 3)

    // nondeterministic keys are rejected at create
    intercept[IllegalArgumentException] {
      lake.createMaterializedView("main.mvbad", "main.src",
        groupCols = Nil, sumCols = Seq("x"),
        groupExprs = Seq(("r", "rand()")))
    }
    // a key name colliding with a source column is rejected
    intercept[IllegalArgumentException] {
      lake.createMaterializedView("main.mvbad2", "main.src",
        groupCols = Nil, sumCols = Seq("x"),
        groupExprs = Seq(("ts", "date_trunc('DAY', ts)")))
    }
  }

  test("DECIMAL measures: delta refresh equals the recompute through DML (r17)") {
    val lake = mkLake()
    import spark.implicits._
    // decimal(12,2) revenue measure with NULLs; cnt guards the NULL group
    val src = Seq(
      ("a", Some(BigDecimal("10.25"))), ("a", Some(BigDecimal("0.75"))),
      ("b", Some(BigDecimal("99999999.99"))), ("b", None), ("c", None))
      .toDF("g", "x").select(col("g"), col("x").cast("decimal(12,2)").as("x"))
    lake.createTableAs("main.src", src)
    lake.createMaterializedView("main.mv", "main.src", Seq("g"), Seq("x"),
      cntCols = Seq("x"), avgCols = Seq("x"))
    // state type is decimal(38,2)
    val schema = lake.table("main.mv").schema
    assert(schema("sum_x").dataType ==
      org.apache.spark.sql.types.DecimalType(38, 2), schema.treeString)

    def stateVsRecompute(): Unit = {
      val got = lake.table("main.mv")
        .select(col("g"), col("n_rows"), col("sum_x"), col("cnt_x"), col("avg_x"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDecimal(2), r.getLong(3),
            if (r.isNullAt(4)) null else r.getDouble(4))).toMap
      val want = lake.table("main.src").groupBy(col("g"))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("x")), lit(0L)).cast("decimal(38,2)").as("s"),
          count(col("x")).as("c"),
          when(count(col("x")) > 0,
            sum(col("x")).cast("double") / count(col("x"))).as("a"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDecimal(2), r.getLong(3),
            if (r.isNullAt(4)) null else r.getDouble(4))).toMap
      assert(got == want, s"mv=$got vs recompute=$want")
    }
    stateVsRecompute()
    // appends (fractional cents exercise exact decimal addition)
    lake.append("main.src", Seq(("a", "0.01"), ("c", "5.55"), ("d", "7.00"))
      .toDF("g", "x").select(col("g"), col("x").cast("decimal(12,2)").as("x")))
    lake.refreshMaterializedView("main.mv")
    stateVsRecompute()
    // delete retires a big value; group b becomes all-NULL → sum NULL-guarded
    lake.delete("main.src", col("x") === BigDecimal("99999999.99"))
    lake.refreshMaterializedView("main.mv")
    stateVsRecompute()
    // group-moving update transfers decimal sums across groups exactly
    lake.update("main.src", col("g") === "a" && col("x") === BigDecimal("0.01"),
      Map("g" -> lit("d")))
    lake.refreshMaterializedView("main.mv")
    stateVsRecompute()
  }

  // ----------------------------------------------------- join-source MVs

  /** fact(k fk, x) ⋈ dim(k, seg) grouped by the DIM attribute */
  private def mkJoinMv(): Lake = {
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.fact",
      Seq((1L, 10L), (1L, 20L), (2L, 5L), (3L, 7L)).toDF("fk", "x"))
    lake.createTableAs("main.dim",
      Seq((1L, "red"), (2L, "blue")).toDF("k", "seg"))
    lake.createMaterializedView("main.mv", "main.fact",
      groupCols = Seq("seg"), sumCols = Seq("x"),
      dimTable = Some("main.dim"), dimKeys = Seq(("fk", "k")))
    lake
  }

  private def joinOracle(lake: Lake): Map[String, (Long, Long)] =
    lake.table("main.fact").alias("f")
      .join(lake.table("main.dim").alias("d"), col("f.fk") === col("d.k"))
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("x")), lit(0L)).as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("join-source MV: fact DML folds through the dim broadcast") {
    val lake = mkJoinMv()
    import spark.implicits._
    // initial: fk=3 has no dim match → outside the view (inner semantics)
    assert(mvState(lake) == Map("red" -> (2L, 30L), "blue" -> (1L, 5L)))

    // append: folds incrementally; an unmatched fk stays invisible
    lake.append("main.fact", Seq((2L, 6L), (9L, 99L)).toDF("fk", "x"))
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == joinOracle(lake))

    // JOIN-KEY-moving update: pre-image −1 in red, post-image +1 in blue
    lake.update("main.fact", col("x") === 20L, Map("fk" -> lit(2L)))
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == joinOracle(lake))
    assert(mvState(lake) == Map("red" -> (1L, 10L), "blue" -> (3L, 31L)))

    // delete emptying a dim group: its MV row vanishes
    lake.delete("main.fact", col("fk") === 1L)
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == joinOracle(lake))
    assert(!mvState(lake).contains("red"))
  }

  test("join-source MV: dim DML folds as a DELTA; only a dim replace recomputes") {
    val lake = mkJoinMv()
    import spark.implicits._
    // dim UPDATE regroups already-folded fact rows: folded via the
    // incremental identity F_cur⋈ΔD (r14) — no full recompute
    lake.update("main.dim", col("k") === 1L, Map("seg" -> lit("green")))
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == joinOracle(lake))
    assert(mvState(lake) == Map("green" -> (2L, 30L), "blue" -> (1L, 5L)))

    // dim INSERT pulls previously-unmatched fact rows INTO the view
    lake.append("main.dim", Seq((3L, "blue")).toDF("k", "seg"))
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == joinOracle(lake))
    assert(mvState(lake)("blue") == (2L, 12L))

    // dim DROP + re-CREATE (tid moved) with different content: the feed
    // cannot express it — still a full recompute
    lake.dropTable("main.dim")
    lake.createTableAs("main.dim", Seq((1L, "solo")).toDF("k", "seg"))
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == joinOracle(lake))
    assert(mvState(lake) == Map("solo" -> (2L, 30L)))
  }

  test("join-source MV: dim DELETE orphans fact rows out of the view (delta path)") {
    val lake = mkJoinMv()
    import spark.implicits._
    // deleting dim key 1 orphans its two fact rows under inner semantics
    lake.delete("main.dim", col("k") === 1L)
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == joinOracle(lake))
    assert(mvState(lake) == Map("blue" -> (1L, 5L)))
    // delete the LAST dim row: the view empties, not goes stale
    lake.delete("main.dim", col("k") === 2L)
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake).isEmpty)
  }

  test("join-source MV: interleaved fact and dim DML in ONE window fold exactly") {
    // the hard case of the Δ(F⋈D) = ΔF⋈D_last + F_cur⋈ΔD identity: the
    // same refresh window carries a dim attribute move, a dim key delete,
    // a fact update whose key leaves a changed dim key, and a fact insert
    // landing on a changed key — every cross-term must net out
    val lake = mkJoinMv()
    import spark.implicits._
    lake.update("main.dim", col("k") === 1L, Map("seg" -> lit("green")))
    lake.update("main.fact", col("x") === 10L, Map("fk" -> lit(2L)))
    lake.append("main.fact", Seq((1L, 100L), (2L, 7L)).toDF("fk", "x"))
    lake.delete("main.fact", col("x") === 5L)
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == joinOracle(lake))
    // second window: dim delete + fact append on the deleted key
    lake.delete("main.dim", col("k") === 1L)
    lake.append("main.fact", Seq((1L, 1000L)).toDF("fk", "x"))
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == joinOracle(lake))
  }

  test("join-source MV: a dim-delta refresh reads a key-pruned fact, not the whole table") {
    // the scale claim behind the r14 delta path: the F_cur⋈ΔD probe is
    // IN-restricted to the changed dim keys, so with the fact
    // identity-partitioned on the join key the refresh prunes to the
    // touched partitions instead of rescanning the fact
    val lake = mkLake()
    import spark.implicits._
    val fact = spark.range(0, 50000).selectExpr("id % 50 AS fk", "id AS x")
    lake.createTable("main.fact", fact.schema,
      partitionKeys = List(graft.lake.Meta.PartitionKey("identity", "fk")))
    lake.append("main.fact", fact)
    lake.createTableAs("main.dim",
      spark.range(0, 50).selectExpr("id AS k",
        "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS seg"))
    lake.createMaterializedView("main.mv", "main.fact",
      groupCols = Seq("seg"), sumCols = Seq("x"),
      dimTable = Some("main.dim"), dimKeys = Seq(("fk", "k")))
    @volatile var recordsRead = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          recordsRead += te.taskMetrics.inputMetrics.recordsRead
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // move ONE dim key's group: the delta refresh touches 1 of 50
      // fact partitions (~1000 rows) plus the tiny dim feed and MV
      lake.update("main.dim", col("k") === 7L, Map("seg" -> lit("moved")))
      recordsRead = 0L
      lake.refreshMaterializedView("main.mv")
      Thread.sleep(500) // listener bus drain (private API in Spark 4)
      val deltaRead = recordsRead
      assert(mvState(lake) == joinOracle(lake))
      // force the recompute path for the SAME kind of change via the
      // overflow conf: same answer, but it rescans the fact
      spark.conf.set("spark.graft.mv.dimDeltaMaxKeys", "0")
      lake.update("main.dim", col("k") === 9L, Map("seg" -> lit("moved2")))
      recordsRead = 0L
      lake.refreshMaterializedView("main.mv")
      Thread.sleep(500) // listener bus drain (private API in Spark 4)
      val fullRead = recordsRead
      assert(mvState(lake) == joinOracle(lake))
      assert(deltaRead * 2 < fullRead,
        s"dim-delta refresh read $deltaRead records vs full recompute $fullRead — " +
          "expected the key-pruned probe to read well under half")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.unset("spark.graft.mv.dimDeltaMaxKeys")
    }
  }

  test("join-source MV: COMPOSITE dim keys fold dim deltas (isin-superset probe)") {
    // the per-column IN prefilter is a conservative SUPERSET for composite
    // keys — the equi-join keeps exactness; this exercises that path
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.fact",
      Seq((1L, 10L, 100L), (1L, 20L, 200L), (2L, 10L, 5L), (2L, 20L, 7L))
        .toDF("fk1", "fk2", "x"))
    lake.createTableAs("main.dim",
      Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 10L, "a"), (2L, 20L, "b"))
        .toDF("k1", "k2", "seg"))
    lake.createMaterializedView("main.mv", "main.fact",
      groupCols = Seq("seg"), sumCols = Seq("x"),
      dimTable = Some("main.dim"),
      dimKeys = Seq(("fk1", "k1"), ("fk2", "k2")))
    def oracle(): Map[String, (Long, Long)] =
      lake.table("main.fact").alias("f")
        .join(lake.table("main.dim").alias("d"),
          col("f.fk1") === col("d.k1") && col("f.fk2") === col("d.k2"))
        .groupBy(col("seg"))
        .agg(count(lit(1)).as("n"), coalesce(sum(col("x")), lit(0L)).as("s"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(mvState(lake) == oracle())
    // composite-key dim update: (1,20) moves b→c. The column-wise IN
    // prefilter keeps a SUPERSET — fk1∈{1} × fk2∈{20} here, exact — but
    // a second change makes it a true superset: (2,10) moves a→c too,
    // so the prefilter admits (1,10) and (2,20) rows that no change
    // touched; the equi-join must drop them from the delta
    lake.update("main.dim", col("k1") === 1L && col("k2") === 20L,
      Map("seg" -> lit("c")))
    lake.update("main.dim", col("k1") === 2L && col("k2") === 10L,
      Map("seg" -> lit("c")))
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == oracle())
    assert(mvState(lake) == Map("a" -> (1L, 100L), "b" -> (1L, 7L), "c" -> (2L, 205L)))
    // composite-key dim DELETE orphans exactly its fact row
    lake.delete("main.dim", col("k1") === 2L && col("k2") === 20L)
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == oracle())
    assert(!mvState(lake).contains("b"))
  }

  test("join-source MV: filterSql over DIM attributes tracks dim deltas across the predicate") {
    // a dim UPDATE moving a key across the filter boundary must fold as
    // (−1 under the OLD attributes if they passed) + (+1 under the NEW
    // attributes if they pass) — the filter runs on the enriched pre/post
    // images independently
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.fact",
      Seq((1L, 10L), (1L, 20L), (2L, 5L), (3L, 70L)).toDF("fk", "x"))
    lake.createTableAs("main.dim",
      Seq((1L, "red", 1L), (2L, "blue", 0L), (3L, "red", 0L))
        .toDF("k", "seg", "active"))
    lake.createMaterializedView("main.mv", "main.fact",
      groupCols = Seq("seg"), sumCols = Seq("x"),
      filterSql = Some("active = 1"),
      dimTable = Some("main.dim"), dimKeys = Seq(("fk", "k")))
    def oracle(): Map[String, (Long, Long)] =
      lake.table("main.fact").alias("f")
        .join(lake.table("main.dim").alias("d"), col("f.fk") === col("d.k"))
        .filter(col("active") === 1L)
        .groupBy(col("seg"))
        .agg(count(lit(1)).as("n"), coalesce(sum(col("x")), lit(0L)).as("s"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(mvState(lake) == oracle())
    assert(mvState(lake) == Map("red" -> (2L, 30L)))
    // dim delta INTO the filter: key 3 becomes active (its fact row enters)
    lake.update("main.dim", col("k") === 3L, Map("active" -> lit(1L)))
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == oracle())
    assert(mvState(lake) == Map("red" -> (3L, 100L)))
    // dim delta OUT of the filter AND across groups in one window:
    // key 1 deactivates, key 2 activates and regroups to red
    lake.update("main.dim", col("k") === 1L, Map("active" -> lit(0L)))
    lake.update("main.dim", col("k") === 2L,
      Map("active" -> lit(1L), "seg" -> lit("red")))
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == oracle())
    assert(mvState(lake) == Map("red" -> (2L, 75L)))
  }

  test("join-source MV: dim compaction is NOT staleness; idle refresh early-outs") {
    val lake = mkJoinMv()
    import spark.implicits._
    lake.append("main.dim", Seq((4L, "red")).toDF("k", "seg"))
    lake.refreshMaterializedView("main.mv") // absorb the dim append
    val settled = mvState(lake)
    lake.mergeAdjacentFiles("main.dim") // moves bytes, not rows
    val snapAfterCompact = lake.currentSnapshot()
    lake.refreshMaterializedView("main.mv")
    // early-out: no commit happened — dim compaction and an idle fact
    // must not force O(|MV|) rewrites on a periodic refresh schedule
    assert(lake.currentSnapshot() == snapAfterCompact)
    assert(mvState(lake) == settled)
  }

  test("join-source MV: dirty-group MIN/MAX recompute goes through the join") {
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.fact",
      Seq((1L, 10L), (1L, 20L), (2L, 5L)).toDF("fk", "x"))
    lake.createTableAs("main.dim",
      Seq((1L, "red"), (2L, "blue")).toDF("k", "seg"))
    lake.createMaterializedView("main.mv", "main.fact",
      groupCols = Seq("seg"), sumCols = Nil, minMaxCols = Seq("x"),
      dimTable = Some("main.dim"), dimKeys = Seq(("fk", "k")))
    // delete the red maximum: the dirty recompute must rebuild red's
    // extrema from fact⋈dim, not from the fact alone
    lake.delete("main.fact", col("x") === 20L)
    lake.refreshMaterializedView("main.mv")
    val rows = lake.table("main.mv").collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(rows == Map("red" -> (10L, 10L), "blue" -> (5L, 5L)))
  }

  test("SQL DDL: CREATE/REFRESH MATERIALIZED VIEW via the parser, incl. a join + filter") {
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.fact",
      Seq((1L, 10L, "x"), (1L, 20L, "y"), (2L, 5L, "x"), (3L, 7L, "x"))
        .toDF("fk", "v", "tag"))
    lake.createTableAs("main.dim", Seq((1L, "red"), (2L, "blue")).toDF("k", "seg"))
    val cat = s"mvsql${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", lake.root)
    val prev = spark.sessionState.catalogManager.currentCatalog.name()
    spark.sql(s"USE $cat")
    try {
      spark.sql("""CREATE MATERIALIZED VIEW main.mv AS
        SELECT seg, COUNT(*), SUM(v) AS total, MIN(v), MAX(v)
        FROM main.fact JOIN main.dim ON fk = k
        WHERE tag = 'x'
        GROUP BY seg""")
      val rows0 = lake.table("main.mv").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      assert(rows0 == Map("red" -> (1L, 10L, 10L, 10L), "blue" -> (1L, 5L, 5L, 5L)))
      lake.append("main.fact", Seq((2L, 6L, "x"), (1L, 9L, "y")).toDF("fk", "v", "tag"))
      val beforeRefresh = lake.currentSnapshot()
      val applied = spark.sql("REFRESH MATERIALIZED VIEW main.mv")
        .collect().head.getLong(0)
      // the returned watermark is the SOURCE snapshot that was folded;
      // the refresh's own MV commit advances the lake past it
      assert(applied == beforeRefresh)
      val rows1 = lake.table("main.mv").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(rows1 == Map("red" -> (1L, 10L), "blue" -> (2L, 11L)))
      // the maintainable algebra is a hard boundary: anything else fails
      // the CREATE with the grammar in the message
      val e = intercept[Exception] {
        spark.sql("""CREATE MATERIALIZED VIEW main.bad AS
          SELECT seg, approx_count_distinct(v) FROM main.fact
          JOIN main.dim ON fk = k GROUP BY seg""")
      }
      assert(e.getMessage.contains("SUM/COUNT/AVG/MIN/MAX"))
    } finally spark.sql(s"USE $prev")
  }

  test("join-source MV: fact/dim non-key name collisions are rejected at create") {
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.fact", Seq((1L, 10L)).toDF("fk", "x"))
    lake.createTableAs("main.dim", Seq((1L, 99L)).toDF("k", "x"))
    val e = intercept[IllegalArgumentException] {
      lake.createMaterializedView("main.mv", "main.fact",
        groupCols = Seq("x"), sumCols = Nil,
        dimTable = Some("main.dim"), dimKeys = Seq(("fk", "k")))
    }
    assert(e.getMessage.contains("share non-key column"))
  }

  // -------------------------------------- N-dim (snowflake / star) MVs

  /** SNOWFLAKE: fact(fk, x) ⋈ d1(k, seg) ⋈ d2(seg2, region) — d2 keys off
    * d1's CARRIED column, grouped by the outermost dim's attribute */
  private def mkSnowMv(): Lake = {
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.fact",
      Seq((1L, 10L), (1L, 20L), (2L, 5L), (3L, 7L)).toDF("fk", "x"))
    lake.createTableAs("main.d1",
      Seq((1L, "red"), (2L, "blue"), (3L, "red")).toDF("k", "seg"))
    lake.createTableAs("main.d2",
      Seq(("red", "emea"), ("blue", "apac")).toDF("seg2", "region"))
    lake.createMaterializedView("main.mv", "main.fact",
      groupCols = Seq("region"), sumCols = Seq("x"),
      dims = Seq(("main.d1", Seq(("fk", "k"))),
        ("main.d2", Seq(("seg", "seg2")))))
    lake
  }

  private def snowOracle(lake: Lake): Map[String, (Long, Long)] =
    lake.table("main.fact").alias("f")
      .join(lake.table("main.d1").alias("a"), col("f.fk") === col("a.k"))
      .join(lake.table("main.d2").alias("b"), col("a.seg") === col("b.seg2"))
      .groupBy(col("region"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("x")), lit(0L)).as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("snowflake MV (two dims): fact DML and a D2-ONLY window fold as deltas") {
    val lake = mkSnowMv()
    import spark.implicits._
    assert(mvState(lake) == Map("emea" -> (3L, 37L), "apac" -> (1L, 5L)))

    // fact-only window: ΔF ⋈ D1 ⋈ D2
    lake.append("main.fact", Seq((2L, 6L), (3L, 100L)).toDF("fk", "x"))
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == snowOracle(lake))

    // D2-ONLY window (regroup at the OUTER dim): folds via F_cur⋈D1_cur⋈ΔD2
    // — a dim-only refresh, the fact change feed is provably empty
    lake.update("main.d2", col("seg2") === "red", Map("region" -> lit("amer")))
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == snowOracle(lake))
    assert(mvState(lake).contains("amer") && !mvState(lake).contains("emea"))

    // D1-ONLY window (the MIDDLE link regroups): F_cur⋈ΔD1⋈D2_last
    lake.update("main.d1", col("k") === 1L, Map("seg" -> lit("blue")))
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == snowOracle(lake))
  }

  test("snowflake MV: BOTH dims changed in one window net out exactly") {
    // the N-dim telescoping Δ(F⋈D₁⋈D₂) = ΔF⋈D₁ₗ⋈D₂ₗ + F꜀⋈ΔD₁⋈D₂ₗ +
    // F꜀⋈D₁꜀⋈ΔD₂ — D1's term reads D2 at LAST while D2's term reads D1 at
    // CUR; mixing the states is exactly what double-counts
    val lake = mkSnowMv()
    import spark.implicits._
    lake.update("main.d1", col("k") === 1L, Map("seg" -> lit("blue")))
    lake.update("main.d2", col("seg2") === "blue", Map("region" -> lit("apac2")))
    lake.append("main.fact", Seq((1L, 1000L)).toDF("fk", "x"))
    lake.delete("main.fact", col("x") === 5L)
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == snowOracle(lake))

    // second combined window incl. a d1 DELETE orphaning fact rows and a
    // d2 INSERT pulling a previously-unmatched segment in
    lake.delete("main.d1", col("k") === 2L)
    lake.append("main.d1", Seq((9L, "green")).toDF("k", "seg"))
    lake.append("main.d2", Seq(("green", "apna")).toDF("seg2", "region"))
    lake.append("main.fact", Seq((9L, 3L)).toDF("fk", "x"))
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == snowOracle(lake))
  }

  test("star MV (two dims keyed off the fact) with MIN/MAX dirty groups") {
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.fact",
      Seq((1L, 10L, 100L), (2L, 20L, 200L), (1L, 20L, 300L)).toDF("fk1", "fk2", "x"))
    lake.createTableAs("main.d1", Seq((1L, "red"), (2L, "blue")).toDF("k", "seg"))
    lake.createTableAs("main.d2", Seq((10L, "n"), (20L, "s")).toDF("q", "zone"))
    lake.createMaterializedView("main.mv", "main.fact",
      groupCols = Seq("seg", "zone"), sumCols = Nil, minMaxCols = Seq("x"),
      dims = Seq(("main.d1", Seq(("fk1", "k"))), ("main.d2", Seq(("fk2", "q")))))
    def state() = lake.table("main.mv").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    def oracle() = lake.table("main.fact").alias("f")
      .join(lake.table("main.d1").alias("a"), col("f.fk1") === col("a.k"))
      .join(lake.table("main.d2").alias("b"), col("f.fk2") === col("b.q"))
      .groupBy(col("seg"), col("zone"))
      .agg(count(lit(1)).as("n"), min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(state() == oracle())
    // a dim regroup RETIRES the max of (red,s) — the signed dim-delta rows
    // must mark the group dirty and the recompute must go through the join
    lake.update("main.d2", col("q") === 20L, Map("zone" -> lit("w")))
    lake.delete("main.fact", col("x") === 300L)
    lake.refreshMaterializedView("main.mv")
    assert(state() == oracle())
  }

  test("per-dim dimDeltaMaxKeys: an overflowing dim falls back to the full recompute") {
    val lake = mkSnowMv()
    import spark.implicits._
    spark.conf.set("spark.graft.mv.dimDeltaMaxKeys", "1")
    try {
      // two changed d1 keys > bound → recompute fallback, same answer
      lake.update("main.d1", col("k").isin(1L, 2L), Map("seg" -> lit("red")))
      lake.refreshMaterializedView("main.mv")
      assert(mvState(lake) == snowOracle(lake))
      // ONE changed d2 key stays within the bound → the delta path serves
      lake.update("main.d2", col("seg2") === "red", Map("region" -> lit("emea2")))
      lake.refreshMaterializedView("main.mv")
      assert(mvState(lake) == snowOracle(lake))
    } finally spark.conf.unset("spark.graft.mv.dimDeltaMaxKeys")
  }

  test("SQL DDL: chained JOINs build a snowflake MV") {
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.fact",
      Seq((1L, 10L), (1L, 20L), (2L, 5L), (3L, 7L)).toDF("fk", "x"))
    lake.createTableAs("main.d1",
      Seq((1L, "red"), (2L, "blue"), (3L, "red")).toDF("k", "seg"))
    lake.createTableAs("main.d2",
      Seq(("red", "emea"), ("blue", "apac")).toDF("seg2", "region"))
    val cat = catFor(lake, "sq")
    val prev = spark.sessionState.catalogManager.currentCatalog.name()
    spark.sql(s"USE $cat")
    try {
      // the second JOIN keys off the FIRST dim's carried column — the
      // statement-order snowflake chain the API's `dims` expresses
      spark.sql("""CREATE MATERIALIZED VIEW main.mv AS
        SELECT region, COUNT(*), SUM(x)
        FROM main.fact JOIN main.d1 ON fk = k JOIN main.d2 ON seg = seg2
        GROUP BY region""")
      assert(mvState(lake) == snowOracle(lake))
      assert(mvState(lake) == Map("emea" -> (3L, 37L), "apac" -> (1L, 5L)))
      // a dim-delta window + fact append refresh through the SQL surface
      lake.update("main.d2", col("seg2") === "red", Map("region" -> lit("amer")))
      lake.append("main.fact", Seq((2L, 100L)).toDF("fk", "x"))
      spark.sql("REFRESH MATERIALIZED VIEW main.mv")
      assert(mvState(lake) == snowOracle(lake))
    } finally spark.sql(s"USE $prev")
  }

  // ------------------------------------- RENAME COLUMN under live MVs

  private def catFor(lake: Lake, tag: String): String = {
    val c = s"mvr$tag${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$c", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$c.root", lake.root)
    c
  }

  test("MV refresh survives renaming its group and summed source columns") {
    // the stored definition keeps CREATE-time names (PG MV semantics: the
    // MV's own columns never change); every frame the refresh reads is
    // aligned back to the definition epoch by columnId
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.src",
      Seq(("a", 1L), ("b", 10L), ("a", 2L)).toDF("g", "x"))
    lake.createMaterializedView("main.mv", "main.src", Seq("g"), Seq("x"))
    val cat = catFor(lake, "gs")
    spark.sql(s"ALTER TABLE $cat.main.src RENAME COLUMN g TO grp")
    spark.sql(s"ALTER TABLE $cat.main.src RENAME COLUMN x TO amt")
    lake.append("main.src", Seq(("b", 100L), ("c", 7L)).toDF("grp", "amt"))
    lake.update("main.src", col("amt") === 2L, Map("grp" -> lit("b")))
    lake.refreshMaterializedView("main.mv")
    // content tracks the RENAMED source; the MV's own columns keep their
    // create-time names
    assert(lake.table("main.mv").columns.toSeq == Seq("g", "n_rows", "sum_x"))
    val want = lake.table("main.src").groupBy(col("grp"))
      .agg(count(lit(1)), coalesce(sum(col("amt")), lit(0L)))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(mvState(lake) == want)
  }

  test("join MV refresh survives renaming the dim attribute, the join key, and a dim-DML window") {
    val lake = mkJoinMv()
    import spark.implicits._
    val cat = catFor(lake, "jn")
    spark.sql(s"ALTER TABLE $cat.main.dim RENAME COLUMN seg TO label")
    spark.sql(s"ALTER TABLE $cat.main.fact RENAME COLUMN fk TO fid")
    // post-rename window mixes fact DML and dim DML (the delta-identity
    // path) — all under the new names
    lake.append("main.fact", Seq((2L, 6L)).toDF("fid", "x"))
    lake.update("main.dim", col("k") === 1L, Map("label" -> lit("green")))
    lake.refreshMaterializedView("main.mv")
    val want = lake.table("main.fact").alias("f")
      .join(lake.table("main.dim").alias("d"), col("f.fid") === col("d.k"))
      .groupBy(col("label"))
      .agg(count(lit(1)), coalesce(sum(col("x")), lit(0L)))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(mvState(lake) == want)
    assert(mvState(lake) == Map("green" -> (2L, 30L), "blue" -> (2L, 11L)))
  }

  test("filtered MV keeps filtering after the predicate's column is renamed") {
    // filterSql is stored in the definition epoch's vocabulary; because
    // refresh aligns every frame BACK to that epoch, the predicate applies
    // without any SQL rewriting
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.src", Seq(("a", 1L), ("a", 2L)).toDF("g", "x"))
    lake.createMaterializedView("main.mv", "main.src", Seq("g"), Seq("x"),
      filterSql = Some("x % 2 = 0"))
    val cat = catFor(lake, "fl")
    spark.sql(s"ALTER TABLE $cat.main.src RENAME COLUMN x TO amt")
    lake.append("main.src", Seq(("a", 4L), ("b", 3L)).toDF("g", "amt"))
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == Map("a" -> (2L, 6L))) // only even amts
  }

  test("FROM-clause parser ignores JOIN/ON/AND/WHERE tokens inside literals (r16)") {
    val (src, dims, where) = SqlMaterializedView.parseFromClause(
      "main.fact JOIN main.dim ON fk = k " +
        "WHERE tag = 'a JOIN b WHERE x ON c AND d' AND `w JOIN z` = 1")
    assert(src == "main.fact")
    assert(dims == Seq(("main.dim", Seq(("fk", "k")))))
    assert(where.contains("tag = 'a JOIN b WHERE x ON c AND d' AND `w JOIN z` = 1"))
    // and a WHERE-only clause with a literal JOIN still parses join-free
    val (s2, d2, w2) = SqlMaterializedView.parseFromClause(
      "main.fact WHERE note = ' JOIN '")
    assert(s2 == "main.fact" && d2.isEmpty && w2.contains("note = ' JOIN '"))
  }

  test("dropping a def-referenced column fails the refresh loudly, never null-fills") {
    // r16 (ADVICE): alignColumns' null-fill exists for the change feed's
    // ADD/DROP window case — a refresh whose DEFINITION references the
    // dropped column must not ride it into silently aggregating nulls
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.src",
      Seq(("a", 1L, 5L), ("b", 2L, 6L)).toDF("g", "x", "y"))
    lake.createMaterializedView("main.mv", "main.src", Seq("g"), Seq("x"))
    val cat = catFor(lake, "dropguard")
    // dropping an UNREFERENCED column is fine — refresh keeps folding
    spark.sql(s"ALTER TABLE $cat.main.src DROP COLUMN y")
    lake.append("main.src", Seq(("a", 3L)).toDF("g", "x"))
    lake.refreshMaterializedView("main.mv")
    assert(mvState(lake) == Map("a" -> (2L, 4L), "b" -> (1L, 2L)))
    // dropping the SUM column fails the next refresh with a recreate hint
    spark.sql(s"ALTER TABLE $cat.main.src DROP COLUMN x")
    val e = intercept[IllegalStateException](lake.refreshMaterializedView("main.mv"))
    assert(e.getMessage.contains("dropped") && e.getMessage.contains("x"),
      e.getMessage)
    // stored MV state is untouched by the failed refresh
    assert(mvState(lake) == Map("a" -> (2L, 4L), "b" -> (1L, 2L)))
    // drop + re-ADD under the same name is a NEW columnId: still rejected
    spark.sql(s"ALTER TABLE $cat.main.src ADD COLUMN x BIGINT")
    val e2 = intercept[IllegalStateException](lake.refreshMaterializedView("main.mv"))
    assert(e2.getMessage.contains("dropped"), e2.getMessage)
  }

  test("snowflake MV: chaining off an unknown carried column is rejected at create") {
    val lake = mkLake()
    import spark.implicits._
    lake.createTableAs("main.fact", Seq((1L, 10L)).toDF("fk", "x"))
    lake.createTableAs("main.d1", Seq((1L, "red")).toDF("k", "seg"))
    lake.createTableAs("main.d2", Seq(("red", "emea")).toDF("seg2", "region"))
    val e = intercept[IllegalArgumentException] {
      lake.createMaterializedView("main.mv", "main.fact",
        groupCols = Seq("region"), sumCols = Nil,
        dims = Seq(("main.d2", Seq(("seg", "seg2"))), // d2 BEFORE d1: seg unknown yet
          ("main.d1", Seq(("fk", "k")))))
    }
    assert(e.getMessage.contains("accumulated frame"))
  }
}
