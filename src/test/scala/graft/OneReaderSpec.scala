package graft

import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.lake._

/** The library's own reads (`LakeRead.scanDF`: the `Lake` API, DML, the
  * change feed, MV refresh) plan the one lake scan, [[LakeNativeScan]],
  * observed on the physical plans of the actions they run. */
class OneReaderSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSession.spark

  private def newCat(tag: String): (Lake, String) = {
    val lake = new Lake(spark, Files.createTempDirectory(s"graft_one$tag").toString)
    val cat = s"one$tag${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", lake.root)
    (lake, cat)
  }

  /** the actions one call ran: how many (failed ones too), and the
    * executed plans of those that succeeded */
  private case class Run(actions: Int, plans: Seq[SparkPlan]) {
    override def toString: String = s"$actions actions:\n${plans.mkString("\n")}"
  }

  /** the actions `body` runs */
  private def plansOf(body: => Unit): Run = {
    val got = mutable.ArrayBuffer.empty[SparkPlan]
    var failed = 0
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        got.synchronized(got += qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        got.synchronized(failed += 1)
    }
    org.apache.spark.sql.graft.ListenerDrain(spark)
    spark.listenerManager.register(listener)
    try { body; org.apache.spark.sql.graft.ListenerDrain(spark) }
    finally spark.listenerManager.unregister(listener)
    got.synchronized(Run(got.size + failed, got.toSeq))
  }

  /** the nodes of `p`, and with `caches` those of the cached plans it reads */
  private def nodes(p: SparkPlan, caches: Boolean): Seq[SparkPlan] =
    collectWithSubqueries(p) {
      case m: InMemoryTableScanExec if caches =>
        m +: nodes(m.relation.cacheBuilder.cachedPlan, caches)
      case other => Seq(other)
    }.flatten

  /** the lake scans of `table` ("schema.table") in `ps` */
  private def scansOf(ps: Seq[SparkPlan], table: String, caches: Boolean = true)
      : Seq[LakeNativeScan] =
    ps.flatMap(nodes(_, caches)).collect {
      case b: BatchScanExec => b.scan
    }.collect { case n: LakeNativeScan if n.description().contains(s" $table@") => n }

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("DELETE and UPDATE scan only the files their predicate can match") {
    val (lake, cat) = newCat("dml")
    lake.createTable("main.t", StructType(Seq(
      StructField("k", LongType), StructField("v", LongType))))
    // four files with disjoint key ranges [0,100) … [300,400)
    (0 until 4).foreach(i => lake.append("main.t", spark.range(i * 100, (i + 1) * 100)
      .selectExpr("id AS k", "id * 2 AS v").coalesce(1)))
    def files(run: Run): Seq[Int] = {
      val ss = scansOf(run.plans, "main.t")
      assert(ss.nonEmpty, "no lake scan of main.t planned")
      ss.map(_.currentFileCount)
    }
    var res = (0L, 0L)
    // the Lake API and the SQL DELETE / UPDATE each read one file
    assert(files(plansOf { res = lake.delete("main.t", col("k") < 50) }).forall(_ == 1))
    assert(res._2 == 50L)
    assert(files(plansOf { spark.sql(s"DELETE FROM $cat.main.t WHERE k >= 390") })
      .forall(_ == 1))
    assert(files(plansOf {
      res = lake.update("main.t", col("k").between(250, 259), Map("v" -> lit(-1L)))
    }).forall(_ == 1))
    assert(res._2 == 10L)
    assert(files(plansOf {
      spark.sql(s"UPDATE $cat.main.t SET v = -2 WHERE k >= 120 AND k < 125")
    }).forall(_ == 1))
    val want = (50L until 390L).map(k =>
      (k, if (k >= 250 && k < 260) -1L else if (k >= 120 && k < 125) -2L else k * 2))
    assert(pairs(lake.table("main.t")) == want)
    assert(pairs(ComposedReference.table(lake, "main.t")) == want)
    assert(pairs(spark.sql(s"SELECT k, v FROM $cat.main.t")) == want)
  }

  test("MV refresh-on-read never matches the library's own reads") {
    val (lake, _) = newCat("mvrw")
    import spark.implicits._
    lake.createTableAs("main.src", Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 3L, 30L),
      ("b", 4L, 40L)).toDF("g", "x", "y"))
    lake.createMaterializedView("main.mv", "main.src",
      groupCols = Seq("g"), sumCols = Seq("x"), minMaxCols = Seq("y"))
    spark.conf.set("spark.graft.mv.rewrite", "refresh")
    try {
      lake.delete("main.src", col("y") === 20L) // retires group a's max
      val before = lake.store.state().currentSnapshotId
      // the refresh's own reads (change feed, MIN/MAX recompute) must not
      // start a nested refresh of the same MV: that would win the watermark
      // CAS and fail this one with ConcurrentMvRefreshException
      lake.refreshMaterializedView("main.mv")
      val st = lake.store.state()
      val mvTid = st.tableAt("main", "mv", st.currentSnapshotId).get.tableId
      val commits = st.snapshots.filter(_.snapshotId > before)
      assert(commits.size == 1 && commits.head.changes.exists(_.contains(s":$mvTid")),
        s"expected one MV commit: $commits")
      val want = Set(("a", 1L, 1L, 10L, 10L), ("b", 2L, 7L, 30L, 40L))
      def rows(df: DataFrame) = df.collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      assert(rows(lake.table("main.mv").select("g", "n_rows", "sum_x", "min_y", "max_y")) ==
        want)
      assert(rows(ComposedReference.table(lake, "main.src").groupBy("g")
        .agg(count(lit(1)), sum("x"), min("y"), max("y"))) == want)
      // a `Lake` API aggregate matching the (now fresh) MV still reads the
      // source, as the composed reader always did
      val agg = lake.table("main.src").groupBy("g")
        .agg(count(lit(1)), sum("x"), min("y"), max("y"))
      val scanned = agg.queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation => r.scan.description()
      }
      assert(scanned.exists(_.contains(" main.src@")) &&
        !scanned.exists(_.contains(" main.mv@")), s"Lake API aggregate rewritten: $scanned")
      assert(rows(agg) == want)
    } finally spark.conf.unset("spark.graft.mv.rewrite")
  }

  test("MV refresh write plan: one source scan, one dirty-group aggregate, no delete anti-join") {
    val (lake, cat) = newCat("mvplan")
    lake.createTable("main.o", StructType(Seq(StructField("k", LongType),
      StructField("g", IntegerType), StructField("v", LongType))))
    lake.setOption("data_inlining_row_limit", "100", Some("main.o"))
    lake.append("main.o", spark.range(0, 200)
      .selectExpr("id AS k", "cast(id % 4 AS int) AS g", "id AS v").coalesce(1))
    // a second schema epoch, a delete overlay and live inline rows
    spark.sql(s"ALTER TABLE $cat.main.o ADD COLUMN c STRING")
    lake.append("main.o", spark.range(200, 400)
      .selectExpr("id AS k", "cast(id % 4 AS int) AS g", "id AS v", "'x' AS c").coalesce(1))
    lake.delete("main.o", col("k") % 10 === 0L)
    lake.insertRows("main.o", Seq(Seq(1000L, 1, 1000L, "i"), Seq(1001L, 2, 1L, "i")))
    lake.createMaterializedView("main.mv", "main.o",
      groupCols = Seq("g"), sumCols = Seq("v"), minMaxCols = Seq("v"))
    // the window retires an extremum (dirty group) and inserts inline rows
    lake.delete("main.o", col("k") === 399L)
    lake.insertRows("main.o", Seq(Seq(1002L, 3, 7L, "j")))
    val st0 = lake.store.state()
    assert(st0.deleteFilesAt(st0.tableAt("main", "o", st0.currentSnapshotId).get.tableId,
      st0.currentSnapshotId).nonEmpty)

    val plans = plansOf(lake.refreshMaterializedView("main.mv")).plans
    val writes = plans.filter(p => nodes(p, caches = false)
      .exists(_.isInstanceOf[DataWritingCommandExec]))
    assert(writes.size == 1, s"expected the MV write only: ${writes.size} write plans")
    val write = writes.head
    // (source scans outside the cached change rows, dirty-group key
    // filters `d_dirty = 1`, anti-joins on the delete keys anywhere in the
    // refresh); the composed reader planned no lake scan, pushed the
    // dirty-group semi join into each of its union branches, and
    // anti-joined every scan against the delete rows
    val observed = (
      scansOf(Seq(write), "main.o", caches = false).size,
      nodes(write, caches = false).count {
        case f: FilterExec => f.condition.exists {
          case EqualTo(a: AttributeReference, Literal(1L, _)) => a.name == "d_dirty"
          case _ => false
        }
        case _ => false
      },
      plans.flatMap(nodes(_, caches = true)).count {
        case j: BaseJoinExec => j.joinType == LeftAnti &&
          j.leftKeys.exists(_.references.exists(_.name == LakeRead.FileCol))
        case _ => false
      })
    assert(observed == ((1, 1, 0)), s"refresh write plan shape changed:\n$write")

    val want = ComposedReference.table(lake, "main.o").groupBy("g")
      .agg(count(lit(1)), sum("v"), min("v"), max("v"))
    def rows(df: DataFrame) = df.collect().map(r => (r.getInt(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(rows(lake.table("main.mv").select("g", "n_rows", "sum_v", "min_v", "max_v")) ==
      rows(want))
  }

  test("change feed reads are lake scans: no join, and one with a MERGE in the window") {
    val (lake, cat) = newCat("feed")
    lake.createTable("main.c", StructType(Seq(
      StructField("k", LongType), StructField("v", LongType))))
    lake.setOption("data_inlining_row_limit", "10", Some("main.c"))
    def rows(from: Long, to: Long) =
      spark.range(from, to).selectExpr("id AS k", "id * 3 AS v").coalesce(1)
    lake.append("main.c", rows(0, 100))
    val s0 = lake.currentSnapshot()
    lake.append("main.c", rows(100, 200))
    lake.insertRows("main.c", Seq(Seq(1000L, 1L), Seq(1001L, 2L)))
    lake.delete("main.c", col("k") % 10 === 0L) // also drops inline row 1000
    lake.update("main.c", col("k") % 10 === 1L, Map("v" -> (col("v") + 1)))
    lake.transaction { tx =>
      tx.append("main.c", rows(200, 300))
      tx.delete("main.c", col("k") % 10 === 2L) // hits its own append too
    }
    val s1 = lake.currentSnapshot()
    import spark.implicits._
    lake.merge("main.c", Seq((3L, 7L), (13L, 8L), (5000L, 9L)).toDF("sk", "sv"),
      col("k") === col("sk"),
      matched = Seq(LakeWrite.MergeMatched(None, Some(Map("v" -> col("sv"))))),
      notMatched = Seq(LakeWrite.MergeInsert(None, Map("k" -> col("sk"), "v" -> col("sv")))),
      notMatchedBySource = Seq(LakeWrite.MergeMatched(Some(col("k") % 10 === 4L), None)))
    val s2 = lake.currentSnapshot()

    def idRows(s: Long): Map[Long, (Long, Long)] =
      spark.sql(s"SELECT _row_id, k, v FROM $cat.main.c VERSION AS OF $s").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    /** (joins, non-lake file scans) of the feed's executed plans; its rows
      * replayed by row id onto the rows at `from` must give those at `to` */
    def feed(from: Long, to: Long): (Int, Int) = {
      var got: Array[org.apache.spark.sql.Row] = Array.empty
      val ns = plansOf {
        got = lake.tableChanges("main.c", from, to)
          .select("_snapshot_id", "_change_type", "_row_id", "k", "v").collect()
      }.plans.flatMap(nodes(_, caches = true))
      var live = idRows(from)
      got.groupBy(_.getLong(0)).toSeq.sortBy(_._1).foreach { case (_, cs) =>
        val (gone, added) = cs.partition(r => Set("delete", "update_preimage")(r.getString(1)))
        gone.foreach { r =>
          assert(live.get(r.getLong(2)).contains((r.getLong(3), r.getLong(4))), s"$r")
          live -= r.getLong(2)
        }
        added.foreach { r =>
          assert(!live.contains(r.getLong(2)), s"$r")
          live += r.getLong(2) -> ((r.getLong(3), r.getLong(4)))
        }
      }
      assert(live == idRows(to), s"feed ($from, $to] does not replay")
      val lakeScans = ns.collect { case b: BatchScanExec => b.scan }
      assert(lakeScans.nonEmpty && lakeScans.forall(_.isInstanceOf[LakeNativeScan]), s"$lakeScans")
      (ns.count(_.isInstanceOf[BaseJoinExec]), ns.count(_.isInstanceOf[FileSourceScanExec]))
    }
    assert(feed(s0, s1) == ((0, 0)))
    assert(feed(s0, s2) == ((1, 0)))
    assert(feed(s1, s2) == ((1, 0)))
  }

  test("DML action budget: DELETE 1, UPDATE 2, MERGE 3, counted by the delete write") {
    val (lake, _) = newCat("budget")
    lake.createTable("main.b", StructType(Seq(
      StructField("k", LongType), StructField("v", LongType))))
    lake.setOption("data_inlining_row_limit", "10", Some("main.b"))
    (0 until 4).foreach(i => lake.append("main.b", spark.range(i * 100, (i + 1) * 100)
      .selectExpr("id AS k", "id * 2 AS v").coalesce(1)))
    val tid = lake.store.state().tableAt("main", "b", lake.currentSnapshot()).get.tableId
    val tableDir = new java.io.File(LakeWrite.tableDir(lake.root, tid))
    def deleteIds: Set[Long] = {
      val st = lake.store.state()
      st.deleteFilesAt(tid, st.currentSnapshotId).map(_.deleteFileId).toSet
    }
    def deleteDirs: Set[String] = Option(new java.io.File(tableDir, "deletes").list())
      .map(_.toSet).getOrElse(Set.empty)
    /** per-data-file hits (by file id) of the target rows `hit` keeps, and
      * its inline hits, read through the composed reference */
    def expected(hit: DataFrame => DataFrame): (Map[String, Long], Long) = {
      val st = lake.store.state()
      val idByName = st.filesAt(tid, st.currentSnapshotId)
        .map(f => f.fileName -> f.fileId.toString).toMap
      val byFile = hit(ComposedReference.table(lake, "main.b", withRowMeta = true))
        .groupBy(LakeRead.FileCol).count().collect().map(r => r.getString(0) -> r.getLong(1))
      val (inline, files) = byFile.partition(_._1.startsWith("inline:"))
      (files.map { case (n, c) => idByName(n) -> c }.toMap, inline.map(_._2).sum)
    }
    /** runs `dml` as `actions` actions whose new delete entry records
      * `counts`; returns the run and the DML's result */
    def budget[T](label: String, actions: Int, counts: Map[String, Long])(dml: => T): (Run, T) = {
      val before = deleteIds
      var got: Option[T] = None
      val run = plansOf { got = Some(dml) }
      assert(run.actions == actions, s"$label: $run")
      val st = lake.store.state()
      val added = st.deleteFilesAt(tid, st.currentSnapshotId).filterNot(d => before(d.deleteFileId))
      assert(added.map(_.countsByFile) == (if (counts.isEmpty) Nil else Seq(counts)), label)
      assert(added.forall(d => d.deleteCount == counts.values.sum), label)
      (run, got.get)
    }

    // DELETE and UPDATE while no inline rows are live
    val d1 = col("k") % 10 === 0L
    val (c1, _) = expected(_.filter(d1))
    assert(budget("DELETE", 1, c1)(lake.delete("main.b", d1))._2._2 == c1.values.sum)
    val u1 = col("k") % 10 === 2L
    val (cu, _) = expected(_.filter(u1))
    assert(budget("UPDATE", 2, cu)(lake.update("main.b", u1, Map("v" -> -col("v"))))._2._2 ==
      cu.values.sum)

    // MERGE: a matched UPDATE and a NOT MATCHED INSERT, one target scan
    import spark.implicits._
    val src = Seq((3L, 7L), (13L, 8L), (205L, 9L), (5000L, 1L), (5001L, 2L)).toDF("sk", "sv")
    val (cm, _) = expected(_.join(src, col("k") === col("sk"), "left_semi"))
    val (mrun, m) = budget("MERGE", 3, cm)(lake.merge("main.b", src, col("k") === col("sk"),
      matched = Seq(LakeWrite.MergeMatched(None, Some(Map("v" -> col("sv"))))),
      notMatched = Seq(LakeWrite.MergeInsert(None, Map("k" -> col("sk"), "v" -> col("sv"))))))
    assert((m._2, m._3, m._4) == ((cm.values.sum, 0L, 2L)))
    val scans = scansOf(mrun.plans, "main.b")
    assert(scans.nonEmpty && scans.forall(_ eq scans.head),
      s"MERGE read its target in ${scans.size} scans: $mrun")

    // DELETE with live inline rows: still one action, inline ids observed
    lake.insertRows("main.b", Seq(Seq(1001L, 1L), Seq(1002L, 2L)))
    val d2 = col("k") % 10 === 1L
    val (c2, i2) = expected(_.filter(d2))
    assert(i2 == 1L)
    assert(budget("DELETE with inline rows", 1, c2)(lake.delete("main.b", d2))._2._2 ==
      c2.values.sum + i2)

    // a zero-hit DELETE: one action, no entry and no delete directory
    val dirs = deleteDirs
    assert(budget("zero-hit DELETE", 1, Map.empty)(lake.delete("main.b", col("k") < 0L))._2._2 == 0L)
    assert(deleteDirs == dirs)

    // a cardinality-violating MERGE leaves no file and commits nothing
    def files(dir: java.io.File): Set[String] =
      if (!dir.exists()) Set.empty
      else java.nio.file.Files.walk(dir.toPath).iterator().asScala.map(_.toString).toSet
    val staging = new java.io.File(lake.root, "_staging")
    val (filesBefore, stagedBefore, snap) = (files(tableDir), files(staging), lake.currentSnapshot())
    val dup = Seq((4L, 1L), (4L, 2L)).toDF("sk", "sv")
    val err = intercept[IllegalStateException](lake.merge("main.b", dup, col("k") === col("sk"),
      matched = Seq(LakeWrite.MergeMatched(None, Some(Map("v" -> col("sv"))))), notMatched = Nil))
    assert(err.getMessage.contains("matched multiple source rows"))
    assert(files(tableDir) == filesBefore && files(staging) == stagedBefore)
    assert(lake.currentSnapshot() == snap)

    assert(pairs(lake.table("main.b")) == pairs(ComposedReference.table(lake, "main.b")))
  }
}
