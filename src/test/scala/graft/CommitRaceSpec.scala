package graft

import java.nio.file.{Files, Path}
import java.util.ConcurrentModificationException
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.lake._
import graft.lake.Meta.SortKey

/** Writer-vs-writer races at the commit CAS, one small lake per case. The
  * racer (another writer's whole op) commits through [[RaceAtCas]] after
  * the writer under test built its delta and before it claims the slot,
  * so the writer's retry meets the commit-time conflict rule
  * (`LakeWrite.requireUnchanged`).
  *
  * Every case checks one invariant: either the writer threw
  * `ConcurrentModificationException` and the table holds exactly the
  * racer's result, or it committed and the table holds the serial result
  * "racer, then writer". Row ids stay unique either way, and each case
  * also pins which of the two the rule picks. The reference's isolation
  * specs `concurrent_writes` and `concurrent_cross_table_writes` state the
  * same no-lost-write, no-duplicate contract. */
class CommitRaceSpec extends AnyFunSuite {
  import TestSession.spark
  import spark.implicits._

  private val abSchema = StructType(Seq(
    StructField("a", IntegerType), StructField("b", IntegerType)))

  /** one data file of rows (i, i) */
  private def ab(rows: Seq[Int]): DataFrame = rows.map(i => (i, i)).toDF("a", "b").coalesce(1)

  /** (a, b) rows of main.t, sorted, after checking its row ids are unique */
  private def rows(lake: Lake): Seq[(Int, Int)] = {
    val st = lake.store.state()
    val cur = st.currentSnapshotId
    val tid = st.tableAt("main", "t", cur).get.tableId
    val got = LakeRead.scanDF(spark, st, tid, cur, withRowMeta = true)
      .select(col(LakeRead.RowIdCol), col("a"), col("b")).collect()
    val ids = got.map(_.getLong(0)).toSeq
    assert(ids.distinct.size == ids.size, s"duplicate row ids: ${ids.sorted}")
    got.map(r => (r.getInt(1), r.getInt(2))).toSeq.sorted
  }

  /** Runs `writer` with `racer` armed at its CAS and checks the invariant.
    * Returns whether the writer conflicted. */
  private def race(lake: Lake, cas: RaceAtCas, racer: => Unit, writer: => Any,
      racerOnly: Seq[(Int, Int)], serial: Seq[(Int, Int)]): Boolean = {
    cas.raceOnce(racer)
    val conflicted =
      try { writer; false }
      catch { case _: ConcurrentModificationException => true }
    val expected = if (conflicted) racerOnly else serial
    assert(rows(lake) == expected.sorted,
      if (conflicted) "conflicted, but the racer's result is not intact"
      else "committed, but the table is not the serial result")
    conflicted
  }

  private def pairs(as: Seq[Int]): Seq[(Int, Int)] = as.map(i => (i, i))

  /** main.t holding ten inline rows (i, i) */
  private def inlineLake(racing: (Lake, RaceAtCas) = RaceAtCas.lake(spark)): (Lake, RaceAtCas) = {
    val (lake, cas) = racing
    lake.createTable("main.t", abSchema)
    lake.setOption("data_inlining_row_limit", "100", Some("main.t"))
    lake.insertRows("main.t", (1 to 10).map(i => Seq(i, i)))
    (lake, cas)
  }

  test("rewriteDataFiles racing a delete on a victim file conflicts") {
    // the unchecked rewrite ended the racer's delete file with its victim
    // and brought a = 5 back (18 rows)
    val (lake, cas) = RaceAtCas.lake(spark)
    lake.createTable("main.t", abSchema)
    lake.append("main.t", ab(1 to 10))
    lake.append("main.t", ab(11 to 20))
    lake.delete("main.t", col("a") <= 2) // the first file is 20% deleted
    val after = pairs((3 to 20).filter(_ != 5))
    assert(race(lake, cas, lake.delete("main.t", col("a") === 5),
      lake.rewriteDataFiles("main.t", 0.1), racerOnly = after, serial = after))
  }

  test("flushInlinedData racing an inline insert keeps the insert") {
    // the unchecked flush ended every batch live at commit, the racer's
    // too, and lost its row (10 rows)
    val (lake, cas) = inlineLake()
    val all = pairs(1 to 11)
    assert(!race(lake, cas, lake.insertRows("main.t", Seq(Seq(11, 11))),
      lake.flushInlinedData("main.t"), racerOnly = all, serial = all))
  }

  test("flushInlinedData racing a delete of an inline row conflicts") {
    // the unchecked flush wrote the row the racer deleted (10 rows)
    val (lake, cas) = inlineLake()
    val after = pairs((1 to 10).filter(_ != 3))
    assert(race(lake, cas, lake.delete("main.t", col("a") === 3),
      lake.flushInlinedData("main.t"), racerOnly = after, serial = after))
  }

  test("mergeAdjacentFiles racing rewriteDataFiles conflicts") {
    // the unchecked compaction re-added the rows the racer had already
    // rewritten: 36 rows, 28 distinct, duplicated row ids
    val (lake, cas) = RaceAtCas.lake(spark)
    lake.createTable("main.t", abSchema)
    Seq(1 to 10, 11 to 20, 21 to 30).foreach(r => lake.append("main.t", ab(r)))
    lake.delete("main.t", col("a") <= 2)
    val after = pairs(3 to 30)
    assert(race(lake, cas, lake.rewriteDataFiles("main.t", 0.1),
      lake.mergeAdjacentFiles("main.t"), racerOnly = after, serial = after))
  }

  test("UPDATE racing an UPDATE of the same row conflicts") {
    val (lake, cas) = RaceAtCas.lake(spark)
    lake.createTable("main.t", abSchema)
    lake.append("main.t", ab(1 to 20))
    val others = pairs((1 to 20).filter(_ != 3))
    assert(race(lake, cas, lake.update("main.t", col("a") === 3, Map("b" -> lit(200))),
      lake.update("main.t", col("a") === 3, Map("b" -> lit(100))),
      racerOnly = others :+ (3 -> 200), serial = others :+ (3 -> 100)))
  }

  test("MERGE racing a DELETE of a matched row conflicts") {
    val (lake, cas) = RaceAtCas.lake(spark)
    lake.createTable("main.t", abSchema)
    lake.append("main.t", ab(1 to 20))
    val src = Seq((3, 30), (4, 40)).toDF("sa", "sb")
    val racerOnly = pairs((1 to 20).filter(_ != 3))
    assert(race(lake, cas, lake.delete("main.t", col("a") === 3),
      lake.merge("main.t", src, col("a") === col("sa"),
        matched = Seq(LakeWrite.MergeMatched(None, Some(Map("b" -> col("sb"))))),
        notMatched = Nil),
      racerOnly = racerOnly,
      serial = racerOnly.map { case (a, b) => if (a == 4) (4, 40) else (a, b) }))
  }

  test("rewriteSorted racing an append commits beside it") {
    // the append's file is not in the rewrite's read set: it stays live,
    // serializable as "append, then rewrite"
    val (lake, cas) = RaceAtCas.lake(spark)
    lake.createTable("main.t", abSchema)
    lake.setSort("main.t", List(SortKey("a", ascending = true, nullsFirst = false)))
    lake.append("main.t", ab(11 to 20))
    lake.append("main.t", ab(1 to 10))
    val all = pairs(1 to 25)
    assert(!race(lake, cas, lake.append("main.t", ab(21 to 25)),
      lake.rewriteSorted("main.t"), racerOnly = all, serial = all))
  }

  test("the CAS seam is store-independent: flush racing an insert over JDBC") {
    val dbDir = Files.createTempDirectory("graft_race_derby").toString
    val (lake, cas) = inlineLake(RaceAtCas.lake(spark, root =>
      new JdbcMetadataStore(root, s"jdbc:derby:$dbDir/cat;create=true") with RaceAtCas))
    val all = pairs(1 to 11)
    assert(!race(lake, cas, lake.insertRows("main.t", Seq(Seq(11, 11))),
      lake.flushInlinedData("main.t"), racerOnly = all, serial = all))
  }

  test("a crash at the CAS leaves the table as it was and only orphans behind") {
    val (lake, cas) = RaceAtCas.lake(spark)
    lake.createTable("main.t", abSchema)
    lake.append("main.t", ab(1 to 10))
    lake.append("main.t", ab(11 to 20))
    val before = rows(lake)
    val lakeFiles: () => Set[Path] = () => Files.walk(Path.of(lake.root)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.toString.contains("/_ducklake/")).toSet
    val filesBefore = lakeFiles()
    // the UPDATE promotes a delete dir and post-image files, then dies
    // before it claims its snapshot
    cas.raceOnce(throw new java.io.IOException("crash at the CAS"))
    intercept[java.io.IOException] {
      lake.update("main.t", col("a") === 3, Map("b" -> lit(100)))
    }
    assert(rows(lake) == before)
    val written = lakeFiles() -- filesBefore
    assert(written.exists(_.toString.contains("/deletes/")) &&
      written.exists(_.toString.contains("/data/")), s"wrote $written")
    lake.deleteOrphanedFiles(Some(0L))
    assert(lakeFiles() == filesBefore, "the failed op's files must all be reaped")
    val (_, n) = lake.update("main.t", col("a") === 3, Map("b" -> lit(100)))
    assert(n == 1 && rows(lake) == before.map { case (a, b) => if (a == 3) (3, 100) else (a, b) })
  }
}
