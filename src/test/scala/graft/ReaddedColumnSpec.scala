package graft

import java.nio.file.Files
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.lake._

/** A column dropped and re-added under the same name is a NEW column (a new
  * column id): rows written before it read null, or its existence default.
  * The files still carry the predecessor's name-keyed stats (null count 0,
  * min 10, max 20 for `b` below); were they matched to the successor by
  * name, `b IS NULL` or `b = 7` would prune every old file and drop rows
  * that do match. Layout metadata is translated by column id, so the stale
  * stats are dropped instead. Checked on the SQL scan, the `Lake` API, the
  * composed reference reader and both DELETE paths. */
class ReaddedColumnSpec extends AnyFunSuite {
  import TestSession.spark

  /** a lake whose `main.t` had (a, b) = (1, 10), (2, 20) written, then b
    * dropped and re-added with `addSuffix` (e.g. " DEFAULT 7") */
  private def readded(addSuffix: String): (Lake, String) = {
    val lake = new Lake(spark, Files.createTempDirectory("graft_readd").toString)
    val cat = s"readd${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", lake.root)
    spark.sql(s"CREATE TABLE $cat.main.t (a INT, b INT)")
    spark.sql(s"INSERT INTO $cat.main.t VALUES (1, 10), (2, 20)")
    spark.sql(s"ALTER TABLE $cat.main.t DROP COLUMN b")
    spark.sql(s"ALTER TABLE $cat.main.t ADD COLUMN b INT$addSuffix")
    (lake, cat)
  }

  private def ints(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.collect().map(_.getInt(0)).toSeq.sorted

  test("re-added column without a default: old rows match IS NULL") {
    val (lake, cat) = readded("")
    assert(ints(spark.sql(s"SELECT a FROM $cat.main.t WHERE b IS NULL")) == Seq(1, 2))
    assert(ints(spark.sql(s"SELECT a FROM $cat.main.t WHERE b > 5")) == Nil)
    assert(ints(lake.table("main.t").where(col("b").isNull).select("a")) == Seq(1, 2))
    assert(ints(ComposedReference.table(lake, "main.t").where(col("b").isNull).select("a")) ==
      Seq(1, 2))
    spark.sql(s"DELETE FROM $cat.main.t WHERE b IS NULL")
    assert(ints(spark.sql(s"SELECT a FROM $cat.main.t")) == Nil)
  }

  test("re-added column with a default: old rows read it and match it") {
    val (lake, cat) = readded(" DEFAULT 7")
    assert(ints(spark.sql(s"SELECT a FROM $cat.main.t WHERE b = 7")) == Seq(1, 2))
    assert(ints(spark.sql(s"SELECT b FROM $cat.main.t")) == Seq(7, 7))
    assert(ints(lake.table("main.t").where(col("b") === 7).select("a")) == Seq(1, 2))
    assert(ints(ComposedReference.table(lake, "main.t").where(col("b") === 7).select("a")) ==
      Seq(1, 2))
    lake.delete("main.t", col("b") === 7)
    assert(ints(lake.table("main.t").select("a")) == Nil)
    assert(ints(ComposedReference.table(lake, "main.t").select("a")) == Nil)
  }

  test("Lake API delete by IS NULL on a re-added column removes the old rows") {
    val (lake, cat) = readded("")
    lake.delete("main.t", col("b").isNull)
    assert(ints(spark.sql(s"SELECT a FROM $cat.main.t")) == Nil)
    assert(lake.table("main.t").count() == 0L)
    assert(ComposedReference.table(lake, "main.t").count() == 0L)
  }
}
