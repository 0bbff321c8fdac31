package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.lake.{Lake, LakeCatalog}

/** One generated operation: its kind and integer parameters. */
final case class Op(t: String, p: Map[String, Long]) {
  def apply(k: String): Long = p(k)
  def int(k: String): Int = p(k).toInt
}

/** Bytes under the lake root by kind, and the live rows written once as
  * plain Parquet (the base of `storage_amp`). */
final case class StorageRec(data_bytes: Long, log_bytes: Long,
    checkpoint_bytes: Long, log_files: Int, plain_bytes: Long, live_rows: Long)

/** A workload: builds its fixture, runs operations closed-loop through the
  * library's public surface, and checks every answer against a model that
  * does not use the lake. */
abstract class Workload(val spark: SparkSession, val seed: Long,
    val initial: Long, val work: File, val cache: File, val rec: Recorder) {
  var lake: Lake = _
  /** name of the `LakeCatalog` registered over the current fixture */
  var cat: String = _

  /** live lake tables, for `storage_amp` */
  def tables: Seq[String]
  /** make the inputs every repetition loads (not part of set-up time) */
  def prepare(): Unit = ()
  /** build the fixture of repetition `rep` (a fresh lake and model) */
  def build(rep: Int): Unit
  def run(i: Int, op: Op): Unit
  /** end-of-run checks: marks failed operations, and returns one message
    * per failed check that belongs to no single operation */
  def finish(): Seq[String]

  protected def newLake(rep: Int): Unit = {
    val root = new File(work, s"lake$rep")
    Files.deleteTree(root)
    lake = new Lake(spark, root.getAbsolutePath)
    cat = s"lk$rep"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root.getAbsolutePath)
  }

  /** a SQL read through the registered catalog, as the `LakeTable` layer */
  protected def read(name: String, q: String): Array[Row] = {
    val rows = rec.call("LakeTable", name)(spark.sql(q).collect())
    rec.out(rows.length.toLong)
    rows
  }

  /** (bytes, rows) of the live rows of [[tables]] written once as plain
    * Parquet, one file per table */
  protected def plain(): (Long, Long) = {
    val plainRoot = new File(work, "plain")
    Files.deleteTree(plainRoot)
    var rows = 0L
    tables.foreach { t =>
      val df: DataFrame = lake.table(t)
      rows += df.count()
      df.coalesce(1).write.parquet(new File(plainRoot, t).getAbsolutePath)
    }
    (Files.walk(plainRoot).filter(_.getName.endsWith(".parquet")).map(_.length).sum, rows)
  }

  def storage(): StorageRec = {
    val root = new File(lake.root)
    val logDir = new File(root, "_ducklake").getAbsolutePath
    val (meta, data) = Files.walk(root).partition(_.getAbsolutePath.startsWith(logDir))
    val (ckpt, log) = meta.partition(_.getName.startsWith("ckpt"))
    val (plainBytes, rows) = plain()
    StorageRec(data.map(_.length).sum, log.map(_.length).sum,
      ckpt.map(_.length).sum, log.count(_.getName.endsWith(".json")), plainBytes, rows)
  }

  /** `table`'s rows at the current snapshot, by row id */
  protected def byRowId(table: String, cols: Seq[String]): Map[Long, String] =
    lake.tableWithRowMeta(table).select((col("_graft_row_id") +: cols.map(col)): _*)
      .collect().map(r => r.getLong(0) -> Gen.show(Row.fromSeq(r.toSeq.tail))).toMap

  /** the change feed of one window replayed by row id onto the table as
    * of the window's start */
  protected def replay(before: Map[Long, String], changes: Array[Row],
      cols: Seq[String]): Map[Long, String] = {
    def pre(r: Row) = Set("delete", "update_preimage")(r.getAs[String]("_change_type"))
    changes.sortBy(r => (r.getAs[Long]("_snapshot_id"), if (pre(r)) 0 else 1))
      .foldLeft(before) { (acc, r) =>
        val rid = r.getAs[Long]("_row_id")
        if (pre(r)) acc - rid
        else acc + (rid -> Gen.show(Row.fromSeq(cols.map(r.getAs[Any]))))
      }
  }
}

object Files {
  def walk(f: File): Vector[File] =
    if (f.isDirectory) Option(f.listFiles).toVector.flatten.flatMap(walk)
    else if (f.isFile) Vector(f) else Vector.empty

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def localPath(p: String): String = p.stripPrefix("file:")
}
