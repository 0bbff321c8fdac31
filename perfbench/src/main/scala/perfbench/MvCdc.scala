package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `mv_cdc`: incremental maintenance. A fact table, a dim table, one
  * grouped-aggregate MV and one fact⋈dim MV. Each step commits a small DML
  * batch, reads the change feed of that commit window, refreshes both MVs
  * and reads them. The client checks each MV against a GROUP BY over its
  * own model of the tables, and each window by replaying the change feed
  * by row id onto the table as of the window start. */
class MvCdc(spark: SparkSession, seed: Long, initial: Long, work: File, cache: File,
    rec: Recorder) extends Workload(spark, seed, initial, work, cache, rec) {
  import MvCdc._

  val tables = Seq(Fact, Dim, MvStatus, MvSeg)
  private val fact = mutable.LongMap.empty[F]
  private val dim = mutable.LongMap.empty[String]
  /** fact rows by row id as of the last verified snapshot */
  private var atStart = Map.empty[Long, String]

  private def row(k: Long): F = {
    def hv(salt: Long) = Gen.h(seed, k, salt)
    F(k, 1 + hv(1) % DimRows, Gen.Statuses((hv(2) % 3).toInt), 1 + hv(3) % 50,
      100 + hv(4) % 1000000)
  }
  private def frame(rows: Seq[Row], schema: StructType) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  private def pred(op: Op)(k: Long): Boolean =
    k >= op("lo") && k < op("hi") && k % op("m") == op("r")
  private def predCol(op: Op): Column = col("f_id") >= op("lo") &&
    col("f_id") < op("hi") && col("f_id") % op("m") === op("r")

  def build(rep: Int): Unit = {
    newLake(rep)
    fact.clear(); dim.clear()
    (1L to initial).foreach(k => fact(k) = row(k))
    (1L to DimRows).foreach(k => dim(k) = Gen.Segments((Gen.h(seed, k, 9) % 5).toInt))
    lake.createTable(Fact, FactSchema)
    lake.append(Fact, frame(fact.values.toSeq.map(_.toRow), FactSchema).repartition(4))
    lake.createTableAs(Dim, frame(dim.toSeq.map { case (k, s) => Row(k, s) }, DimSchema))
    lake.createMaterializedView(MvStatus, Fact, groupCols = Seq("f_status"),
      sumCols = Seq("f_qty", "f_amount"), minMaxCols = Seq("f_id"))
    lake.createMaterializedView(MvSeg, Fact, groupCols = Seq("d_segment"),
      sumCols = Seq("f_qty"), minMaxCols = Seq("f_id"), dimTable = Some(Dim),
      dimKeys = Seq(("f_custkey", "d_custkey")))
    atStart = byRowId(Fact, FactCols)
  }

  def run(i: Int, op: Op): Unit = {
    var changes = Array.empty[Row]
    var mvs = Map.empty[String, Array[Row]]
    var s0 = -1L
    var s1 = -1L
    rec.op(i, op.t) {
      s0 = lake.currentSnapshot()
      op.t match {
        case "insert" =>
          val rows = (op("k0") until op("k0") + op("n")).map(row)
          rec.call("LakeWrite", "insertRows")(lake.insertRows(Fact, rows.map(_.toRow.toSeq)))
          rows.foreach(f => fact(f.id) = f)
          rec.changed(rows.size)
        case "append" =>
          val rows = (op("k0") until op("k0") + op("n")).map(row)
          rec.call("LakeWrite", "append")(lake.append(Fact, frame(rows.map(_.toRow), FactSchema)))
          rows.foreach(f => fact(f.id) = f)
          rec.changed(rows.size)
        case "delete" =>
          val (_, n) = rec.call("LakeWrite", "delete")(lake.delete(Fact, predCol(op)))
          fact.keys.filter(pred(op)).toVector.foreach(fact.remove)
          rec.changed(n)
        case "update_status" =>
          val s = Gen.Statuses(op.int("v") % Gen.Statuses.size)
          val (_, n) = rec.call("LakeWrite", "update")(
            lake.update(Fact, predCol(op), Map("f_status" -> lit(s))))
          fact.values.filter(f => pred(op)(f.id)).toVector.foreach(f => fact(f.id) = f.copy(status = s))
          rec.changed(n)
        case "update_key" =>
          val c = 1 + op("v") % DimRows
          val (_, n) = rec.call("LakeWrite", "update")(
            lake.update(Fact, predCol(op), Map("f_custkey" -> lit(c))))
          fact.values.filter(f => pred(op)(f.id)).toVector.foreach(f => fact(f.id) = f.copy(cust = c))
          rec.changed(n)
        case "update_dim" =>
          val s = Gen.Segments(op.int("v") % Gen.Segments.size)
          val (_, n) = rec.call("LakeWrite", "update")(lake.update(Dim,
            col("d_custkey") % op("m") === op("r"), Map("d_segment" -> lit(s))))
          dim.keys.filter(_ % op("m") == op("r")).toVector.foreach(dim(_) = s)
          rec.changed(n)
      }
      s1 = lake.currentSnapshot()
      changes = rec.call("LakeOps", "tableChanges")(
        lake.tableChanges(Fact, s0, s1).collect())
      rec.out(changes.length.toLong)
      Seq(MvStatus, MvSeg).foreach(mv =>
        rec.call("LakeMaterializedView", "refresh")(lake.refreshMaterializedView(mv)))
      mvs = Seq(MvStatus, MvSeg).map(mv => mv -> read("read_mv", s"SELECT * FROM $cat.$mv")).toMap
    }
    if (rec.ops.last.ok) check(s0, s1, changes, mvs).foreach(rec.fail(i, _))
  }

  private def check(s0: Long, s1: Long, changes: Array[Row],
      mvs: Map[String, Array[Row]]): Option[String] = {
    def showMv(rows: Array[Row], cols: Seq[String]) =
      rows.map(r => cols.map(c => Gen.show(Row(r.getAs[Any](c)))).mkString("|")).sorted.toSeq
    val statusCols = Seq("f_status", "n_rows", "sum_f_qty", "sum_f_amount", "min_f_id", "max_f_id")
    val wantStatus = fact.values.groupBy(_.status).map { case (g, fs) =>
      Seq(g, fs.size, fs.map(_.qty).sum, Gen.show(Row(Gen.dec2(fs.map(_.cents).sum))),
        fs.map(_.id).min, fs.map(_.id).max).mkString("|")
    }.toSeq.sorted
    val segCols = Seq("d_segment", "n_rows", "sum_f_qty", "min_f_id", "max_f_id")
    val wantSeg = fact.values.filter(f => dim.contains(f.cust)).groupBy(f => dim(f.cust))
      .map { case (g, fs) =>
        Seq(g, fs.size, fs.map(_.qty).sum, fs.map(_.id).min, fs.map(_.id).max).mkString("|")
      }.toSeq.sorted
    val replayed = replay(atStart, changes, FactCols)
    val atS1 = byRowId(Fact, FactCols)
    val wantFact = fact.values.map(f => Gen.show(f.toRow)).toSeq.sorted
    atStart = atS1
    if (showMv(mvs(MvStatus), statusCols) != wantStatus)
      Some(s"$MvStatus != GROUP BY recompute after snapshot $s1")
    else if (showMv(mvs(MvSeg), segCols) != wantSeg)
      Some(s"$MvSeg != join GROUP BY recompute after snapshot $s1")
    else if (replayed != atS1)
      Some(s"tableChanges($s0, $s1] replayed onto @$s0 != table @$s1")
    else if (atS1.values.toSeq.sorted != wantFact)
      Some(s"fact table @$s1 != model replay")
    else None
  }

  def finish(): Seq[String] = Nil
}

object MvCdc {
  val Fact = "main.fact"
  val Dim = "main.dim"
  val MvStatus = "main.mv_status"
  val MvSeg = "main.mv_segment"
  val DimRows = 500L
  val FactSchema: StructType = StructType(Seq(
    StructField("f_id", LongType), StructField("f_custkey", LongType),
    StructField("f_status", StringType), StructField("f_qty", LongType),
    StructField("f_amount", DecimalType(12, 2))))
  val FactCols: Seq[String] = FactSchema.fieldNames.toSeq
  val DimSchema: StructType = StructType(Seq(
    StructField("d_custkey", LongType), StructField("d_segment", StringType)))

  final case class F(id: Long, cust: Long, status: String, qty: Long, cents: Long) {
    def toRow: Row = Row(id, cust, status, qty, Gen.dec2(cents))
  }
}
