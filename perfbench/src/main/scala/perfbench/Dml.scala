package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.lake.LakeWrite.{MergeInsert, MergeMatched}

/** `dml`: write-heavy ingest with reads beside the writes, on an
  * `orders`-shaped table with inlining enabled and one grouped-aggregate
  * materialized view. Every cycle of operations (harness/opgen.py) polls
  * the change feed, refreshes the view and runs a maintenance pass.
  * The client replays every operation on an in-memory model; reads, the
  * view and each polled window are checked against it as they happen, and
  * the final table by count and row checksum. */
class Dml(spark: SparkSession, seed: Long, initial: Long, work: File, cache: File,
    rec: Recorder) extends Workload(spark, seed, initial, work, cache, rec) {
  import Dml._

  val tables = Seq(T, Mv)
  private val model = mutable.LongMap.empty[O]
  /** the change-feed consumer's position and the table as of it */
  private var polled = -1L
  private var atPoll = Map.empty[Long, String]

  private def row(k: Long, ver: Long): O = {
    def hv(salt: Long) = Gen.h(seed + ver, k, salt)
    O(k, 1 + hv(1) % 15000, Gen.Statuses((hv(2) % 3).toInt), 100000 + hv(3) % 50000000,
      Gen.Day0 + (hv(4) % 2400).toInt, Gen.Priorities((hv(5) % 5).toInt),
      s"comment ${hv(6) % 100000}")
  }
  private def frame(rows: Seq[O], prefix: String = "") = {
    val schema = StructType(Schema.fields.map(f => f.copy(name = prefix + f.name)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(_.toRow), 1), schema)
  }
  private def pred(op: Op)(k: Long): Boolean =
    k >= op("lo") && k < op("hi") && k % op("m") == op("r")
  private def predCol(op: Op): Column = col("o_orderkey") >= op("lo") &&
    col("o_orderkey") < op("hi") && col("o_orderkey") % op("m") === op("r")
  private def fresh(op: Op): Seq[O] = (op("k0") until op("k0") + op("n")).map(row(_, 0))

  def build(rep: Int): Unit = {
    newLake(rep)
    model.clear()
    val init = (1L to initial).map(row(_, 0))
    init.foreach(o => model(o.key) = o)
    lake.createTable(T, Schema)
    lake.setOption("data_inlining_row_limit", InlineLimit.toString, table = Some(T))
    lake.append(T, frame(init).repartition(4))
    lake.createMaterializedView(Mv, T, groupCols = Seq("o_orderpriority"),
      sumCols = Seq("o_totalprice"), minMaxCols = Seq("o_orderkey"))
    polled = lake.currentSnapshot()
    atPoll = byRowId(T, Cols)
  }

  def run(i: Int, op: Op): Unit = {
    var check: () => Option[String] = () => None
    rec.op(i, op.t) {
      op.t match {
        case "insert" =>
          val rows = fresh(op)
          rec.call("LakeWrite", "insertRows")(lake.insertRows(T, rows.map(_.toRow.toSeq)))
          rows.foreach(o => model(o.key) = o)
          rec.changed(rows.size)
        case "append" =>
          val rows = fresh(op)
          rec.call("LakeWrite", "append")(lake.append(T, frame(rows)))
          rows.foreach(o => model(o.key) = o)
          rec.changed(rows.size)
        case "delete" =>
          val (_, n) = rec.call("LakeWrite", "delete")(lake.delete(T, predCol(op)))
          val hit = model.keys.filter(pred(op)).toVector
          hit.foreach(model.remove)
          rec.changed(n)
          check = () => Some(s"delete removed $n rows, model ${hit.size}").filter(_ => n != hit.size)
        case "update" =>
          val v = op("v")
          val (_, n) = rec.call("LakeWrite", "update")(lake.update(T, predCol(op), Map(
            "o_orderstatus" -> lit("U"),
            "o_totalprice" -> (col("o_totalprice") + lit(Gen.dec2(v))).cast("decimal(12,2)"))))
          val hit = model.values.filter(o => pred(op)(o.key)).toVector
          hit.foreach(o => model(o.key) = o.copy(status = "U", cents = o.cents + v))
          rec.changed(n)
          check = () => Some(s"update hit $n rows, model ${hit.size}").filter(_ => n != hit.size)
        case "merge" =>
          val src = (op("k0") until op("k0") + op("n")).map(row(_, op("v")))
          val (_, upd, del, ins) = rec.call("LakeWrite", "merge")(lake.merge(T,
            frame(src, Src), col("o_orderkey") === col(Src + "o_orderkey"),
            Seq(MergeMatched(None, Some(Schema.fieldNames.tail.map(c => c -> col(Src + c)).toMap))),
            Seq(MergeInsert(None, Schema.fieldNames.map(c => c -> col(Src + c)).toMap))))
          val wantUpd = src.count(o => model.contains(o.key))
          src.foreach(o => model(o.key) = o)
          rec.changed(upd + del + ins)
          check = () => Some(s"merge updated $upd inserted $ins, model $wantUpd/${src.size - wantUpd}")
            .filter(_ => upd != wantUpd || ins != src.size - wantUpd || del != 0)
        case "read_point" =>
          val k = op("k")
          val got = read("read_point", s"SELECT * FROM $cat.$T WHERE o_orderkey = $k")
            .map(Gen.show).toSeq
          val want = model.get(k).map(o => Gen.show(o.toRow)).toSeq
          check = () => Some(s"point read of $k: lake $got, model $want").filter(_ => got != want)
        case "read_range" =>
          val got = read("read_range", s"SELECT count(*), coalesce(sum(o_totalprice), 0) " +
            s"FROM $cat.$T WHERE o_orderkey >= ${op("lo")} AND o_orderkey < ${op("hi")}")
            .map(Gen.show).toSeq
          val hit = model.values.filter(o => o.key >= op("lo") && o.key < op("hi"))
          val want = Seq(s"${hit.size}|${Gen.show(Row(Gen.dec2(hit.map(_.cents).sum)))}")
          check = () => Some(s"range read: lake $got, model $want").filter(_ => got != want)
        case "changes" =>
          val s1 = lake.currentSnapshot()
          val rows = rec.call("LakeOps", "tableChanges")(lake.tableChanges(T, polled, s1).collect())
          rec.out(rows.length.toLong)
          val s0 = polled
          polled = s1
          check = () => {
            val now = byRowId(T, Cols)
            val replayed = replay(atPoll, rows, Cols)
            atPoll = now
            if (replayed != now) Some(s"tableChanges($s0, $s1] replayed onto @$s0 != table @$s1")
            else if (now.values.toSeq.sorted != model.values.map(o => Gen.show(o.toRow)).toSeq.sorted)
              Some(s"table @$s1 != model replay")
            else None
          }
        case "refresh" =>
          rec.call("LakeMaterializedView", "refresh")(lake.refreshMaterializedView(Mv))
          val got = read("read_mv", s"SELECT o_orderpriority, n_rows, sum_o_totalprice, " +
            s"min_o_orderkey, max_o_orderkey FROM $cat.$Mv").map(Gen.show).toSeq.sorted
          val want = model.values.groupBy(_.prio).map { case (g, os) =>
            Gen.show(Row(g, os.size.toLong, Gen.dec2(os.map(_.cents).sum),
              os.map(_.key).min, os.map(_.key).max))
          }.toSeq.sorted
          check = () => Some(s"$Mv != GROUP BY recompute").filter(_ => got != want)
        case "maintain" =>
          // explicit windows: keep every snapshot and every orphan, reap
          // every scheduled deletion, so what maintenance deletes does
          // not depend on wall time
          rec.call("LakeOps", "maintain")(lake.maintain(
            expireOlderThanMs = Some(Forever), deleteOlderThanMs = Some(0L),
            orphanOlderThanMs = Some(Forever)))
      }
    }
    if (rec.ops.last.ok) check().foreach(rec.fail(i, _))
  }

  def finish(): Seq[String] = {
    val sums = Gen.checksum(Cols)
    val got = spark.table(s"$cat.$T").agg(sums.head, sums.tail: _*).collect().head
    val want = frame(model.values.toSeq).agg(sums.head, sums.tail: _*).collect().head
    if (Gen.show(got) == Gen.show(want)) Nil
    else Seq(s"final table (count|checksum) ${Gen.show(got)} != model replay ${Gen.show(want)}")
  }
}

object Dml {
  val T = "main.orders"
  val Mv = "main.orders_by_priority"
  val InlineLimit = 8
  val Forever: Long = Long.MaxValue / 4
  val Src = "_src_"
  val Schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DecimalType(12, 2)),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType),
    StructField("o_comment", StringType)))
  val Cols: Seq[String] = Schema.fieldNames.toSeq

  final case class O(key: Long, cust: Long, status: String, cents: Long, day: Int,
      prio: String, comment: String) {
    def toRow: Row = Row(key, cust, status, Gen.dec2(cents), Gen.date(day), prio, comment)
  }
}
