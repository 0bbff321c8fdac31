package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization
import graft.lake.Meta.SortKey

/** `scan`: read-only analytics on a settled lake. Seven TPC-H-shaped
  * tables; `lineitem` is appended in three batches (two historical
  * snapshots for time travel), each batch range-split on `l_shipdate` into
  * [[Scan.FilesPerBatch]] files; `orders` carries one delete overlay.
  * Every answer is checked against the same query over the plain Parquet
  * the lake was loaded from.
  *
  * The tables do not depend on the seed (the seed draws the queries), so
  * the source Parquet, the reference answers and the plain-Parquet size
  * are kept in the cache directory and reused by later runs. */
class Scan(spark: SparkSession, seed: Long, initial: Long, work: File, cache: File,
    rec: Recorder) extends Workload(spark, seed, initial, work, cache, rec) {
  import Scan._
  private implicit val formats: Formats = DefaultFormats

  val tables: Seq[String] =
    Seq("lineitem", "orders", "customer", "part", "supplier", "nation", "region")
      .map("main." + _)
  private val data = new File(cache, s"scan-v$DataVersion")
  private val src = new File(data, "src")
  private val answersFile = new File(data, "answers.json")
  private var known = Map.empty[String, Seq[String]]
  /** lake snapshot after lineitem batch 1 and batch 2 */
  private var versions = Vector.empty[Long]
  /** answers by (lake SQL, reference SQL), checked once per distinct query */
  private val answers =
    mutable.LinkedHashMap.empty[(String, String), mutable.ArrayBuffer[(Int, Seq[String])]]

  private def gen(dir: File): Unit = {
    def h(salt: Int, m: Long) = Gen.hc(DataSeed, salt, col("id"), m)
    def pick(salt: Int, vs: Seq[String]) =
      element_at(array(vs.map(lit): _*), (h(salt, vs.size.toLong) + 1).cast("int"))
    def cents(salt: Int, lo: Long, span: Long) =
      ((h(salt, span) + lo).cast("decimal(18,0)") / 100).cast("decimal(15,2)")
    val day = (c: Column) => date_add(lit(Gen.date(Gen.Day0)), c.cast("int"))
    val li = spark.range(0, Orders * LinesPerOrder).select(
      (col("id") / LinesPerOrder + 1).cast("long").as("l_orderkey"),
      (h(1, Parts) + 1).as("l_partkey"), (h(2, Suppliers) + 1).as("l_suppkey"),
      (col("id") % LinesPerOrder + 1).cast("int").as("l_linenumber"),
      ((h(3, 50) + 1).cast("decimal(15,2)")).as("l_quantity"),
      cents(4, 90000, 10000000).as("l_extendedprice"),
      (h(5, 11).cast("decimal(15,2)") / 100).cast("decimal(15,2)").as("l_discount"),
      (h(6, 9).cast("decimal(15,2)") / 100).cast("decimal(15,2)").as("l_tax"),
      pick(7, Seq("A", "N", "R")).as("l_returnflag"),
      pick(8, Seq("F", "O")).as("l_linestatus"),
      day(h(9, ShipDays)).as("l_shipdate"),
      pick(10, Seq("AIR", "MAIL", "RAIL", "SHIP", "TRUCK")).as("l_shipmode"))
    val orders = spark.range(0, Orders).select(
      (col("id") + 1).as("o_orderkey"), (h(11, Customers) + 1).as("o_custkey"),
      pick(12, Seq("F", "O", "P")).as("o_orderstatus"),
      cents(13, 100000, 50000000).as("o_totalprice"),
      day(h(14, ShipDays)).as("o_orderdate"),
      pick(15, Gen.Priorities).as("o_orderpriority"),
      lit(0).as("o_shippriority"))
    val customer = spark.range(0, Customers).select(
      (col("id") + 1).as("c_custkey"),
      concat(lit("Customer#"), col("id").cast("string")).as("c_name"),
      h(16, 25).cast("int").as("c_nationkey"),
      cents(17, 0, 1000000).as("c_acctbal"), pick(18, Gen.Segments).as("c_mktsegment"))
    val part = spark.range(0, Parts).select(
      (col("id") + 1).as("p_partkey"),
      concat(lit("part "), col("id").cast("string")).as("p_name"),
      concat(lit("Brand#"), (h(19, 5) + 1).cast("string"), (h(20, 5) + 1).cast("string"))
        .as("p_brand"),
      (h(21, 50) + 1).cast("int").as("p_size"), cents(22, 90000, 100000).as("p_retailprice"))
    val supplier = spark.range(0, Suppliers).select(
      (col("id") + 1).as("s_suppkey"),
      concat(lit("Supplier#"), col("id").cast("string")).as("s_name"),
      h(23, 25).cast("int").as("s_nationkey"), cents(24, 0, 1000000).as("s_acctbal"))
    val nation = spark.range(0, 25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION"), col("id").cast("string")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
    val region = spark.range(0, 5).select(col("id").cast("int").as("r_regionkey"),
      concat(lit("REGION"), col("id").cast("string")).as("r_name"))
    Seq("orders" -> orders, "customer" -> customer, "part" -> part,
      "supplier" -> supplier, "nation" -> nation, "region" -> region).foreach {
      case (n, df) => df.write.parquet(new File(dir, n).getAbsolutePath)
    }
    // lineitem as its three append batches, each already range-split on
    // the sort key into the files the lake will hold
    (1 to 3).foreach(b => li.filter(batch(b))
      .repartitionByRange(FilesPerBatch, col("l_shipdate")).sortWithinPartitions("l_shipdate")
      .write.parquet(new File(dir, s"lineitem_b$b").getAbsolutePath))
  }

  private def source(n: String): DataFrame = spark.read.parquet(new File(src, n).getAbsolutePath)
  private def lineitem(batches: Int): DataFrame =
    (1 to batches).map(b => source(s"lineitem_b$b")).reduce(_ union _)
  private def batch(b: Int): Column = {
    val per = Orders / 3
    col("l_orderkey") > per * (b - 1) && (if (b == 3) lit(true) else col("l_orderkey") <= per * b)
  }

  override def prepare(): Unit = {
    if (!src.isDirectory) {
      val tmp = new File(data, s"src.tmp${ProcessHandle.current.pid}")
      gen(tmp)
      if (!tmp.renameTo(src)) Files.deleteTree(tmp)
    }
    if (answersFile.isFile) known = Serialization.read[Map[String, Seq[String]]](
      new String(java.nio.file.Files.readAllBytes(answersFile.toPath), "UTF-8"))
  }

  /** the reference: the same queries over the plain source files, cached
    * in memory so that checking does not dominate the run */
  private lazy val referenceViews: Unit = {
    Seq("customer", "part", "supplier", "nation", "region").foreach(n =>
      source(n).cache().createOrReplaceTempView(s"ref_$n"))
    source("orders").filter(!Deleted).cache().createOrReplaceTempView("ref_orders")
    lineitem(3).cache().createOrReplaceTempView("ref_lineitem")
    Seq(1, 2).foreach(v => lineitem(v).cache().createOrReplaceTempView(s"ref_lineitem_v$v"))
  }

  private def reference(sql: String): Seq[String] = {
    referenceViews
    spark.sql(sql).collect().map(Gen.show).toSeq.sorted
  }

  def build(rep: Int): Unit = {
    newLake(rep)
    lake.createTable("main.lineitem", source("lineitem_b1").schema,
      sortKeys = List(SortKey("l_shipdate", ascending = true, nullsFirst = false)))
    versions = (1 to 3).map(b => lake.append("main.lineitem", source(s"lineitem_b$b")))
      .toVector.take(2)
    Seq("orders", "customer", "part", "supplier", "nation", "region").foreach(n =>
      lake.createTableAs(s"main.$n", source(n)))
    lake.delete("main.orders", Deleted)
  }

  /** one operation's SQL. `t` names a table; `asOf(v)` names lineitem as
    of version v (1 or 2) */
  def query(op: Op, t: String => String, asOf: Int => String): String = {
    def d(days: Long) = s"DATE'${Gen.date(Gen.Day0 + days.toInt)}'"
    op.t match {
      case "point" =>
        val k = 1 + op("k") * 7919 % Orders
        s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
          s"o_orderdate, o_orderpriority FROM ${t("orders")} WHERE o_orderkey = $k"
      case "range" =>
        val lo = op("d") * (ShipDays / 16)
        val w = Seq(7L, 31L, 365L)(op.int("w"))
        s"SELECT count(*) AS n, sum(l_extendedprice) AS rev, " +
          s"sum(l_quantity) AS qty FROM ${t("lineitem")} " +
          s"WHERE l_shipdate >= ${d(lo)} AND l_shipdate < ${d(lo + w)}"
      case "agg" =>
        "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
          "sum(l_extendedprice) AS sum_base, " +
          "sum(l_extendedprice * (1 - l_discount)) AS sum_disc, " +
          "avg(l_quantity) AS avg_qty, avg(l_discount) AS avg_disc, count(*) AS n " +
          s"FROM ${t("lineitem")} WHERE l_shipdate <= ${d(ShipDays - 30 * op("d"))} " +
          "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
      case "join" =>
        val seg = Gen.Segments(op.int("s"))
        val day = d(ShipDays / 4 + op("d") * ShipDays / 2)
        op.int("v") match {
          case 0 => "SELECT l_orderkey, " +
            "sum(l_extendedprice * (1 - l_discount)) AS revenue, o_orderdate " +
            s"FROM ${t("customer")} JOIN ${t("orders")} ON c_custkey = o_custkey " +
            s"JOIN ${t("lineitem")} ON l_orderkey = o_orderkey " +
            s"WHERE c_mktsegment = '$seg' AND o_orderdate < $day AND l_shipdate > $day " +
            "GROUP BY l_orderkey, o_orderdate " +
            "ORDER BY revenue DESC, l_orderkey LIMIT 10"
          case 1 => "SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue " +
            s"FROM ${t("lineitem")} JOIN ${t("supplier")} ON l_suppkey = s_suppkey " +
            s"JOIN ${t("nation")} ON s_nationkey = n_nationkey " +
            s"WHERE l_shipdate < $day AND n_regionkey = ${op("s")} " +
            "GROUP BY n_name ORDER BY revenue DESC, n_name"
          case _ => "SELECT p_brand, count(*) AS n, sum(l_quantity) AS qty " +
            s"FROM ${t("lineitem")} JOIN ${t("part")} ON l_partkey = p_partkey " +
            s"JOIN ${t("orders")} ON l_orderkey = o_orderkey " +
            s"WHERE p_size < ${10 + op("s") * 5} AND o_orderdate >= $day " +
            "GROUP BY p_brand ORDER BY p_brand"
        }
      case "tt" =>
        val filter = if (op("q") == 0) "" else s" WHERE l_returnflag = 'R'"
        s"SELECT count(*) AS n, sum(l_quantity) AS qty, max(l_shipdate) AS last " +
          s"FROM ${asOf(op.int("v"))}$filter"
    }
  }

  private def lakeSql(op: Op) = query(op, n => s"$cat.main.$n",
    v => s"$cat.main.lineitem VERSION AS OF ${versions(v - 1)}")
  private def refSql(op: Op) = query(op, n => s"ref_$n", v => s"ref_lineitem_v$v")

  def run(i: Int, op: Op): Unit = {
    val q = lakeSql(op)
    var rows = Seq.empty[String]
    rec.op(i, op.t) { rows = read(op.t, q).map(Gen.show).toSeq }
    if (rec.ops.last.ok)
      answers.getOrElseUpdate((q, refSql(op)), mutable.ArrayBuffer.empty) += ((i, rows))
  }

  /** marks every operation whose answer differs from the reference */
  def finish(): Seq[String] = {
    val before = known.size
    answers.foreach { case ((q, ref), got) =>
      val want = known.getOrElse(ref, reference(ref))
      known += ref -> want
      got.foreach { case (i, rows) =>
        if (rows.sorted != want) rec.fail(i, s"lake answer differs from plain Parquet for: $q")
      }
    }
    if (known.size > before) atomicWrite(answersFile, Serialization.write(known))
    Nil
  }

  /** the live tables never change, so their plain-Parquet size is measured
    * once per data version */
  override protected def plain(): (Long, Long) = {
    val f = new File(data, "plain.json")
    if (f.isFile) {
      val m = Serialization.read[Map[String, Long]](
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      (m("bytes"), m("rows"))
    } else {
      val (bytes, rows) = super.plain()
      atomicWrite(f, Serialization.write(Map("bytes" -> bytes, "rows" -> rows)))
      (bytes, rows)
    }
  }

  private def atomicWrite(f: File, text: String): Unit = {
    val tmp = new File(f.getParentFile, f.getName + s".tmp${ProcessHandle.current.pid}")
    java.nio.file.Files.write(tmp.toPath, text.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}

object Scan {
  /** bump when the generated tables change, to invalidate cached data */
  val DataVersion = 2
  val DataSeed = 20260417L
  val Orders = 30000L
  val LinesPerOrder = 4L
  val Customers = 3000L
  val Parts = 4000L
  val Suppliers = 200L
  val ShipDays = 2400L
  val FilesPerBatch = 8
  /** the delete overlay on `orders` */
  val Deleted: Column = col("o_orderkey") % 17 === 3
}
