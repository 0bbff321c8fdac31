package perfbench

import java.math.{BigDecimal => JBigDecimal, BigInteger}
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

/** Seeded value generators. Every generated value is a pure function of
  * (seed, key, salt), so the same seed gives the same data in every run,
  * and the client-side models compute exactly the rows the lake holds. */
object Gen {
  /** splitmix64 finalizer */
  def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def h(seed: Long, key: Long, salt: Long): Long =
    mix(mix(seed * 0x9e3779b97f4a7c15L + salt) ^ key) & Long.MaxValue

  /** Spark-side hash in [0, m) for bulk generation with `spark.range` */
  def hc(seed: Long, salt: Int, id: Column, m: Long): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(m))

  def dec2(cents: Long): JBigDecimal = new JBigDecimal(BigInteger.valueOf(cents), 2)

  /** 1992-01-01 as days since the epoch */
  val Day0 = 8035
  def date(day: Int): java.sql.Date =
    java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(day.toLong))

  val Statuses = Vector("F", "O", "P", "U")
  val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** order-insensitive fingerprint of a frame: row count plus the sum of a
    * 64-bit hash of every row (summed as an exact decimal) */
  def checksum(cols: Seq[String]): Seq[Column] = Seq(
    count(lit(1)).as("n"),
    coalesce(sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")),
      lit(0).cast("decimal(38,0)")).as("h"))

  /** canonical text of a result row, for comparing answers */
  def show(r: Row): String = r.toSeq.map {
    case null => "null"
    case d: JBigDecimal => d.stripTrailingZeros.toPlainString
    case v => v.toString
  }.mkString("|")
}
