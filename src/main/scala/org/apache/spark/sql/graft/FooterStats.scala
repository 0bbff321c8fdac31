package org.apache.spark.sql.graft

import java.math.{BigDecimal => JBigDecimal, BigInteger}
import java.time.ZoneId

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.catalyst.util.{DateFormatter, TimestampFormatter}
import org.apache.spark.sql.types._

/** Per-file column statistics harvested from parquet FOOTERS instead of a
  * second Spark pass over freshly written data (optimization guide §1.2/§6:
  * the writer already computed min/max/null-count per column chunk — at
  * 100 TB the old stats job re-read every ingested byte once more).
  *
  * Exactness contract: the harvest either reproduces the stats-job's values
  * BIT-IDENTICALLY (same strings the old `min(col).cast(string)` aggregate
  * produced, pinned case-by-case by `FooterStatsSpec`) or returns
  * None and the caller runs the old job. Fallback triggers:
  *   - INT96 timestamps (no footer stats; the lake writes TIMESTAMP_MICROS
  *     since r17, but foreign sessions may not)
  *   - float/double chunks containing NaN or ±0.0 (parquet drops stats on
  *     NaN; -0.0/+0.0 bounds render differently than Spark's aggregate)
  *   - binary values > 4 KB (parquet-mr drops the chunk's stats entirely)
  *   - encrypted footers, missing null counts, unexpected physical types.
  *
  * All-null chunks (hasNonNullValue=false with numNulls == rowCount) are
  * NOT a fallback: they produce (None, None, nullCount) exactly like the
  * old job's (null, null, count) row.
  */
object FooterStats {

  /** Harvest per-file stats rows shaped exactly like
    * `LakeWrite.statAggsFor`'s output (schema `_file, _cnt,
    * _min_<c>, _max_<c>, _nulls_<c>`), keyed by file name. Zero-row files
    * are omitted (the callers drop them, as with the old job). Returns
    * None when ANY file/column cannot be harvested exactly. */
  def harvest(
      spark: SparkSession,
      files: Seq[(String, String)], // (fileName, path)
      statCols: Seq[(String, DataType)]): Option[Map[String, Row]] = {
    if (files.isEmpty) return Some(Map.empty)
    val conf = spark.sessionState.newHadoopConf()
    val zone = ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    val tsFormatter = TimestampFormatter.getFractionFormatter(zone)
    val dateFormatter = DateFormatter()
    val schema = StructType(
      StructField("_file", StringType) +: StructField("_cnt", LongType) +:
        statCols.flatMap { case (c, _) =>
          Seq(StructField(s"_min_$c", StringType),
            StructField(s"_max_$c", StringType),
            StructField(s"_nulls_$c", LongType))
        })
    try {
      val rows = files.flatMap { case (name, path) =>
        fileRow(conf, path, statCols, tsFormatter, dateFormatter) match {
          case None => return None // unharvestable → whole batch falls back
          case Some((0L, _)) => None // zero-row part: omit (caller deletes)
          case Some((cnt, colVals)) =>
            Some(name -> new GenericRowWithSchema(
              (name +: (cnt: java.lang.Long) +: colVals).toArray[Any], schema))
        }
      }
      Some(rows.toMap)
    } catch { case _: Exception => None }
  }

  /** One file: (rowCount, flat per-col [min, max, nulls] values), or None
    * when any column chunk is unharvestable. */
  private def fileRow(
      conf: Configuration, path: String, statCols: Seq[(String, DataType)],
      tsFormatter: TimestampFormatter, dateFormatter: DateFormatter)
      : Option[(Long, Seq[Any])] = {
    val footer = ParquetFileReader.readFooter(
      conf, new org.apache.hadoop.fs.Path(path), ParquetMetadataConverter.NO_FILTER)
    val blocks = footer.getBlocks.asScala.toSeq
    val rowCount = blocks.map(_.getRowCount).sum
    if (rowCount == 0L) return Some((0L, Nil))
    val vals = Vector.newBuilder[Any]
    statCols.foreach { case (name, dt) =>
      // merged (min, max, nulls) across row groups, typed before rendering
      var mn: Any = null
      var mx: Any = null
      var nulls = 0L
      blocks.foreach { b =>
        val cc = b.getColumns.asScala
          .find(c => c.getPath.size() == 1 && c.getPath.toDotString == name)
          .getOrElse(return None)
        val st = cc.getStatistics
        if (st == null || !st.isNumNullsSet) return None
        nulls += st.getNumNulls
        if (!st.hasNonNullValue) {
          // all-null block is fine; dropped stats (NaN / >4KB binary /
          // INT96) with non-null rows present are not
          if (st.getNumNulls != b.getRowCount) return None
        } else {
          val bmn = decode(cc.getPrimitiveType,
            st.genericGetMin.asInstanceOf[AnyRef], dt).getOrElse(return None)
          val bmx = decode(cc.getPrimitiveType,
            st.genericGetMax.asInstanceOf[AnyRef], dt).getOrElse(return None)
          mn = if (mn == null || cmp(dt, bmn, mn) < 0) bmn else mn
          mx = if (mx == null || cmp(dt, bmx, mx) > 0) bmx else mx
        }
      }
      vals += (if (mn == null) null else render(mn, dt, tsFormatter, dateFormatter))
      vals += (if (mx == null) null else render(mx, dt, tsFormatter, dateFormatter))
      vals += (nulls: java.lang.Long)
    }
    Some((rowCount, vals.result()))
  }

  /** Decode a footer min/max into the typed value the Spark aggregate
    * would have produced; None = not exactly reproducible → fallback. */
  private def decode(pt: org.apache.parquet.schema.PrimitiveType,
      v: AnyRef, dt: DataType): Option[Any] = {
    val logical = pt.getLogicalTypeAnnotation
    (pt.getPrimitiveTypeName, dt) match {
      // NaN never reaches here (stats dropped); ±0.0 renders differently
      // than Spark's aggregate (which returns the FIRST zero it saw).
      // Physical type must MATCH the declared type: a float file column
      // read as double renders extra digits the footer float cannot know.
      case (FLOAT, FloatType) =>
        val f = v.asInstanceOf[java.lang.Float].floatValue()
        if (f == 0.0f) None else Some(f)
      case (DOUBLE, DoubleType) =>
        val d = v.asInstanceOf[java.lang.Double].doubleValue()
        if (d == 0.0d) None else Some(d)
      case (INT32 | INT64, _: DecimalType) | (FIXED_LEN_BYTE_ARRAY, _: DecimalType) |
           (BINARY, _: DecimalType) =>
        logical match {
          case dec: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation
              // rendering carries the scale; a foreign file with a
              // different scale than the declared column renders differently
              if dec.getScale == dt.asInstanceOf[DecimalType].scale =>
            val unscaled = v match {
              case i: java.lang.Integer => BigInteger.valueOf(i.longValue())
              case l: java.lang.Long => BigInteger.valueOf(l)
              case b: Binary => new BigInteger(b.getBytes)
              case _ => return None
            }
            Some(new JBigDecimal(unscaled, dec.getScale))
          case _ => None
        }
      case (INT32, DateType) => Some(v.asInstanceOf[java.lang.Integer].intValue())
      case (INT64, TimestampType) =>
        logical match {
          case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
              if ts.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS =>
            Some(v.asInstanceOf[java.lang.Long].longValue())
          case _ => None // MILLIS/NANOS/INT96: not what the lake writes
        }
      case (INT32 | INT64, ByteType | ShortType | IntegerType | LongType)
          // unsigned annotations (foreign uint32 files via addDataFiles)
          // must fall back: Spark reads uint32 as bigint, but the footer
          // min/max would sign-extend (-1 instead of 4294967295) and
          // poison pruning — the old Spark job path handles them right
          if logical == null || (logical match {
            case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
            case _ => false
          }) =>
        Some(v.asInstanceOf[Number].longValue())
      case (BINARY, StringType) => Some(v.asInstanceOf[Binary].getBytes)
      case (BOOLEAN, BooleanType) => Some(v.asInstanceOf[java.lang.Boolean].booleanValue())
      case _ => None
    }
  }

  /** ordering of decoded values — must match the Spark aggregate's */
  private def cmp(dt: DataType, a: Any, b: Any): Int = (dt, a, b) match {
    case (StringType, x: Array[Byte], y: Array[Byte]) =>
      // UTF8String comparison: unsigned byte-wise
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    case (_, x: JBigDecimal, y: JBigDecimal) => x.compareTo(y)
    case (FloatType, x: Float, y: Float) => java.lang.Float.compare(x, y)
    case (DoubleType, x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (_, x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (_, x: Int, y: Int) => java.lang.Integer.compare(x, y)
    case (_, x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case _ => throw new IllegalStateException(s"unorderable $dt")
  }

  /** Render exactly as `cast(<aggregate> as string)` does. */
  private def render(v: Any, dt: DataType,
      tsFormatter: TimestampFormatter, dateFormatter: DateFormatter): String =
    (dt, v) match {
      case (StringType, b: Array[Byte]) => new String(b, "UTF-8")
      // toPlainString, NOT toString: Spark's cast(decimal as string) never
      // uses scientific notation (pinned by the FooterStatsSpec tiny-decimal
      // test: decimal(12,7) 0.0000001 casts to "0.0000001", not "1E-7")
      case (_: DecimalType, d: JBigDecimal) => d.toPlainString
      case (DateType, days: Int) => dateFormatter.format(days)
      case (TimestampType, micros: Long) => tsFormatter.format(micros)
      case (FloatType, f: Float) => f.toString
      case (DoubleType, d: Double) => d.toString
      case (_, x) => x.toString
    }
}
