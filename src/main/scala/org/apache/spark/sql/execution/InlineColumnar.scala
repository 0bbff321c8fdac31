package org.apache.spark.sql.execution

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** Rows → one on-heap `ColumnarBatch`, through the same converter Spark's
  * `RowToColumnarExec` uses (package-private to `execution`, hence this
  * bridge). Serves a lake table's inline rows on a columnar scan. */
object InlineColumnar {
  def batchOf(rows: Array[InternalRow], schema: StructType): ColumnarBatch = {
    val vectors = OnHeapColumnVector.allocateColumns(rows.length, schema)
    val writable = vectors.toArray[WritableColumnVector]
    val convert = new RowToColumnConverter(schema)
    rows.foreach(convert.convert(_, writable))
    new ColumnarBatch(vectors.toArray[ColumnVector], rows.length)
  }
}
