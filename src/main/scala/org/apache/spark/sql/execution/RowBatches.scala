package org.apache.spark.sql.execution

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** A row reader's rows as on-heap batches of up to `capacity` rows,
  * through the same converter Spark's `RowToColumnarExec` uses
  * (package-private to `execution`, hence this bridge). Serves a lake
  * table's inline rows on a columnar scan, and the lake scan's masked
  * files when Spark's vectorized reader cannot read them. */
private[sql] class RowBatches(
    rows: PartitionReader[InternalRow],
    schema: StructType,
    capacity: Int) extends PartitionReader[ColumnarBatch] {
  private val vectors = OnHeapColumnVector.allocateColumns(capacity, schema)
  private val writable = vectors.toArray[WritableColumnVector]
  private val batch = new ColumnarBatch(vectors.toArray[ColumnVector])
  private val convert = new RowToColumnConverter(schema)
  override def next(): Boolean = {
    writable.foreach(_.reset())
    var n = 0
    while (n < capacity && rows.next()) {
      convert.convert(rows.get(), writable)
      n += 1
    }
    batch.setNumRows(n)
    n > 0
  }
  override def get(): ColumnarBatch = batch
  override def close(): Unit = { rows.close(); batch.close() }
}
