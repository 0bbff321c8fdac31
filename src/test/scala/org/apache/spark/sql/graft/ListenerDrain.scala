package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test access to the listener bus, which Spark keeps package-private:
  * waiting until it is empty delivers every query-execution event of the
  * actions run so far to the registered listeners. */
object ListenerDrain {
  def apply(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
