package org.apache.spark.graftbridge

import org.apache.spark.executor.OutputMetrics

/** The setters of a task's `OutputMetrics` are private[spark]. A sink that
  * writes its own files reports through this bridge, so listeners read its
  * bytes and records as they read those of Spark's file writers.
  */
object OutputMetricsBridge {
  def setBytesWritten(m: OutputMetrics, bytes: Long): Unit = m.setBytesWritten(bytes)
  def setRecordsWritten(m: OutputMetrics, records: Long): Unit = m.setRecordsWritten(records)
}
