package org.apache.spark.graftbridge

import org.apache.spark.TaskContext
import org.apache.spark.deploy.SparkHadoopUtil

/** Bridge into `private[spark]` task output metrics: a writer that is
  * not a DataFrame write reports its output the way one does, so
  * listeners see the bytes and records a task wrote.
  */
object OutputMetricsBridge {
  /** Call before a task's writes. The returned function records, as
    * the task's output metrics, every byte this thread has written
    * through Hadoop FileSystems since then, plus `records`.
    */
  def track(): Long => Unit = {
    val bytes = SparkHadoopUtil.get.getFSBytesWrittenOnThreadCallback()
    records => Option(TaskContext.get()).foreach { tc =>
      val m = tc.taskMetrics().outputMetrics
      m.setBytesWritten(bytes())
      m.setRecordsWritten(records)
    }
  }
}
