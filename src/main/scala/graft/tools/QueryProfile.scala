package graft.tools

import org.apache.spark.sql.SparkSession

/** One-shot profile of any registered query at any data dir: wall,
  * shuffle-write bytes, spill (memory/disk), GC delta — the generic
  * per-stage profilers' sibling for localizing where a scale-curve point
  * spends its time without hand-writing a stage harness per operator.
  *
  * Usage:
  *   sbt "runMain graft.tools.QueryProfile <dir> <query> [query ...]"
  */
object QueryProfile {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: QueryProfile <data dir> <query> [query ...]")
    val dir = args(0)
    val names = args.drop(1).toSeq
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: $unknown")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val spillMem = new java.util.concurrent.atomic.AtomicLong
    val spillDisk = new java.util.concurrent.atomic.AtomicLong
    val shufW = new java.util.concurrent.atomic.AtomicLong
    val taskCpu = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          spillMem.addAndGet(m.memoryBytesSpilled)
          spillDisk.addAndGet(m.diskBytesSpilled)
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          taskCpu.addAndGet(m.executorCpuTime)
        }
      }
    })
    def drain(): Unit =
      try org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
      catch { case _: Throwable => Thread.sleep(300) }
    def f2(d: Double) = BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    val rows = names.map { n =>
      drain()
      val s0 = (spillMem.get, spillDisk.get, shufW.get, taskCpu.get)
      val g0 = PipelineMeter.gcMillis()
      val t0 = System.nanoTime()
      val status =
        try { graft.SparkEntry.queries(n)(spark, dir)
          .write.format("noop").mode("overwrite").save(); "ok" }
        catch { case e: Throwable => e.getClass.getSimpleName }
      val secs = (System.nanoTime() - t0) / 1e9
      drain()
      val line = s""""$n":{"sec":${f2(secs)},"status":"$status",""" +
        s""""spill_mem":${spillMem.get - s0._1},"spill_disk":${spillDisk.get - s0._2},""" +
        s""""shuffle_w":${shufW.get - s0._3},"task_cpu_sec":${f2((taskCpu.get - s0._4) / 1e9)},""" +
        s""""gc_ms":${PipelineMeter.gcMillis() - g0}}"""
      println(s"[qprof] $line")
      line
    }
    println(s"""{"query_profile":{"dir":"$dir",${rows.mkString(",")}}}""")
    spark.stop()
  }
}
