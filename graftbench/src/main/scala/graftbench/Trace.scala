package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Per-job and per-stage records for the traced run. Each job keeps
  * its short call site: the name of its result stage (the last stage
  * the job creates), or, when that names no graft file because Spark
  * ran the job on one of its own threads, the call site of the SQL
  * execution the job belongs to (recorded in the caller's thread).
  * The graft module that started a job is the source file its call site
  * names (`checkpoint at Graphs.scala:47` → `Graphs`). Aggregates are
  * per stage, so memory stays O(stages).
  */
final class JobListener extends SparkListener {
  final class StageAgg(val id: Int) {
    var start = 0L; var end = 0L; var tasks = 0; var cpuNs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var written = 0L
    var failedTasks = 0
  }
  private final case class JobRec(id: Int, start: Long, var end: Long, callSite: String, stages: Seq[Int])

  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  /** SQL execution id → short call site of its root execution. */
  private val execSites = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => synchronized {
      val root = x.rootExecutionId.getOrElse(x.executionId)
      execSites(x.executionId) = execSites.getOrElse(root, x.description)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val own = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSites.get(id.toLong))
    val site = exec.filter(s => module(own).isEmpty && module(s).nonEmpty).getOrElse(own)
    jobs += JobRec(e.jobId, e.time, -1L, site, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg(e.stageInfo.stageId))
    s.start = e.stageInfo.submissionTime.getOrElse(0L)
    s.end = e.stageInfo.completionTime.getOrElse(0L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageAgg(e.stageId))
    s.tasks += 1
    if (!e.taskInfo.successful) s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.written += m.outputMetrics.bytesWritten
    }
  }

  /** Graft module named by a short call site, or "" for frames outside
    * graft (the benchmark's own calls). */
  def module(callSite: String): String = {
    val at = callSite.lastIndexOf(" at ")
    val file = if (at < 0) "" else callSite.substring(at + 4).takeWhile(_ != ':')
    if (file.endsWith(".scala") && !Main.OwnFiles.contains(file)) file.stripSuffix(".scala") else ""
  }

  def snapshot(): Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.toSeq.map(j => Map("id" -> j.id, "start" -> j.start, "end" -> j.end,
        "call_site" -> j.callSite, "module" -> module(j.callSite), "stages" -> j.stages)),
      "stages" -> stages.values.toSeq.sortBy(_.id).map(s => Map(
        "id" -> s.id, "start" -> s.start, "end" -> s.end, "tasks" -> s.tasks,
        "cpu_ms" -> s.cpuNs / 1e6,
        "shuffle_read" -> s.shuffleRead, "shuffle_write" -> s.shuffleWrite,
        "spill" -> s.spill, "written" -> s.written, "failed_tasks" -> s.failedTasks)))
  }
}

/** Spans recorded around the benchmark's calls into graft: name,
  * start/end (ms since epoch, fractional), parent span id. Kept in
  * memory and written with the run record. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var nextId = 0

  def apply[T](name: String, parent: Int = -1, attrs: Map[String, Any] = Map.empty)(
      body: Int => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val t0 = Main.nowMs()
    try body(id)
    finally {
      val t1 = Main.nowMs()
      synchronized {
        buf += (Map("id" -> id, "name" -> name, "parent" -> parent, "start" -> t0, "end" -> t1) ++ attrs)
      }
    }
  }

  def all: Seq[Map[String, Any]] = synchronized(buf.toSeq)
}
