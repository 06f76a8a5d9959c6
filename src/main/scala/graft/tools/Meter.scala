package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The one task/stage/job listener of the tools: running totals of
  * what a query or pipeline run costs, and the per-query record built
  * from them — wall split into construction and action, jobs, stages,
  * tasks, Σ executor run and CPU time, the driver gap (wall during
  * which no stage ran: planning, AQE re-optimization, scheduling),
  * shuffle write, spill and GC. This is the blocked-time breakdown of
  * Ousterhout et al. (NSDI 2015) at query granularity.
  *
  * Totals are global to the context, so runs must be sequential.
  * A meter is `AutoCloseable`: `close()` takes it off the listener
  * bus, after which its counters no longer move.
  */
final class Meter private (spark: SparkSession) extends SparkListener with AutoCloseable {
  import Meter._

  val shuffleBytes, jobs, taskCpuNs, runMs, spillMem, spillDisk, tasks,
    taskFailures, stageRetries = new AtomicLong

  // stages completed while `measure` runs, with their summed task run time
  @volatile private var logging = false
  private val stageLog = new java.util.concurrent.ConcurrentLinkedQueue[Stage]
  private val runMsByStage = new ConcurrentHashMap[Int, AtomicLong]

  override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    te.reason match {
      case org.apache.spark.Success => ()
      case _: org.apache.spark.TaskKilled => () // abandoned, not redone
      case _ => taskFailures.incrementAndGet()
    }
    val m = te.taskMetrics
    if (m != null) {
      tasks.incrementAndGet()
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      taskCpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      spillMem.addAndGet(m.memoryBytesSpilled)
      spillDisk.addAndGet(m.diskBytesSpilled)
      if (logging)
        runMsByStage.computeIfAbsent(te.stageId, _ => new AtomicLong).addAndGet(m.executorRunTime)
    }
  }

  override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
    if (ss.stageInfo.attemptNumber() > 0) stageRetries.incrementAndGet()

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    val run = Option(runMsByStage.remove(si.stageId)).map(_.get).getOrElse(0L)
    if (logging)
      stageLog.add(Stage(si.stageId, si.name.takeWhile(_ != '\n'),
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L), run, si.numTasks))
  }

  /** Drain the listener bus, then snapshot every counter. */
  def totals(): Totals = {
    drain(spark)
    Totals(shuffleBytes.get, jobs.get, taskCpuNs.get, runMs.get, spillMem.get,
      spillDisk.get, tasks.get, taskFailures.get, stageRetries.get)
  }

  /** Run `construct` then `action` on its result and return the
    * record of the pair. A body that throws gets status `failed` and
    * no time: a crashed query must never be timed as a fast one.
    */
  def measure[A](label: String)(construct: => A)(action: A => Any): Record = {
    val before = totals()
    stageLog.clear(); runMsByStage.clear(); logging = true
    val g0 = PipelineMeter.gcMillis()
    val epoch0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var tc = t0
    val wall = graft.Bench.timed(label) { val a = construct; tc = System.nanoTime(); action(a) }
    val t1 = System.nanoTime()
    val epoch1 = System.currentTimeMillis()
    val d = totals() - before
    logging = false
    import scala.jdk.CollectionConverters._
    val stages = stageLog.asScala.toSeq.sortBy(_.submit)
    val time = wall.map { secs =>
      val wallMs = secs * 1e3
      val gap = wallMs - covered(stages, epoch0, epoch1)
      Time(wallMs, (tc - t0) / 1e6, (t1 - tc) / 1e6, math.min(wallMs, math.max(0.0, gap)))
    }
    Record(time, d.jobs, stages.size, d.tasks, d.runMs, d.taskCpuNs / 1000000L,
      d.shuffleBytes, d.spillMem, d.spillDisk, PipelineMeter.gcMillis() - g0, stages)
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(this)
}

object Meter {

  /** Attach a new meter to the session's listener bus. */
  def apply(spark: SparkSession): Meter = {
    val m = new Meter(spark)
    spark.sparkContext.addSparkListener(m)
    m
  }

  /** Run `f` with a new meter and close it however `f` ends. */
  def using[A](spark: SparkSession)(f: Meter => A): A = {
    val m = apply(spark)
    try f(m) finally m.close()
  }

  /** Wait until every posted listener event has been delivered, so
    * counters read after it include every finished task. */
  def drain(spark: SparkSession): Unit =
    try org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
    catch { case _: Throwable => Thread.sleep(300) }

  final case class Totals(shuffleBytes: Long, jobs: Long, taskCpuNs: Long, runMs: Long,
      spillMem: Long, spillDisk: Long, tasks: Long, taskFailures: Long, stageRetries: Long) {
    def -(o: Totals): Totals = Totals(shuffleBytes - o.shuffleBytes, jobs - o.jobs,
      taskCpuNs - o.taskCpuNs, runMs - o.runMs, spillMem - o.spillMem,
      spillDisk - o.spillDisk, tasks - o.tasks, taskFailures - o.taskFailures,
      stageRetries - o.stageRetries)
  }

  /** One completed stage: epoch-ms interval and Σ task run ms. */
  final case class Stage(id: Int, name: String, submit: Long, done: Long, runMs: Long, nTasks: Int)

  /** Milliseconds; construct + action spans the wall, `gapMs` is the
    * part of the wall no stage interval covers (0 ≤ gap ≤ wall). */
  final case class Time(wallMs: Double, constructMs: Double, actionMs: Double, gapMs: Double)

  /** One measured query; `time` is None when the body threw. */
  final case class Record(time: Option[Time], jobs: Long, stages: Int, tasks: Long,
      runMs: Long, cpuMs: Long, shuffleWrite: Long, spillMem: Long, spillDisk: Long,
      gcMs: Long, stageLog: Seq[Stage]) {
    def status: String = if (time.isDefined) "ok" else "failed"
    def json: String = {
      def r(d: Double) = math.round(d)
      val t = time.map(t => s""""wall_ms":${r(t.wallMs)},"construct_ms":${r(t.constructMs)},""" +
        s""""action_ms":${r(t.actionMs)},"gap_ms":${r(t.gapMs)},""").getOrElse("")
      s"""{"status":"$status",$t"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        s""""run_ms":$runMs,"cpu_ms":$cpuMs,"shuffle_write":$shuffleWrite,""" +
        s""""spill_mem":$spillMem,"spill_disk":$spillDisk,"gc_ms":$gcMs}"""
    }
  }

  /** Length of the union of the stage intervals inside [from, to]. */
  private[tools] def covered(stages: Seq[Stage], from: Long, to: Long): Long = {
    var total = 0L
    var cursor = from
    for (s <- stages.sortBy(_.submit)) {
      val a = math.max(s.submit, cursor)
      val b = math.min(s.done, to)
      if (b > a) { total += b - a; cursor = b }
    }
    total
  }
}
