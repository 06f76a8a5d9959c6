package graft

import java.util.concurrent.{CopyOnWriteArrayList, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

import graft.operators.Graphs

/** `Graphs.inParallel`: a failing body cancels its siblings' jobs and
  * leaves no pool thread behind. */
class InParallelSpec extends SparkSpec {

  test("inParallel: a failing body cancels the sibling's running job; no pool thread survives") {
    val started = new CountDownLatch(1)
    val longJobs = new CopyOnWriteArrayList[Integer]()
    val ends = new CopyOnWriteArrayList[(Int, JobResult)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "long")) {
          longJobs.add(e.jobId)
          started.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.add((e.jobId, e.jobResult))
    }
    spark.sparkContext.addSparkListener(listener)
    val threadsBefore = Thread.getAllStackTraces.keySet.asScala.toSet
    val t0 = System.nanoTime()
    try {
      val e = intercept[IllegalStateException] {
        Graphs.inParallel(
          {
            spark.sparkContext.setJobDescription("long")
            spark.sparkContext.parallelize(1 to 4, 4).map { i => Thread.sleep(120000L); i }.count()
          },
          {
            assert(started.await(60, TimeUnit.SECONDS), "long job started")
            throw new IllegalStateException("boom")
          })
      }
      assert(e.getMessage == "boom", "the original exception is rethrown")
      assert((System.nanoTime() - t0) / 1e9 < 60.0, "did not wait for the long job")
      val longId = longJobs.asScala.head.intValue
      def result = ends.asScala.collectFirst { case (id, r) if id == longId => r }
      val waitUntil = System.nanoTime() + TimeUnit.SECONDS.toNanos(10)
      while (result.isEmpty && System.nanoTime() < waitUntil) {
        org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
        Thread.sleep(50)
      }
      assert(result.exists(_.isInstanceOf[JobFailed]), s"long job cancelled: $result")
      val survivors = Thread.getAllStackTraces.keySet.asScala.toSet -- threadsBefore
      assert(!survivors.exists(t => t.isAlive && t.getName.startsWith("graft-parallel-")),
        s"pool threads left: ${survivors.map(_.getName)}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("inParallelSeq: at most defaultParallelism bodies run at once, results in input order") {
    val cores = spark.sparkContext.defaultParallelism
    val running = new java.util.concurrent.atomic.AtomicInteger
    val peak = new java.util.concurrent.atomic.AtomicInteger
    val out = Graphs.inParallelSeq((0 until cores * 2 + 1).map(i => () => {
      peak.accumulateAndGet(running.incrementAndGet(), (a: Int, b: Int) => math.max(a, b))
      Thread.sleep(200)
      running.decrementAndGet()
      i * 10
    }))
    assert(out == (0 until cores * 2 + 1).map(_ * 10))
    assert(peak.get <= cores, s"${peak.get} bodies ran at once on $cores cores")
  }
}
