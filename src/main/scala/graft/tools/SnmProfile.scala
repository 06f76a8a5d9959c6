package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Per-stage profile of the multi-pass sorted-neighborhood dedup at
  * big scale factors — the r13 verdict's open tail:
  * `dedup_snm_multipass` measured x10/x30 marginals of 1.32/1.43 but
  * 11.5 at x100 (227 s), and the round note could only say "same
  * single-JVM agg-spill class as knn" without per-stage evidence.
  * (The kNN graph's r13 profile, by a since-removed KnnProfile tool,
  * is recorded in KNN_PROFILE_r14.json.)
  *
  * Times three cumulative stage frontiers (scored candidate union →
  * post-threshold survivors → cross-pass distinct result; each prefix
  * recomputes its lineage, so deltas are the marginal stage costs) at
  * each requested factor, with spill/shuffle/GC deltas per frontier
  * from task metrics. The frontiers come from
  * [[graft.operators.Dedup.sortedNeighborhoodStaged]], the exact
  * frames the shipped operator executes. (The r13 shape's frontiers
  * were candidates → distinct → verify-joins; the r14 redesign this
  * tool motivated verifies inside the pass join, so the frontier
  * names changed with the plan.)
  *
  * Usage:
  *   sbt "runMain graft.tools.SnmProfile /root/testdata/sf0.1 /tmp/graft_curve 30,100"
  * Honors SPARK_GRAFT_INITIAL_PARTITIONS (AQE initial shuffle
  * partition count) like ScaleCurve — profile with and without to
  * separate "needs more reduce partitions than one JVM defaults to"
  * from genuinely superlinear work.
  */
object SnmProfile {

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: SnmProfile <base sf dir> <out root> <factorsCsv>")
    val baseDir = args(0)
    val outRoot = args(1)
    val factors = args(2).split(",").map(_.trim.toInt).toSeq.sorted
    val builder = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_INITIAL_PARTITIONS").foreach(n =>
      builder.config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", n))
    // SPARK_GRAFT_ADVISORY_PARTITION_BYTES: AQE coalesces post-shuffle
    // partitions back to THIS size regardless of initialPartitionNum —
    // for hash-agg-heavy stages the in-memory hash map runs ~10x the
    // shuffle bytes, so the 64m default packs ~600 MB of agg state per
    // task and spills; 16m is the production setting for agg-bound
    // jobs (measured on the knn x100 point, KNN_PROFILE_r14)
    sys.env.get("SPARK_GRAFT_ADVISORY_PARTITION_BYTES").foreach(n =>
      builder.config("spark.sql.adaptive.advisoryPartitionSizeInBytes", n))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val spillMem = new java.util.concurrent.atomic.AtomicLong
    val spillDisk = new java.util.concurrent.atomic.AtomicLong
    val shuffleW = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          spillMem.addAndGet(m.memoryBytesSpilled)
          spillDisk.addAndGet(m.diskBytesSpilled)
          shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    def drain(): Unit =
      try org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
      catch { case _: Throwable => Thread.sleep(300) }
    def f2(d: Double) = BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)

    val dirs: Seq[(Int, String)] = (1, baseDir) +: factors.map { f =>
      val d = s"$outRoot/x$f"
      ScaleSmoke.buildScaledDir(spark, baseDir, d, f)
      (f, d)
    }
    val rows = dirs.map { case (f, d) =>
      val docs = spark.read.parquet(s"$d/documents.parquet")
      // the registered dedup_snm_multipass configuration, staged
      val norm = graft.functions.TextFunctions.normalizeText(col("text"))
      val (candUnion, cand, verified) = graft.operators.Dedup.sortedNeighborhoodStaged(
        docs, "text", "doc_id",
        Seq(hex(substring(norm, 1, 24)), hex(substring(reverse(norm), 1, 24))),
        window = 10, shingleSize = 3, threshold = 0.3)
      def time(label: String, df: org.apache.spark.sql.DataFrame): (Double, Long, Long, Long, Long, Long) = {
        drain()
        val s0 = (spillMem.get, spillDisk.get, shuffleW.get)
        val g0 = PipelineMeter.gcMillis()
        val t0 = System.nanoTime()
        val n = df.count()
        val secs = (System.nanoTime() - t0) / 1e9
        drain()
        println(f"[snmprof] x$f%-4d $label%-10s ${secs}%8.2f s  rows=$n%-12d " +
          f"spillMem=${spillMem.get - s0._1}%12d spillDisk=${spillDisk.get - s0._2}%12d " +
          f"shufW=${shuffleW.get - s0._3}%12d gcMs=${PipelineMeter.gcMillis() - g0}%8d")
        (secs, n, spillMem.get - s0._1, spillDisk.get - s0._2,
          shuffleW.get - s0._3, PipelineMeter.gcMillis() - g0)
      }
      val c = time("scored", candUnion)
      val u = time("surviving", cand)
      val v = time("result", verified)
      def j(t: (Double, Long, Long, Long, Long, Long)) =
        s"""{"sec":${f2(t._1)},"rows":${t._2},"spill_mem":${t._3},"spill_disk":${t._4},"shuffle_w":${t._5},"gc_ms":${t._6}}"""
      s""""x$f":{"scored":${j(c)},"surviving":${j(u)},"result":${j(v)}}"""
    }
    val ip = sys.env.getOrElse("SPARK_GRAFT_INITIAL_PARTITIONS", "unset")
    println(s"""{"snm_profile":{"base":"$baseDir","stages_cumulative":true,"initial_partitions":"$ip",${rows.mkString(",")}}}""")
    spark.stop()
  }
}
