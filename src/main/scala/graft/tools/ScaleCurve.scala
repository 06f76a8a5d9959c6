package graft.tools

/** Multi-point scale curves for individual queries — the follow-up
  * probe when a [[ScaleSmoke]] 10× ratio looks high: a t10/t1 ratio
  * under 10 is sublinear ON AVERAGE but can hide a superlinear tail
  * behind fixed overhead (t = a + b·nᶜ with a large a). The marginal
  * ratio between two big scale points can't hide behind overhead:
  * t30/t10 ≤ 3 ⟹ the per-row cost is flat-or-falling where it
  * matters.
  *
  * Builds one [[ScaleSmoke.buildScaledDir]] dataset per factor
  * (cached by the completion marker) and times each query at 1× plus
  * every factor through [[QueryRunner.runWithBudget]] (a point over
  * `timeoutSec` is cancelled and reported TIMEOUT); prints per-query
  * seconds and marginal ratios plus a trailing JSON line for the round
  * artifact.
  *
  * Usage:
  *   sbt "runMain graft.tools.ScaleCurve /root/testdata/sf0.1 /tmp/graft_curve \
  *        dedup_edit_distance,emb_knn_graph 10,30"
  */
object ScaleCurve {

  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: ScaleCurve <base sf dir> <out root> <queriesCsv> <factorsCsv> [timeoutSec]")
    val baseDir = args(0)
    val outRoot = args(1)
    val queries = graft.queries.QuerySpec.requireKnown(
      args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val factors = args(3).split(",").map(_.trim.toInt).toSeq.sorted
    val timeoutSec = if (args.length > 4) args(4).toInt else 300

    // SPARK_GRAFT_INITIAL_PARTITIONS: let AQE START big shuffles at
    // this partition count and coalesce the small ones back down —
    // the production setting for runs whose largest shuffle outgrows
    // cpus × ~200 MB (the x100 curve points)
    val initial = sys.env.get("SPARK_GRAFT_INITIAL_PARTITIONS")
      .map("spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> _)
    // SPARK_GRAFT_ADVISORY_PARTITION_BYTES: AQE coalesces post-shuffle
    // partitions back to THIS size regardless of initialPartitionNum —
    // for hash-agg-heavy stages the in-memory hash map runs ~10x the
    // shuffle bytes, so the 64m default packs ~600 MB of agg state per
    // task and spills; 16m is the production setting for agg-bound
    // jobs (measured on the knn x100 point, KNN_PROFILE_r14)
    val advisory = sys.env.get("SPARK_GRAFT_ADVISORY_PARTITION_BYTES")
      .map("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> _)
    val spark = LocalSession((initial ++ advisory).toSeq: _*)

    val dirs: Seq[(Int, String)] = (1, baseDir) +: factors.map { f =>
      val d = s"$outRoot/x$f"
      ScaleSmoke.buildScaledDir(spark, baseDir, d, f)
      (f, d)
    }
    // one point: full materialization under the wall budget, cancelled
    // and reported TIMEOUT on breach
    def run(q: String, f: Int, d: String): (Double, String) =
      QueryRunner.runWithBudget(spark, s"curve-$q-x$f", q, timeoutSec, "curve") {
        graft.SparkEntry.queries(q)(spark, d).write.format("noop").mode("overwrite").save()
      }
    // warm-up at 1× absorbs JVM/codegen cost
    queries.headOption.foreach(run(_, 1, baseDir))
    def f2(d: Double) = BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    val rows = queries.map { q =>
      val points = dirs.map { case (f, d) => val (secs, status) = run(q, f, d); (f, secs, status) }
      val marginals = points.sliding(2).collect {
        case Seq((f1x, t1, _), (f2x, t2, _)) =>
          s""""x${f1x}_to_x$f2x":${f2(t2 / math.max(t1, 1e-9))}"""
      }.mkString(",")
      points.foreach { case (f, s, st) =>
        println(f"[curve] $q%-24s x$f%-3d ${s}%8.2f s  $st")
      }
      val ptJson = points.map { case (f, s, st) =>
        s""""x$f":{"sec":${f2(s)},"status":"$st"}""" }.mkString(",")
      s""""$q":{$ptJson,"marginal":{$marginals}}"""
    }
    println(s"""{"scale_curve":{"base":"$baseDir","factors":[${factors.mkString(",")}],"queries":{${rows.mkString(",")}}}}""")
    spark.stop()
  }
}
