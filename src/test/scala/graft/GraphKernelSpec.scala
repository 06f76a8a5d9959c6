package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge

import graft.operators.{Dedup, Graphs}

/** Connected components and triangle counts on `Graphs.NodeKernel`,
  * checked against the Catalyst implementations they replaced, which
  * are kept below as the reference: rows and schemas (nullability
  * included) must be identical on seeded random graphs — long chains
  * (they force pointer jumps), stars, cliques, duplicate and reversed
  * edges, self-loops, and int-typed ids.
  */
class GraphKernelSpec extends SparkSpec {
  import spark.implicits._

  /** An eager local checkpoint whose `chg` count rides along: the
    * reference loop's materialization of each round. */
  private def checkpointCountingChanged(df: DataFrame): (DataFrame, Long) = {
    val rows = df.queryExecution.toRdd.map(_.copy())
    val out = CheckpointBridge.localCheckpointRows(spark, rows, df.schema)
    (out, out.filter(col("chg")).count())
  }

  /** The Catalyst min-label propagation with pointer doubling that
    * `Dedup.connectedComponents` ran before the kernel. */
  private def referenceComponents(pairs: DataFrame, maxIter: Int = 32): DataFrame = {
    val fwd = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val edges = CheckpointBridge.localCheckpointFreshStats(
      fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst"))).distinct())
    var labels = edges.groupBy("src").agg(min(col("dst")).as("__mn"))
      .select(col("src").as("id"), least(col("src"), col("__mn")).as("label"))
    var converged = false
    var i = 0
    while (!converged && i < maxIter - 1) {
      val viaEdges = edges.join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("label"))
      val base = labels.select(col("id"), col("label")).union(viaEdges)
      val withShortcut =
        if (i < 1) base
        else base.union(labels.as("x")
          .join(labels.as("y"), col("x.label") === col("y.id"))
          .select(col("x.id").as("id"), col("y.label").as("label")))
      val next = withShortcut.groupBy("id").agg(min("label").as("label"))
      val (flagged, nChanged) = checkpointCountingChanged(
        next.as("n").join(labels.as("o"), Seq("id"))
          .select(col("id"), col("n.label").as("label"),
            (col("n.label") =!= col("o.label")).as("chg")))
      converged = nChanged == 0L
      labels = flagged.select("id", "label")
      i += 1
    }
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** The Catalyst degree-ordered wedge join `Graphs.triangleStats` ran
    * before the kernel. */
  private def referenceTriangles(pairs: DataFrame): DataFrame = {
    val e = CheckpointBridge.localCheckpointFreshStats(pairs.select(
        least(col("id_a"), col("id_b")).cast("long").as("u"),
        greatest(col("id_a"), col("id_b")).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .dropDuplicates("u", "v"))
    val deg = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node")))
      .groupBy("node").agg(count("*").as("d"))
      .persist()
    val du = deg.select(col("node").as("u"), col("d").as("d_u"))
    val dv = deg.select(col("node").as("v"), col("d").as("d_v"))
    val oriented = e.join(du, "u").join(dv, "v")
      .select(
        when(struct(col("d_u"), col("u")) < struct(col("d_v"), col("v")),
          struct(col("u").as("src"), col("v").as("dst")))
          .otherwise(struct(col("v").as("src"), col("u").as("dst"))).as("o"))
      .select(col("o.src").as("src"), col("o.dst").as("dst"))
      .join(deg.select(col("node").as("dst"), col("d").as("d_dst")), "dst")
      .select("src", "dst", "d_dst")
      .persist()
    val o1 = oriented.select(col("src"), col("dst").as("y"), col("d_dst").as("d_y"))
    val o2 = oriented.select(col("src"), col("dst").as("z"), col("d_dst").as("d_z"))
    val wedges = o1.join(o2, "src")
      .filter(struct(col("d_y"), col("y")) < struct(col("d_z"), col("z")))
      .select(col("src").as("x"), col("y"), col("z"))
    val closing = oriented.select(col("src").as("y"), col("dst").as("z"))
    val tri = wedges.join(closing, Seq("y", "z"))
    val perNode = tri.select(col("x").as("node"))
      .union(tri.select(col("y").as("node")))
      .union(tri.select(col("z").as("node")))
      .groupBy("node").agg(count("*").as("n_triangles"))
    val out = CheckpointBridge.localCheckpointFreshStats(deg.join(perNode, Seq("node"), "left")
      .select(
        col("node"),
        col("d").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        graft.functions.MathFunctions.roundTo(when(col("d") >= 2,
            lit(2.0) * coalesce(col("n_triangles"), lit(0L)).cast("double") /
              (col("d").cast("double") * (col("d") - 1).cast("double")))
          .otherwise(lit(0.0)), 6).as("clustering")))
    oriented.unpersist()
    deg.unpersist()
    out
  }

  /** Kernel and reference agree on `pairs`, rows and schema. */
  private def agree(pairs: DataFrame): Unit = {
    def same(got: DataFrame, want: DataFrame, what: String): Unit = {
      assert(got.schema == want.schema, s"$what schema")
      val (g, w) = (got.collect().toSeq, want.collect().toSeq)
      assert(g.nonEmpty && g.sortBy(_.toString) == w.sortBy(_.toString), s"$what rows")
    }
    same(Dedup.connectedComponents(pairs), referenceComponents(pairs), "components")
    same(Graphs.triangleStats(pairs), referenceTriangles(pairs), "triangles")
  }

  /** `edges` with each edge reversed at random and the ids relabelled
    * by a random permutation, so ids carry no order of the graph. */
  private def scrambled(rnd: Random, n: Int, edges: Seq[(Int, Int)]): Seq[(Long, Long)] = {
    val ids = rnd.shuffle((0 until n).map(i => 1000L + 7L * i))
    edges.map { case (a, b) => if (rnd.nextBoolean()) (ids(a), ids(b)) else (ids(b), ids(a)) }
  }

  test("components and triangles match the Catalyst reference on long scrambled chains") {
    val rnd = new Random(11)
    val chains = Seq(0 -> 180, 180 -> 300, 300 -> 303)
      .flatMap { case (from, to) => (from until to - 1).map(i => (i, i + 1)) }
    agree(scrambled(rnd, 303, chains).toDF("id_a", "id_b"))
  }

  test("components and triangles match the Catalyst reference on stars and cliques") {
    val rnd = new Random(12)
    val star = (1 until 40).map(i => (0, i))
    val k7 = for { a <- 40 until 47; b <- a + 1 until 47 } yield (a, b)
    val k4Tail = (for { a <- 47 until 51; b <- a + 1 until 51 } yield (a, b)) ++
      Seq((50, 51), (51, 52), (0, 47))
    agree(scrambled(rnd, 53, star ++ k7 ++ k4Tail).toDF("id_a", "id_b"))
  }

  test("components and triangles match the Catalyst reference with duplicate, reversed and self-loop edges") {
    val rnd = new Random(13)
    val base = Seq.fill(120)((rnd.nextInt(60), rnd.nextInt(60)))
    val noisy = base ++ base.take(30).map(_.swap) ++ base.take(20) ++ Seq((5, 5), (60, 60))
    agree(scrambled(rnd, 61, noisy).toDF("id_a", "id_b"))
  }

  test("components and triangles match the Catalyst reference on int ids and nullable columns") {
    val rnd = new Random(14)
    val edges = Seq.fill(90)((rnd.nextInt(50), rnd.nextInt(50))) ++ (50 until 80).map(i => (i, i + 1))
    agree(edges.toDF("id_a", "id_b"))
    agree(edges.map { case (a, b) => (Option(a.toLong), Option(b.toLong)) }.toDF("id_a", "id_b"))
  }

  test("a pair with a null endpoint is dropped whole") {
    val pairs = Seq((None, Some(5L)), (Some(5L), Some(6L)), (Some(7L), None))
      .toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(pairs).collect().toSet == Set(Row(5L, 5L), Row(6L, 5L)))
    // the Catalyst loop made 7 of (7, null) a singleton node (its null
    // node fell out at the first round's join)
    assert(referenceComponents(pairs).collect().toSet ==
      Set(Row(5L, 5L), Row(6L, 5L), Row(7L, 7L)))
    assert(Graphs.triangleStats(pairs).collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((5L, 1L), (6L, 1L)))
  }

  test("components: a run cut short by maxIter returns the reference's partial labels") {
    val rnd = new Random(15)
    val chain = scrambled(rnd, 200, (0 until 199).map(i => (i, i + 1))).toDF("id_a", "id_b")
    for (maxIter <- Seq(2, 3, 5))
      assert(Dedup.connectedComponents(chain, maxIter = maxIter).collect().toSet ==
        referenceComponents(chain, maxIter).collect().toSet, s"maxIter=$maxIter")
  }
}
