package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

import graft.functions.VectorFunctions.cosine
import graft.operators.{Dedup, Similarity}

/** The kNN kernel behind [[Similarity.knnGraph]] against the Catalyst
  * chain it replaced, kept here as the reference: posexplode of the
  * hyperplane buckets, capped bucket counts, a bucket self-join scoring
  * each unordered pair, `dropDuplicates`, a mirror explode and the
  * bounded-heap `TopKByScore` per node. */
class KnnKernelSpec extends SparkSpec {
  import spark.implicits._

  private def reference(df: DataFrame, dim: Int, k: Int, nPlanes: Int, nTables: Int,
                        maxBucketSize: Int): DataFrame = {
    val base = df.select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
    val planes = (0 until nTables).map(t => Dedup.randomPlanes(nPlanes, dim, Dedup.DefaultSeed + t))
    val keyed = base.withColumn("buckets",
      column(graft.plans.HyperplaneBuckets(expression(col("v")), planes)))
    val counts = keyed.select(col("id"), posexplode(col("buckets")).as(Seq("table", "key")))
      .groupBy("table", "key").agg(count("*").as("bucket_n"))
      .filter(col("bucket_n") <= maxBucketSize)
    val sized = keyed.select(col("id"), col("v"), posexplode(col("buckets")).as(Seq("table", "key")))
      .join(counts, Seq("table", "key"))
    val a = sized.select(col("table"), col("key"), col("id").as("id_a"), col("v").as("v_a"))
    val b = sized.select(col("table"), col("key"), col("id").as("id_b"), col("v").as("v_b"))
    a.join(b, Seq("table", "key")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosine(col("v_a"), col("v_b")).as("__c"))
      .dropDuplicates("id_a", "id_b")
      .select(explode(array(
        struct(col("id_a").as("src_id"), col("id_b").as("nbr_id"), col("__c").as("__c")),
        struct(col("id_b").as("src_id"), col("id_a").as("nbr_id"), col("__c").as("__c"))))
        .as("__e"))
      .select(col("__e.src_id").as("src_id"), col("__e.nbr_id").as("nbr_id"),
        col("__e.__c").as("__c"))
      .groupBy("src_id")
      .agg(graft.plans.TopKByScore.topKByScore(col("__c"), col("nbr_id"), k).as("top"))
      .select(col("src_id"), posexplode(col("top")).as(Seq("r", "t")))
      .select(col("src_id"), (col("r") + 1).as("rank"), col("t.id").as("nbr_id"),
        graft.functions.MathFunctions.roundTo(col("t.score"), 6).as("cosine"))
  }

  /** Rows as comparable tuples, the cosine as its bits. */
  private def rows(df: DataFrame): Seq[(Option[Long], Int, Long, Long)] =
    df.collect().toSeq.map(r => (Option(r.get(0)).map(_.asInstanceOf[Number].longValue),
      r.getInt(1), r.getAs[Number](2).longValue,
      java.lang.Double.doubleToLongBits(r.getDouble(3)))).sorted

  /** `n` random vectors: about a third copies of an earlier vector (so
    * scores tie), one in twelve with a null vector, one in ten with a
    * null id, and one with a NaN component when `nan`. */
  private def corpus(rng: Random, n: Int, dim: Int, nan: Boolean): DataFrame = {
    val vs = scala.collection.mutable.ArrayBuffer.empty[Option[Array[Float]]]
    (0 until n).foreach { i =>
      vs += (if (i > 0 && rng.nextInt(3) == 0) vs(rng.nextInt(i))
        else if (rng.nextInt(12) == 0) None
        else Some(Array.fill(dim)(rng.nextGaussian().toFloat)))
    }
    if (nan) vs(n / 2) = Some(Array.tabulate(dim)(j => if (j == 0) Float.NaN else 1f))
    val ids = rng.shuffle((0 until n).map(_ * 3L + 1))
    vs.indices.map(i => (if (rng.nextInt(10) == 0) None else Some(ids(i)), vs(i)))
      .toDF("vec_id", "embedding")
  }

  test("the kernel equals the Catalyst reference on dense, capped, tied and null-bearing inputs") {
    val rng = new Random(5)
    var capFired = 0
    for (trial <- 0 until 8) {
      // 4 or 8 keys per table over 30-60 vectors: buckets of ~4-15
      val (dim, nPlanes) = (3 + rng.nextInt(4), 2 + rng.nextInt(2))
      val nTables = Seq(1, 3)(trial % 2)
      val cap = Seq(10, 16, 1000)(trial % 3)
      val k = Seq(1, 3, 5)(rng.nextInt(3))
      val df = corpus(rng, 30 + rng.nextInt(30), dim, nan = trial == 5)
      val got = Similarity.knnGraph(df, "embedding", "vec_id", dim, k, nPlanes, nTables,
        maxBucketSize = cap)
      val ref = reference(df, dim, k, nPlanes, nTables, cap)
      val params = s"trial $trial: dim=$dim nPlanes=$nPlanes nTables=$nTables cap=$cap k=$k"
      assert(got.schema == ref.schema, params)
      val (g, r) = (rows(got), rows(ref))
      assert(r.nonEmpty, params)
      assert(g == r, params)
      if (r != rows(reference(df, dim, k, nPlanes, nTables, 1000))) capFired += 1
    }
    assert(capFired >= 2, "the bucket cap changes the graph in some trials")
  }

  test("a null id counts toward its bucket's size but never pairs") {
    val v = Array(1f, 2f, 3f)
    val df = Seq((Some(1L), v), (Some(2L), v), (None, v)).toDF("vec_id", "embedding")
    def edges(cap: Int) = Similarity.knnGraph(df, "embedding", "vec_id", dim = 3, k = 5,
        nPlanes = 2, nTables = 2, maxBucketSize = cap)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(edges(3) == Set((1L, 2L), (2L, 1L)))
    assert(edges(2).isEmpty, "three members, the null id included, are over a cap of 2")
  }

  test("integral ids of any width come back in their own type") {
    val df = corpus(new Random(3), 40, 4, nan = false)
    val asLong = rows(Similarity.knnGraph(df, "embedding", "vec_id", 4, 3, 2, 2))
    val asInt = Similarity.knnGraph(df.withColumn("vec_id", col("vec_id").cast("int")),
      "embedding", "vec_id", 4, 3, 2, 2)
    assert(asInt.schema.map(_.dataType.simpleString) == Seq("int", "int", "int", "double"))
    assert(rows(asInt) == asLong && asLong.nonEmpty)
    val e = intercept[IllegalArgumentException](Similarity.knnGraph(
      df.withColumn("vec_id", col("vec_id").cast("string")), "embedding", "vec_id", 4, 3, 2, 2))
    assert(e.getMessage.contains("'vec_id' must be an integral type, got string"), e.getMessage)
  }
}
