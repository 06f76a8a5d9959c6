package graft

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.plans.BandKeys

/** The MinHash-LSH kernel's contracts that DedupSpec's result tests do
  * not pin: band keys identical to the relational formulation, the
  * single-dataset index, the bucket cap and the id-type check. */
class MinhashKernelSpec extends SparkSpec {

  /** The Column formulation the native band keys replaced: per band,
    * `slice`, then `cast` to strings joined by `concat_ws("_")`. */
  private def referenceBandKeys(sig: Column, bands: Int, r: Int): Column =
    array((0 until bands).map { j =>
      val key = concat_ws("_", slice(sig, j * r + 1, r).cast("array<string>"))
      struct(lit(j).as("band"), key.as("key"))
    }: _*)

  test("band keys: native function and BandKeysExpr equal the slice/cast/concat_ws formulation") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    def value(): Long = rng.nextInt(4) match {
      case 0 => rng.nextLong()
      case 1 => rng.nextInt(Int.MaxValue).toLong // the range of real signature rows
      case 2 => -rng.nextInt(1000).toLong
      case _ => Seq(0L, Long.MinValue, Long.MaxValue)(rng.nextInt(3))
    }
    // (numHashes, bands), including bands = 1 and r = 1
    for ((numHashes, bands) <- Seq((128, 32), (128, 1), (16, 16), (12, 4), (9, 3), (1, 1))) {
      val r = numHashes / bands
      val sigs: Seq[Option[Seq[Long]]] =
        Seq.fill(30)(Some(Seq.fill(numHashes)(value()))) :+ None
      val df = sigs.zipWithIndex.map { case (s, i) => (i, s) }.toDF("i", "sig")
      val rows = df.select(col("i"),
          Dedup.bandKeys(col("sig"), bands, r).as("got"),
          referenceBandKeys(col("sig"), bands, r).as("ref"))
        .collect()
      assert(rows.length == sigs.size)
      rows.foreach { row =>
        val ref = row.getSeq[Row](2)
        assert(row.getSeq[Row](1) == ref, s"BandKeysExpr, numHashes=$numHashes bands=$bands")
        val sig = sigs(row.getInt(0)).fold(Array.emptyLongArray)(_.toArray)
        (0 until bands).foreach { j =>
          assert(BandKeys.key(sig, j, r).toString == ref(j).get(1).toString,
            s"BandKeys.key band $j, numHashes=$numHashes bands=$bands")
        }
      }
    }
  }

  private def withIndexDir(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_minhash_idx")
    try body(dir.resolve("index").toString)
    finally FileUtils.deleteDirectory(dir.toFile)
  }

  private val fox = "the quick brown fox jumps over the lazy dog while the cat sleeps on the warm mat"

  test("incremental minhash: an index without bands/ rows still drops a near-duplicate of a committed doc") {
    import spark.implicits._
    withIndexDir { idx =>
      val b1 = Seq((1L, fox), (2L, "an unrelated note about parquet files and spark jobs on a cluster"))
        .toDF("doc_id", "text")
      val s1 = Dedup.incrementalMinhash(b1, "text", "doc_id", idx, shingleSize = 3, threshold = 0.5)
      Dedup.commitMinhash(s1, "text", "doc_id", idx, shingleSize = 3)
      // a commit that failed between a signature write and a band-key
      // write would leave exactly this: committed signatures, no bands
      FileUtils.deleteDirectory(new File(s"$idx/bands"))
      val b2 = Seq((3L, fox + " today"), (4L, "a recipe for bread with flour water salt and yeast"))
        .toDF("doc_id", "text")
      val s2 = Dedup.incrementalMinhash(b2, "text", "doc_id", idx, shingleSize = 3, threshold = 0.5)
      assert(s2.select("doc_id").as[Long].collect().toSeq == Seq(4L),
        "doc 3 near-duplicates committed doc 1 and must be dropped")
    }
  }

  test("commitMinhash: one sigs row per committed document, no bands/ dataset") {
    import spark.implicits._
    withIndexDir { idx =>
      val docs = Seq((1L, fox), (2L, "a recipe for bread with flour water salt and yeast"), (3L, "short"))
        .toDF("doc_id", "text")
      Dedup.commitMinhash(docs, "text", "doc_id", idx, shingleSize = 3)
      Dedup.commitMinhash(docs.filter(col("doc_id") === 3L).withColumn("doc_id", lit(4L)),
        "text", "doc_id", idx, shingleSize = 3)
      val sigs = spark.read.parquet(s"$idx/sigs")
      assert(sigs.columns.toSeq == Seq("doc_id", "sig"))
      assert(sigs.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
      assert(sigs.select(size(col("sig"))).as[Int].collect().forall(_ == 128))
      assert(!new File(s"$idx/bands").exists(), "band keys are derived from sigs at probe time")
    }
  }

  test("bucket cap: a bucket with more than maxBucketSize members yields no pairs") {
    import spark.implicits._
    val docs = (1L to 3L).map(i => (i, fox)).toDF("doc_id", "text")
    def pairs(cap: Int) = Dedup.minhashNearDups(docs, "text", "doc_id", shingleSize = 3,
        threshold = 0.5, maxBucketSize = cap)
      .select("id_a", "id_b").as[(Long, Long)].collect().sorted.toSeq
    assert(pairs(3) == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(pairs(2).isEmpty, "every bucket holds all three identical docs")
  }

  test("non-integral id column is rejected with a clear error") {
    import spark.implicits._
    val docs = Seq(("a", fox), ("b", fox)).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      Dedup.minhashNearDups(docs, "text", "doc_id", shingleSize = 3))
    assert(e.getMessage.contains("'doc_id' must be an integral type, got string"), e.getMessage)
  }

  test("minhash signature: the Mersenne fold equals floorMod, and other moduli keep floorMod") {
    import graft.plans.{MinHashSignatureExpr, TextExprs}
    import MinHashSignatureExpr.{P31, mod31}
    val rng = new scala.util.Random(5)
    val edges = Seq(0L, 1L, P31 - 1, P31, P31 + 1, 2 * P31, 2 * P31 + 2, 1L << 31, (1L << 32) - 1,
      P31 * P31 + P31, (1L << 62) - 1, Long.MaxValue)
    (edges ++ Seq.fill(10000)(rng.nextLong() >>> 1)).foreach { x =>
      assert(mod31(x) == java.lang.Math.floorMod(x, P31), s"mod31($x)")
    }
    // a signature through the fold, through floorMod for an
    // out-of-range coefficient, and for another prime, against the
    // defining formula
    val words = Seq("the quick brown", "quick brown fox", "brown fox jumps", "", "a")
    val shingles = org.apache.spark.sql.catalyst.expressions.Literal.create(words,
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType))
    val hashes = words.map(w => TextExprs.md5Hash60(org.apache.spark.unsafe.types.UTF8String.fromString(w)))
    def reference(coeffs: Seq[(Long, Long)], p: Long): Seq[Long] = coeffs.map { case (a, b) =>
      hashes.map(h => java.lang.Math.floorMod(a * java.lang.Math.floorMod(h, p) + b, p)).min
    }
    val inRange = Dedup.minhashCoeffs(64) ++ Seq((P31, P31), (1L, 0L))
    for ((coeffs, p) <- Seq((inRange, P31), (inRange :+ ((-3L, 7L)), P31), (inRange, 1000003L))) {
      val got = MinHashSignatureExpr(shingles, coeffs, p).eval().asInstanceOf[
        org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq
      assert(got == reference(coeffs, p), s"prime $p, ${coeffs.size} coefficients")
    }
  }

  test("incremental minhash: survivors are the left_anti join's rows and columns") {
    import spark.implicits._
    withIndexDir { idx =>
      // the id column not first, an int id, a null id, a null text and
      // a repeated id; doc 2 near-duplicates doc 1 and is dropped
      val b = Seq[(String, Option[Int], Double)]((fox, Some(1), 0.5), (fox + " today", Some(2), 1.5),
          ("an unrelated note about parquet files and spark jobs", Some(3), 2.5),
          ("a recipe for bread", None, 3.5), (null, Some(4), 4.5), (fox + " again", Some(2), 5.5),
          ("short", Some(5), 6.5))
        .toDF("text", "doc_id", "score")
      val got = Dedup.incrementalMinhash(b, "text", "DOC_ID", idx, shingleSize = 3, threshold = 0.5)
      val ref = b.join(Seq(2).toDF("doc_id"), Seq("doc_id"), "left_anti")
      assert(got.schema == ref.schema)
      assert(got.columns.toSeq == Seq("doc_id", "text", "score"))
      def sorted(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
      assert(sorted(got) == sorted(ref))
      assert(got.count() == 5, "both rows of id 2 dropped; the null-id and null-text rows kept")
    }
  }
}
