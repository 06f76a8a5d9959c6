package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Dedup

/** The capped-bucket contract every LSH and posting-list dedup operator
  * shares (`Dedup.cappedBuckets`, `bucketPairs`, `bucketProfile`,
  * `pairWork`), checked against a brute-force reference on random
  * keyed rows: repeated ids and rows, null keys and ids, buckets of
  * exactly `cap` and `cap + 1` rows, and the same key under two bands.
  */
class CappedBucketsSpec extends SparkSpec {

  /** One keyed row: (band, key) is the bucket, `len` a payload. */
  private case class R(id: Option[Long], band: Option[Int], key: Option[Long], len: Long)

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("band", IntegerType),
    StructField("key", LongType), StructField("len", LongType)))

  private val Cap = 4

  /** Random rows plus planted buckets: (0, 1000) holds exactly `Cap`
    * rows, (0, 1001) `Cap + 1`, key 1002 sits in band 0 and band 1, and
    * id 7 repeats inside one bucket. */
  private def rows(seed: Long): Seq[R] = {
    val r = new Random(seed)
    def opt[T](v: => T): Option[T] = if (r.nextInt(12) == 0) None else Some(v)
    val random = Seq.fill(300)(R(opt(r.nextInt(60).toLong), opt(r.nextInt(3)),
      opt(r.nextInt(40).toLong), r.nextInt(9).toLong))
    val planted =
      (0 until Cap).map(i => R(Some(100L + i), Some(0), Some(1000L), i)) ++
        (0 to Cap).map(i => R(Some(200L + i), Some(0), Some(1001L), i)) ++
        Seq(R(Some(300L), Some(0), Some(1002L), 1), R(Some(301L), Some(0), Some(1002L), 2),
          R(Some(300L), Some(1), Some(1002L), 1), R(Some(302L), Some(1), Some(1002L), 3),
          R(Some(7L), Some(2), Some(1003L), 0), R(Some(7L), Some(2), Some(1003L), 0),
          R(Some(8L), Some(2), Some(1003L), 5))
    r.shuffle(random ++ planted)
  }

  private def frame(rs: Seq[R]): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(rs.map(x => Row(x.id.map(Long.box).orNull,
      x.band.map(Int.box).orNull, x.key.map(Long.box).orNull, x.len)), 3), schema)

  /** Reference buckets: rows grouped by (band, key), a null key
    * included (a grouping puts nulls in one bucket). */
  private def buckets(rs: Seq[R]): Map[(Option[Int], Option[Long]), Seq[R]] =
    rs.groupBy(x => (x.band, x.key))

  /** Reference capped rows: an equi-join never matches a null key. */
  private def capped(rs: Seq[R], cap: Int): Seq[R] =
    buckets(rs).toSeq.collect { case ((Some(_), Some(_)), b) if b.size <= cap => b }.flatten

  private def sorted(rows: Seq[Seq[Any]]): Seq[String] = rows.map(_.mkString("|")).sorted

  private def got(df: DataFrame, cols: String*): Seq[String] =
    sorted(df.select(cols.map(col): _*).collect().toSeq.map(_.toSeq))

  test("cappedBuckets keeps exactly the rows of buckets of at most cap rows") {
    for (seed <- 1L to 3L) {
      val rs = rows(seed)
      val out = Dedup.cappedBuckets(frame(rs), Seq("band", "key"), Cap)
      val want = sorted(capped(rs, Cap).map(x => Seq(x.id.getOrElse(null), x.band.get, x.key.get, x.len)))
      assert(got(out, "id", "band", "key", "len") == want, s"seed $seed")
      val keys = out.select("band", "key").distinct().collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      assert(keys((0, 1000L)) && !keys((0, 1001L)), "a bucket of cap rows stays, cap + 1 goes")
      assert(keys((0, 1002L)) && keys((1, 1002L)), "one key under two bands is two buckets")
    }
  }

  test("bucketPairs: one row per shared bucket of every id_a < id_b pair, payload suffixed") {
    for (seed <- 1L to 3L) {
      val rs = rows(seed)
      val out = Dedup.bucketPairs(frame(rs), Seq("band", "key"), Cap)
      assert(out.columns.toSeq == Seq("band", "key", "id_a", "len_a", "id_b", "len_b"))
      val want = for {
        b <- capped(rs, Cap).groupBy(x => (x.band, x.key)).values.toSeq
        x <- b; y <- b if x.id.isDefined && y.id.isDefined && x.id.get < y.id.get
      } yield Seq(x.band.get, x.key.get, x.id.get, x.len, y.id.get, y.len)
      assert(got(out, out.columns.toSeq: _*) == sorted(want), s"seed $seed")
      val ids = out.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(ids((100L, 103L)) && !ids((200L, 201L)), "cap rows pair, cap + 1 rows do not")
      assert(out.filter(col("id_a") === 300L && col("id_b") === 301L).count() == 1 &&
        out.filter(col("id_a") === 300L && col("id_b") === 302L).count() == 1)
      assert(out.filter(col("key") === 1003L).count() == 2,
        "a repeated id never pairs with itself; each copy pairs with the other id")
    }
  }

  test("a capped corpus joined to a probe: the probe's oversized bucket is not capped") {
    val rs = rows(4)
    val corpus = frame(rs)
    // the probe holds 3·Cap rows of bucket (0, 1000) and one of (0, 1001)
    val probe = spark.createDataFrame(((0 until 3 * Cap).map(i => (900L + i, 0, 1000L)) :+
      ((999L, 0, 1001L))).toSeq).toDF("probe_id", "band", "key")
    val out = Dedup.cappedBuckets(corpus, Seq("band", "key"), Cap)
      .join(probe, Seq("band", "key")).select("id", "probe_id")
    val probeRows = probe.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val want = for {
      x <- capped(rs, Cap); (p, b, k) <- probeRows.toSeq if x.band.contains(b) && x.key.contains(k)
    } yield Seq(x.id.getOrElse(null), p)
    assert(got(out, "id", "probe_id") == sorted(want))
    assert(out.filter(col("id") === 100L).count() == 3 * Cap, "every probe row of the hot bucket joins")
    assert(out.filter(col("probe_id") === 999L).count() == 0, "the corpus's cap + 1 bucket still goes")
  }

  test("bucketProfile equals the reference rollup; pairWork is exact up to the Int cap") {
    for (seed <- 1L to 3L) {
      val rs = rows(seed)
      val out = Dedup.bucketProfile(frame(rs), Seq("band", "key"), Cap, "n_rows")
      assert(out.columns.toSeq == Seq("band", "n_buckets", "n_rows", "max_occupancy",
        "avg_occupancy", "n_over_cap", "candidate_pairs"))
      val want = buckets(rs).toSeq.groupBy(_._1._1).toSeq.map { case (band, bs) =>
        val ms = bs.map(_._2.size.toLong)
        Seq(band.getOrElse(null), ms.size.toLong, ms.sum, ms.max,
          math.floor(ms.sum.toDouble / ms.size.toDouble * 1e6 + 0.5) / 1e6,
          ms.count(_ > Cap).toLong, ms.filter(_ <= Cap).map(m => m * (m - 1) / 2).sum)
      }
      assert(got(out, out.columns.toSeq: _*) == sorted(want), s"seed $seed")
    }
    val ms = Seq(0L, 1L, 2L, 3L, 46341L, 3037000500L, Int.MaxValue.toLong - 1, Int.MaxValue.toLong)
    val work = spark.createDataFrame(ms.map(Tuple1(_))).toDF("m")
      .select(col("m"), Dedup.pairWork(col("m"), Int.MaxValue).as("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ms.foreach { m =>
      val want = if (m <= Int.MaxValue) (BigInt(m) * (m - 1) / 2).toLong else 0L
      assert(work(m) == want, s"pairWork($m)")
    }
  }
}
