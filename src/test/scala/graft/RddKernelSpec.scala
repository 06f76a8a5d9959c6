package graft

import scala.util.Random

import org.apache.spark.rdd.RDD

import graft.operators.RddKernel
import graft.operators.RddKernel.{Block, FlushEntries}

/** The block layer the three RDD kernels cache and shuffle through:
  * `combine` must equal `combineByKey`, `ship` must equal
  * `partitionBy`, `hold` must cache one block per partition, and
  * `close` must leave no cache behind.
  */
class RddKernelSpec extends SparkSpec {

  private def kernel() = new RddKernel(spark.range(1).toDF("id"), "id", "RddKernelSpec") {}

  /** `n` random (key, value) pairs over `parts` partitions: keys repeat,
    * every third partition is empty, and key 42 is in every non-empty one. */
  private def pairs(n: Int, parts: Int, keys: Int, seed: Long): RDD[(Long, Long)] =
    spark.sparkContext.parallelize(0 until parts, parts).mapPartitionsWithIndex { (p, _) =>
      val r = new Random(seed + p)
      if (p % 3 == 1) Iterator.empty
      else Iterator((42L, r.nextInt(100).toLong)) ++
        Iterator.fill(n / parts)((r.nextInt(keys).toLong, r.nextInt(1000).toLong))
    }

  /** (key, its partition under the kernel partitioner) holds for every record. */
  private def keyed[K, V](rdd: RDD[(K, V)], k: RddKernel): Boolean = {
    val part = k.partitioner
    rdd.mapPartitionsWithIndex { (p, it) =>
      Iterator.single(it.forall { case (key, _) => part.getPartition(key) == p })
    }.collect().forall(identity)
  }

  test("combine equals combineByKey: duplicate keys, empty partitions, a key in every partition") {
    val k = kernel()
    try {
      for (seed <- 1L to 3L) {
        val in = pairs(5000, 7, keys = 300, seed)
        // (count, sum, min): a combiner whose merge is not its add
        val got = k.combine(in)((v: Long) => (1L, v, v),
          (c: (Long, Long, Long), v: Long) => (c._1 + 1, c._2 + v, math.min(c._3, v)),
          (a: (Long, Long, Long), b: (Long, Long, Long)) => (a._1 + b._1, a._2 + b._2, math.min(a._3, b._3)))
        val want = in.combineByKey((v: Long) => (1L, v, v),
          (c: (Long, Long, Long), v: Long) => (c._1 + 1, c._2 + v, math.min(c._3, v)),
          (a: (Long, Long, Long), b: (Long, Long, Long)) => (a._1 + b._1, a._2 + b._2, math.min(a._3, b._3)))
        val g = got.collect()
        assert(g.length == g.map(_._1).distinct.length, "one record per key")
        assert(g.toMap == want.collect().toMap, s"seed $seed")
        assert(got.partitioner.contains(k.partitioner), "the result advertises the kernel partitioner")
        assert(keyed(got, k), "every key sits in its partition")
      }
    } finally k.close()
  }

  test("combine equals combineByKey on non-long keys and past the flush bound") {
    val k = kernel()
    try {
      // 5 × FlushEntries distinct keys in one map partition: more than
      // FlushEntries for each of the four reduce partitions
      val n = 5 * FlushEntries
      val in = spark.sparkContext.parallelize(0 until n, 1).flatMap(i =>
        Iterator(((i % 7, s"k$i"), i.toLong), ((i % 7, s"k$i"), 1L)))
      val got = k.combine(in)((v: Long) => v, (c: Long, v: Long) => c + v, (a: Long, b: Long) => a + b)
      val want = in.reduceByKey(_ + _)
      assert(got.collect().toMap == want.collect().toMap)
      assert(got.partitioner.contains(k.partitioner) && keyed(got, k))
      // the map side shipped more than one block to some reduce partition,
      // none above the bound
      val shuffle = got.dependencies.head.rdd.dependencies.head
        .asInstanceOf[org.apache.spark.ShuffleDependency[_, _, _]]
      val sizes = shuffle.rdd.map { case (p: Int, b: Block[_, _]) => (p, b.size) }.collect()
      assert(sizes.forall(_._2 <= FlushEntries), "no block above the flush bound")
      assert(sizes.groupBy(_._1).exists(_._2.length > 1), "a full outbox flushed mid-partition")
    } finally k.close()
  }

  test("ship moves every record to its key's partition, as partitionBy does") {
    val k = kernel()
    try {
      val in = pairs(4000, 5, keys = 50, seed = 9L)
      val got = k.ship(in)
      assert(got.collect().sorted.toSeq == in.partitionBy(k.partitioner).collect().sorted.toSeq)
      assert(got.partitioner.contains(k.partitioner) && keyed(got, k))
      assert(k.ship(got) eq got, "an RDD already under the partitioner does not move")
    } finally k.close()
  }

  test("hold caches exactly one block per partition and reads back the same records") {
    val k = kernel()
    try {
      val in = k.ship(pairs(3000, 6, keys = 500, seed = 4L))
      val view = k.hold(in)
      assert(view.partitioner.contains(k.partitioner), "the view keeps the partitioner")
      assert(view.collect().sorted.toSeq == in.collect().sorted.toSeq)
      val blocks = view.dependencies.head.rdd
      val info = spark.sparkContext.getRDDStorageInfo.find(_.id == blocks.id)
      assert(info.exists(_.numCachedPartitions == in.getNumPartitions), s"cached blocks: $info")
      val perPartition = blocks.mapPartitions(it => Iterator.single(it.size)).collect()
      assert(perPartition.toSeq == Seq.fill(in.getNumPartitions)(1), "one element per cached partition")
      assert(blocks.collect().forall(_.isInstanceOf[Block[_, _]]))
      val b = blocks.collect().head.asInstanceOf[Block[_, _]]
      assert(b.keys.isInstanceOf[Array[Long]] && b.values.isInstanceOf[Array[Long]],
        "long keys and values are primitive arrays")
    } finally k.close()
  }

  test("close leaves no RDD of the kernel persisted") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val k = kernel()
    val a = k.hold(pairs(1000, 4, keys = 100, seed = 2L))
    val b = k.hold(k.combine(a)((v: Long) => v, (c: Long, v: Long) => c + v, (x: Long, y: Long) => x + y))
    k.checkpoint(b)
    b.count()
    val c = k.hold(b.mapValues(_ + 1))
    c.count()
    k.release(a)
    def kernels = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(kernels.size == 2, "b's and c's blocks are held")
    k.close()
    assert(kernels.isEmpty, s"persisted after close: $kernels")
  }
}
