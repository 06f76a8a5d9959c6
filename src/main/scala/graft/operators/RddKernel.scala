package graft.operators

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** What the co-partitioned RDD kernels ([[Dedup.MinhashKernel]],
  * [[Similarity.KnnKernel]], [[Graphs.NodeKernel]]) share: one
  * `HashPartitioner(spark.sql.shuffle.partitions)` for every shuffle,
  * ids read as longs from an integral id column and written back in
  * that column's type, and the block layer every kernel caches and
  * shuffles through.
  *
  * Blocks: a kernel never caches or shuffles one object per record.
  * [[hold]] caches a partition as ONE [[RddKernel.Block]] (a key array
  * and a value array, primitive where the type is), so Spark's
  * `SizeEstimator` samples a few arrays per partition instead of
  * walking every record's object graph. [[combine]] and [[ship]] send
  * one block per (map partition, reduce partition) pair through a
  * plain `partitionBy`: no `Aggregator`, so Spark's size-tracking
  * aggregation maps never run and the shuffle takes the bypass-merge
  * writer. `what` names the operator in the id-type error.
  */
private[graft] abstract class RddKernel(df: DataFrame, idCol: String, what: String) {
  import RddKernel._

  protected val spark = df.sparkSession
  // the block RDD behind each held view, by the view's id
  private val held = mutable.LinkedHashMap.empty[Int, RDD[_]]

  val partitioner = new HashPartitioner(spark.sessionState.conf.numShufflePartitions)

  /** The input id column (type and nullability of every output id). */
  protected val idField: StructField = {
    val f = df.select(col(idCol)).schema.head
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType),
      s"$what reads ids as longs: id column '$idCol' must be an integral type, " +
        s"got ${f.dataType.simpleString}")
    f
  }

  /** A kernel id back in the id column's type. */
  protected val idOut: Long => Any = idField.dataType match {
    case ByteType => _.toByte
    case ShortType => _.toShort
    case IntegerType => _.toInt
    case _ => (id: Long) => id
  }

  /** Caches `rdd` until [[close]] as one block per partition and
    * returns a view of the same records under the same partitioner. */
  def hold[K: ClassTag, V: ClassTag](rdd: RDD[(K, V)]): RDD[(K, V)] = {
    val blocks = rdd.mapPartitions(it => Iterator.single(Block(it)), preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val view = blocks.mapPartitions(_.flatMap(_.iterator), preservesPartitioning = true)
    held.synchronized(held(view.id) = blocks)
    view
  }

  /** Local-checkpoints the blocks behind a [[hold]] view: the next job
    * that reads the view cuts its lineage there. */
  def checkpoint(view: RDD[_]): Unit = held.synchronized(held(view.id)).localCheckpoint()

  /** Drops one [[hold]] cache before [[close]]. */
  def release(view: RDD[_]): Unit =
    held.synchronized(held.remove(view.id)).foreach(_.unpersist(blocking = false))

  def close(): Unit = held.synchronized {
    held.values.foreach(_.unpersist(blocking = false))
    held.clear()
  }

  /** `pairs` combined per key, as `combineByKey` under [[partitioner]]
    * would: each map task combines per target partition and ships a
    * block of (key, combiner) entries once it holds [[FlushEntries]]
    * keys and at the end of its partition; each reduce task merges
    * the blocks it receives with `merge`. The result advertises
    * [[partitioner]], so co-partitioned zips with it stay narrow. */
  def combine[K: ClassTag, V, C: ClassTag](pairs: RDD[(K, V)])(
      create: V => C, add: (C, V) => C, merge: (C, C) => C): RDD[(K, C)] = {
    val part = partitioner
    pairs.mapPartitions(packed(_, part, () => new Combines[K, V, C](create, add)))
      .setName(CombineBlocks)
      .partitionBy(part)
      .mapPartitions(merged(_, merge), preservesPartitioning = true)
  }

  /** `pairs` moved to their key's partition under [[partitioner]],
    * uncombined, in blocks of at most [[FlushEntries]] records per
    * (map, reduce) pair; an RDD already under it is returned as is. */
  def ship[K: ClassTag, V: ClassTag](pairs: RDD[(K, V)]): RDD[(K, V)] =
    if (pairs.partitioner.contains(partitioner)) pairs
    else {
      val part = partitioner
      pairs.mapPartitions(packed(_, part, () => new Appends[K, V]))
        .setName(ShipBlocks)
        .partitionBy(part)
        .mapPartitions(_.flatMap(_._2.iterator), preservesPartitioning = true)
    }
}

private[graft] object RddKernel {

  /** Entries a map task buffers per target partition before it ships
    * them as a block: a map task holds at most partitions × this. */
  val FlushEntries: Int = 1 << 15

  /** Names of the RDDs that write [[RddKernel.combine]]'s and
    * [[RddKernel.ship]]'s blocks into their shuffle. */
  val CombineBlocks = "RddKernel.combine"
  val ShipBlocks = "RddKernel.ship"

  /** Records as a key array and a value array (primitive arrays for
    * primitive types): one cached partition, or one shuffle record. */
  final class Block[K, V](val keys: Array[K], val values: Array[V]) extends Serializable {
    def size: Int = keys.length
    def iterator: Iterator[(K, V)] = Iterator.tabulate(keys.length)(i => (keys(i), values(i)))
  }

  object Block {
    def apply[K: ClassTag, V: ClassTag](records: Iterator[(K, V)]): Block[K, V] = {
      val ks = mutable.ArrayBuilder.make[K]
      val vs = mutable.ArrayBuilder.make[V]
      records.foreach { case (k, v) => ks += k; vs += v }
      new Block(ks.result(), vs.result())
    }
  }

  /** A map task's buffer for one target partition. */
  private abstract class Outbox[K, V, W] {
    def size: Int
    /** Adds a record; returns the entries held after it. */
    def put(k: K, v: V): Int
    /** The held entries as a block; the outbox is empty after it. */
    def seal(): Block[K, W]
  }

  private final class Appends[K: ClassTag, V: ClassTag] extends Outbox[K, V, V] {
    private var ks = mutable.ArrayBuilder.make[K]
    private var vs = mutable.ArrayBuilder.make[V]
    private var n = 0
    def size: Int = n
    def put(k: K, v: V): Int = { ks += k; vs += v; n += 1; n }
    def seal(): Block[K, V] = {
      val b = new Block(ks.result(), vs.result())
      ks = mutable.ArrayBuilder.make[K]
      vs = mutable.ArrayBuilder.make[V]
      n = 0
      b
    }
  }

  private final class Combines[K: ClassTag, V, C: ClassTag](create: V => C, add: (C, V) => C)
      extends Outbox[K, V, C] {
    private var byKey = keyMap[K, C]
    def size: Int = byKey.size
    def put(k: K, v: V): Int = {
      byKey(k) = byKey.get(k).fold(create(v))(add(_, v))
      byKey.size
    }
    def seal(): Block[K, C] = {
      val b = Block(byKey.iterator)
      byKey = keyMap[K, C]
      b
    }
  }

  /** A `LongMap` for long keys, a hash map otherwise. */
  private def keyMap[K, C](implicit kt: ClassTag[K]): mutable.Map[K, C] =
    if (kt == ClassTag.Long) mutable.LongMap.empty[C].asInstanceOf[mutable.Map[K, C]]
    else mutable.HashMap.empty[K, C]

  /** Map side of a block shuffle: (target partition, block) records. */
  private def packed[K, V, W](in: Iterator[(K, V)], part: Partitioner,
      outbox: () => Outbox[K, V, W]): Iterator[(Int, Block[K, W])] = {
    val boxes = Array.fill(part.numPartitions)(outbox())
    in.flatMap { case (k, v) =>
      val p = part.getPartition(k)
      if (boxes(p).put(k, v) < FlushEntries) Iterator.empty else Iterator.single((p, boxes(p).seal()))
    } ++ boxes.indices.iterator.filter(boxes(_).size > 0).map(p => (p, boxes(p).seal()))
  }

  /** Reduce side of [[RddKernel.combine]]: every block entry merged
    * into its key's combiner. */
  private def merged[K: ClassTag, C](blocks: Iterator[(Int, Block[K, C])],
      merge: (C, C) => C): Iterator[(K, C)] = {
    val byKey = keyMap[K, C]
    blocks.foreach(_._2.iterator.foreach { case (k, c) => byKey(k) = byKey.get(k).fold(c)(merge(_, c)) })
    byKey.iterator
  }
}
