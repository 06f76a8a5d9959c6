package graft.operators

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** What the co-partitioned RDD kernels ([[Dedup.MinhashKernel]],
  * [[Similarity.KnnKernel]], [[Graphs.NodeKernel]]) share: one
  * `HashPartitioner(spark.sql.shuffle.partitions)` for every shuffle,
  * ids read as longs from an integral id column and written back in
  * that column's type, and the caches a kernel holds until [[close]].
  * `what` names the operator in the id-type error.
  */
private[graft] abstract class RddKernel(df: DataFrame, idCol: String, what: String) {
  protected val spark = df.sparkSession
  private val held = mutable.ArrayBuffer.empty[RDD[_]]

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

  /** Caches `rdd` until [[close]]. */
  def hold[T](rdd: RDD[T]): RDD[T] = {
    held.synchronized(held += rdd)
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Drops one cache before [[close]]. */
  def release(rdd: RDD[_]): Unit = {
    held.synchronized(held -= rdd)
    rdd.unpersist(blocking = false)
  }

  def close(): Unit = held.synchronized(held.foreach(_.unpersist(blocking = false)))
}
