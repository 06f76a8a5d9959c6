package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Stat-resetting eager local checkpoints.
  *
  * `Dataset.localCheckpoint` truncates the LOGICAL plan but
  * deliberately carries the origin plan's `Statistics` onto the
  * replacement `LogicalRDD`. A plan that joins such a frame with
  * itself (or with a frame derived from it) multiplies the carried
  * `sizeInBytes` under the default size-only estimator; chained
  * rounds of that square it every round until plan-stats arithmetic
  * dominates wall time and `BigInteger` finally throws `would overflow
  * supported range` (~3×/round growth measured on a 3-node graph by
  * round 20, when the graph loops were SQL plans).
  *
  * [[localCheckpointFreshStats]] materializes the frame with a plain
  * eager `localCheckpoint`, then rebuilds a DataFrame over the SAME
  * checkpointed `InternalRow` RDD (zero copy, zero re-encode) via
  * `internalCreateDataFrame` — whose `LogicalRDD` carries NO origin
  * stats, so a consumer plans from the default size estimate, which
  * also keeps the optimizer from broadcasting a data-sized frame.
  * [[localCheckpointRows]] does the same for rows an RDD kernel
  * computed, and [[localCheckpointOver]] for a result built over a
  * frame that several branches read, cached for the checkpoint job
  * only.
  *
  * Lives under `org.apache.spark.sql` solely to reach the
  * `private[sql]` `internalCreateDataFrame`.
  */
object CheckpointBridge {
  def localCheckpointFreshStats(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(eager = true)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val classic = ck.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.internalCreateDataFrame(ck.queryExecution.toRdd, ck.schema)
  }

  /** `build(shared)` checkpointed by [[localCheckpointFreshStats]],
    * with `shared` cached for that one job and freed after it, also
    * when the job fails. Without the cache, branches that column-prune
    * `shared` differently stop sharing one exchange (ReuseExchange
    * misses) and each re-runs the subtree under it.
    */
  def localCheckpointOver(shared: DataFrame)(build: DataFrame => DataFrame): DataFrame = {
    val cached = shared.persist()
    try localCheckpointFreshStats(build(cached))
    finally cached.unpersist()
  }

  /** A frame over an RDD of rows, materialized the way
    * [[localCheckpointFreshStats]] materializes a frame: ONE job
    * local-checkpoints each partition's rows as one array, and the
    * returned frame scans the checkpointed arrays with fresh stats —
    * for results computed by an RDD kernel rather than a SQL plan.
    * The rows must be distinct objects (no reused row buffer).
    */
  def localCheckpointRows(spark: SparkSession, rows: RDD[InternalRow],
                          schema: StructType): DataFrame = {
    val parts = rows.mapPartitions(it => Iterator.single(it.toArray))
    parts.localCheckpoint()
    parts.count()
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(parts.mapPartitions(_.flatMap(_.iterator)), schema)
  }
}
