package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge

/** The localCheckpoint statistics defect, pinned as a regression test:
  * `Dataset.localCheckpoint` carries the origin plan's Statistics onto
  * its LogicalRDD, so an iterative frame joined against its own
  * previous checkpoint SQUARES the inherited sizeInBytes BigInt every
  * round — bit-length doubles per iteration until stats arithmetic
  * dominates wall time and finally `BigInteger would overflow
  * supported range`. The fresh-stats variant must keep the estimate
  * bounded forever.
  */
class CheckpointBridgeSpec extends SparkSpec {
  import spark.implicits._

  private def bits(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength

  test("fresh-stats checkpoint keeps sizeInBytes bounded across self-join rounds") {
    var cur = Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
    val b0 = bits(cur)
    for (_ <- 1 to 12) {
      // the pageRank-delta shape: next references the previous
      // checkpoint TWICE (join of a derived frame back onto it)
      val next = cur.as("n").join(cur.as("o"), Seq("id"))
        .select(col("id"), (col("n.v") + col("o.v")).as("v"))
      cur = CheckpointBridge.localCheckpointFreshStats(next)
    }
    val bN = bits(cur)
    assert(bN <= 64,
      s"fresh-stats checkpoint must reset the estimate each round: $b0 -> $bN bits")
    // and the data survived the round-trips
    assert(cur.orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
  }

  test("localCheckpointOver frees the shared frame's cache, also when the job fails") {
    import org.apache.spark.storage.StorageLevel
    val shared = spark.range(100).select((col("id") % 7).as("k")).distinct()
    val out = CheckpointBridge.localCheckpointOver(shared)(_.filter(col("k") > 0))
    assert(shared.storageLevel == StorageLevel.NONE, "cache freed after the checkpoint job")
    assert(out.count() == 6, "the checkpointed rows outlive the cache")
    intercept[Exception](CheckpointBridge.localCheckpointOver(shared)(
      _.select(assert_true(col("k") < 0))))
    assert(shared.storageLevel == StorageLevel.NONE, "a failed job leaves no cache pinned")
  }

  test("plain localCheckpoint demonstrates the squaring (sanity for the fix's premise)") {
    var cur = Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
    for (_ <- 1 to 6) {
      val next = cur.as("n").join(cur.as("o"), Seq("id"))
        .select(col("id"), (col("n.v") + col("o.v")).as("v"))
      cur = next.localCheckpoint(eager = true)
    }
    // 6 squaring rounds from a ~tens-of-bits base blows far past any
    // real size; if Spark ever stops propagating origin stats this
    // canary flips and the bridge can be retired
    assert(bits(cur) > 200,
      s"expected inherited-stats growth, got ${bits(cur)} bits — " +
        "localCheckpoint behavior changed; CheckpointBridge may be removable")
  }
}
