package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.{rd, t, events}
import graft.functions.MathFunctions.roundToSql
import graft.functions.PipelineFunctions
import graft.operators.TextAnalysis

/** The pipeline's own operations as queries (`i_*`): key synthesis,
  * hashing, the done-set anti-join, shard statistics and the filters
  * the download path applies. */
object PipelineQueries {

  val specs: Seq[QuerySpec] = Seq(
    // ---- img2dataset-surface operators (SURVEY §2) ----
    QuerySpec("i_t2_key_synthesis")((s, dir) => {
      // distributed global index: two-pass prefix COUNT in sort order
      // (TextAnalysis.runningSum) — not a single-partition window
      val base = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber")
        .withColumn("__one", lit(1L))
      TextAnalysis.runningSum(base, Seq("l_orderkey", "l_linenumber"), "__one", "__rn")
        .withColumn("idx", col("__rn") - 1)
        .withColumn("shard_id", PipelineFunctions.shardId(col("idx"), 1000))
        .withColumn("key", PipelineFunctions.computeKey(
          col("shard_id"), col("idx") - col("shard_id") * 1000, 3, 5))
        .withColumn("shard_name", PipelineFunctions.shardName(col("shard_id")))
        .select("l_orderkey", "l_linenumber", "shard_id", "key", "shard_name")
        .orderBy("l_orderkey", "l_linenumber")
    })(
      """WITH t AS (SELECT l_orderkey, l_linenumber,
           CAST(row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS BIGINT) - 1 AS idx
         FROM lineitem)
         SELECT l_orderkey, l_linenumber,
           CAST(floor(idx / 1000) AS BIGINT) AS shard_id,
           lpad(CAST(CAST(floor(idx / 1000) AS BIGINT) * 1000 +
             (idx - CAST(floor(idx / 1000) AS BIGINT) * 1000) AS VARCHAR), 8, '0') AS key,
           lpad(CAST(CAST(floor(idx / 1000) AS BIGINT) AS VARCHAR), 5, '0') AS shard_name
         FROM t ORDER BY l_orderkey, l_linenumber"""),
    QuerySpec("i_t12_hash")((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"), md5(col("text")).as("md5_hex"), sha2(col("text"), 256).as("sha256_hex"))
        .orderBy("doc_id")
    })(
      """SELECT doc_id, md5(text) AS md5_hex, sha256(text) AS sha256_hex
         FROM documents ORDER BY doc_id"""),
    QuerySpec("i_f2_hash_verify")((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), md5(col("text")).as("computed"),
          when(col("doc_id") % 2 === 0, md5(col("text"))).otherwise(lit("0" * 32)).as("expected"))
        .withColumn("status", when(col("computed") === col("expected"), "success").otherwise("hash_mismatch"))
        .orderBy("doc_id")
    })(
      """SELECT doc_id, md5(text) AS computed,
         CASE WHEN doc_id % 2 = 0 THEN md5(text) ELSE repeat('0', 32) END AS expected,
         CASE WHEN md5(text) = (CASE WHEN doc_id % 2 = 0 THEN md5(text) ELSE repeat('0', 32) END)
           THEN 'success' ELSE 'hash_mismatch' END AS status
         FROM documents ORDER BY doc_id"""),
    QuerySpec("i_f6_done_anti")((s, dir) => {
      val shards = t(s, dir, "lineitem")
        .select(floor(col("l_orderkey") / 1000).cast("long").as("shard_id")).distinct()
      val done = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(floor(col("o_orderkey") / 1000).cast("long").as("shard_id")).distinct()
      shards.join(done, Seq("shard_id"), "left_anti").orderBy("shard_id")
    })(
      """SELECT DISTINCT CAST(floor(l_orderkey / 1000) AS BIGINT) AS shard_id FROM lineitem
         EXCEPT
         SELECT DISTINCT CAST(floor(o_orderkey / 1000) AS BIGINT) FROM orders WHERE o_orderstatus = 'F'
         ORDER BY shard_id"""),
    QuerySpec("i_a1_shard_stats")((s, dir) => {
      t(s, dir, "orders")
        .withColumn("shard_id", floor(col("o_orderkey") / 1000).cast("long"))
        .groupBy("shard_id")
        .agg(count("*").as("count"),
             sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("successes"))
        .withColumn("success_rate", rd(col("successes").cast("double") / col("count"), 6))
        .orderBy("shard_id")
    })(
      s"""SELECT CAST(floor(o_orderkey / 1000) AS BIGINT) AS shard_id,
         count(*) AS count,
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS successes,
         ${roundToSql("CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS success_rate
         FROM orders GROUP BY shard_id ORDER BY shard_id"""),
    QuerySpec("i_a2_capped_counter")((s, dir) => {
      // A2: the reference's memory-capped error counter as a native
      // TypedImperativeAggregate. Cap far above the key count here, so
      // the sketch is exact and oracle-checkable; the trim path is
      // covered by CappedCounterSpec.
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(to_json(graft.plans.CappedCounter.cappedCounter(col("o_orderpriority"), 1000))
          .as("priority_counts"))
        .orderBy("o_orderstatus")
    })(
      """SELECT o_orderstatus,
         '{' || string_agg('"' || o_orderpriority || '":' || n, ',' ORDER BY n DESC, o_orderpriority) || '}' AS priority_counts
         FROM (SELECT o_orderstatus, o_orderpriority, count(*) AS n
               FROM orders GROUP BY o_orderstatus, o_orderpriority)
         GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
    QuerySpec("i_a3_topk")((s, dir) => {
      t(s, dir, "documents").groupBy("source").agg(count("*").as("n"))
        .orderBy(col("n").desc, col("source").asc).limit(3)
    })(
      """SELECT source, count(*) AS n FROM documents GROUP BY source
         ORDER BY n DESC, source ASC LIMIT 3"""),
    QuerySpec("i_a6_global_stats")((s, dir) => {
      events(s, dir).agg(
        count("*").as("n"),
        min(expr("ts_us div 1000")).as("start_ms"),
        max(expr("ts_us div 1000")).as("end_ms"))
        .withColumn("duration_ms", col("end_ms") - col("start_ms"))
        .withColumn("rate_per_sec", rd(col("n") * 1000.0 / col("duration_ms"), 6))
    })(
      s"""SELECT count(*) AS n, min(epoch_ms(ts)) AS start_ms, max(epoch_ms(ts)) AS end_ms,
         max(epoch_ms(ts)) - min(epoch_ms(ts)) AS duration_ms,
         ${roundToSql("count(*) * 1000.0 / (max(epoch_ms(ts)) - min(epoch_ms(ts)))", 6)} AS rate_per_sec
         FROM events"""),
    QuerySpec("i_p1_projection")((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey").as("orderkey"), col("l_linenumber").as("line"),
                col("l_extendedprice").as("price"))
        .orderBy("orderkey", "line")
    })(
      """SELECT l_orderkey AS orderkey, l_linenumber AS line, l_extendedprice AS price
         FROM lineitem ORDER BY orderkey, line"""),
    QuerySpec("i_f3_size_filters")((s, dir) => {
      // F3/F4/F5 size-filter semantics (resizer.py:162-168) over
      // synthesized integer dimensions — tag, don't drop.
      t(s, dir, "part").select(col("p_partkey"),
          (col("p_partkey") * 37 % 1000 + 32).cast("int").as("width"),
          (col("p_partkey") * 61 % 1000 + 32).cast("int").as("height"))
        .withColumn("status",
          when(least(col("width"), col("height")) < 64, "image too small")
          .when(col("width") * col("height") > 640000, "image area too large")
          .when(greatest(col("width"), col("height")).cast("double") /
                least(col("width"), col("height")) > 3.0, "aspect ratio too large")
          .otherwise("success"))
        .orderBy("p_partkey")
    })(
      """WITH d AS (SELECT p_partkey,
           CAST(p_partkey * 37 % 1000 + 32 AS INTEGER) AS width,
           CAST(p_partkey * 61 % 1000 + 32 AS INTEGER) AS height
         FROM part)
         SELECT p_partkey, width, height,
           CASE WHEN least(width, height) < 64 THEN 'image too small'
                WHEN width * height > 640000 THEN 'image area too large'
                WHEN CAST(greatest(width, height) AS DOUBLE) / least(width, height) > 3.0
                  THEN 'aspect ratio too large'
                ELSE 'success' END AS status
         FROM d ORDER BY p_partkey""")
  )
}
