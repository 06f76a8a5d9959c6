package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.QuerySpec

/** sf1 (10×) scale tier for the heavy queries — the check the 60 s
  * sf0.1 [[SmokeGate]] cannot do: a per-query budget catches
  * constant-factor bombs, but SUPERLINEAR creep (an uncapped bucket
  * quietly going quadratic) only shows against a second scale point.
  *
  * Synthesizes a 10× dataset from `args(0)` (normally sf0.1) into
  * `args(1)`:
  *  - `documents`: 10 copies, every token suffixed `_k` per copy k and
  *    doc_ids shifted by k·10⁷ — copies share ZERO shingles, so the
  *    true dup/pair structure scales exactly 10× and a wall-clock
  *    ratio ≫ 10 can only be superlinear plan behavior (same
  *    construction as StressSpec, here persisted so the scan cost is
  *    real parquet IO, not an in-memory union);
  *  - `embeddings`: 10 copies, vec_ids shifted, each dim perturbed by
  *    a small per-copy deterministic offset so hyperplane buckets
  *    don't degenerate into pure duplicate stacks;
  *  - every other table copied as-is (schema parity so any query can
  *    run; only documents/embeddings-driven queries are graded).
  *
  * Then times each `Scale10x`-tagged query (the heaviest sf0.1 bench
  * queries driven by the tables this tier scales; queries reading the
  * TPC-H tables would measure a 1× ratio and are left to SmokeGate)
  * once at 1× (after a warm-up) and once at 10× (noop sink, full
  * materialization, per-query wall budget with job-group cancel), and
  * grades the t10/t1 ratio against `maxRatio` (default 16 ≈ 10× rows with log
  * headroom for O(n log n) shapes and round growth). The two EXACT
  * all-pairs recall oracles (dedup_embed_cosine, and
  * dedup_ngram_jaccard's cross-copy behavior is linear here by
  * construction) are deliberately excluded/fenced — their quadratic
  * cost is a documented contract, enforced by
  * `Dedup.requireOracleScale`.
  *
  * Prints per-query `sec@1x sec@10x ratio` plus one trailing JSON
  * line; exit 1 on any breach/timeout/error.
  *
  * Usage: sbt "runMain graft.tools.ScaleSmoke /root/testdata/sf0.1 /tmp/graft_sf1 [maxRatio] [timeoutSec]"
  */
object ScaleSmoke {

  /** Build the `factor`× dir (default 10 — the committed tier;
    * [[ScaleCurve]] reuses it for 30× spot checks). Idempotency is
    * gated on a COMPLETION marker
    * written after every table lands — a crashed partial build (or a
    * manually pruned dir) rebuilds instead of being silently reused
    * with missing tables. Delete the dir after changing the generator.
    */
  def buildScaledDir(spark: SparkSession, baseDir: String, outDir: String,
                     factor: Int = 10): Unit = {
    val out = new java.io.File(outDir)
    val marker = new java.io.File(out, "_GRAFT_SCALED_COMPLETE")
    if (marker.exists()) return
    if (out.exists()) { // partial build from a crashed run: start clean
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(out)
    }
    out.mkdirs()
    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    (0 until factor).map { k =>
      docs.select(
        (col("doc_id") + lit(k * 10000000L)).as("doc_id"),
        array_join(
          transform(split(col("text"), " "), w => concat(w, lit(s"_$k"))), " ").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ union _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
    (0 until factor).map { k =>
      emb.select(
        (col("vec_id") + lit(k * 10000000L)).as("vec_id"),
        transform(col("embedding"),
          (x, j) => (x + (((lit(k) * 31 + j) % 7) - 3).cast("float") * lit(0.001f))
            .cast("float")).as("embedding"),
        col("label"))
    }.reduce(_ union _)
      .repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    // events ×10 on the USER axis: same per-user event sequence and
    // calendar span, 10× distinct users — the realistic growth axis
    // (per-user density growth would instead hit the bounded-state
    // contracts those operators already spec). `ts` may ship as
    // TIMESTAMP(NANOS); the legacy conf reads it as a raw long and the
    // rewritten long column round-trips through SparkEntry.events'
    // LongType normalization branch.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$baseDir/events.parquet")
    (0 until factor).map { k =>
      ev.select((col("event_id") + lit(k * 100000000L)).as("event_id"),
        col("ts"), (col("user_id") + lit(k * 10000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ union _)
      .repartition(16)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    // remaining tables: byte-copy (recursive — partitioned parquet
    // dirs copy their whole tree, not one level) for schema parity
    def copyTree(src: java.io.File, dst: java.io.File): Unit =
      if (src.isDirectory) {
        dst.mkdirs()
        src.listFiles().foreach(p => copyTree(p, new java.io.File(dst, p.getName)))
      } else java.nio.file.Files.copy(src.toPath, dst.toPath)
    val base = new java.io.File(baseDir)
    base.listFiles().filter(f => f.getName.endsWith(".parquet") &&
        f.getName != "documents.parquet" && f.getName != "embeddings.parquet" &&
        f.getName != "events.parquet")
      .foreach(f => copyTree(f, new java.io.File(out, f.getName)))
    marker.createNewFile()
  }

  private def timedRun(spark: SparkSession, name: String, fn: (SparkSession, String) => DataFrame,
                       dir: String, timeoutSec: Int): (Double, String) =
    QueryRunner.runWithBudget(spark, s"scale-$name-${dir.hashCode}", name, timeoutSec, "scale") {
      fn(spark, dir).write.format("noop").mode("overwrite").save()
    }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleSmoke <sf0.1 dir> <scaled out dir> [maxRatio] [timeoutSec]")
    val baseDir = args(0)
    val outDir = args(1)
    val maxRatio = if (args.length > 2) args(2).toDouble else 16.0
    val timeoutSec = if (args.length > 3) args(3).toInt else 300
    val only = QuerySpec.only
    val spark = LocalSession()

    buildScaledDir(spark, baseDir, outDir)

    val queries = graft.SparkEntry.queries
    val rows = QuerySpec.tagged(QuerySpec.Scale10x)
      .filter(n => only.forall(_.contains(n)))
      .map { name =>
        val fn = queries(name)
        timedRun(spark, name, fn, baseDir, timeoutSec) // warm-up: JIT + codegen
        val (t1, s1) = timedRun(spark, name, fn, baseDir, timeoutSec)
        val (t10, s10) = timedRun(spark, name, fn, outDir, timeoutSec)
        val ratio = if (t1 > 0) t10 / t1 else Double.PositiveInfinity
        val status =
          if (s1 != "ok") s1
          else if (s10 != "ok") s10
          // sub-second 1× times are dominated by fixed plan/setup cost;
          // grade those on the 10× absolute instead of a noisy ratio
          else if (ratio > maxRatio && t1 >= 0.5) "SUPERLINEAR"
          else if (t1 < 0.5 && t10 > maxRatio * 0.5) "SUPERLINEAR"
          else "ok"
        println(f"[scale] $name%-28s 1x ${t1}%7.2f s   10x ${t10}%7.2f s   ratio ${ratio}%6.2f  $status")
        (name, t1, t10, ratio, status)
      }
    val bad = rows.filter(_._5 != "ok")
    val json = rows.map { case (n, t1, t10, r, st) =>
      s""""$n":{"sec_1x":${f"$t1%.2f"},"sec_10x":${f"$t10%.2f"},"ratio":${f"$r%.2f"},"status":"$st"}"""
    }.mkString("{", ",", "}")
    println(s"""{"scale_smoke":{"base":"$baseDir","scaled":"$outDir","max_ratio":$maxRatio,"breaches":${bad.size},"queries":$json}}""")
    spark.stop()
    if (bad.nonEmpty) {
      System.err.println(s"[scale] FAILED: ${bad.map(_._1).mkString(", ")}")
      sys.exit(1)
    }
  }
}
