package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.functions.MathFunctions.{roundTo, roundToSql}
import graft.operators.Dedup
import graft.queries.QuerySpec
import graft.queries.TpchQueries.joinMulti

/** Driver contract — the oracle-checked operator surface.
  *
  * The queries themselves are declared once each, as
  * [[graft.queries.QuerySpec]]s in the family files under
  * `graft/queries/`; `queries` and `oracleSql` are views of that
  * registry. This object keeps what the families share: the table
  * readers (`t`, `events`), the flagship `entry`, and the DuckDB SQL
  * fragments more than one family's oracles replay.
  */
object SparkEntry {

  private[graft] def rd(c: Column, d: Int): Column = roundTo(c, d)

  /** Parquet footer schemas per path — METADATA only, never rows.
    * Every bare `read.parquet` runs a footer-inference job (~60–150 ms
    * driver+scheduling, measured r15; `tools.Profile` splits it: 1 job per
    * `t()` call in BOTH bench passes — q4_join_multi paid five of
    * them per construction); passing the schema explicitly skips the
    * job while execution still scans the parquet data in full on
    * every invocation. This is the catalog pattern (production tables
    * carry their schema in a metastore; only this pathless-parquet
    * surface re-infers per read). Keyed by full path because the same
    * table name ships different physical layouts across sf dirs
    * (events.ts: TIMESTAMP(NANOS) vs (MICROS)), and valid only for the
    * path's modification stamp: a table rewritten at the same path is
    * re-inferred, never read with its old schema.
    */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, org.apache.spark.sql.types.StructType)]()

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val stamp = modificationStamp(s, path)
    val cached = schemaCache.get(path)
    if (cached != null && cached._1 == stamp) s.read.schema(cached._2).parquet(path)
    else {
      val df = s.read.parquet(path)
      schemaCache.put(path, (stamp, df.schema))
      df
    }
  }

  /** Latest modification time of a table path and its direct
    * children (a rewrite replaces the part files, and on object
    * stores a directory has no time of its own); -1 when absent. */
  private def modificationStamp(s: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    try fs.listStatus(p).foldLeft(fs.getFileStatus(p).getModificationTime)(
      (m, st) => math.max(m, st.getModificationTime))
    catch { case _: java.io.FileNotFoundException => -1L }
  }

  /** events.parquet's `ts` column has shipped in two physical forms:
    * TIMESTAMP(NANOS) (which Spark's reader only accepts as a raw long
    * via the legacy conf) and TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ).
    * Normalize both to the same two derived columns — `ts_us` (micros
    * since epoch, long) and `tstamp` (TimestampType) — so every query
    * downstream is layout-independent. The NTZ wall clock is
    * interpreted as UTC (session tz pinned here), matching DuckDB's
    * `epoch_ms`/`epoch_us` treatment of naive timestamps in the oracle.
    */
  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(s, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts_us", expr("ts div 1000"))
          .withColumn("tstamp", timestamp_micros(expr("ts div 1000")))
      case _ =>
        s.conf.set("spark.sql.session.timeZone", "UTC")
        raw.withColumn("tstamp", col("ts").cast("timestamp"))
          .withColumn("ts_us", unix_micros(col("tstamp")))
    }
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * Five-way star join: region ⋈ nation ⋈ customer ⋈ orders ⋈
    * lineitem with small dims broadcast.
    */
  def entry(spark: SparkSession): DataFrame =
    joinMulti(spark, "/root/testdata/sf0.001")

  /** DuckDB-side cosine with the exact same fold structure as
    * [[graft.functions.VectorFunctions.cosine]] so both engines produce
    * bit-identical doubles (sequential left fold, same op order).
    */
  private[graft] def duckCos(a: String, b: String): String = {
    def sq(v: String) = s"list_reduce(list_transform($v, x -> x*x), (x, y) -> x + y)"
    val dot = s"list_reduce(list_transform(range(1, len($a)+1), i -> $a[i]*$b[i]), (x, y) -> x + y)"
    s"(CASE WHEN sqrt(${sq(a)}) * sqrt(${sq(b)}) = 0 THEN 0.0 ELSE $dot / (sqrt(${sq(a)}) * sqrt(${sq(b)})) END)"
  }

  /** DuckDB replication of [[Dedup.portableHash60]]: first 15 hex
    * chars of md5 parsed as a 60-bit integer (fits BIGINT, < 2^60).
    * Under [[graft.config.PortableSalt]] the salt prefixes the md5
    * input, exactly as the Spark-side hash does — unsalted, the SQL
    * is byte-identical to the committed baseline's.
    */
  private[graft] def duckHex60(s: String): String = {
    val input =
      if (graft.config.PortableSalt.isDefault) s
      else s"'${graft.config.PortableSalt.hashPrefix}' || ($s)"
    s"list_reduce(list_transform(range(1, 16), i -> " +
    s"CAST(strpos('0123456789abcdef', substr(md5($input), CAST(i AS INTEGER), 1)) - 1 AS BIGINT)), " +
    s"(a, b) -> a * 16 + b)"
  }

  /** Shared DuckDB CTE chain replicating the FULL portable MinHash+LSH
    * pipeline (signature with the same baked (a,b) coefficient
    * literals, banding, bucket-size cap, exact-Jaccard verification).
    * Terminal CTE is `mh_ver(id_a, id_b, jac)` — threshold-free, so
    * both the pair query (>= 0.3) and the curation loser set (>= 0.5)
    * reuse it. `mh_`-prefixed names avoid collisions when composed
    * into larger oracle queries.
    */
  private[graft] def minhashLshCtes: String = minhashChain("mh_", "")

  /** The same chain with a caller-chosen CTE prefix and an optional
    * source predicate — lets one oracle query replay the pipeline over
    * SEVERAL document subsets (the incremental two-batch flow).
    */
  private[graft] def minhashChain(p: String, where: String): String = {
    val coeffs = Dedup.minhashCoeffs(128, Dedup.DefaultSeed)
      .map { case (a, b) => s"[$a,$b]" }.mkString("[", ",", "]")
    s"""${p}t AS (SELECT doc_id,
         regexp_split_to_array(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks
       FROM documents $where),
       ${p}sh AS (SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
           i -> array_to_string(toks[i:i+2], ' '))) AS shingles FROM ${p}t),
       ${p}hs AS (SELECT doc_id, shingles,
         list_transform(shingles, s -> ${duckHex60("s")}) AS hashes FROM ${p}sh),
       ${p}sg AS (SELECT doc_id, shingles,
         list_transform($coeffs,
           c -> list_min(list_transform(hashes,
             h -> (c[1] * (h % 2147483647) + c[2]) % 2147483647))) AS sig FROM ${p}hs),
       ${p}bk AS (SELECT doc_id, unnest(list_transform(range(0, 32), j ->
           {'band': j, 'key': array_to_string(sig[(j*4+1):(j*4+4)], '_')})) AS u FROM ${p}sg),
       ${p}buckets AS (SELECT doc_id, u.band AS band, u.key AS key FROM ${p}bk),
       ${p}ok AS (SELECT band, key FROM ${p}buckets GROUP BY band, key HAVING count(*) <= 1000),
       ${p}sized AS (SELECT b.doc_id, b.band, b.key FROM ${p}buckets b JOIN ${p}ok USING (band, key)),
       ${p}cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM ${p}sized a JOIN ${p}sized b USING (band, key) WHERE a.doc_id < b.doc_id),
       ${p}ver AS (SELECT id_a, id_b,
           CAST(len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS DOUBLE) AS jac
         FROM ${p}cand JOIN ${p}sh sa ON sa.doc_id = ${p}cand.id_a JOIN ${p}sh sb ON sb.doc_id = ${p}cand.id_b)"""
  }

  /** Seeded plane tables at an arbitrary key depth as one DuckDB
    * struct-list literal — the SQL twin of
    * `HyperplaneBuckets(randomPlanes(nPlanes, dim, seed + t))` with
    * the identical MSB-first sign-bit packing. Parameterized so the
    * recall-profile oracle can replay SEVERAL candidate depths in one
    * statement.
    */
  private[graft] def duckPlaneTablesFor(nPlanes: Int, nTables: Int = 8, dim: Int = 64): String =
    (0 until nTables).map { t =>
      val planes = Dedup.randomPlanes(nPlanes, dim, Dedup.DefaultSeed + t)
      val bits = planes.zipWithIndex.map { case (p, pi) =>
        val lits = p.map(_.toString).mkString("[", ",", "]")
        s"(CASE WHEN list_reduce(list_transform(range(1, ${dim + 1}), i -> v[i] * ($lits)[i]), (x, y) -> x + y) >= 0.0 " +
        s"THEN ${1L << (nPlanes - 1 - pi)} ELSE 0 END)"
      }.mkString(" + ")
      s"{'tbl': $t, 'key': ($bits)}"
    }.mkString("[", ", ", "]")

  /** The 8×8 seeded plane tables as one DuckDB struct-list literal —
    * shared by the embed-LSH and knn-graph oracles (same buckets).
    */
  private[graft] def duckPlaneTables: String = duckPlaneTablesFor(8)

  /** The 48-plane MSB-first sign-bit packing as one SQL expression
    * over a DOUBLE[] named `v` — shared by every oracle that replays
    * [[graft.plans.HyperplaneBuckets]] signatures (ann_hamming_topk,
    * dedup_hamming_pairs), so the plane literals and bit order cannot
    * drift between them.
    */
  private[graft] def signBits48Sql: String = {
    val planes = Dedup.randomPlanes(48, 64, Dedup.DefaultSeed)
    planes.zipWithIndex.map { case (p, pi) =>
      val lits = p.map(_.toString).mkString("[", ",", "]")
      s"(CASE WHEN list_reduce(list_transform(range(1, 65), i -> v[i] * ($lits)[i]), (x, y) -> x + y) >= 0.0 " +
      s"THEN ${1L << (47 - pi)} ELSE 0 END)"
    }.mkString(" + ")
  }

  private[graft] val enList = TextFunctions.enStopwords.mkString("['", "', '", "']")
  /** Shared quality-score SQL fragments — the formula and its inputs
    * live in ONE place for every oracle that scores quality
    * (txt_quality, txt_curation, txt_canonical); a drift between
    * copies would desynchronize an oracle from
    * [[TextFunctions.qualityScore]] and surface only as a confusing
    * hash mismatch. `qualityMetricsBody` expects (text, toks) in
    * scope; `qualityScoreExpr` expects (n, pr, sr).
    */
  private[graft] def qualityMetricsBody: String =
    s"""CAST(len(toks) AS DOUBLE) AS n,
           CASE WHEN length(text) = 0 THEN 0.0
                ELSE CAST(length(regexp_replace(text, '[^.,!?;:''"()\\-]', '', 'g')) AS DOUBLE) / length(text) END AS pr,
           CASE WHEN len(toks) = 0 THEN 0.0
                ELSE CAST(len(list_filter(toks, x -> list_contains($enList, x))) AS DOUBLE) / len(toks) END AS sr"""

  private[graft] def qualityScoreExpr: String =
    roundToSql("least(n / 64.0, 1.0) * least(1.0, 4096.0 / greatest(n, 1.0)) * 0.5 + least(sr * 4.0, 1.0) * 0.3 + (1.0 - least(pr * 4.0, 1.0)) * 0.2", 6)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    QuerySpec.all.map(q => q.name -> q.build).toMap

  def oracleSql: Map[String, String] =
    QuerySpec.all.map(q => q.name -> q.oracle()).toMap
}
