package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.functions.MathFunctions.{roundTo, roundToSql}
import graft.functions.UrlFunctions
import graft.functions.VectorFunctions._
import graft.functions.PipelineFunctions
import graft.operators.{Dedup, Similarity, Sketches, TextAnalysis}

/** Driver contract — the oracle-checked operator surface.
  *
  * Each `queries` entry is one operator family from SURVEY.md §2 (or
  * from the large-scale-pipeline extension set: dedup / similarity /
  * text analysis / multimodal), expressed as an idiomatic DataFrame
  * plan over `/root/testdata/sf*`. `oracleSql` carries the equivalent
  * DuckDB SQL; entries without oracle SQL are approximate/LSH
  * operators whose exact counterparts ARE oracle-checked.
  *
  * Determinism rules used throughout (so DuckDB and Spark hash-match):
  *  - every query ends in a total ORDER BY on a unique key set;
  *  - doubles that come out of aggregation are rounded with
  *    [[graft.functions.MathFunctions.roundTo]] — an explicit
  *    `floor(x·10^d+0.5)/10^d` that is bit-identical across engines
  *    (Spark's own `round` HALF_UPs the shortest decimal repr, which
  *    diverges from engines rounding the binary value);
  *  - thresholds are only applied to exactly-representable values
  *    (integer ratios, sequentially-folded dot products) and sit far
  *    from any data point (verified against the test data).
  */
object SparkEntry {

  private def rd(c: Column, d: Int): Column = roundTo(c, d)

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
  private def events(s: SparkSession, dir: String): DataFrame = {
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

  private def joinMulti(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
    val c = t(s, dir, "customer"); val n = t(s, dir, "nation"); val r = t(s, dir, "region")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(rd(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
           count("*").as("n_items"))
      .orderBy("r_name", "n_name")
  }

  /** DuckDB-side cosine with the exact same fold structure as
    * [[graft.functions.VectorFunctions.cosine]] so both engines produce
    * bit-identical doubles (sequential left fold, same op order).
    */
  private def duckCos(a: String, b: String): String = {
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
  private def duckHex60(s: String): String = {
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
  private def minhashLshCtes: String = minhashChain("mh_", "")

  /** The same chain with a caller-chosen CTE prefix and an optional
    * source predicate — lets one oracle query replay the pipeline over
    * SEVERAL document subsets (the incremental two-batch flow).
    */
  private def minhashChain(p: String, where: String): String = {
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

  private def minhashLshOracleSql: String =
    s"""WITH $minhashLshCtes
       SELECT id_a, id_b, ${roundToSql("jac", 6)} AS jaccard FROM mh_ver
       WHERE jac >= 0.3 ORDER BY id_a, id_b"""

  /** Containment verify over the SAME shared MinHash chain: the only
    * difference from the Jaccard oracle is the |A∩B|/min(|A|,|B|)
    * denominator.
    */
  private def containmentOracleSql: String =
    s"""WITH $minhashLshCtes,
       ct_ver AS (SELECT id_a, id_b,
           CAST(len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS DOUBLE)
             / CAST(least(len(sa.shingles), len(sb.shingles)) AS DOUBLE) AS cont
         FROM mh_cand JOIN mh_sh sa ON sa.doc_id = mh_cand.id_a
           JOIN mh_sh sb ON sb.doc_id = mh_cand.id_b)
       SELECT id_a, id_b, ${roundToSql("cont", 6)} AS containment FROM ct_ver
       WHERE cont >= 0.5 ORDER BY id_a, id_b"""

  /** DuckDB replication of [[Dedup.minhashRecallProfile]]: the shared
    * shingle/signature chain, the same portable-hash sample, the same
    * exact-Jaccard truth as `mh_ver`, then per candidate bands value
    * the identical banding, cap, and hit/work accounting.
    */
  private def dedupRecallProfileOracleSql(bandsList: Seq[Int], numHashes: Int,
      threshold: Double, sampleQ: Int): String = {
    def bandCtes(b: Int): String = {
      val r = numHashes / b
      s"""rb${b}_bk AS (SELECT doc_id, unnest(list_transform(range(0, $b), j ->
           {'band': j, 'key': array_to_string(sig[(j*$r+1):(j*$r+$r)], '_')})) AS u FROM mrp_sg),
         rb${b}_b AS (SELECT doc_id, u.band AS band, u.key AS key FROM rb${b}_bk),
         rb${b}_c AS (SELECT band, key, CAST(count(*) AS BIGINT) AS m
           FROM rb${b}_b GROUP BY band, key),
         rb${b}_w AS (SELECT CAST(coalesce(sum(CASE WHEN m <= 1000
             THEN m * (m - 1) // 2 ELSE 0 END), 0) AS BIGINT) AS candidate_pairs
           FROM rb${b}_c),
         rb${b}_qb AS (SELECT s.query_id, b.band, b.key
           FROM rb${b}_b b JOIN mrp_smp s ON b.doc_id = s.query_id),
         rb${b}_cand AS (SELECT DISTINCT q.query_id, b.doc_id AS corpus_id
           FROM rb${b}_b b JOIN rb${b}_c c USING (band, key)
           JOIN rb${b}_qb q USING (band, key)
           WHERE c.m <= 1000 AND b.doc_id <> q.query_id),
         rb${b}_h AS (SELECT CAST(count(*) AS BIGINT) AS hits
           FROM rb${b}_cand JOIN mrp_truth USING (query_id, corpus_id)),
         rb${b}_row AS (SELECT CAST($b AS INTEGER) AS n_bands, w.candidate_pairs,
             h.hits, CAST(t.tn AS BIGINT) AS truth_n,
             CASE WHEN t.tn = 0 THEN 1.0
               ELSE ${roundToSql("CAST(h.hits AS DOUBLE) / CAST(t.tn AS DOUBLE)", 6)}
             END AS recall
           FROM rb${b}_w w CROSS JOIN rb${b}_h h CROSS JOIN mrp_tn t)"""
    }
    s"""WITH ${minhashChain("mrp_", "")},
       mrp_smp AS (SELECT doc_id AS query_id, shingles AS q_sh FROM mrp_sh
         ORDER BY ((doc_id % 1000003) * ${graft.config.PortableSalt.seedMul}) % 2147483647 DESC,
           doc_id LIMIT $sampleQ),
       mrp_truth AS (SELECT s.query_id, g.doc_id AS corpus_id
         FROM mrp_sh g CROSS JOIN mrp_smp s
         WHERE g.doc_id <> s.query_id AND
           CAST(len(list_filter(g.shingles, x -> list_contains(s.q_sh, x))) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(g.shingles, s.q_sh))) AS DOUBLE) >= $threshold),
       mrp_tn AS (SELECT count(*) AS tn FROM mrp_truth),
       ${bandsList.map(bandCtes).mkString(",\n       ")}
       ${bandsList.map(b => s"SELECT * FROM rb${b}_row").mkString("\n       UNION ALL ")}
       ORDER BY n_bands"""
  }

  /** DuckDB replication of [[Dedup.minhashDecontaminate]]: the corpus
    * (doc_id >= 20) and benchmark (doc_id < 20) each run the shared
    * MinHash chain, then a CROSS-corpus band join (corpus-side bucket
    * cap) and exact-Jaccard verification decide the drops.
    */
  private def fuzzyDecontaminateOracleSql: String =
    s"""WITH ${minhashChain("fc_", "WHERE doc_id >= 20")},
       ${minhashChain("fb_", "WHERE doc_id < 20")},
       fd_ok AS (SELECT band, key FROM fc_buckets GROUP BY band, key HAVING count(*) <= 1000),
       fd_sized AS (SELECT b.doc_id, b.band, b.key FROM fc_buckets b JOIN fd_ok USING (band, key)),
       fd_cand AS (SELECT DISTINCT c.doc_id AS doc_id, b.doc_id AS bench_id
         FROM fd_sized c JOIN fb_buckets b USING (band, key)),
       fd_ver AS (SELECT DISTINCT fd_cand.doc_id FROM fd_cand
         JOIN fc_sh sa ON sa.doc_id = fd_cand.doc_id
         JOIN fb_sh sb ON sb.doc_id = fd_cand.bench_id
         WHERE CAST(len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS DOUBLE)
               / CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS DOUBLE) >= 0.3)
       SELECT doc_id FROM documents WHERE doc_id >= 20
         AND doc_id NOT IN (SELECT doc_id FROM fd_ver) ORDER BY doc_id"""

  /** DuckDB replication of the portable 60-bit SimHash pipeline:
    * same +1/-1 bit fold, MSB-first packing, 4×15-bit chunk banding,
    * bucket cap, and Hamming verification as the Spark plan.
    */
  private def simhashOracleSql: String =
    s"""WITH t AS (SELECT doc_id,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents),
       hs AS (SELECT doc_id, list_transform(toks, s -> ${duckHex60("s")}) AS hashes FROM t),
       sg AS (SELECT doc_id, list_reduce(list_transform(range(0, 60), b ->
           CASE WHEN 2 * list_sum(list_transform(hashes, h -> (h >> b) & 1)) > len(hashes)
                THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END),
         (a, x) -> a * 2 + x) AS sig FROM hs),
       bk AS (SELECT doc_id, sig, unnest(list_transform(range(0, 4), j ->
           {'band': j, 'key': (sig >> (j * 15)) & 32767})) AS u FROM sg),
       buckets AS (SELECT doc_id, sig, u.band AS band, u.key AS key FROM bk),
       ok AS (SELECT band, key FROM buckets GROUP BY band, key HAVING count(*) <= 10000),
       sized AS (SELECT b.doc_id, b.sig, b.band, b.key FROM buckets b JOIN ok USING (band, key)),
       pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
         FROM sized a JOIN sized b USING (band, key) WHERE a.doc_id < b.doc_id)
       SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 8 ORDER BY id_a, id_b"""

  /** DuckDB replication of the deterministic IVF ANN query: same
    * portable integer seed hash, cell ids in corpus-id order over the
    * top-16 seeds, argmin assignment and probe ranking with explicit
    * (distance, cell) tie-breaks, and the bit-identical sequential
    * folds for squared distance and cosine.
    */
  private def annIvfOracleSql: String = {
    def sqd(a: String, b: String): String =
      s"list_reduce(list_transform(range(1, 65), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y)"
    s"""WITH cor AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
       q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
       seed AS (SELECT corpus_id, cv FROM cor
         ORDER BY ((corpus_id % 1000003) * ${graft.config.PortableSalt.seedMul}) % 2147483647 DESC, corpus_id LIMIT 16),
       cents AS (SELECT CAST(row_number() OVER (ORDER BY corpus_id) - 1 AS INTEGER) AS cell_id,
           cv AS centroid FROM seed),
       ad AS (SELECT cor.corpus_id, cor.cv, cents.cell_id,
           ${sqd("cor.cv", "cents.centroid")} AS d FROM cor CROSS JOIN cents),
       assigned AS (SELECT corpus_id, cv, cell_id FROM (
           SELECT *, row_number() OVER (PARTITION BY corpus_id ORDER BY d ASC, cell_id ASC) AS rn
           FROM ad) WHERE rn = 1),
       qd AS (SELECT q.query_id, q.qv, cents.cell_id,
           ${sqd("q.qv", "cents.centroid")} AS d FROM q CROSS JOIN cents),
       probes AS (SELECT query_id, qv, cell_id FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d ASC, cell_id ASC) AS rn
           FROM qd) WHERE rn <= 4),
       scored AS (SELECT p.query_id, a.corpus_id, ${duckCos("p.qv", "a.cv")} AS sc
         FROM assigned a JOIN probes p USING (cell_id)),
       ranked AS (SELECT query_id, corpus_id, ${roundToSql("sc", 6)} AS cosine,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY sc DESC, corpus_id) AS INTEGER) AS rank
         FROM scored)
       SELECT query_id, corpus_id, cosine, rank FROM ranked
       WHERE rank <= 10 ORDER BY query_id, rank"""
  }

  /** DuckDB replication of the deterministic PQ/ADC ANN query: same
    * portable seed set as the IVF oracle (codebook = seed rows in
    * corpus-id order), per-subspace argmin encoding via
    * list_position-of-min (ties → first = lowest code, matching
    * PqEncode), and the ADC sum as an ORDERED list_reduce over
    * subspaces — SUM() aggregation order is engine-dependent, the
    * fold is not.
    */
  private def annPqOracleSql: String = {
    def sub(vec: String, cent: String): String = {
      val d = s"$vec[(j*8)+i] - $cent[(j*8)+i]"
      s"list_reduce(list_transform(range(1, 9), i -> ($d) * ($d)), (x, y) -> x + y)"
    }
    val dlist = s"list_transform(range(0, 16), c -> ${sub("cor.cv", "cb[c+1]")})"
    s"""WITH cor AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
       q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
       seed AS (SELECT corpus_id, cv FROM cor
         ORDER BY ((corpus_id % 1000003) * ${graft.config.PortableSalt.seedMul}) % 2147483647 DESC, corpus_id LIMIT 16),
       cents AS (SELECT CAST(row_number() OVER (ORDER BY corpus_id) - 1 AS INTEGER) AS cell_id,
           cv AS centroid FROM seed),
       cbl AS (SELECT list(centroid ORDER BY cell_id) AS cb FROM cents),
       codes AS (SELECT cor.corpus_id,
           list_transform(range(0, 8), j -> list_position($dlist, list_min($dlist)) - 1) AS codes
         FROM cor CROSS JOIN cbl),
       scored AS (SELECT q.query_id, codes.corpus_id,
           list_reduce(list_transform(range(0, 8), j ->
             ${sub("q.qv", "cb[codes.codes[j+1]+1]")}), (x, y) -> x + y) AS d
         FROM codes CROSS JOIN cbl CROSS JOIN q),
       ranked AS (SELECT query_id, corpus_id, ${roundToSql("d", 6)} AS approx_sqdist,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY d ASC, corpus_id) AS INTEGER) AS rank
         FROM scored)
       SELECT query_id, corpus_id, approx_sqdist, rank FROM ranked
       WHERE rank <= 10 ORDER BY query_id, rank"""
  }

  /** DuckDB replication of
    * [[graft.operators.Similarity.pqDistortionProfile]]: the same
    * portable seed chain as [[annPqOracleSql]] over the FULL corpus,
    * the same fixed-shape ADC distance folds per candidate subspace
    * count, per-row 1e-6 quantization before HUGEINT corpus sums.
    */
  private def pqProfileOracleSql: String = {
    val ms = Seq(2, 4, 8, 16)
    def distM(m: Int): String = {
      val subLen = 64 / m
      val diff = s"(cv[(s*$subLen)+i] - cb[c+1][(s*$subLen)+i])"
      val inner = s"list_reduce(list_transform(range(1, ${subLen + 1}), " +
        s"i -> $diff * $diff), (x, y) -> x + y)"
      val minC = s"list_min(list_transform(range(0, 16), c -> $inner))"
      s"list_reduce(list_transform(range(0, $m), s -> $minC), (x, y) -> x + y)"
    }
    val norm = "list_reduce(list_transform(range(1, 65), i -> cv[i] * cv[i]), (x, y) -> x + y)"
    val dCols = ms.map(m =>
      s"CAST(floor((${distM(m)}) * 1e6 + 0.5) AS BIGINT) AS d$m").mkString(",\n           ")
    val sums = ms.map(m => s"sum(CAST(d$m AS HUGEINT)) AS s$m").mkString(", ")
    val rows = ms.map { m =>
      s"""SELECT $m AS m, 16 AS ksub, ${m * 4} AS bits_per_vec,
           ${roundToSql(s"CAST(s$m AS DOUBLE) / CAST(n AS DOUBLE) / 1e6", 6)} AS mse,
           CASE WHEN sn > 0 THEN ${roundToSql(s"CAST(s$m AS DOUBLE) / CAST(sn AS DOUBLE)", 6)} END AS rel_mse
         FROM pqp_a"""
    }.mkString("\n         UNION ALL ")
    s"""WITH pqp_c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv FROM embeddings),
       pqp_seed AS (SELECT corpus_id, cv FROM pqp_c
         ORDER BY ((corpus_id % 1000003) * ${graft.config.PortableSalt.seedMul}) % 2147483647 DESC, corpus_id LIMIT 16),
       pqp_cb AS (SELECT list(cv ORDER BY corpus_id) AS cb FROM pqp_seed),
       pqp_d AS (SELECT
           $dCols,
           CAST(floor(($norm) * 1e6 + 0.5) AS BIGINT) AS nq
         FROM pqp_c CROSS JOIN pqp_cb),
       pqp_a AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(CAST(nq AS HUGEINT)) AS sn, $sums FROM pqp_d)
       $rows
       ORDER BY m"""
  }

  /** DuckDB replication of
    * [[graft.operators.Similarity.ivfProbeProfile]]: the
    * [[annIvfOracleSql]] seed/assignment/probe-rank chains over the
    * FULL corpus plus the recall-profile sample/truth chains; per-depth
    * counters replayed as conditional sums over the one flagged
    * candidate frame.
    */
  private def ivfProfileOracleSql(probes: Seq[Int], nCells: Int, k: Int,
      sampleQ: Int): String = {
    def sqd(a: String, b: String): String =
      s"list_reduce(list_transform(range(1, 65), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y)"
    val pmax = probes.max
    val aggCols = probes.map(p =>
      s"sum(CASE WHEN pr <= $p THEN 1 ELSE 0 END) AS sc$p, " +
      s"sum(CASE WHEN pr <= $p AND hit = 1 THEN 1 ELSE 0 END) AS h$p").mkString(",\n           ")
    val rows = probes.map { p =>
      s"""SELECT CAST($p AS INTEGER) AS n_probe,
           CAST(coalesce(sc$p, 0) AS BIGINT) AS scanned_rows,
           CAST(coalesce(h$p, 0) AS BIGINT) AS hits,
           CAST(tn AS BIGINT) AS truth_n,
           CASE WHEN tn = 0 THEN 1.0
             ELSE ${roundToSql(s"CAST(coalesce(h$p, 0) AS DOUBLE) / CAST(tn AS DOUBLE)", 6)}
           END AS recall_at_k,
           CASE WHEN qn * cn = 0 THEN 0.0
             ELSE ${roundToSql(s"CAST(coalesce(sc$p, 0) AS DOUBLE) / (CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE))", 6)}
           END AS scanned_frac
         FROM ip_a CROSS JOIN ip_tn CROSS JOIN ip_qn CROSS JOIN ip_cn"""
    }.mkString("\n       UNION ALL ")
    s"""WITH ivp AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       ip_cn AS (SELECT CAST(count(*) AS BIGINT) AS cn FROM ivp),
       ip_seed AS (SELECT vec_id, v FROM ivp
         ORDER BY ((vec_id % 1000003) * ${graft.config.PortableSalt.seedMul}) % 2147483647 DESC, vec_id LIMIT $nCells),
       ip_cents AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell_id,
           v AS centroid FROM ip_seed),
       ip_ad AS (SELECT ivp.vec_id, ip_cents.cell_id,
           ${sqd("ivp.v", "ip_cents.centroid")} AS d FROM ivp CROSS JOIN ip_cents),
       ip_asg AS (SELECT vec_id, cell_id FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cell_id ASC) AS rn
           FROM ip_ad) WHERE rn = 1),
       ip_smp AS (SELECT vec_id AS query_id, v AS qv FROM ivp
         ORDER BY ((vec_id % 1000003) * ${graft.config.PortableSalt.seedMul}) % 2147483647 DESC, vec_id LIMIT $sampleQ),
       ip_qn AS (SELECT CAST(count(*) AS BIGINT) AS qn FROM ip_smp),
       ip_sc AS (SELECT s.query_id, ivp.vec_id AS corpus_id, ${duckCos("s.qv", "ivp.v")} AS c
         FROM ivp CROSS JOIN ip_smp s WHERE ivp.vec_id <> s.query_id),
       ip_truth AS (SELECT query_id, corpus_id FROM (
           SELECT query_id, corpus_id,
             row_number() OVER (PARTITION BY query_id ORDER BY c DESC, corpus_id ASC) AS rn
           FROM ip_sc) WHERE rn <= $k),
       ip_tn AS (SELECT count(*) AS tn FROM ip_truth),
       ip_qd AS (SELECT s.query_id, c.cell_id, ${sqd("s.qv", "c.centroid")} AS d
         FROM ip_smp s CROSS JOIN ip_cents c),
       ip_pr AS (SELECT query_id, cell_id, pr FROM (
           SELECT query_id, cell_id,
             row_number() OVER (PARTITION BY query_id ORDER BY d ASC, cell_id ASC) AS pr
           FROM ip_qd) WHERE pr <= $pmax),
       ip_fl AS (SELECT p.query_id, a.vec_id AS corpus_id, p.pr,
           CASE WHEN t.query_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         FROM ip_asg a JOIN ip_pr p USING (cell_id)
         LEFT JOIN ip_truth t ON t.query_id = p.query_id AND t.corpus_id = a.vec_id
         WHERE a.vec_id <> p.query_id),
       ip_a AS (SELECT $aggCols FROM ip_fl)
       $rows
       ORDER BY n_probe"""
  }

  /** DuckDB replication of [[graft.operators.Similarity.kmeansAssign]]:
    * the same 1e-6 coordinate quantization, the same portable hash
    * seed top-k, and each Lloyd round replayed as CTEs — assignment
    * via the identical sequential squared-distance fold + first-min
    * tie-break, centroid update as the exact integer sum / count
    * division. Bit-exact because every cross-round artifact is either
    * an exact integer or ONE IEEE division of exact integers.
    */
  private def kmeansOracleSql: String = {
    val k = 8; val dim = 64; val iters = 3
    def dlExpr: String =
      s"list_transform(range(0, $k), c -> list_reduce(list_transform(range(1, ${dim + 1}), " +
      s"d -> (qd[d] - cl[c+1][d]) * (qd[d] - cl[c+1][d])), (x, y) -> x + y))"
    val iterCtes = (1 to iters).map { i =>
      s"""km_a$i AS (SELECT vec_id, q, list_position(dl, list_min(dl)) - 1 AS cell
           FROM (SELECT vec_id, q, $dlExpr AS dl FROM km_data CROSS JOIN km_cl${i - 1})),
         km_s$i AS (SELECT cell, t.d AS d, CAST(sum(q[t.d]) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
           FROM km_a$i CROSS JOIN range(1, ${dim + 1}) t(d) GROUP BY cell, t.d),
         km_c$i AS (SELECT c.cell, list(CASE WHEN su.n IS NULL THEN c.m[t.d]
             ELSE CAST(su.s AS DOUBLE) / CAST(su.n AS DOUBLE) END ORDER BY t.d) AS m
           FROM km_c${i - 1} c CROSS JOIN range(1, ${dim + 1}) t(d)
           LEFT JOIN km_s$i su ON su.cell = c.cell AND su.d = t.d
           GROUP BY c.cell),
         km_cl$i AS (SELECT list(m ORDER BY cell) AS cl FROM km_c$i)"""
    }.mkString(",\n         ")
    s"""WITH km_data AS (SELECT vec_id,
         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS q,
         list_transform(list_transform(embedding::DOUBLE[],
           x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)), x -> CAST(x AS DOUBLE)) AS qd
       FROM embeddings),
       km_seed AS (SELECT vec_id, qd FROM km_data
         ORDER BY ((vec_id % 1000003) * ${graft.config.PortableSalt.seedMul}) % 2147483647 DESC, vec_id LIMIT $k),
       km_c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
           qd AS m FROM km_seed),
       km_cl0 AS (SELECT list(m ORDER BY cell) AS cl FROM km_c0),
       $iterCtes,
       km_fin AS (SELECT vec_id, list_position(dl, list_min(dl)) - 1 AS cell_id, dl
         FROM (SELECT vec_id, $dlExpr AS dl FROM km_data CROSS JOIN km_cl$iters))
       SELECT vec_id, CAST(cell_id AS INTEGER) AS cell_id,
         ${roundToSql("dl[cell_id + 1] / 1e12", 6)} AS dist
       FROM km_fin ORDER BY vec_id"""
  }

  /** DuckDB replication of hyperplane-LSH embedding near-dup: the SAME
    * seeded gaussian planes ([[Dedup.randomPlanes]]) baked as literals,
    * sign-bit bucket fold in the same order, exact-cosine verification
    * with the bit-identical sequential fold.
    */
  /** Seeded plane tables at an arbitrary key depth as one DuckDB
    * struct-list literal — the SQL twin of
    * `HyperplaneBuckets(randomPlanes(nPlanes, dim, seed + t))` with
    * the identical MSB-first sign-bit packing. Parameterized so the
    * recall-profile oracle can replay SEVERAL candidate depths in one
    * statement.
    */
  private def duckPlaneTablesFor(nPlanes: Int, nTables: Int = 8, dim: Int = 64): String =
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
  private def duckPlaneTables: String = duckPlaneTablesFor(8)

  private def embedLshOracleSql: String = {
    val tables = duckPlaneTables
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       bk AS (SELECT vec_id, unnest($tables) AS u FROM v),
       buckets AS (SELECT vec_id, u.tbl AS tbl, u.key AS key FROM bk),
       ok AS (SELECT tbl, key FROM buckets GROUP BY tbl, key HAVING count(*) <= 1000),
       sized AS (SELECT b.vec_id, b.tbl, b.key FROM buckets b JOIN ok USING (tbl, key)),
       cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM sized a JOIN sized b USING (tbl, key) WHERE a.vec_id < b.vec_id),
       sc AS (SELECT id_a, id_b, ${duckCos("va.v", "vb.v")} AS c
         FROM cand JOIN v va ON va.vec_id = cand.id_a JOIN v vb ON vb.vec_id = cand.id_b)
       SELECT id_a, id_b, ${roundToSql("c", 6)} AS cosine FROM sc
       WHERE c >= 0.4 ORDER BY id_a, id_b"""
  }

  /** DuckDB replication of [[graft.operators.Similarity.knnGraph]]:
    * the same capped LSH buckets as [[embedLshOracleSql]], directed
    * candidate edges, exact-cosine ranking with the (c desc, id asc)
    * order the bounded-heap top-k implements.
    */
  /** CTE chain replaying [[graft.operators.Similarity.knnGraph]] up
    * to the ranked edge list `rk(src_id, nbr_id, c, rank)` — shared
    * by the k-NN graph oracle and the PageRank oracle (which uses
    * the rank<=k edges as its graph), so the plane literals, bucket
    * cap, and tie-breaks cannot drift between them.
    */
  private def knnGraphCtes: String = {
    val tables = duckPlaneTables
    s"""v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       bk AS (SELECT vec_id, unnest($tables) AS u FROM v),
       buckets AS (SELECT vec_id, u.tbl AS tbl, u.key AS key FROM bk),
       ok AS (SELECT tbl, key FROM buckets GROUP BY tbl, key HAVING count(*) <= 1000),
       sized AS (SELECT b.vec_id, b.tbl, b.key FROM buckets b JOIN ok USING (tbl, key)),
       cand AS (SELECT DISTINCT a.vec_id AS src_id, b.vec_id AS nbr_id
         FROM sized a JOIN sized b USING (tbl, key) WHERE a.vec_id <> b.vec_id),
       sc AS (SELECT src_id, nbr_id, ${duckCos("va.v", "vb.v")} AS c
         FROM cand JOIN v va ON va.vec_id = cand.src_id JOIN v vb ON vb.vec_id = cand.nbr_id),
       rk AS (SELECT *, row_number() OVER (PARTITION BY src_id ORDER BY c DESC, nbr_id ASC) AS rank
         FROM sc)"""
  }

  private def knnGraphOracleSql: String =
    s"""WITH $knnGraphCtes
       SELECT src_id, CAST(rank AS INTEGER) AS rank, nbr_id, ${roundToSql("c", 6)} AS cosine
       FROM rk WHERE rank <= 10 ORDER BY src_id, rank"""

  /** DuckDB replication of [[graft.operators.Graphs.pageRank]] over
    * the k-NN graph edges: the same integer nano-rank arithmetic
    * (floor division `(85·r) // (100·outdeg)`, +0.15 teleport)
    * replayed for the same fixed iteration count — bit-exact because
    * every intermediate is an integer and integer sums are
    * summation-order immune.
    */
  private def pageRankOracleSql: String = {
    val iters = 5
    def iter(i: Int): String = {
      val prev = if (i == 1) "pr_it0" else s"pr_it${i - 1}"
      s"""pr_it$i AS (SELECT n.id,
           CAST(150000000 + COALESCE(s.inflow, 0) AS BIGINT) AS r
         FROM pr_nodes n LEFT JOIN (
           SELECT e.dst AS id,
             CAST(SUM((85 * p.r) // (100 * e.outdeg)) AS BIGINT) AS inflow
           FROM pr_e e JOIN $prev p ON p.id = e.src GROUP BY e.dst) s
         ON n.id = s.id)"""
    }
    s"""WITH $knnGraphCtes,
       pr_raw AS (SELECT DISTINCT src_id AS src, nbr_id AS dst FROM rk WHERE rank <= 10),
       pr_deg AS (SELECT src, count(*) AS outdeg FROM pr_raw GROUP BY src),
       pr_e AS (SELECT r.src, r.dst, d.outdeg FROM pr_raw r JOIN pr_deg d ON r.src = d.src),
       pr_nodes AS (SELECT DISTINCT id FROM
         (SELECT src AS id FROM pr_raw UNION ALL SELECT dst FROM pr_raw)),
       pr_it0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS r FROM pr_nodes),
       ${(1 to iters).map(iter).mkString(",\n       ")}
       SELECT id AS vec_id, r AS rank_nanos FROM pr_it$iters ORDER BY vec_id"""
  }

  /** DuckDB replication of [[graft.operators.Graphs.labelPropagation]]
    * over the k-NN edges: mode-of-in-neighbors with the identical
    * (count desc, label asc) tie-break (the Spark side's
    * `max(struct(cnt, -label))`), seeds clamped, unreached nodes
    * null — replayed CTE-per-iteration.
    */
  private def labelPropOracleSql: String = {
    val iters = 3
    def iter(i: Int): String = {
      val prev = if (i == 1) "lp_it0" else s"lp_it${i - 1}"
      s"""lp_vt$i AS (SELECT e.dst AS id, p.label, count(*) AS cnt
           FROM lp_e e JOIN $prev p ON p.id = e.src
           WHERE p.label IS NOT NULL GROUP BY e.dst, p.label),
         lp_md$i AS (SELECT id, label AS mode_label FROM (
           SELECT id, label, row_number() OVER (PARTITION BY id ORDER BY cnt DESC, label ASC) AS rn
           FROM lp_vt$i) WHERE rn = 1),
         lp_it$i AS (SELECT p.id,
             CAST(COALESCE(s.seed_label, m.mode_label, p.label) AS INTEGER) AS label
           FROM $prev p LEFT JOIN lp_md$i m ON p.id = m.id
           LEFT JOIN lp_seed s ON p.id = s.id)"""
    }
    s"""WITH $knnGraphCtes,
       lp_e AS (SELECT DISTINCT src_id AS src, nbr_id AS dst FROM rk WHERE rank <= 10),
       lp_nodes AS (SELECT DISTINCT id FROM
         (SELECT src AS id FROM lp_e UNION ALL SELECT dst FROM lp_e)),
       lp_seed AS (SELECT vec_id AS id, CAST(label AS INTEGER) AS seed_label
         FROM embeddings WHERE vec_id % 5 = 0),
       lp_it0 AS (SELECT n.id, s.seed_label AS label
         FROM lp_nodes n LEFT JOIN lp_seed s ON n.id = s.id),
       ${(1 to iters).map(iter).mkString(",\n       ")}
       SELECT id AS vec_id, label FROM lp_it$iters ORDER BY vec_id"""
  }

  /** DuckDB replication of [[graft.operators.Graphs.embeddingGraphSuite]]:
    * the pageRank and labelPropagation iteration chains of
    * [[pageRankOracleSql]] / [[labelPropOracleSql]] composed over ONE
    * shared k-NN CTE (the same sharing the Spark side's checkpointed
    * edge frame provides), plus the out-degree rollup, joined
    * per node.
    */
  private def embGraphSuiteOracleSql: String = {
    val prIters = 5
    def prIter(i: Int): String = {
      val prev = if (i == 1) "pr_it0" else s"pr_it${i - 1}"
      s"""pr_it$i AS (SELECT n.id,
           CAST(150000000 + COALESCE(s.inflow, 0) AS BIGINT) AS r
         FROM pr_nodes n LEFT JOIN (
           SELECT e.dst AS id,
             CAST(SUM((85 * p.r) // (100 * e.outdeg)) AS BIGINT) AS inflow
           FROM pr_e e JOIN $prev p ON p.id = e.src GROUP BY e.dst) s
         ON n.id = s.id)"""
    }
    val lpIters = 3
    def lpIter(i: Int): String = {
      val prev = if (i == 1) "lp_it0" else s"lp_it${i - 1}"
      s"""lp_vt$i AS (SELECT e.dst AS id, p.label, count(*) AS cnt
           FROM pr_e e JOIN $prev p ON p.id = e.src
           WHERE p.label IS NOT NULL GROUP BY e.dst, p.label),
         lp_md$i AS (SELECT id, label AS mode_label FROM (
           SELECT id, label, row_number() OVER (PARTITION BY id ORDER BY cnt DESC, label ASC) AS rn
           FROM lp_vt$i) WHERE rn = 1),
         lp_it$i AS (SELECT p.id,
             CAST(COALESCE(s.seed_label, m.mode_label, p.label) AS INTEGER) AS label
           FROM $prev p LEFT JOIN lp_md$i m ON p.id = m.id
           LEFT JOIN lp_seed s ON p.id = s.id)"""
    }
    s"""WITH $knnGraphCtes,
       pr_raw AS (SELECT DISTINCT src_id AS src, nbr_id AS dst FROM rk WHERE rank <= 10),
       pr_deg AS (SELECT src, count(*) AS outdeg FROM pr_raw GROUP BY src),
       pr_e AS (SELECT r.src, r.dst, d.outdeg FROM pr_raw r JOIN pr_deg d ON r.src = d.src),
       pr_nodes AS (SELECT DISTINCT id FROM
         (SELECT src AS id FROM pr_raw UNION ALL SELECT dst FROM pr_raw)),
       pr_it0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS r FROM pr_nodes),
       ${(1 to prIters).map(prIter).mkString(",\n       ")},
       lp_seed AS (SELECT vec_id AS id, CAST(label AS INTEGER) AS seed_label
         FROM embeddings WHERE vec_id % 5 = 0),
       lp_it0 AS (SELECT n.id, s.seed_label AS label
         FROM pr_nodes n LEFT JOIN lp_seed s ON n.id = s.id),
       ${(1 to lpIters).map(lpIter).mkString(",\n       ")},
       gs_deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS out_degree
         FROM pr_raw GROUP BY src)
       SELECT p.id AS vec_id,
         CAST(COALESCE(d.out_degree, 0) AS BIGINT) AS out_degree,
         p.r AS rank_nanos, l.label
       FROM pr_it$prIters p JOIN lp_it$lpIters l ON l.id = p.id
       LEFT JOIN gs_deg d ON d.id = p.id
       ORDER BY vec_id"""
  }

  /** DuckDB replication of [[Dedup.semanticDedup]] (SemDeDup): the
    * same portable-hash seed cells as the IVF oracle, nearest-centroid
    * assignment with the same (distance asc, cell asc) tie-break,
    * within-cell pairwise cosine via the bit-identical sequential
    * fold, keep-lowest-id survivors.
    */
  private def dedupSemanticOracleSql: String = {
    def sqd(a: String, b: String): String =
      s"list_reduce(list_transform(range(1, 65), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y)"
    s"""WITH base AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       seed AS (SELECT id, v FROM base
         ORDER BY ((id % 1000003) * ${graft.config.PortableSalt.seedMul}) % 2147483647 DESC, id LIMIT 8),
       cents AS (SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INTEGER) AS cell_id,
           v AS centroid FROM seed),
       ad AS (SELECT base.id, base.v, cents.cell_id,
           ${sqd("base.v", "cents.centroid")} AS d FROM base CROSS JOIN cents),
       assigned AS (SELECT id, v, cell_id FROM (
           SELECT *, row_number() OVER (PARTITION BY id ORDER BY d ASC, cell_id ASC) AS rn
           FROM ad) WHERE rn = 1),
       ok AS (SELECT a.id, a.v, a.cell_id FROM assigned a
         JOIN (SELECT cell_id, count(*) AS n FROM assigned GROUP BY cell_id) c
         USING (cell_id) WHERE c.n <= 10000),
       pairs AS (SELECT x.id AS id_a, y.id AS id_b, ${duckCos("x.v", "y.v")} AS c
         FROM ok x JOIN ok y ON x.cell_id = y.cell_id AND x.id < y.id),
       drops AS (SELECT DISTINCT id_b AS id FROM pairs WHERE c >= 0.4)
       SELECT a.id, a.cell_id FROM assigned a
       LEFT JOIN drops d ON a.id = d.id WHERE d.id IS NULL ORDER BY a.id"""
  }

  /** DuckDB replication of [[Similarity.hammingTopK]]: the same 48
    * seeded plane literals, the same MSB-first sign-bit packing, then
    * `bit_count(xor)` ranking — bit-exact, like embedLshOracleSql.
    */
  /** The 48-plane MSB-first sign-bit packing as one SQL expression
    * over a DOUBLE[] named `v` — shared by every oracle that replays
    * [[graft.plans.HyperplaneBuckets]] signatures (ann_hamming_topk,
    * dedup_hamming_pairs), so the plane literals and bit order cannot
    * drift between them.
    */
  private def signBits48Sql: String = {
    val planes = Dedup.randomPlanes(48, 64, Dedup.DefaultSeed)
    planes.zipWithIndex.map { case (p, pi) =>
      val lits = p.map(_.toString).mkString("[", ",", "]")
      s"(CASE WHEN list_reduce(list_transform(range(1, 65), i -> v[i] * ($lits)[i]), (x, y) -> x + y) >= 0.0 " +
      s"THEN ${1L << (47 - pi)} ELSE 0 END)"
    }.mkString(" + ")
  }

  /** DuckDB replication of [[graft.operators.Similarity.lshBucketProfile]]:
    * the same plane-literal bucket keys rolled up per table with the
    * identical exact-integer occupancy/pair arithmetic.
    */
  private def embBucketProfileOracleSql: String = {
    val tables = duckPlaneTables
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       bp_bk AS (SELECT vec_id, unnest($tables) AS u FROM v),
       bp_b AS (SELECT vec_id, u.tbl AS tbl, u.key AS key FROM bp_bk),
       bp_c AS (SELECT tbl, key, CAST(count(*) AS BIGINT) AS m FROM bp_b GROUP BY tbl, key)
       SELECT CAST(tbl AS INTEGER) AS tbl, CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(sum(m) AS BIGINT) AS n_vectors, max(m) AS max_occupancy,
         ${roundToSql("CAST(sum(m) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)} AS avg_occupancy,
         CAST(sum(CASE WHEN m > 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_over_cap,
         CAST(sum(CASE WHEN m <= 1000 THEN m * (m - 1) // 2 ELSE 0 END) AS BIGINT) AS candidate_pairs
       FROM bp_c GROUP BY tbl ORDER BY tbl"""
  }

  /** DuckDB replication of
    * [[graft.operators.Similarity.lshRecallProfile]]: the same
    * portable-hash sample, the same exact-cosine (c desc, id asc)
    * ground truth, then per candidate depth the same plane-literal
    * buckets, capped candidate sets, and exact hit/work counts.
    */
  private def embRecallProfileOracleSql(depths: Seq[Int], k: Int, sampleQ: Int): String = {
    def depthCtes(d: Int): String = {
      val tables = duckPlaneTablesFor(d)
      s"""rp_bk_$d AS (SELECT vec_id, unnest($tables) AS u FROM v),
         rp_b_$d AS (SELECT vec_id, u.tbl AS tbl, u.key AS key FROM rp_bk_$d),
         rp_c_$d AS (SELECT tbl, key, CAST(count(*) AS BIGINT) AS m
           FROM rp_b_$d GROUP BY tbl, key),
         rp_w_$d AS (SELECT CAST(coalesce(sum(CASE WHEN m <= 1000
             THEN m * (m - 1) // 2 ELSE 0 END), 0) AS BIGINT) AS candidate_pairs
           FROM rp_c_$d),
         rp_qb_$d AS (SELECT s.query_id, b.tbl, b.key
           FROM rp_b_$d b JOIN rp_smp s ON b.vec_id = s.query_id),
         rp_cand_$d AS (SELECT DISTINCT q.query_id, b.vec_id AS corpus_id
           FROM rp_b_$d b JOIN rp_c_$d c USING (tbl, key)
           JOIN rp_qb_$d q USING (tbl, key)
           WHERE c.m <= 1000 AND b.vec_id <> q.query_id),
         rp_h_$d AS (SELECT CAST(count(*) AS BIGINT) AS hits
           FROM rp_cand_$d JOIN rp_truth USING (query_id, corpus_id)),
         rp_row_$d AS (SELECT CAST($d AS INTEGER) AS n_planes, w.candidate_pairs,
             h.hits, CAST(t.tn AS BIGINT) AS truth_n,
             CASE WHEN t.tn = 0 THEN 1.0
               ELSE ${roundToSql("CAST(h.hits AS DOUBLE) / CAST(t.tn AS DOUBLE)", 6)}
             END AS recall_at_k
           FROM rp_w_$d w CROSS JOIN rp_h_$d h CROSS JOIN rp_tn t)"""
    }
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       rp_smp AS (SELECT vec_id AS query_id, v AS qv FROM v
         ORDER BY ((vec_id % 1000003) * ${graft.config.PortableSalt.seedMul}) % 2147483647 DESC,
           vec_id LIMIT $sampleQ),
       rp_sc AS (SELECT s.query_id, v.vec_id AS corpus_id, ${duckCos("s.qv", "v.v")} AS c
         FROM v CROSS JOIN rp_smp s WHERE v.vec_id <> s.query_id),
       rp_truth AS (SELECT query_id, corpus_id FROM (
         SELECT query_id, corpus_id,
           row_number() OVER (PARTITION BY query_id ORDER BY c DESC, corpus_id ASC) AS rn
         FROM rp_sc) WHERE rn <= $k),
       rp_tn AS (SELECT count(*) AS tn FROM rp_truth),
       ${depths.map(depthCtes).mkString(",\n       ")}
       ${depths.map(d => s"SELECT * FROM rp_row_$d").mkString("\n       UNION ALL ")}
       ORDER BY n_planes"""
  }

  private def annHammingOracleSql: String = {
    val bits = signBits48Sql
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       sig AS (SELECT vec_id, ($bits) AS s FROM v),
       q AS (SELECT vec_id AS query_id, s AS qs FROM sig WHERE vec_id < 5),
       c AS (SELECT vec_id AS corpus_id, s AS cs FROM sig WHERE vec_id >= 5),
       sc AS (SELECT query_id, corpus_id, CAST(bit_count(xor(qs, cs)) AS INTEGER) AS hamming
         FROM c CROSS JOIN q),
       rk AS (SELECT query_id, corpus_id, hamming,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY hamming, corpus_id) AS INTEGER) AS rank
         FROM sc)
       SELECT query_id, corpus_id, hamming, rank FROM rk WHERE rank <= 10
       ORDER BY query_id, rank"""
  }

  /** DuckDB replication of [[Dedup.hammingNearDups]] over the same
    * sign-bit signatures: 6 bands × 8 bits banding, bucket cap,
    * `bit_count(xor)` verification. maxHamming = 11 > bands runs the
    * recall-heuristic regime; the oracle replays the identical
    * banding, so the comparison stays bit-for-bit either way.
    */
  private def dedupHammingOracleSql: String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       sig AS (SELECT vec_id AS id, ($signBits48Sql) AS s FROM v),
       bk AS (SELECT id, s, unnest(list_transform(range(0, 6), j ->
           {'band': j, 'key': (s >> (j * 8)) & 255})) AS u FROM sig),
       buckets AS (SELECT id, s, u.band AS band, u.key AS key FROM bk),
       ok AS (SELECT band, key FROM buckets GROUP BY band, key HAVING count(*) <= 10000),
       sized AS (SELECT b.id, b.s, b.band, b.key FROM buckets b JOIN ok USING (band, key)),
       pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.s, b.s)) AS INTEGER) AS hamming
         FROM sized a JOIN sized b USING (band, key) WHERE a.id < b.id)
       SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 11 ORDER BY id_a, id_b"""

  /** DuckDB replication of [[Similarity.int8TopK]]: identical
    * quantization expression shapes (one multiply, one divide, one
    * floor per element — bit-equal IEEE ops), exact integer dot
    * product, left-associated dequantization multiplies, and the
    * (score desc, corpus_id asc) ranking of the bounded heap.
    */
  private def annInt8OracleSql: String =
    s"""WITH base AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       mx AS (SELECT id, v, list_max(list_transform(v, x -> abs(x))) AS m FROM base),
       qz AS (SELECT id,
           CASE WHEN m = 0 THEN 0.0 ELSE m / 127.0 END AS scale,
           list_transform(v, x -> CASE WHEN m = 0 THEN CAST(0 AS BIGINT)
             ELSE CAST(floor(x * 127.0 / m + 0.5) AS BIGINT) END) AS q FROM mx),
       qs AS (SELECT id AS query_id, q AS qa, scale AS sa FROM qz WHERE id < 5),
       cs AS (SELECT id AS corpus_id, q AS qb, scale AS sb FROM qz WHERE id >= 5),
       sc AS (SELECT query_id, corpus_id,
           CAST(list_reduce(list_transform(range(1, 65), i -> qa[i] * qb[i]),
             (x, y) -> x + y) AS DOUBLE) * sa * sb AS score
         FROM cs CROSS JOIN qs),
       rk AS (SELECT query_id, corpus_id, score,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, corpus_id) AS INTEGER) AS rank
         FROM sc)
       SELECT query_id, corpus_id, ${roundToSql("score", 6)} AS score, rank
       FROM rk WHERE rank <= 10 ORDER BY query_id, rank"""

  /** DuckDB replication of [[Sketches.kmvDistinct]] /
    * [[Sketches.kmvSetOps]]: same portable hashes, same k-smallest
    * distinct synopses, same estimate arithmetic (single IEEE ops in
    * the identical order) — bit-exact like every sketch oracle here.
    */
  private def kmvDistinctOracleSql: String =
    s"""WITH h AS (SELECT DISTINCT ${duckHex60("'kmv:' || CAST(l_partkey AS VARCHAR)")} AS h
         FROM lineitem WHERE l_partkey IS NOT NULL),
       top AS (SELECT h FROM h ORDER BY h LIMIT 64),
       ag AS (SELECT max(h) AS hk, count(*) AS n FROM top)
       SELECT ${roundToSql("CASE WHEN n < 64 THEN CAST(n AS DOUBLE) " +
         "ELSE CAST(63 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE) / CAST(hk AS DOUBLE) END", 3)} AS kmv_estimate,
         CAST(n AS INTEGER) AS n_kept FROM ag"""

  /** DuckDB replication of [[TextAnalysis.htmlExtract]] over the
    * same synthesized page shell: the identical RE2-compatible regex
    * chain ('g' flags — DuckDB replaces first-match by default),
    * identical entity order (&amp; last), identical line gate.
    */
  private def htmlExtractOracleSql: String = {
    val shell =
      "'<html><head><title>Doc</title>" +
      "<script type=\"text/javascript\">var x = 1 < 2; // nav()</script>" +
      "<style>.nav{display:none}</style></head><body>" +
      "<div class=\"nav\">Home | About | Contact</div><p>' || text || " +
      "'</p><div class=\"footer\">&copy; 2026 Example &amp; Co</div></body></html>'"
    s"""WITH h AS (SELECT doc_id, $shell AS c FROM documents),
       s1 AS (SELECT doc_id, regexp_replace(c, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS c FROM h),
       s2 AS (SELECT doc_id, regexp_replace(c, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS c FROM s1),
       s3 AS (SELECT doc_id, regexp_replace(c, '(?i)<(br|/p|/div|/li|/h[1-6]|/tr|/title)[^>]*>', chr(10), 'g') AS c FROM s2),
       s4 AS (SELECT doc_id, regexp_replace(c, '<[^>]*>', ' ', 'g') AS c FROM s3),
       s5 AS (SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             c, '&nbsp;', ' ', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'),
             '&quot;', '"', 'g'), '&#39;', '''', 'g'), '&amp;', '&', 'g') AS c FROM s4),
       s6 AS (SELECT doc_id,
           list_transform(string_split(c, chr(10)),
             ln -> trim(regexp_replace(ln, '\\s+', ' ', 'g'))) AS lines FROM s5),
       s7 AS (SELECT doc_id,
           list_filter(lines, ln ->
             len(list_filter(string_split(ln, ' '), w -> regexp_matches(w, '\\p{L}'))) >= 4) AS kept,
           list_filter(lines, ln -> length(ln) > 0) AS nonempty FROM s6)
       SELECT doc_id, coalesce(array_to_string(kept, chr(10)), '') AS extracted,
         CAST(len(kept) AS INTEGER) AS n_lines_kept,
         CAST(len(nonempty) AS INTEGER) AS n_lines_total
       FROM s7 ORDER BY doc_id"""
  }

  private def kmvSetOpsOracleSql: String = {
    def sk(src: String, key: String): String =
      s"SELECT DISTINCT ${duckHex60(s"'kmv:' || CAST($key AS VARCHAR)")} AS h " +
      s"FROM $src WHERE $key IS NOT NULL ORDER BY h LIMIT 64"
    s"""WITH ha AS (${sk("customer", "c_custkey")}),
       hb AS (${sk("orders", "o_custkey")}),
       comb AS (SELECT h FROM (SELECT h FROM ha UNION SELECT h FROM hb) u ORDER BY h LIMIT 64),
       ag AS (SELECT max(h) AS hk, count(*) AS n FROM comb),
       ib AS (SELECT count(*) AS inboth FROM comb
         WHERE h IN (SELECT h FROM ha) AND h IN (SELECT h FROM hb)),
       un AS (SELECT CASE WHEN n < 64 THEN CAST(n AS DOUBLE)
           ELSE CAST(63 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE) / CAST(hk AS DOUBLE) END AS u,
           n FROM ag)
       SELECT ${roundToSql("u", 3)} AS union_est,
         ${roundToSql("(CAST(inboth AS DOUBLE) / CAST(n AS DOUBLE)) * u", 3)} AS intersect_est,
         ${roundToSql("CAST(inboth AS DOUBLE) / CAST(n AS DOUBLE)", 6)} AS jaccard_est
       FROM un, ib"""
  }

  /** DuckDB replication of [[graft.operators.Sampling.clusterBalancedSample]]:
    * the same portable-hash seed cells as the SemDeDup oracle, then
    * per-cell row_number over (ppm bucket asc, id asc) capped at
    * perCell — the window formulation of the bounded-heap pick.
    */
  private def sampClusterBalancedOracleSql: String = {
    def sqd(a: String, b: String): String =
      s"list_reduce(list_transform(range(1, 65), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y)"
    s"""WITH base AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       seed AS (SELECT id, v FROM base
         ORDER BY ((id % 1000003) * ${graft.config.PortableSalt.seedMul}) % 2147483647 DESC, id LIMIT 8),
       cents AS (SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INTEGER) AS cell_id,
           v AS centroid FROM seed),
       ad AS (SELECT base.id, cents.cell_id,
           ${sqd("base.v", "cents.centroid")} AS d FROM base CROSS JOIN cents),
       assigned AS (SELECT id, cell_id FROM (
           SELECT *, row_number() OVER (PARTITION BY id ORDER BY d ASC, cell_id ASC) AS rn
           FROM ad) WHERE rn = 1),
       sc AS (SELECT cell_id, id,
           ${duckHex60("'cbs:' || CAST(id AS VARCHAR)")} % 1000000 AS b FROM assigned),
       rk AS (SELECT cell_id, id,
           CAST(row_number() OVER (PARTITION BY cell_id ORDER BY b, id) AS INTEGER) AS rank FROM sc)
       SELECT cell_id, id, rank FROM rk WHERE rank <= 5 ORDER BY cell_id, rank"""
  }

  private val enList = TextFunctions.enStopwords.mkString("['", "', '", "']")
  private val esList = TextFunctions.esStopwords.mkString("['", "', '", "']")
  private val deList = TextFunctions.deStopwords.mkString("['", "', '", "']")
  private val frList = TextFunctions.frStopwords.mkString("['", "', '", "']")

  /** Shared quality-score SQL fragments — the formula and its inputs
    * live in ONE place for every oracle that scores quality
    * (txt_quality, txt_curation, txt_canonical); a drift between
    * copies would desynchronize an oracle from
    * [[TextFunctions.qualityScore]] and surface only as a confusing
    * hash mismatch. `qualityMetricsBody` expects (text, toks) in
    * scope; `qualityScoreExpr` expects (n, pr, sr).
    */
  private def qualityMetricsBody: String =
    s"""CAST(len(toks) AS DOUBLE) AS n,
           CASE WHEN length(text) = 0 THEN 0.0
                ELSE CAST(length(regexp_replace(text, '[^.,!?;:''"()\\-]', '', 'g')) AS DOUBLE) / length(text) END AS pr,
           CASE WHEN len(toks) = 0 THEN 0.0
                ELSE CAST(len(list_filter(toks, x -> list_contains($enList, x))) AS DOUBLE) / len(toks) END AS sr"""

  private def qualityScoreExpr: String =
    roundToSql("least(n / 64.0, 1.0) * least(1.0, 4096.0 / greatest(n, 1.0)) * 0.5 + least(sr * 4.0, 1.0) * 0.3 + (1.0 - least(pr * 4.0, 1.0)) * 0.2", 6)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core (SURVEY §2.5 generic surface) ----
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(rd(sum("l_quantity"), 2).as("sum_qty"),
             rd(sum("l_extendedprice"), 2).as("sum_base_price"),
             rd(avg("l_quantity"), 4).as("avg_qty"),
             rd(avg("l_discount"), 6).as("avg_disc"),
             count("*").as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q2_filter_pushdown" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") < to_timestamp(lit("1995-01-01")) && col("l_discount") > 0.05)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "q3_join_broadcast" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count("*").as("n_orders"), rd(sum("o_totalprice"), 2).as("revenue"))
        .orderBy("c_mktsegment")
    }),
    "q4_join_multi" -> ((s, dir) => joinMulti(s, dir)),
    "q5_sort_limit" -> ((s, dir) => {
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
    }),
    "q6_distinct" -> ((s, dir) =>
      t(s, dir, "customer").select("c_mktsegment").distinct().orderBy("c_mktsegment")),
    "q7_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      t(s, dir, "customer")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("c_mktsegment", "rn", "c_custkey", "c_acctbal")
        .orderBy("c_mktsegment", "rn")
    }),
    "q8_window_analytic" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      t(s, dir, "orders")
        .withColumn("prev_price", lag("o_totalprice", 1).over(w))
        .withColumn("run_sum", rd(sum("o_totalprice")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
        .select("o_custkey", "o_orderkey", "o_totalprice", "prev_price", "run_sum")
        .orderBy("o_custkey", "o_orderkey")
    }),
    "q9_intersect" -> ((s, dir) => {
      t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k"))
        .intersect(t(s, dir, "orders").select(col("o_custkey").as("k")))
        .orderBy("k")
    }),
    "q10_except" -> ((s, dir) => {
      t(s, dir, "customer").select(col("c_custkey").as("k"))
        .except(t(s, dir, "orders").select(col("o_custkey").as("k")))
        .orderBy("k")
    }),
    "q11_semi_join" -> ((s, dir) => {
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 200000.0)
      t(s, dir, "customer")
        .join(big, col("c_custkey") === big("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),
    "q12_anti_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      t(s, dir, "customer")
        .join(o, col("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey").orderBy("c_custkey")
    }),
    "q13_rollup" -> ((s, dir) => {
      val agg = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count("*").as("n_cust"), rd(sum("c_acctbal"), 2).as("sum_bal"))
      // toDF cuts dataset lineage: rollup over a multi-join otherwise
      // trips the ambiguous-self-join check on the sort columns
      agg.toDF("r_name", "n_name", "n_cust", "sum_bal")
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
    }),
    "q14_cube" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count("*").as("n"), rd(sum("o_totalprice"), 2).as("sum_price"))
        .toDF("o_orderstatus", "o_orderpriority", "n", "sum_price")
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    }),
    "q15_having" -> ((s, dir) => {
      t(s, dir, "orders").groupBy("o_custkey").agg(count("*").as("n"))
        .filter(col("n") >= 8).orderBy("o_custkey")
    }),
    "q16_scalar_subquery" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val avgP = o.agg(avg("o_totalprice").as("ap"))
      o.crossJoin(broadcast(avgP)).filter(col("o_totalprice") > col("ap"))
        .agg(count("*").as("n_above"), rd(avg("o_totalprice"), 2).as("avg_above"))
    }),
    "q17_in_subquery" -> ((s, dir) => {
      val hot = t(s, dir, "lineitem").filter(col("l_quantity") >= 49.0).select(col("l_partkey"))
      val p = t(s, dir, "part")
      p.join(hot, p("p_partkey") === hot("l_partkey"), "left_semi")
        .select("p_partkey", "p_name").orderBy("p_partkey")
    }),
    "q18_string_funcs" -> ((s, dir) => {
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_name")).as("up_name"),
        substring(col("p_name"), 1, 8).as("pre"),
        length(col("p_name")).as("name_len"),
        concat_ws("#", col("p_brand"), col("p_type")).as("bt"),
        lpad(col("p_size").cast("string"), 4, "0").as("padded"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("novowels"),
        reverse(col("p_name")).as("rev")
      ).orderBy("p_partkey")
    }),
    "q19_date_funcs" -> ((s, dir) => {
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dy"),
        quarter(col("o_orderdate")).as("qtr"),
        dayofweek(col("o_orderdate")).as("dow"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start")
      ).orderBy("o_orderkey")
    }),
    "q20_case_agg" -> ((s, dir) => {
      t(s, dir, "orders").groupBy("o_orderpriority").agg(
        count("*").as("n"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_f"),
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_o"),
        sum(when(col("o_orderstatus") === "P", 1L).otherwise(0L)).as("n_p"))
        .withColumn("f_ratio", rd(col("n_f").cast("double") / col("n"), 6))
        .orderBy("o_orderpriority")
    }),
    // ---- events (timestamps / streaming-equivalent batch) ----
    "q21_events_hourly" -> ((s, dir) => {
      events(s, dir)
        .groupBy(col("event_type"),
          date_format(date_trunc("hour", col("tstamp")), "yyyy-MM-dd HH:mm").as("hour"))
        .agg(count("*").as("n"), rd(sum("value"), 4).as("sum_value"))
        .orderBy("event_type", "hour")
    }),
    "q22_events_lag" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, dir)
        .withColumn("ms", expr("ts_us div 1000"))
        .withColumn("delta_ms", col("ms") - lag("ms", 1).over(w))
        .select("user_id", "event_id", "delta_ms")
        .orderBy("user_id", "event_id")
    }),
    "q23_json_extract" -> ((s, dir) => {
      events(s, dir).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
        .orderBy("event_id")
    }),
    // ---- arrays / embeddings scalar surface ----
    "q24_array_norms" -> ((s, dir) => {
      val v = col("embedding").cast("array<double>")
      t(s, dir, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        rd(sqrt(sqNorm(v)), 6).as("l2_norm"),
        rd(aggregate(v, lit(0.0), (a, x) => a + x), 6).as("sum_vals")
      ).orderBy("vec_id")
    }),
    "q25_posexplode" -> ((s, dir) => {
      t(s, dir, "embeddings").filter(col("vec_id") < 10)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos"), rd(col("col").cast("double"), 6).as("val"))
        .orderBy("vec_id", "pos")
    }),
    "q39_full_outer" -> ((s, dir) => {
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 300000.0)
        .groupBy("o_custkey")
        .agg(count("*").as("n_big"), rd(sum("o_totalprice"), 2).as("sum_big"))
      val rich = t(s, dir, "customer").filter(col("c_acctbal") > 9000.0)
        .select(col("c_custkey"), col("c_name"))
      rich.join(big, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_name"), col("n_big"), col("sum_big"))
        .orderBy("custkey")
    }),
    "q40_salted_join" -> ((s, dir) => {
      // Result-equivalence of the explicit skew-salting path: salting
      // must never change WHAT a join produces, only how its rows
      // spread across reducers — so the oracle is the PLAIN join.
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      graft.operators.Skew.saltedJoin(li, ord, "l_orderkey",
          saltBy = "l_partkey", saltFactor = 8)
        .groupBy("o_orderstatus")
        .agg(count("*").as("n"), rd(sum("l_quantity"), 2).as("qty"))
        .orderBy("o_orderstatus")
    }),
    "txt_decontaminate" -> ((s, dir) => {
      // Benchmark decontamination: docs sharing any 5-gram with the
      // "eval set" (doc_id < 20) are removed — training-data hygiene.
      val docs = t(s, dir, "documents")
      Dedup.decontaminate(docs, docs.filter(col("doc_id") < 20), "text", "doc_id", 5)
        .select("doc_id").orderBy("doc_id")
    }),
    // ---- img2dataset-surface operators (SURVEY §2) ----
    "i_t2_key_synthesis" -> ((s, dir) => {
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
    }),
    "i_t12_hash" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"), md5(col("text")).as("md5_hex"), sha2(col("text"), 256).as("sha256_hex"))
        .orderBy("doc_id")
    }),
    "i_f2_hash_verify" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), md5(col("text")).as("computed"),
          when(col("doc_id") % 2 === 0, md5(col("text"))).otherwise(lit("0" * 32)).as("expected"))
        .withColumn("status", when(col("computed") === col("expected"), "success").otherwise("hash_mismatch"))
        .orderBy("doc_id")
    }),
    "i_f6_done_anti" -> ((s, dir) => {
      val shards = t(s, dir, "lineitem")
        .select(floor(col("l_orderkey") / 1000).cast("long").as("shard_id")).distinct()
      val done = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(floor(col("o_orderkey") / 1000).cast("long").as("shard_id")).distinct()
      shards.join(done, Seq("shard_id"), "left_anti").orderBy("shard_id")
    }),
    "i_a1_shard_stats" -> ((s, dir) => {
      t(s, dir, "orders")
        .withColumn("shard_id", floor(col("o_orderkey") / 1000).cast("long"))
        .groupBy("shard_id")
        .agg(count("*").as("count"),
             sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("successes"))
        .withColumn("success_rate", rd(col("successes").cast("double") / col("count"), 6))
        .orderBy("shard_id")
    }),
    "i_a2_capped_counter" -> ((s, dir) => {
      // A2: the reference's memory-capped error counter as a native
      // TypedImperativeAggregate. Cap far above the key count here, so
      // the sketch is exact and oracle-checkable; the trim path is
      // covered by CappedCounterSpec.
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(to_json(graft.plans.CappedCounter.cappedCounter(col("o_orderpriority"), 1000))
          .as("priority_counts"))
        .orderBy("o_orderstatus")
    }),
    "i_a3_topk" -> ((s, dir) => {
      t(s, dir, "documents").groupBy("source").agg(count("*").as("n"))
        .orderBy(col("n").desc, col("source").asc).limit(3)
    }),
    "i_a6_global_stats" -> ((s, dir) => {
      events(s, dir).agg(
        count("*").as("n"),
        min(expr("ts_us div 1000")).as("start_ms"),
        max(expr("ts_us div 1000")).as("end_ms"))
        .withColumn("duration_ms", col("end_ms") - col("start_ms"))
        .withColumn("rate_per_sec", rd(col("n") * 1000.0 / col("duration_ms"), 6))
    }),
    "i_p1_projection" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey").as("orderkey"), col("l_linenumber").as("line"),
                col("l_extendedprice").as("price"))
        .orderBy("orderkey", "line")
    }),
    "i_f3_size_filters" -> ((s, dir) => {
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
    }),
    // ---- text analysis ----
    "txt_tokens" -> ((s, dir) => {
      TextAnalysis.tokenStats(t(s, dir, "documents"), "text")
        .select("doc_id", "n_tokens", "n_bpeish_tokens", "n_chars_computed")
        .orderBy("doc_id")
    }),
    "txt_quality" -> ((s, dir) => {
      TextAnalysis.quality(t(s, dir, "documents"), "text")
        .select("doc_id", "punct_ratio", "stopword_ratio", "quality_score")
        .orderBy("doc_id")
    }),
    "txt_langid" -> ((s, dir) => {
      TextAnalysis.withLangId(t(s, dir, "documents"), "text")
        .select("doc_id", "lang_pred").orderBy("doc_id")
    }),
    "txt_fingerprint" -> ((s, dir) => {
      TextAnalysis.fingerprints(t(s, dir, "documents"), "text")
        .select("doc_id", "fingerprint", "rolling_hash").orderBy("doc_id")
    }),
    "txt_packing" -> ((s, dir) => {
      // Sequence packing for LLM training: assign each document to the
      // token-budget pack in which it starts (budget 2048), via the
      // DISTRIBUTED two-pass running token count (range shuffle +
      // broadcast prefix offsets) — no single-partition window.
      TextAnalysis.packSequences(t(s, dir, "documents"), "doc_id", "text", 2048)
        .select(col("doc_id"), col("n_tokens").cast("int").as("n_tokens"), col("pack_id"))
        .orderBy("doc_id")
    }),
    "txt_split" -> ((s, dir) => {
      // Deterministic train/val/test assignment by portable id hash —
      // THE 100 TB split mechanism: stable across runs/engines, no
      // sampling state, any engine reproduces the same membership.
      val h = pmod(Dedup.portableHash60(col("doc_id").cast("string")), lit(100))
      t(s, dir, "documents").select(col("doc_id"),
          when(h < 80, "train").when(h < 90, "val").otherwise("test").as("split"))
        .orderBy("doc_id")
    }),
    "txt_canonical" -> ((s, dir) => {
      // Canonical selection: for each near-dup cluster (capped LSH
      // pairs ≥ 0.3 → connected components) keep the HIGHEST-quality
      // member (ties → lowest doc_id); singletons are their own
      // canonical. The "which duplicate do we train on" step that
      // follows clustering in a real curation stack.
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashNearDups(docs, "text", "doc_id",
        shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.3,
        portableHash = true)
      val clusters = Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
      val q = TextAnalysis.quality(docs, "text").select(col("doc_id"), col("quality_score"))
      // Eager checkpoint (r15): withCluster is referenced TWICE below
      // (the canonical window AND the final join) — without it the
      // quality scan + cluster join re-plan and re-execute per
      // reference (the r14 duplicated-subtree pathology). Slim
      // doc-count-sized rows.
      val withCluster = org.apache.spark.sql.graftbridge.CheckpointBridge
        .localCheckpointFreshStats(q.join(clusters, Seq("doc_id"), "left")
          .withColumn("cl", coalesce(col("cluster_id"), col("doc_id"))))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cl").orderBy(col("quality_score").desc, col("doc_id").asc)
      val canon = withCluster.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select(col("cl"), col("doc_id").as("canonical_id"))
      withCluster.join(canon, "cl")
        .select("doc_id", "canonical_id").orderBy("doc_id")
    }),
    "txt_scrub" -> ((s, dir) => {
      // PII scrubbing audit: scrubbed text fingerprint + placeholder
      // count (emails/URLs/IPv4 → typed tokens; parity-safe ASCII
      // regex classes so any RE2/Java engine agrees byte-for-byte).
      t(s, dir, "documents").select(
        col("doc_id"),
        md5(TextFunctions.scrubPii(col("text"))).as("scrubbed_md5"),
        TextFunctions.piiCount(col("text")).as("n_pii"))
        .orderBy("doc_id")
    }),
    "txt_repetition" -> ((s, dir) => {
      // Gopher-style repetition quality signals: most-frequent-token
      // fraction + duplicated word-2-gram fraction.
      TextAnalysis.repetition(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),
    "txt_curation" -> ((s, dir) => {
      // End-to-end curation: language filter + quality threshold +
      // near-dup removal (keep the smallest doc_id of each near-dup
      // cluster). The composed form of the text-analysis + dedup
      // operators — the LLM-training-data use case in one plan.
      // Near-dup step is the CAPPED MinHash-LSH path (the at-scale
      // plan: bucketed equi-joins, skew cap), not the exact n-gram
      // join whose hot-shingle buckets go quadratic at 100 TB; the
      // exact form remains its own oracle query (dedup_ngram_jaccard).
      val docs = t(s, dir, "documents")
      val scored = TextAnalysis.quality(TextAnalysis.withLangId(docs, "text"), "text")
      val dupLosers = Dedup.minhashNearDups(docs, "text", "doc_id",
          shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.5,
          portableHash = true)
        .select(col("id_b").as("doc_id")).distinct()
      scored
        .filter(col("lang_pred") === "en" && col("quality_score") >= 0.5)
        .join(dupLosers, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang_pred", "quality_score")
        .orderBy("doc_id")
    }),
    // ---- dedup ----
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "text", "doc_id").orderBy("fingerprint")),
    "dedup_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id", 3, 0.3)
        .select(col("id_a"), col("id_b"), rd(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),
    "dedup_threshold_profile" -> ((s, dir) =>
      // Verify-threshold advisor: exact-Jaccard histogram over the
      // capped LSH candidates (threshold open) — measures where the
      // duplicate mode and the background separate before a dedup run
      // commits to a cutoff.
      Dedup.jaccardThresholdProfile(t(s, dir, "documents"), "text", "doc_id",
        shingleSize = 3, numHashes = 128, bands = 32, portableHash = true)),
    "dedup_sorted_neighborhood" -> ((s, dir) => {
      // Sorted-neighborhood blocking (merge/purge): rank by normalized
      // text prefix, pair within a 10-row window, verify exact Jaccard
      // — candidate volume exactly n·(w−1), no bucket-skew tail.
      Dedup.sortedNeighborhoodNearDups(t(s, dir, "documents"), "text", "doc_id",
          window = 10, keyLen = 24, shingleSize = 3, threshold = 0.3)
        .select(col("id_a"), col("id_b"), rd(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),
    "dedup_snm_multipass" -> ((s, dir) => {
      // Two-pass merge/purge: prefix key + reversed-suffix key, pairs
      // unioned + deduped before ONE shared exact-Jaccard verify — a
      // prefix-edited duplicate that pass 1's sort order separates is
      // caught by pass 2 (and vice versa).
      Dedup.sortedNeighborhoodMultiPass(t(s, dir, "documents"), "text", "doc_id",
          window = 10, keyLen = 24, shingleSize = 3, threshold = 0.3)
        .select(col("id_a"), col("id_b"), rd(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),
    "dedup_embed_cosine" -> ((s, dir) => {
      // EXACT all-pairs recall oracle for the LSH variant — fenced by
      // Dedup.requireOracleScale so it can never be pointed at a full
      // production corpus (the cross join is uncapped by design).
      Dedup.embedCosinePairsExact(t(s, dir, "embeddings"), "embedding", "vec_id", 0.4)
        .select(col("id_a"), col("id_b"), rd(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    }),
    "dedup_clusters" -> ((s, dir) => {
      // Connected components over the exact near-dup pairs: cluster
      // canonicalization (min reachable doc_id per member).
      val pairs = Dedup.ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id", 3, 0.3)
      Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    }),
    "dedup_clusters_lsh" -> ((s, dir) => {
      // The AT-SCALE clustering composition: connected components over
      // the CAPPED MinHash-LSH pair set (bucketed equi-joins + skew
      // cap) — what you actually run at 100 TB, where the exact-pair
      // variant above is the sampled recall oracle.
      val pairs = Dedup.minhashNearDups(t(s, dir, "documents"), "text", "doc_id",
        shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.3,
        portableHash = true)
      Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    }),
    // portableHash: the oracle-checked variants hash shingles/tokens
    // with the engine-independent md5-based hash so the DuckDB oracle
    // replicates the WHOLE approximate pipeline (signature, banding,
    // bucket cap, verification) bit-for-bit; the xxh64 fast path is
    // covered by DedupSpec recall tests.
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashNearDups(t(s, dir, "documents"), "text", "doc_id",
          shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.3,
          portableHash = true)
        .select(col("id_a"), col("id_b"), rd(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")),
    "dedup_containment" -> ((s, dir) =>
      // Same banded candidates as dedup_minhash_lsh, verified with
      // MAX-CONTAINMENT |A∩B|/min(|A|,|B|) — the embeds-the-other
      // metric (Gopher-style) symmetric Jaccard under-scores.
      Dedup.containmentNearDups(t(s, dir, "documents"), "text", "doc_id",
          shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.5,
          portableHash = true)
        .select(col("id_a"), col("id_b"), rd(col("containment"), 6).as("containment"))
        .orderBy("id_a", "id_b")),
    "txt_fuzzy_decontaminate" -> ((s, dir) => {
      // FUZZY decontamination: corpus docs (doc_id >= 20) whose n-gram
      // Jaccard vs any eval doc (doc_id < 20) reaches 0.3 are removed
      // — the near-dup form of txt_decontaminate, catching the edited
      // benchmark copies exact shingle overlap misses. Cross-corpus
      // MinHash band join, exact-Jaccard verify.
      val docs = t(s, dir, "documents")
      Dedup.minhashDecontaminate(docs.filter(col("doc_id") >= 20),
          docs.filter(col("doc_id") < 20), "text", "doc_id",
          shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.3,
          portableHash = true)
        .select("doc_id").orderBy("doc_id")
    }),
    "dedup_incremental" -> ((s, dir) => {
      // The daily-ingest flow end-to-end: batch 1 (even doc_ids) dedups
      // within itself, commits its survivors to a fresh parquet MinHash
      // index; batch 2 (odd doc_ids) dedups within itself AND against
      // the committed index (signature-agreement verify). The oracle
      // replays both batches from scratch — the index is derived state.
      val docs = t(s, dir, "documents")
      val idxDir = java.nio.file.Files.createTempDirectory("graft_incr_idx")
      val idx = idxDir.resolve("index").toString
      // The index only feeds s1 and s2, both checkpointed before they
      // return: the returned plan reads checkpointed blocks alone.
      try {
        val b1 = docs.filter(col("doc_id") % 2 === 0)
        val b2 = docs.filter(col("doc_id") % 2 === 1)
        val s1 = Dedup.incrementalMinhash(b1, "text", "doc_id", idx,
          shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.3,
          portableHash = true)
        // Batch-1's commit is overlapped behind batch-2's within-batch
        // candidate build (guide §2.6; r15): the build depends only on
        // b2, the commit only writes the index, and the operator
        // barriers before its first index read — computes exactly what
        // the sequential { commit(s1); incrementalMinhash(b2) } did.
        val s2 = Dedup.incrementalMinhashOverlapping(b2, "text", "doc_id", idx,
          shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.3,
          portableHash = true) { () =>
          Dedup.commitMinhash(s1, "text", "doc_id", idx,
            shingleSize = 3, numHashes = 128, bands = 32, portableHash = true)
        }
        s1.select(col("doc_id"), lit(1).as("batch"))
          .union(s2.select(col("doc_id"), lit(2).as("batch")))
          .orderBy("doc_id")
      } finally org.apache.commons.io.FileUtils.deleteDirectory(idxDir.toFile)
    }),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashNearDups(t(s, dir, "documents"), "text", "doc_id", maxHamming = 8,
          portableHash = true)
        .orderBy("id_a", "id_b")),
    "dedup_embed_lsh" -> ((s, dir) =>
      Dedup.embeddingNearDups(t(s, dir, "embeddings"), "embedding", "vec_id",
          dim = 64, threshold = 0.4, nPlanes = 8, nTables = 8)
        .select(col("id_a"), col("id_b"), rd(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")),
    "emb_knn_graph" -> ((s, dir) =>
      // directed k-NN graph over the same capped LSH buckets as
      // dedup_embed_lsh: each vector's 10 nearest bucket-mates by
      // exact cosine, ranked by the bounded-heap top-k.
      graft.operators.Similarity.knnGraph(t(s, dir, "embeddings"), "embedding",
          "vec_id", dim = 64, k = 10, nPlanes = 8, nTables = 8)
        .orderBy("src_id", "rank")),
    "emb_knn_graph_auto" -> ((s, dir) =>
      // the DEFAULT-parameter build: nPlanes is DERIVED from one corpus
      // count (Dedup.derivedPlanes — the r12 fix for the fixed-depth
      // density-quadratic scale trap). At oracle scale (≤ 4096 vectors)
      // the derivation lands exactly on the committed floor 8, so this
      // shares emb_knn_graph's depth-8 oracle bit-for-bit — while the
      // same call at the 30x curve's 60k vectors derives depth 12 and
      // builds ~16x faster than pinned-8 (SCALE_CURVE_r12).
      graft.operators.Similarity.knnGraph(t(s, dir, "embeddings"), "embedding",
          "vec_id", dim = 64, k = 10, nTables = 8)
        .orderBy("src_id", "rank")),
    "dedup_semantic" -> ((s, dir) =>
      // SemDeDup: k-means cells + within-cell cosine pruning, keep the
      // lowest-id representative. Deterministic portable-seed variant
      // (lloydIters = 0) so the oracle replays the full pipeline; the
      // k-means path keeps its behavior tests in DedupSpec.
      Dedup.semanticDedup(t(s, dir, "embeddings"), "embedding", "vec_id",
          nCells = 8, threshold = 0.4, lloydIters = 0, portableSeed = true)
        .orderBy("id")),
    // ---- similarity search ----
    "ann_bruteforce_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
          e.filter(col("vec_id") >= 5), e.filter(col("vec_id") < 5),
          "embedding", "vec_id", 10)
        .select(col("query_id"), col("corpus_id"), rd(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    "ann_ivf_topk" -> ((s, dir) => {
      // deterministic variant (portable-hash seed cells, no Lloyd
      // averaging) so the DuckDB oracle replicates the whole IVF
      // pipeline; the k-means path keeps its recall gate in DedupSpec
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(
          e.filter(col("vec_id") >= 5), e.filter(col("vec_id") < 5),
          "embedding", "vec_id", 10, nCells = 16, nProbe = 4,
          lloydIters = 0, portableSeed = true)
        .select(col("query_id"), col("corpus_id"), rd(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    "ann_pq_topk" -> ((s, dir) => {
      // deterministic variant (portable-seed codebook) so the DuckDB
      // oracle replicates PQ encode + ADC scoring bit-for-bit
      val e = t(s, dir, "embeddings")
      Similarity.pqTopK(
          e.filter(col("vec_id") >= 5), e.filter(col("vec_id") < 5),
          "embedding", "vec_id", 10, m = 8, ksub = 16, lloydIters = 0,
          portableSeed = true)
        .select(col("query_id"), col("corpus_id"),
                rd(col("approx_sqdist"), 6).as("approx_sqdist"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // ---- multimodal binary plumbing ----
    "mm_binary_meta" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        octet_length(col("text")).as("n_bytes"),
        md5(col("text").cast("binary")).as("payload_md5"))
        .orderBy("doc_id")
    }),
    "mm_image_meta" -> ((s, dir) => {
      // Real ImageIO decode plumbing over a binary column; text
      // payloads are not images, so the (deterministic) outcome is the
      // decode-failed tagging path with byte counts — the same struct
      // real images fill with dims/format.
      graft.operators.Multimodal.withImageMeta(
          t(s, dir, "documents").select(col("doc_id"), col("text").cast("binary").as("payload")),
          "payload")
        .select(col("doc_id"), col("image_meta.width").as("width"),
                col("image_meta.height").as("height"),
                col("image_meta.n_bytes").as("n_bytes"),
                col("image_meta.decode_error").as("decode_error"))
        .orderBy("doc_id")
    }),
    "q26_union_all" -> ((s, dir) => {
      val o = t(s, dir, "orders").agg(count("*").as("n")).select(lit("orders").as("src"), col("n"))
      val c = t(s, dir, "customer").agg(count("*").as("n")).select(lit("customer").as("src"), col("n"))
      val l = t(s, dir, "lineitem").agg(count("*").as("n")).select(lit("lineitem").as("src"), col("n"))
      o.unionAll(c).unionAll(l).orderBy("src")
    }),
    "q28_asof_join" -> ((s, dir) => {
      // Backward as-of join (operator Spark lacks; composed as a
      // single-shuffle union-window — Joins.asOfJoin). Oracle: DuckDB's
      // native ASOF LEFT JOIN.
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "event_id")
      val views = ev.filter(col("event_type") === "view")
        .select("user_id", "ts", "event_id", "value")
      graft.operators.Joins.asOfJoin(clicks, views, Seq("user_id"), "ts",
          Seq("event_id" -> "view_event_id", "value" -> "view_value"))
        .select("user_id", "event_id", "view_event_id", "view_value")
        .orderBy("event_id")
    }),
    "q29_range_join" -> ((s, dir) => {
      // Bucketized range join: click↔view pairs within ±60s per user.
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click").select("user_id", "ts_us", "event_id")
      val views = ev.filter(col("event_type") === "view").select("user_id", "ts_us", "event_id")
      graft.operators.Joins.rangeJoin(clicks, views, Seq("user_id"), "ts_us",
          before = 60L * 1000000L, after = 60L * 1000000L,
          granularity = 60L * 1000000L)
        .select(col("event_id").as("click_id"), col("r_event_id").as("view_id"))
        .orderBy("click_id", "view_id")
    }),
    "q30_percentiles" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        rd(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
        rd(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
        rd(expr("percentile(l_quantity, 0.75)"), 4).as("p75"),
        rd(expr("percentile(l_extendedprice, 0.9)"), 2).as("price_p90"))
        .orderBy("l_returnflag")
    }),
    "q31_stats_aggs" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        rd(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
        rd(var_samp(col("l_quantity")), 6).as("var_qty"),
        rd(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
        rd(covar_samp(col("l_quantity"), col("l_discount")), 6).as("cov_qd"))
        .orderBy("l_returnflag")
    }),
    "q32_sessionize_batch" -> ((s, dir) => {
      // Batch formulation of gap sessionization (streaming twin:
      // EventStream.sessionize): session bumps when the gap > 300 s.
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, dir)
        .withColumn("ms", expr("ts_us div 1000"))
        .withColumn("gap_ms", col("ms") - lag("ms", 1).over(w))
        .withColumn("new_session",
          when(col("gap_ms").isNull || col("gap_ms") > 300000L, 1L).otherwise(0L))
        .withColumn("session_id", sum("new_session")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("user_id", "event_id", "session_id")
        .orderBy("user_id", "event_id")
    }),
    "q33_count_distinct" -> ((s, dir) => {
      events(s, dir).groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"),
             count("*").as("n_events"))
        .orderBy("event_type")
    }),
    "q34_null_funcs" -> ((s, dir) => {
      t(s, dir, "orders").select(
        col("o_orderkey"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status_or_open"),
        when(col("o_totalprice") > 100000.0, col("o_totalprice")).as("big_price"),
        greatest(col("o_totalprice"), lit(50000.0)).as("floored"),
        least(col("o_custkey"), col("o_orderkey")).as("min_key"))
        .orderBy("o_orderkey")
    }),
    "q35_array_ops" -> ((s, dir) => {
      val v = col("embedding").cast("array<double>")
      t(s, dir, "embeddings").filter(col("vec_id") < 50).select(
        col("vec_id"),
        rd(array_max(v), 6).as("vmax"),
        rd(array_min(v), 6).as("vmin"),
        rd(element_at(v, 1), 6).as("first_el"),
        rd(element_at(v, -1), 6).as("last_el"),
        size(filter(v, x => x > 0.0)).as("n_pos"),
        rd(sort_array(v).getItem(0), 6).as("sorted_first"))
        .orderBy("vec_id")
    }),
    "q36_grouping_sets" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql(s"""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")
    }),
    "q37_range_frame" -> ((s, dir) => {
      // RANGE frame over a numeric time axis: 7-day trailing sum of
      // order totals per customer.
      val day = 86400000L
      val w = Window.partitionBy("o_custkey").orderBy(col("ms"))
        .rangeBetween(-7 * day, 0)
      t(s, dir, "orders")
        // o_orderdate is TIMESTAMP_NTZ (Spark 4 parquet inference);
        // cast to LTZ under the UTC session before epoch extraction.
        .withColumn("ms", unix_millis(col("o_orderdate").cast("timestamp")))
        .withColumn("trailing_7d", rd(sum("o_totalprice").over(w), 2))
        .select("o_custkey", "o_orderkey", "trailing_7d")
        .orderBy("o_custkey", "o_orderkey")
    }),
    "q38_pivot" -> ((s, dir) => {
      t(s, dir, "orders").groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P")).count()
        .orderBy("o_orderpriority")
    }),
    "q27_window_funcs" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("dr", dense_rank().over(w))
        .withColumn("next_key", lead("o_orderkey", 1).over(w))
        .withColumn("quartile", ntile(4).over(w))
        .select("o_custkey", "o_orderkey", "dr", "next_key", "quartile")
        .orderBy("o_custkey", "o_orderkey")
    }),
    "txt_chunk_dedup" -> ((s, dir) => {
      // Sub-document exact dedup (Lee et al. 2022): flag every
      // 3-token chunk occurrence that repeats an earlier one
      // (globally, by (doc, position) order). Agg+join formulation —
      // no window over the chunk key, so a hot boilerplate chunk
      // cannot pile into one task at scale.
      TextAnalysis.chunkDedup(t(s, dir, "documents"), "doc_id", "text", chunkSize = 3)
        .orderBy("doc_id")
    }),
    "txt_c4_filters" -> ((s, dir) => {
      // C4/Gopher document-filter flags: each heuristic its own
      // boolean column + composite keep. Pure codegen'd scan.
      TextAnalysis.c4Filters(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),
    "dedup_url" -> ((s, dir) => {
      // URL canonicalization dedup: four crawl-spelling variants of
      // the same logical page (host case, default port, utm params,
      // fragment) are derived per doc_id, then grouped by canonical
      // form — variants 0/1 and 2/3 must collapse pairwise.
      val base = expr("CAST(doc_id div 4 AS STRING)")
      val variant = pmod(col("doc_id"), lit(4))
      val url = when(variant === 0,
          concat(lit("HTTP://Example.COM:80/p/"), base, lit("?utm_source=feed&id=7")))
        .when(variant === 1, concat(lit("http://example.com/p/"), base, lit("?id=7")))
        .when(variant === 2, concat(lit("https://CDN.Site.org:443/img/"), base, lit("#frag")))
        .otherwise(concat(lit("https://cdn.site.org/img/"), base))
      t(s, dir, "documents")
        .select(col("doc_id"), UrlFunctions.normalizeUrl(url).as("canonical_url"))
        .groupBy("canonical_url")
        .agg(count("*").as("n_urls"), min("doc_id").as("first_doc"))
        .orderBy("canonical_url")
    }),
    "sketch_hll_distinct" -> ((s, dir) => {
      // Portable HyperLogLog over the highest-cardinality key in the
      // test set (lineitem composite line id: n ≥ 2.5·m at every SF,
      // the raw-HLL validity regime). Integer-arithmetic harmonic sum
      // → bit-exact oracle.
      Sketches.hllDistinct(
          t(s, dir, "lineitem")
            .select(concat_ws(":", col("l_orderkey"), col("l_linenumber")).as("line_key")),
          "line_key", Seq.empty, p = 11)
    }),
    "sketch_hll_union" -> ((s, dir) => {
      // Mergeability: per-priority register tables (overlapping
      // custkey sets — a customer orders at many priorities) roll up
      // by pointwise max to the GLOBAL distinct estimate without
      // re-reading raw data. The oracle replays both levels and
      // asserts the merged result equals direct global sketching.
      val orders = t(s, dir, "orders")
      val regs = Sketches.hllRegisters(
        orders.select(col("o_custkey"), col("o_orderpriority")),
        "o_custkey", Seq("o_orderpriority"), p = 11)
      val est = Sketches.hllFromRegisters(regs, Seq.empty, p = 11)
      orders.agg(countDistinct(col("o_custkey")).as("n_exact")).crossJoin(est)
    }),
    "sketch_cms_topk" -> ((s, dir) => {
      // Portable Count-Min-Sketch heavy hitters over the token stream
      // (estimate = min over 4 hash rows of 1024 buckets each).
      // scan-parallelism floor on the slim DOC rows before the explode
      // (r15): both CMS branches hash every token d+1 times with the
      // md5-based portable hash — measured 2×(1.2–2.2) CPU-s
      // single-task stages on the single-row-group bench parquet.
      // Counts/min are exact (partition-order immune); no-op at
      // production scan widths.
      Sketches.cmsTopK(
          Dedup.scanParallelismFloor(t(s, dir, "documents").select(col("text")))
            .select(explode(TextFunctions.tokens(col("text"))).as("token")),
          "token", d = 4, w = 1024, k = 20)
        .orderBy(col("cms_estimate").desc, col("item").asc)
    }),
    "sketch_kmv_distinct" -> ((s, dir) =>
      // KMV distinct estimate: 64 smallest distinct portable hashes
      // of l_partkey; estimate = 63·2^60 / h_64 — config-sized
      // synopsis, TakeOrderedAndProject (no global sort).
      Sketches.kmvDistinct(t(s, dir, "lineitem"), "l_partkey", k = 64)),
    "sketch_kmv_setops" -> ((s, dir) =>
      // Set-operation estimates from two KMV synopses alone — the
      // corpus-overlap question (union / intersection / Jaccard of
      // customer keys vs ordering-customer keys) answered without
      // ever joining the corpora.
      Sketches.kmvSetOps(t(s, dir, "customer"), t(s, dir, "orders")
          .select(col("o_custkey").as("c_custkey")), "c_custkey", k = 64)),
    "samp_stratified" -> ((s, dir) => {
      // Deterministic stratified sampling — the corpus-mixing
      // primitive: downsample English hard, keep half of German,
      // a quarter of everything else. Membership is a pure function
      // of (salt, doc_id): reproducible across runs, retries, and
      // engines; the filter is a narrow scan-side expression.
      graft.operators.Sampling.stratifiedSample(
          t(s, dir, "documents"), "lang", "doc_id",
          Map("en" -> 0.10, "de" -> 0.50), defaultFrac = 0.25)
        .select("doc_id", "lang").orderBy("doc_id")
    }),
    "samp_hash_topk" -> ((s, dir) => {
      // Exactly-k uniform sample with no population-size knowledge:
      // smallest-hash k rows via bounded per-partition heaps
      // (TakeOrderedAndProject), never a global sort.
      graft.operators.Sampling.hashTopK(t(s, dir, "documents"), "doc_id", 100)
        .select("doc_id").orderBy("doc_id")
    }),
    "samp_weighted" -> ((s, dir) => {
      // Importance sampling by quality: each doc kept with
      // probability = its (rounded) quality score — the soft
      // alternative to a hard threshold; membership a pure function
      // of (salt, doc_id, score), narrow scan-side filter.
      val scored = t(s, dir, "documents").withColumn("score",
        TextFunctions.qualityScore(col("text")))
      graft.operators.Sampling.weightedSample(scored, "doc_id", "score")
        .select("doc_id", "score").orderBy("doc_id")
    }),
    "samp_key_cap" -> ((s, dir) =>
      // Per-source cap (the per-host limit of web-corpus recipes):
      // ≤ 10 docs per source, deterministic hash order, bounded heap
      // per key — a hot domain costs the same heap as a small one.
      graft.operators.Sampling.perKeyCap(t(s, dir, "documents"),
          "source", "doc_id", cap = 10)
        .orderBy("key", "rank")),
    "samp_cluster_balanced" -> ((s, dir) =>
      // Diversity sampling: ≤ perCell rows from each k-means cell,
      // picked by deterministic hash order via the bounded heap —
      // every semantic region capped equally, no window ever sorts a
      // cell. Portable-seed cells (lloydIters = 0) so the oracle
      // replays the cells, the hash order, and the cap exactly.
      graft.operators.Sampling.clusterBalancedSample(t(s, dir, "embeddings"),
          "embedding", "vec_id", nCells = 8, perCell = 5,
          lloydIters = 0, portableSeed = true)
        .orderBy("cell_id", "rank")),
    "sketch_bloom_decontaminate" -> ((s, dir) => {
      // Decontamination against a BROADCAST bloom of the eval set
      // (doc_id < 20, same benchmark as txt_decontaminate): the probe
      // is a literal-array bit test in the scan — no corpus-vs-
      // benchmark shuffle. exact_contaminated rides along to audit
      // the (one-sided) false-positive rate.
      val docs = t(s, dir, "documents")
      Sketches.bloomDecontaminate(docs, docs.filter(col("doc_id") < 20),
          "text", "doc_id", shingleSize = 5, mBits = 1 << 16, kHashes = 3)
        .orderBy("doc_id")
    }),
    "ann_hamming_topk" -> ((s, dir) => {
      // Binary-signature ANN: 48 packed sign bits per embedding,
      // per-query top-10 by Hamming distance via the bounded heap.
      val e = t(s, dir, "embeddings")
      Similarity.hammingTopK(e.filter(col("vec_id") >= 5), e.filter(col("vec_id") < 5),
          "embedding", "vec_id", dim = 64, k = 10, nBits = 48)
        .orderBy("query_id", "rank")
    }),
    "emb_int8_topk" -> ((s, dir) => {
      // int8 scalar-quantized ANN: exact integer dot products over the
      // 4×-compressed corpus, dequantized by both scales. Every
      // quantized element is one multiply/divide/floor — the oracle
      // reproduces the whole pipeline bit-for-bit.
      val e = t(s, dir, "embeddings")
      Similarity.int8TopK(e.filter(col("vec_id") >= 5), e.filter(col("vec_id") < 5),
          "embedding", "vec_id", k = 10)
        .select(col("query_id"), col("corpus_id"), rd(col("score"), 6).as("score"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    "dedup_hamming_pairs" -> ((s, dir) => {
      // Signature-agnostic banded-Hamming near-dup (the core behind
      // perceptual image dedup): 48 packed sign bits per embedding as
      // the stand-in fingerprint, 6 bands × 8 bits, bit_count verify.
      // The image front-end (Multimodal.imageDHash) feeds the SAME
      // operator and is spec-tested on real decoded pixels.
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
      val planes = Seq(Dedup.randomPlanes(48, 64, Dedup.DefaultSeed))
      val sigs = t(s, dir, "embeddings").select(col("vec_id").as("id"),
        element_at(column(graft.plans.HyperplaneBuckets(
          expression(col("embedding").cast("array<double>")), planes)), 1).as("sig"))
      Dedup.hammingNearDups(sigs, "sig", "id", nBits = 48, bands = 6, maxHamming = 11)
        .orderBy("id_a", "id_b")
    }),
    "txt_html_extract" -> ((s, dir) => {
      // WET-style HTML → main-text extraction: each doc wrapped in a
      // deterministic page shell (script with a '<' inside, nav bar,
      // entity-bearing footer), then the full extraction chain —
      // script/style removal, block-tag newlines, tag strip, entity
      // unescape, line-level boilerplate gate. The nav ("Home |
      // About | Contact": 3 letter-words) and footer die; body
      // prose survives.
      val html = concat(
        lit("<html><head><title>Doc</title>" +
          "<script type=\"text/javascript\">var x = 1 < 2; // nav()</script>" +
          "<style>.nav{display:none}</style></head><body>" +
          "<div class=\"nav\">Home | About | Contact</div><p>"),
        col("text"),
        lit("</p><div class=\"footer\">&copy; 2026 Example &amp; Co</div>" +
          "</body></html>"))
      TextAnalysis.htmlExtract(
          t(s, dir, "documents").withColumn("html", html), "html")
        .select("doc_id", "extracted", "n_lines_kept", "n_lines_total")
        .orderBy("doc_id")
    }),
    "txt_substring_dedup" -> ((s, dir) => {
      // Exact substring-duplication spans (Lee et al. 2022): every
      // overlapping 5-gram hashed, duplicated positions merged into
      // MAXIMAL spans per doc (gaps-and-islands; window key = doc).
      TextAnalysis.substringDedup(t(s, dir, "documents"), "doc_id", "text", gramSize = 5)
        .orderBy("doc_id")
    }),
    "txt_substring_strip" -> ((s, dir) => {
      // The REMOVE step of ExactSubstr dedup: every duplicated 5-gram
      // window keeps only its global first occurrence; text rebuilt
      // scan-side from the removed-index array (no token shuffle).
      TextAnalysis.substringStrip(t(s, dir, "documents"), "doc_id", "text", gramSize = 5)
        .orderBy("doc_id")
    }),
    "txt_lm_score" -> ((s, dir) => {
      // CCNet-style fluency scoring against the corpus's own add-one
      // bigram table; per-bigram probabilities quantized to integers
      // before the per-doc mean, so the aggregate is order-immune.
      TextAnalysis.lmScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),
    "txt_classifier" -> ((s, dir) => {
      // fastText-shaped linear quality classifier: hashed
      // unigram+bigram features scored against a broadcast weight
      // map. The weight per bucket is a deterministic formula of the
      // bucket id so the oracle can regenerate the identical model;
      // the DATA path (hashing, lookup, exact integer logit) is what
      // the hash-match verifies.
      val nBuckets = 4096
      val weights = s.range(nBuckets).select(
        col("id").as("bucket"),
        (pmod(col("id") * lit(2654435761L), lit(2001L)) - lit(1000L)).as("weight_q"))
      TextAnalysis.classifierScore(t(s, dir, "documents"), "doc_id", "text",
          weights, numBuckets = nBuckets)
        .orderBy("doc_id")
    }),
    "txt_keywords" -> ((s, dir) => {
      // TF-IDF keyword extraction: top-5 terms per doc; idf quantized
      // to 1e-6 integers per TERM (safe magnitude for cross-engine
      // ln), score an exact integer product, term-string tiebreak.
      TextAnalysis.tfidfKeywords(t(s, dir, "documents"), "doc_id", "text", k = 5)
        .orderBy("doc_id", "rank")
    }),
    "meta_profile" -> ((s, dir) => {
      // ANALYZE-style per-column profile of orders: exact counts from
      // ONE aggregation pass, type-appropriate min/max (numeric as
      // double, timestamp via explicit second-precision format).
      graft.operators.Maintenance.profileTable(t(s, dir, "orders"))
        .orderBy("col_name")
    }),
    "sketch_quantile" -> ((s, dir) => {
      // histogram quantile sketch per return flag: 256 bins over a
      // fixed [0, 262144) price domain (power-of-two width keeps the
      // bin arithmetic FP-exact); ≤256 slim rows per group shuffle.
      graft.operators.Sketches.quantileSketch(
          t(s, dir, "lineitem"), "l_extendedprice", Seq("l_returnflag"),
          lo = 0.0, hi = 262144.0, numBuckets = 256,
          quantiles = Seq(0.25, 0.5, 0.9, 0.99))
        .orderBy("l_returnflag", "quantile")
    }),
    "samp_mixture" -> ((s, dir) => {
      // Target-mixture sampling: rates DERIVED from the domain counts
      // to hit 50/25/12.5/12.5 shares at the largest feasible size
      // (power-of-two weights keep the rate arithmetic exact in FP).
      graft.operators.Sampling.mixtureSample(
          t(s, dir, "documents"), "source", "doc_id",
          Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.125, "src3" -> 0.125))
        .select("doc_id", "source").orderBy("doc_id")
    }),
    "emb_label_outliers" -> ((s, dir) => {
      // Noisy-label pruning: per label, the 10 members least
      // cosine-similar to their own label centroid (integer-quantized
      // centroid sums → order-immune; bounded-heap bottom-k).
      Similarity.labelOutliers(t(s, dir, "embeddings"), "embedding", "vec_id", "label", k = 10)
        .orderBy("label", "rank")
    }),
    "txt_entropy" -> ((s, dir) => {
      // Token Shannon entropy per doc (information-density quality
      // gate): per-term 1e-6-quantized integers → exact sums.
      TextAnalysis.tokenEntropy(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),
    "emb_linear_score" -> ((s, dir) => {
      // Linear quality head over embeddings (aesthetic-predictor
      // shape): plan-literal integer model, pure scan-side scoring.
      Similarity.linearScore(t(s, dir, "embeddings"), "embedding", "vec_id", dim = 64)
        .orderBy("vec_id")
    }),
    "samp_temperature" -> ((s, dir) => {
      // α-temperature language rebalancing (XLM-R/mC4 rule): the
      // smallest language keeps 100%, larger ones soften as n^(α-1).
      graft.operators.Sampling.temperatureSample(
          t(s, dir, "documents"), "lang", "doc_id", alpha = 0.3)
        .select("doc_id", "lang").orderBy("doc_id")
    }),
    "samp_dsir" -> ((s, dir) => {
      // DSIR importance resampling: raw = all documents, target = the
      // English slice; top-50 docs whose hashed-unigram distribution
      // most resembles the target under add-one-smoothed log-ratios.
      val docs = t(s, dir, "documents")
      graft.operators.Sampling.dsirSample(
        docs, docs.filter(col("lang") === "en"), "doc_id", "text",
        numBuckets = 256, k = 50)
    }),
    "sketch_domain_overlap" -> ((s, dir) => {
      // Pairwise source-overlap matrix from per-source KMV synopses:
      // one corpus pass into k-long sketches, then a tiny self-join.
      Sketches.kmvOverlapMatrix(t(s, dir, "documents"), "source", "text", k = 64)
        .orderBy("source_a", "source_b")
    }),
    "txt_ccnet_buckets" -> ((s, dir) => {
      // CCNet head/middle/tail, faithful shape: one bigram LM PER
      // LANGUAGE (lmScoreBy) scores its own documents, then
      // per-language tercile thresholds from the histogram sketch.
      val docs = t(s, dir, "documents")
      // Eager checkpoint (r15): languageBuckets reads its input TWICE
      // (the per-language quantile sketch AND the final bucket join),
      // and here that input embeds the whole per-language LM pipeline
      // — without the checkpoint the LM chain is re-planned and
      // re-executed per reference (the r14 duplicated-subtree
      // pathology). The checkpointed frame is doc-count-sized slim
      // rows (doc_id, lang, n_bigrams, lm_score) — the established
      // localCheckpoint pattern.
      val scored = org.apache.spark.sql.graftbridge.CheckpointBridge
        .localCheckpointFreshStats(
          TextAnalysis.lmScoreBy(docs, "doc_id", "text", "lang")
            .join(docs.select("doc_id", "lang"), Seq("doc_id")))
      TextAnalysis.languageBuckets(scored, "doc_id", "lang", "lm_score",
          lo = 0.0, hi = 0.1)
        .select("doc_id", "lang", "n_bigrams", "lm_score", "bucket")
        .orderBy("doc_id")
    }),
    "txt_winnowing" -> ((s, dir) => {
      // MOSS winnowing fingerprints: rightmost-min gram hash per
      // sliding window — all scan-side, nothing shuffles.
      TextAnalysis.winnowing(t(s, dir, "documents"), "doc_id", "text",
          gramSize = 5, w = 4)
        .orderBy("doc_id")
    }),
    "dedup_winnowing" -> ((s, dir) => {
      // MOSS matching: pairs sharing >= 2 winnowing fingerprints,
      // capped-bucket equi-join over slim (doc, hash) rows.
      TextAnalysis.winnowingPairs(t(s, dir, "documents"), "doc_id", "text",
          gramSize = 5, w = 4, minShared = 2, maxBucketSize = 50)
        .orderBy("id_a", "id_b")
    }),
    "dedup_winnowing_clusters" -> ((s, dir) => {
      // MOSS end-to-end: winnowing pair matches -> connected
      // components — position-robust plagiarism/near-dup GROUPS,
      // where the chunk/LSH cluster families would miss shifted
      // copies. Same capped pair generator as dedup_winnowing; same
      // pointer-doubling components as dedup_clusters.
      val pairs = TextAnalysis.winnowingPairs(t(s, dir, "documents"), "doc_id", "text",
        gramSize = 5, w = 4, minShared = 2, maxBucketSize = 50)
      Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    }),
    "emb_random_projection" -> ((s, dir) => {
      // JL random projection 64 -> 16 dims: plan-literal integer
      // matrix, exact integer output components. Flattened to
      // (vec_id, dim, comp) rows — the oracle comparator is scalar.
      Similarity.randomProjection(t(s, dir, "embeddings"), "embedding", "vec_id",
          dim = 64, outDim = 16)
        .select(col("vec_id"), posexplode(col("proj_q")).as(Seq("dim", "comp")))
        .orderBy("vec_id", "dim")
    }),
    "evt_funnel" -> ((s, dir) =>
      // Strict-order conversion funnel view -> click -> purchase,
      // each step within 7 days of the previous step's completion.
      // Chained slim per-user min-aggregations — no windows, no
      // per-user event lists.
      graft.operators.EventAnalytics.funnel(events(s, dir),
        "user_id", "event_type", "ts_us",
        Seq("view", "click", "purchase"), horizonUs = 7L * 86400000000L)),
    "evt_retention" -> ((s, dir) =>
      // Weekly cohort retention from pure integer day/week indices
      // (micros div) — no calendar/timezone dependence.
      graft.operators.EventAnalytics.retention(events(s, dir), "user_id", "ts_us")),
    "dedup_edit_distance" -> ((s, dir) =>
      // MinHash-LSH candidates (same portable chain as
      // dedup_minhash_lsh) verified by BOUNDED levenshtein over the
      // raw text — the character-edit notion of near-duplicate.
      Dedup.editDistanceNearDups(t(s, dir, "documents"), "text", "doc_id",
          maxDist = 32, shingleSize = 3, numHashes = 128, bands = 32,
          portableHash = true)
        .orderBy("id_a", "id_b")),
    "emb_pagerank" -> ((s, dir) =>
      // Centrality-weighted data selection: integer-arithmetic
      // PageRank (5 power iterations, d = 85/100) over the SAME
      // capped-LSH k-NN graph as emb_knn_graph. Bit-exact: every
      // intermediate is a long, sums are order-immune.
      graft.operators.Graphs.pageRank(
          graft.operators.Similarity.knnGraph(t(s, dir, "embeddings"), "embedding",
            "vec_id", dim = 64, k = 10, nPlanes = 8, nTables = 8)
            .select(col("src_id"), col("nbr_id")),
          srcCol = "src_id", dstCol = "nbr_id", iterations = 5)
        .select(col("id").as("vec_id"), col("rank_nanos"))
        .orderBy("vec_id")),
    "emb_label_prop" -> ((s, dir) => {
      // Semi-supervised labeling: every 5th vector keeps its true
      // label as a seed; 3 LPA iterations spread labels across the
      // same capped-LSH k-NN graph. Mode tie-break = smallest label,
      // seeds clamped — fully deterministic.
      val emb = t(s, dir, "embeddings")
      graft.operators.Graphs.labelPropagation(
          graft.operators.Similarity.knnGraph(emb, "embedding", "vec_id",
            dim = 64, k = 10, nPlanes = 8, nTables = 8)
            .select(col("src_id"), col("nbr_id")),
          emb.filter(col("vec_id") % 5 === 0).select(col("vec_id"), col("label")),
          srcCol = "src_id", dstCol = "nbr_id", idCol = "vec_id",
          labelCol = "label", iterations = 3)
        .select(col("id").as("vec_id"), col("label"))
        .orderBy("vec_id")
    }),
    "emb_bucket_profile" -> ((s, dir) =>
      // LSH key-depth advisor: per-table bucket occupancy + the exact
      // candidate-pair work the bucketed build will pay — the one-scan
      // check that catches quadratic density creep (the 30x-curve
      // emb_knn_graph finding) BEFORE a big build.
      graft.operators.Similarity.lshBucketProfile(t(s, dir, "embeddings"),
        "embedding", "vec_id", dim = 64, nPlanes = 8, nTables = 8)),
    "emb_pq_profile" -> ((s, dir) =>
      // PQ codebook-quality advisor: exact mean reconstruction error
      // per candidate subspace count (shared seed codebook), one
      // narrow corpus scan scoring every m at once — the bits-vs-
      // distortion curve measured before a cluster-wide encode.
      graft.operators.Similarity.pqDistortionProfile(t(s, dir, "embeddings"),
        "embedding", "vec_id", dim = 64, portableSeed = true)),
    "emb_ivf_profile" -> ((s, dir) =>
      // IVF nProbe advisor: exact scan work + sampled recall@k per
      // candidate probe count — ONE corpus pass scores every depth
      // (cells partition the corpus, so each candidate row carries
      // exactly one probe rank).
      graft.operators.Similarity.ivfProbeProfile(t(s, dir, "embeddings"),
        "embedding", "vec_id", dim = 64, portableSeed = true)),
    "emb_recall_profile" -> ((s, dir) =>
      // The recall half of the key-depth decision emb_bucket_profile
      // opened: per candidate depth, the exact capped candidate work
      // AND the sampled recall@10 it buys (8 portable-hash queries vs
      // exact cosine top-10). A 100 TB user reads the two advisors
      // together: deepest depth whose recall clears target.
      graft.operators.Similarity.lshRecallProfile(t(s, dir, "embeddings"),
        "embedding", "vec_id", dim = 64, depths = Seq(4, 6, 8),
        k = 10, nTables = 8, sampleQ = 8)),
    "emb_graph_suite" -> ((s, dir) =>
      // One-build-many-queries for the embedding graph class: the
      // capped-LSH k-NN edge list is built and checkpointed ONCE,
      // then feeds out-degree + PageRank + label propagation —
      // centrality and label from a single edge build, where the
      // three standalone queries each pay the bucket/top-k build.
      graft.operators.Graphs.embeddingGraphSuite(t(s, dir, "embeddings"),
          "embedding", "vec_id", "label", dim = 64, k = 10,
          nPlanes = 8, nTables = 8)
        .orderBy("vec_id")),
    "samp_winsorize" -> ((s, dir) =>
      // Per-group winsorization: clamp prices to each return flag's
      // [p01, p99] sketch-quantile band. Thresholds shuffle as bin
      // counts; the clip is a narrow scan-side least/greatest
      // against an O(groups) broadcast.
      graft.operators.Sampling.winsorize(t(s, dir, "lineitem"),
          "l_extendedprice", Seq("l_returnflag"),
          lo = 0.0, hi = 262144.0, numBuckets = 256, pLow = 0.01, pHigh = 0.99)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_extendedprice_w"))
        .orderBy("l_orderkey", "l_linenumber")),
    "meta_upsert" -> ((s, dir) => {
      // MERGE INTO semantics over plain parquet: +10% price updates
      // for every 10th order, inserts under fresh keys for every
      // 100th-ish — updates win, untouched rows pass through.
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val upd = base.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * lit(1.1))
      val ins = base.filter(col("o_orderkey") % 100 === 7)
        .select((col("o_orderkey") + lit(100000000L)).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
      graft.operators.Maintenance.upsert(base, upd.unionByName(ins), Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }),
    "evt_session_stats" -> ((s, dir) => {
      // Per-session rollup over the q32 gap sessionization (300 s):
      // event count, wall duration, value sum per (user, session).
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      events(s, dir)
        .withColumn("gap_us", col("ts_us") - lag("ts_us", 1).over(w))
        .withColumn("new_session",
          when(col("gap_us").isNull || col("gap_us") > 300000000L, 1L).otherwise(0L))
        .withColumn("session_id", sum("new_session")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(count("*").as("n_events"),
          expr("(max(ts_us) - min(ts_us)) div 1000").as("duration_ms"),
          rd(sum(col("value")), 2).as("sum_value"))
        .orderBy("user_id", "session_id")
    }),
    "evt_transitions" -> ((s, dir) => {
      // Markov next-event transition matrix: per-user event
      // successor pairs → counts + row-normalized probabilities.
      // The only data window keys by user; the probability window
      // rolls up the ≤ |types|² matrix.
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      events(s, dir)
        .withColumn("to_event", lead("event_type", 1).over(w))
        .filter(col("to_event").isNotNull)
        .groupBy(col("event_type").as("from_event"), col("to_event"))
        .agg(count("*").as("n"))
        .withColumn("p", rd(col("n").cast("double") /
          sum("n").over(Window.partitionBy("from_event")).cast("double"), 6))
        .orderBy("from_event", "to_event")
    }),
    "evt_markov_score" -> ((s, dir) =>
      // Per-user surprisal under the corpus' Laplace-smoothed Markov
      // transition model: one event scan (user-keyed window), slim
      // persisted (user,from,to,n) frame, matrix joins back broadcast.
      graft.operators.EventAnalytics.markovSurprisal(events(s, dir),
          "user_id", "event_type", "ts_us", "event_id")
        .orderBy("user_id")),
    "evt_attribution" -> ((s, dir) =>
      // First/last-touch credit assignment: view/click touches within
      // a 3-day lookback of each purchase; min/max-struct aggregation
      // (window-free), event-id tie-break on both engines.
      graft.operators.EventAnalytics.attribution(events(s, dir),
          "user_id", "event_type", "ts_us", "event_id",
          touchTypes = Seq("view", "click"), conversionType = "purchase",
          lookbackUs = 3L * 86400000000L)
        .orderBy("conversion_id")),
    "txt_novelty" -> ((s, dir) =>
      // N-gram novelty: fraction of a doc's distinct 3-gram shingles
      // whose first corpus occurrence (min doc_id) is this doc — the
      // aggregate contribution signal data-pruning runs beside
      // pairwise dedup.
      TextAnalysis.ngramNovelty(t(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy("doc_id")),
    "txt_domain_quality" -> ((s, dir) =>
      // Domain-level curation rollup (RefinedWeb/DCLM-style source
      // filter): per-source dup/short fractions via one two-level
      // aggregation, verdict broadcast back onto every doc
      // (tag-don't-drop).
      TextAnalysis.domainQuality(t(s, dir, "documents"), "doc_id", "source", "text")
        .orderBy("doc_id")),
    "evt_cooccurrence" -> ((s, dir) =>
      // Market-basket lift over the event log: distinct (user, type)
      // first, so the user-keyed self-join is |types|^2-bounded per
      // user regardless of event volume.
      graft.operators.EventAnalytics.cooccurrence(events(s, dir), "user_id", "event_type")
        .orderBy("et_a", "et_b")),
    "evt_paths" -> ((s, dir) =>
      // Ordered 3-step behavior paths: user-partitioned double-lead,
      // rolled up to the <=|types|^3 path table with shares.
      graft.operators.EventAnalytics.paths(events(s, dir),
          "user_id", "event_type", "ts_us", "event_id")
        .orderBy(desc("n"), col("e1"), col("e2"), col("e3"))),
    "evt_rfm" -> ((s, dir) =>
      // RFM user-value segmentation: one per-user aggregation, mean
      // cutoffs compared as exact integers (r*n <= sum_r), monetary
      // reported but kept out of the verdict.
      graft.operators.EventAnalytics.rfm(events(s, dir), "user_id", "ts_us", "value")
        .orderBy("user_id")),
    "dedup_cluster_quality" -> ((s, dir) => {
      // Actionable rollup of the triangle signal: per near-dup
      // cluster, size/edges/density/mean-clustering and an
      // integer-exact clique/chain/mixed verdict — "collapse this
      // cluster" vs "re-verify before collapsing".
      val pairs = Dedup.minhashNearDups(t(s, dir, "documents"), "text", "doc_id",
        shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.3,
        portableHash = true)
      graft.operators.Graphs.clusterQuality(pairs)
        .orderBy("cluster_id")
    }),
    "dedup_triangles" -> ((s, dir) => {
      // Clique QA over the capped LSH near-dup graph: per-node
      // triangle count + clustering coefficient. Clustering ~1 means
      // a genuine mutual-duplicate clique; a big cluster of
      // low-clustering nodes was merged by transitive chains — the
      // LSH over-merge signature connectedComponents can't see.
      // Degree-ordered node-iterator: O(m^1.5) exact, per-node counts
      // orientation-invariant so the id-ordered oracle matches.
      val pairs = Dedup.minhashNearDups(t(s, dir, "documents"), "text", "doc_id",
        shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.3,
        portableHash = true)
      graft.operators.Graphs.triangleStats(pairs)
        .select(col("node").as("doc_id"), col("degree"),
          col("n_triangles"), col("clustering"))
        .orderBy("doc_id")
    }),
    "dedup_band_profile" -> ((s, dir) =>
      // Text-side LSH advisor: per-band bucket occupancy + the exact
      // candidate work the minhash dedup's candidate join will pay —
      // shows which bands carry hot (degenerate/boilerplate) buckets
      // and what the cap is dropping, before the corpus-scale run.
      Dedup.minhashBandProfile(t(s, dir, "documents"), "text", "doc_id",
        shingleSize = 3, numHashes = 128, bands = 32, portableHash = true)),
    "dedup_recall_profile" -> ((s, dir) =>
      // The recall half of the band decision: per bands value, the
      // exact capped candidate work PLUS the measured fraction of
      // true near-dup pairs (exact Jaccard >= 0.3 on an 8-doc
      // portable-hash sample) the banding catches — the empirical
      // 1-(1-j^r)^b curve on the actual corpus, caps included.
      Dedup.minhashRecallProfile(t(s, dir, "documents"), "text", "doc_id",
        bandsList = Seq(8, 16, 32), shingleSize = 3, numHashes = 128,
        threshold = 0.3, sampleQ = 8, portableHash = true)),
    "graph_suite" -> ((s, dir) => {
      // One-build-many-queries composition: the capped-LSH pair set
      // (the dominant cost) is built ONCE and feeds connected
      // components AND per-node triangle stats — the per-node
      // keep/collapse/re-verify frame, where running dedup_clusters_lsh
      // + dedup_triangles separately pays the candidate build twice.
      val pairs = Dedup.minhashNearDups(t(s, dir, "documents"), "text", "doc_id",
        shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.3,
        portableHash = true)
      graft.operators.Graphs.graphSuite(pairs)
        .select(col("node").as("doc_id"), col("cluster_id"), col("degree"),
          col("n_triangles"), col("clustering"))
        .orderBy("doc_id")
    }),
    "txt_pmi" -> ((s, dir) =>
      // PMI collocations: top-50 token pairs by pointwise mutual
      // information over per-doc co-occurrence; per-doc token cap 20
      // (alphabetical — engine-portable), quantized single-ln score.
      TextAnalysis.pmiPairs(t(s, dir, "documents"), "doc_id", "text",
        minCount = 2, capPerDoc = 20, k = 50)),
    "txt_blocklist" -> ((s, dir) => {
      // Domain-suffix blocklist filter (Dolma/C4-style URL policy):
      // five synthetic host spellings per doc_id exercise exact,
      // subdomain, and near-miss cases; tag-don't-drop.
      val variant = pmod(col("doc_id"), lit(5))
      val host = when(variant === 0, lit("ads.tracker.example.com"))
        .when(variant === 1, lit("www.example.com"))
        .when(variant === 2, lit("bad.org"))
        .when(variant === 3, lit("sub.bad.org"))
        .otherwise(lit("notbad.org"))
      val url = concat(lit("https://"), host, lit("/page/"),
        col("doc_id").cast("string"))
      t(s, dir, "documents")
        .select(col("doc_id"), url.as("url"))
        .select(col("doc_id"), UrlFunctions.urlHost(col("url")).as("host"),
          UrlFunctions.domainBlocked(col("url"),
            Seq("tracker.example.com", "bad.org")).as("blocked"))
        .orderBy("doc_id")
    }),
    "meta_correlations" -> ((s, dir) =>
      // One-pass Pearson matrix over the lineitem measures via exact
      // decimal moments (order-immune) + fixed-shape double formula.
      graft.operators.Maintenance.correlationMatrix(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),
    "sketch_percentile_score" -> ((s, dir) =>
      // Rank normalization without a window: per-row percentile =
      // fraction of the group's rows in strictly lower histogram
      // bins; bin table broadcast, scan-side assignment.
      graft.operators.Sketches.percentileScore(t(s, dir, "lineitem"),
          "l_extendedprice", Seq("l_returnflag"), lo = 0.0, hi = 262144.0,
          numBuckets = 256)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("percentile"))
        .orderBy("l_orderkey", "l_linenumber")),
    "sketch_psi_drift" -> ((s, dir) =>
      // Pairwise PSI drift matrix over doc-length distributions per
      // source: ≤64 bin counts per group shuffle, broadcast pair
      // join, quantized per-bin terms → exact integer sums.
      graft.operators.Sketches.psiMatrix(t(s, dir, "documents"),
          "source", "n_chars", lo = 0.0, hi = 640.0, numBuckets = 64)
        .orderBy("group_a", "group_b")),
    "txt_bm25" -> ((s, dir) =>
      // BM25 top-20 for a 3-term query: only query-term postings
      // shuffle, stats broadcast, bounded top-k selection.
      TextAnalysis.bm25Search(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "window", "join"), k = 20)),
    "emb_decontaminate" -> ((s, dir) => {
      // Embedding-space eval decontamination: every 20th vector
      // plays the benchmark; survivors keep cosine < 0.35 to ALL of
      // them (within hyperplane-LSH recall). Cross-corpus buckets
      // only — the corpus never self-joins.
      val v = t(s, dir, "embeddings")
      val bench = v.filter(col("vec_id") % 20 === 0)
      val corpus = v.filter(col("vec_id") % 20 =!= 0)
      Dedup.embeddingDecontaminate(corpus, bench, "embedding", "vec_id",
          dim = 64, threshold = 0.35, nPlanes = 8, nTables = 8,
          seed = Dedup.DefaultSeed, maxBucketSize = 1000)
        .select(col("vec_id"), col("label"))
        .orderBy("vec_id")
    }),
    "emb_kmeans" -> ((s, dir) =>
      // Full portable Lloyd's: hash-seeded cells, 3 integer-exact
      // update rounds, final assignment + quantized inertia.
      Similarity.kmeansAssign(t(s, dir, "embeddings"), "embedding", "vec_id",
          nCells = 8, iters = 3)
        .orderBy("vec_id")),
    "emb_drift" -> ((s, dir) =>
      // Embedding-space drift between two snapshots (even/odd vec_id
      // halves, the incremental convention): seeded-centroid cell
      // histograms compared by +1-smoothed PSI; corpus never shuffles.
      Similarity.embeddingDrift(
          t(s, dir, "embeddings")
            .withColumn("is_base", pmod(col("vec_id"), lit(2)) === 0),
          "embedding", "vec_id", "is_base", nCells = 8)
        .orderBy("cell_id")),
    "emb_kcenter" -> ((s, dir) =>
      // Greedy k-center diversity selection: 8 farthest-first picks,
      // integer-exact distances, every argmax tie-broken to the
      // smallest id — the oracle unrolls the same 8 stages.
      Similarity.kcenterSelect(t(s, dir, "embeddings"), "embedding", "vec_id", k = 8)
        .orderBy("sel_rank")),
    "meta_zorder" -> ((s, dir) =>
      // Morton key over (custkey, orderkey): the clustering key
      // zOrderWrite range-partitions on; pure codegen'd bit math.
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          graft.operators.Maintenance.zOrderValue(
            pmod(col("o_custkey"), lit(65536L)),
            pmod(col("o_orderkey"), lit(65536L)), bits = 16).as("zval"))
        .orderBy("o_orderkey")),
    "evt_anomaly" -> ((s, dir) =>
      // Daily-volume z-score anomalies per event type; window-free,
      // stats broadcast onto the tiny (type, day) count table.
      graft.operators.EventAnalytics.dailyAnomalies(
          events(s, dir), "event_type", "ts_us", zThreshold = 2.0)
        .orderBy("event_type", "day")),
    "evt_changepoint" -> ((s, dir) =>
      // Two-sided CUSUM level-shift detection per event type: the
      // max(0, ·) recurrence as prefix-sum-minus-running-min windows
      // over the tiny (type, day) series — one event scan total.
      graft.operators.EventAnalytics.changepoint(
          events(s, dir), "event_type", "ts_us")
        .orderBy("event_type", "day")),
    "evt_gap_profile" -> ((s, dir) =>
      // Sessionization-timeout advisor: inter-event gap distribution
      // over human-scale buckets with cumulative share — one event
      // scan (user-keyed lead window), ≤ 7-row rollup.
      graft.operators.EventAnalytics.gapProfile(events(s, dir),
        "user_id", "ts_us", "event_id")),
    "meta_diff" -> ((s, dir) => {
      // Snapshot diff across a simulated pipeline run: the
      // meta_upsert scenario (updates + inserts) plus deletes of
      // every key ≡ 13 (mod 100) — added/removed/changed out of one
      // full-outer key join.
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val upd = base.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * lit(1.1))
      val ins = base.filter(col("o_orderkey") % 100 === 7)
        .select((col("o_orderkey") + lit(100000000L)).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
      val current = graft.operators.Maintenance
        .upsert(base, upd.unionByName(ins), Seq("o_orderkey"))
        .filter(!(col("o_orderkey") % 100 === 13))
      graft.operators.Maintenance.snapshotDiff(base, current, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }),
    "meta_skew_stats" -> ((s, dir) =>
      // Join-key skew advisor over lineitem's order key: one
      // map-side-combined count, exact integer summary, one row out.
      graft.operators.Maintenance.keySkewProfile(
        t(s, dir, "lineitem"), Seq("l_orderkey"), topK = 10)),
    "samp_shuffle" -> ((s, dir) =>
      // Deterministic global training shuffle: distributed rank over
      // the portable (salt, id) hash — a range exchange plus two
      // streaming passes, never a single-partition sort.
      graft.operators.Sampling.deterministicShuffle(
          t(s, dir, "documents").select("doc_id", "source"), "doc_id", "epoch0")
        .select("doc_id", "source", "shuffle_pos")
        .orderBy("doc_id")),
    "emb_covariance" -> ((s, dir) =>
      // Exact 64x64 covariance from one augmented-moment scan;
      // decimal integer sums, fixed-shape IEEE assembly.
      Similarity.covarianceMatrix(t(s, dir, "embeddings"), "embedding", dim = 64)
        .orderBy("dim_i", "dim_j")),
    "txt_inverted_index" -> ((s, dir) =>
      // Bounded index build: exact df + the 8 lowest doc ids per
      // term via the k-bounded heap aggregate; no collect_list.
      TextAnalysis.invertedIndex(t(s, dir, "documents"), "doc_id", "text",
          maxPostings = 8, minDf = 5)
        .orderBy("term", "slot")),
    "evt_active_users" -> ((s, dir) =>
      // DAU/WAU/stickiness board: events reduce once to the
      // persisted distinct (user, day) frame; the trailing window is
      // a broadcast interval join fanning <= 7 slim rows per
      // (user, day) — event-volume-independent.
      graft.operators.EventAnalytics.activeUsers(
          events(s, dir), "user_id", "ts_us", windowDays = 7)
        .orderBy("day")),
    "evt_conversion_lag" -> ((s, dir) =>
      // signup -> purchase time-to-convert histogram: two user-keyed
      // min-aggs + one equi-join on slim rows, exact-hour buckets,
      // windows only over the bounded bucket table.
      graft.operators.EventAnalytics.conversionLag(
          events(s, dir), "user_id", "event_type", "ts_us",
          fromType = "signup", toType = "purchase")),
    "emb_silhouette" -> ((s, dir) =>
      // Simplified silhouette per hash-seeded cell: plan-literal
      // centroids, one narrow scan, corpus never shuffles;
      // integer-exact squared distances, 1e-6-quantized scores.
      Similarity.silhouette(t(s, dir, "embeddings"), "embedding", "vec_id",
        nCells = 8)),
    "txt_zipf" -> ((s, dir) =>
      // Corpus Zipf slope + vocabulary stats: tokens shuffle as
      // 8-byte portable hashes, top-100 via bounded heaps,
      // exact-integer regression sums.
      TextAnalysis.zipfStats(t(s, dir, "documents"), "text", topN = 100)),
    "evt_gini" -> ((s, dir) =>
      // Activity concentration: per-user counts + distributed
      // zipWithIndex ranks (no single-partition window); exact
      // decimal rank-weighted sums.
      graft.operators.EventAnalytics.activityConcentration(
        events(s, dir), "user_id")),
    "evt_seasonality" -> ((s, dir) =>
      // 168-cell (dow, hour) temporal balance: one map-side agg,
      // broadcast grid, chi-square terms vs uniform.
      graft.operators.EventAnalytics.seasonality(events(s, dir), "ts_us")),
    "evt_bots" -> ((s, dir) =>
      // Rate-based bot flags over exact per-minute buckets: two
      // map-side aggs, integer threshold compares, tag-don't-drop.
      graft.operators.EventAnalytics.botDetect(
        events(s, dir), "user_id", "ts_us",
        burstPerMinute = 30, sustainedPerMinute = 2, minEvents = 50)),
    "emb_diversity" -> ((s, dir) =>
      // Exact mean pairwise squared distance via the moment identity
      // (O(n^2) semantic, one O(n·d) scan; corpus never shuffles).
      Similarity.embeddingDiversity(t(s, dir, "embeddings"), "embedding")),
    "emb_recall_eval" -> ((s, dir) => {
      // ANN self-QA: recall@10 of the deterministic IVF index vs the
      // exact brute-force top-10 on the same query split.
      val e = t(s, dir, "embeddings")
      Similarity.recallEval(e.filter(col("vec_id") >= 5),
        e.filter(col("vec_id") < 5), "embedding", "vec_id",
        k = 10, nCells = 16, nProbe = 4)
    }),
    "txt_readability" -> ((s, dir) =>
      // Flesch reading ease per document: scan-side regex counters +
      // fixed IEEE arithmetic, banded on the quantized score.
      TextAnalysis.readability(t(s, dir, "documents"), "doc_id", "text")),
    "txt_code_detect" -> ((s, dir) =>
      // Code-vs-prose router: line/char signals with integer-exact
      // thresholds, tag-don't-drop.
      TextAnalysis.codeDetect(t(s, dir, "documents"), "doc_id", "text")),
    "evt_lifecycle" -> ((s, dir) =>
      // Daily growth accounting (new/retained/resurrected/churned):
      // one user-keyed window over distinct active days, persisted
      // against the two-branch re-scan, day-keyed rollups.
      graft.operators.EventAnalytics.lifecycle(events(s, dir), "user_id", "ts_us")),
    "emb_dims_health" -> ((s, dir) =>
      // Per-dimension mean/var/min/max + dead-dim flag: one global
      // agg (4·dim map-side combined), inline unpivot, no corpus shuffle.
      Similarity.dimsHealth(t(s, dir, "embeddings"), "embedding")),
    "emb_ood_score" -> ((s, dir) =>
      // Diagonal-Mahalanobis OOD score per vector: one-row stats
      // aggregate cross-joined back (broadcast), fixed-shape per-dim
      // terms folded left-to-right — nothing data-sized shuffles.
      Similarity.oodScore(t(s, dir, "embeddings"), "embedding", "vec_id")
        .orderBy("vec_id")),
    "meta_integrity" -> ((s, dir) => {
      // Referential-integrity audit over three FK relations: distinct
      // parent keys → anti-join orphan counts → coverage per relation.
      import graft.operators.Maintenance.integrityAudit
      integrityAudit(t(s, dir, "orders"), "o_custkey",
          t(s, dir, "customer"), "c_custkey", "orders->customer")
        .unionAll(integrityAudit(t(s, dir, "lineitem"), "l_orderkey",
          t(s, dir, "orders"), "o_orderkey", "lineitem->orders"))
        .unionAll(integrityAudit(t(s, dir, "nation"), "n_regionkey",
          t(s, dir, "region"), "r_regionkey", "nation->region"))
        .orderBy("relation")
    }),
    "evt_trend" -> ((s, dir) =>
      // Per-type daily-volume linear trend: exact decimal regression
      // sums over the bounded (type, day) count table; no windows.
      graft.operators.EventAnalytics.volumeTrend(
        events(s, dir), "event_type", "ts_us")),
    "evt_regularity" -> ((s, dir) =>
      // Inter-event gap CV (metronomic-bot signal): one user-keyed
      // lag window over slim rows, exact gap moments, quantized CV.
      graft.operators.EventAnalytics.regularity(
        events(s, dir), "user_id", "ts_us", minEvents = 5, cvThreshold = 0.1)),
    "evt_cohort_ltv" -> ((s, dir) =>
      // Cohort LTV curves: persisted per-user first day feeds the age
      // join and the cohort-size count; cumulative window over the
      // span-bounded (cohort, age) table only.
      graft.operators.EventAnalytics.cohortLtv(
        events(s, dir), "user_id", "ts_us", "value")),
    "txt_boilerplate" -> ((s, dir) =>
      // Cross-document line-frequency boilerplate: lines shuffle as
      // 8-byte hashes, distinct-before-count, indexed array
      // reassembly. The synthetic corpus is single-line, so the query
      // views each page as nav-header + body (the web shape the
      // operator exists for): the per-source header is shared
      // template furniture → flagged; every body line is unique →
      // kept, and cleaned_md5 must equal md5(body).
      TextAnalysis.boilerplateLines(
        t(s, dir, "documents").select(col("doc_id"),
          concat(lit("NAV "), col("source"), lit("\n"), col("text")).as("text")),
        "doc_id", "text", minDocs = 3))
  )

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         ${roundToSql("sum(l_quantity)", 2)} AS sum_qty,
         ${roundToSql("sum(l_extendedprice)", 2)} AS sum_base_price,
         ${roundToSql("avg(l_quantity)", 4)} AS avg_qty,
         ${roundToSql("avg(l_discount)", 6)} AS avg_disc,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q2_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
         FROM lineitem
         WHERE l_shipdate < TIMESTAMP '1995-01-01' AND l_discount > 0.05
         ORDER BY l_orderkey, l_linenumber""",
    "q3_join_broadcast" ->
      s"""SELECT c_mktsegment, count(*) AS n_orders, ${roundToSql("sum(o_totalprice)", 2)} AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q4_join_multi" ->
      s"""SELECT r_name, n_name,
         ${roundToSql("sum(l_extendedprice * (1.0 - l_discount))", 2)} AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "q5_sort_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q6_distinct" ->
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",
    "q7_window_rank" ->
      """SELECT c_mktsegment, rn, c_custkey, c_acctbal FROM (
           SELECT c_mktsegment, c_custkey, c_acctbal,
             CAST(row_number() OVER (PARTITION BY c_mktsegment
               ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rn
           FROM customer) WHERE rn <= 3 ORDER BY c_mktsegment, rn""",
    "q8_window_analytic" ->
      s"""SELECT o_custkey, o_orderkey, o_totalprice,
         lag(o_totalprice) OVER w AS prev_price,
         ${roundToSql("sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", 2)} AS run_sum
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey""",
    "q9_intersect" ->
      """SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
         INTERSECT SELECT o_custkey FROM orders ORDER BY k""",
    "q10_except" ->
      """SELECT c_custkey AS k FROM customer
         EXCEPT SELECT o_custkey FROM orders ORDER BY k""",
    "q11_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_totalprice > 200000.0)
         ORDER BY c_custkey""",
    "q12_anti_join" ->
      """SELECT c_custkey FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",
    "q13_rollup" ->
      s"""SELECT r_name, n_name, count(*) AS n_cust, ${roundToSql("sum(c_acctbal)", 2)} AS sum_bal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP(r_name, n_name)
         ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""",
    "q14_cube" ->
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         ${roundToSql("sum(o_totalprice)", 2)} AS sum_price
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "q15_having" ->
      """SELECT o_custkey, count(*) AS n FROM orders
         GROUP BY o_custkey HAVING count(*) >= 8 ORDER BY o_custkey""",
    "q16_scalar_subquery" ->
      s"""SELECT count(*) AS n_above, ${roundToSql("avg(o_totalprice)", 2)} AS avg_above
         FROM orders WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)""",
    "q17_in_subquery" ->
      """SELECT p_partkey, p_name FROM part
         WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49.0)
         ORDER BY p_partkey""",
    "q18_string_funcs" ->
      """SELECT p_partkey, upper(p_name) AS up_name, substring(p_name, 1, 8) AS pre,
         CAST(length(p_name) AS INTEGER) AS name_len,
         concat_ws('#', p_brand, p_type) AS bt,
         lpad(CAST(p_size AS VARCHAR), 4, '0') AS padded,
         regexp_replace(p_name, '[aeiou]', '', 'g') AS novowels,
         reverse(p_name) AS rev
         FROM part ORDER BY p_partkey""",
    "q19_date_funcs" ->
      """SELECT o_orderkey,
         CAST(year(o_orderdate) AS INTEGER) AS yr,
         CAST(month(o_orderdate) AS INTEGER) AS mo,
         CAST(day(o_orderdate) AS INTEGER) AS dy,
         CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
         CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
         strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start
         FROM orders ORDER BY o_orderkey""",
    "q20_case_agg" ->
      s"""SELECT o_orderpriority, count(*) AS n,
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
         CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
         CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
         ${roundToSql("CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS f_ratio
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q21_events_hourly" ->
      s"""SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
         count(*) AS n, ${roundToSql("sum(value)", 4)} AS sum_value
         FROM events GROUP BY event_type, hour ORDER BY event_type, hour""",
    "q22_events_lag" ->
      """SELECT user_id, event_id,
         epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta_ms
         FROM events ORDER BY user_id, event_id""",
    "q23_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
         FROM events ORDER BY event_id""",
    "q24_array_norms" ->
      s"""SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
         ${roundToSql("sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x*x), (x, y) -> x + y))", 6)} AS l2_norm,
         ${roundToSql("list_reduce(embedding::DOUBLE[], (x, y) -> x + y)", 6)} AS sum_vals
         FROM embeddings ORDER BY vec_id""",
    "q25_posexplode" ->
      s"""SELECT vec_id, CAST(s.pos AS INTEGER) AS pos,
         ${roundToSql("CAST(s.val AS DOUBLE)", 6)} AS val
         FROM (SELECT vec_id, unnest(list_transform(range(1, len(embedding)+1),
               i -> struct_pack(pos := i - 1, val := embedding[CAST(i AS INTEGER)]))) AS s
               FROM embeddings WHERE vec_id < 10)
         ORDER BY vec_id, pos""",
    "i_t2_key_synthesis" ->
      """WITH t AS (SELECT l_orderkey, l_linenumber,
           CAST(row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS BIGINT) - 1 AS idx
         FROM lineitem)
         SELECT l_orderkey, l_linenumber,
           CAST(floor(idx / 1000) AS BIGINT) AS shard_id,
           lpad(CAST(CAST(floor(idx / 1000) AS BIGINT) * 1000 +
             (idx - CAST(floor(idx / 1000) AS BIGINT) * 1000) AS VARCHAR), 8, '0') AS key,
           lpad(CAST(CAST(floor(idx / 1000) AS BIGINT) AS VARCHAR), 5, '0') AS shard_name
         FROM t ORDER BY l_orderkey, l_linenumber""",
    "i_t12_hash" ->
      """SELECT doc_id, md5(text) AS md5_hex, sha256(text) AS sha256_hex
         FROM documents ORDER BY doc_id""",
    "i_f2_hash_verify" ->
      """SELECT doc_id, md5(text) AS computed,
         CASE WHEN doc_id % 2 = 0 THEN md5(text) ELSE repeat('0', 32) END AS expected,
         CASE WHEN md5(text) = (CASE WHEN doc_id % 2 = 0 THEN md5(text) ELSE repeat('0', 32) END)
           THEN 'success' ELSE 'hash_mismatch' END AS status
         FROM documents ORDER BY doc_id""",
    "i_f6_done_anti" ->
      """SELECT DISTINCT CAST(floor(l_orderkey / 1000) AS BIGINT) AS shard_id FROM lineitem
         EXCEPT
         SELECT DISTINCT CAST(floor(o_orderkey / 1000) AS BIGINT) FROM orders WHERE o_orderstatus = 'F'
         ORDER BY shard_id""",
    "i_a1_shard_stats" ->
      s"""SELECT CAST(floor(o_orderkey / 1000) AS BIGINT) AS shard_id,
         count(*) AS count,
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS successes,
         ${roundToSql("CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS success_rate
         FROM orders GROUP BY shard_id ORDER BY shard_id""",
    "i_a2_capped_counter" ->
      """SELECT o_orderstatus,
         '{' || string_agg('"' || o_orderpriority || '":' || n, ',' ORDER BY n DESC, o_orderpriority) || '}' AS priority_counts
         FROM (SELECT o_orderstatus, o_orderpriority, count(*) AS n
               FROM orders GROUP BY o_orderstatus, o_orderpriority)
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "i_a3_topk" ->
      """SELECT source, count(*) AS n FROM documents GROUP BY source
         ORDER BY n DESC, source ASC LIMIT 3""",
    "i_a6_global_stats" ->
      s"""SELECT count(*) AS n, min(epoch_ms(ts)) AS start_ms, max(epoch_ms(ts)) AS end_ms,
         max(epoch_ms(ts)) - min(epoch_ms(ts)) AS duration_ms,
         ${roundToSql("count(*) * 1000.0 / (max(epoch_ms(ts)) - min(epoch_ms(ts)))", 6)} AS rate_per_sec
         FROM events""",
    "i_p1_projection" ->
      """SELECT l_orderkey AS orderkey, l_linenumber AS line, l_extendedprice AS price
         FROM lineitem ORDER BY orderkey, line""",
    "i_f3_size_filters" ->
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
         FROM d ORDER BY p_partkey""",
    "txt_tokens" ->
      """SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS INTEGER) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS INTEGER) AS n_bpeish_tokens,
         CAST(length(text) AS INTEGER) AS n_chars_computed
         FROM documents ORDER BY doc_id""",
    "txt_quality" ->
      s"""WITH t AS (SELECT doc_id, text,
           regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents),
         m AS (SELECT doc_id,
           $qualityMetricsBody
         FROM t)
         SELECT doc_id, ${roundToSql("pr", 6)} AS punct_ratio, ${roundToSql("sr", 6)} AS stopword_ratio,
           $qualityScoreExpr AS quality_score
         FROM m ORDER BY doc_id""",
    "txt_langid" ->
      s"""WITH t AS (SELECT doc_id,
           regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents),
         h AS (SELECT doc_id,
           len(list_filter(toks, x -> list_contains($enList, x))) AS en,
           len(list_filter(toks, x -> list_contains($esList, x))) AS es,
           len(list_filter(toks, x -> list_contains($deList, x))) AS de,
           len(list_filter(toks, x -> list_contains($frList, x))) AS fr
         FROM t)
         SELECT doc_id,
           CASE WHEN en = 0 AND es = 0 AND de = 0 AND fr = 0 THEN 'und'
                WHEN en >= es AND en >= de AND en >= fr THEN 'en'
                WHEN es >= de AND es >= fr THEN 'es'
                WHEN de >= fr THEN 'de' ELSE 'fr' END AS lang_pred
         FROM h ORDER BY doc_id""",
    "txt_fingerprint" ->
      """SELECT doc_id,
         md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ''),
               c -> CAST(ascii(c) AS BIGINT))),
           (acc, c) -> (acc * 131 + c) % 1125899906842597) AS rolling_hash
         FROM documents ORDER BY doc_id""",
    "txt_packing" ->
      """WITH t AS (SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens
         FROM documents),
         c AS (SELECT doc_id, n_tokens,
           sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM t)
         SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
           CAST(floor((cum - n_tokens) / 2048) AS BIGINT) AS pack_id
         FROM c ORDER BY doc_id""",
    "txt_curation" ->
      s"""WITH $minhashLshCtes,
         t AS (SELECT doc_id, text,
           regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents),
         h AS (SELECT doc_id, text, toks,
           len(list_filter(toks, x -> list_contains($enList, x))) AS en,
           len(list_filter(toks, x -> list_contains($esList, x))) AS es,
           len(list_filter(toks, x -> list_contains($deList, x))) AS de,
           len(list_filter(toks, x -> list_contains($frList, x))) AS fr
         FROM t),
         lang AS (SELECT doc_id, text, toks,
           CASE WHEN en = 0 AND es = 0 AND de = 0 AND fr = 0 THEN 'und'
                WHEN en >= es AND en >= de AND en >= fr THEN 'en'
                WHEN es >= de AND es >= fr THEN 'es'
                WHEN de >= fr THEN 'de' ELSE 'fr' END AS lang_pred
         FROM h),
         m AS (SELECT doc_id, lang_pred,
           $qualityMetricsBody
         FROM lang),
         q AS (SELECT doc_id, lang_pred,
           $qualityScoreExpr AS quality_score
         FROM m),
         losers AS (SELECT DISTINCT id_b AS doc_id FROM mh_ver WHERE jac >= 0.5)
         SELECT doc_id, lang_pred, quality_score FROM q
         WHERE lang_pred = 'en' AND quality_score >= 0.5
           AND doc_id NOT IN (SELECT doc_id FROM losers)
         ORDER BY doc_id""",
    "dedup_exact" ->
      """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint,
         min(doc_id) AS canonical_id, count(*) AS n_docs
         FROM documents GROUP BY fingerprint ORDER BY fingerprint""",
    "dedup_ngram_jaccard" ->
      s"""WITH t AS (SELECT doc_id,
           regexp_split_to_array(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks
         FROM documents),
         sh AS (SELECT doc_id,
           list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
             i -> array_to_string(toks[i:i+2], ' '))) AS shingles FROM t),
         e AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh FROM sh),
         j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS DOUBLE) / (a.n_sh + b.n_sh - count(*)) AS jac
           FROM e a JOIN e b USING (sh) WHERE a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh)
         SELECT id_a, id_b, ${roundToSql("jac", 6)} AS jaccard FROM j
         WHERE jac >= 0.3 ORDER BY id_a, id_b""",
    "dedup_threshold_profile" ->
      s"""WITH $minhashLshCtes,
         tp_b AS (SELECT least(CAST(floor(jac * 10) AS INTEGER), 9) AS bin,
             CAST(count(*) AS BIGINT) AS n_pairs FROM mh_ver GROUP BY 1)
         SELECT bin, CAST(bin AS DOUBLE) / 10.0 AS lo,
           (CAST(bin AS DOUBLE) + 1.0) / 10.0 AS hi, n_pairs,
           ${roundToSql("CAST(n_pairs AS DOUBLE) / CAST(sum(n_pairs) OVER () AS DOUBLE)", 6)} AS share
         FROM tp_b ORDER BY bin""",
    "evt_gap_profile" ->
      s"""WITH gp_g AS (SELECT epoch_us(ts) AS tu,
           lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
         FROM events),
         gp_s AS (SELECT (nxt - tu) // 1000000 AS gap_s FROM gp_g WHERE nxt IS NOT NULL),
         gp_b AS (SELECT CASE WHEN gap_s < 1 THEN 0 WHEN gap_s < 10 THEN 1
             WHEN gap_s < 60 THEN 2 WHEN gap_s < 300 THEN 3 WHEN gap_s < 1800 THEN 4
             WHEN gap_s < 14400 THEN 5 ELSE 6 END AS bucket FROM gp_s),
         gp_c AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_gaps
           FROM gp_b GROUP BY bucket)
         SELECT bucket,
           CASE bucket WHEN 0 THEN '<1s' WHEN 1 THEN '<10s' WHEN 2 THEN '<1m'
             WHEN 3 THEN '<5m' WHEN 4 THEN '<30m' WHEN 5 THEN '<4h'
             ELSE '>=4h' END AS label,
           n_gaps,
           ${roundToSql("CAST(n_gaps AS DOUBLE) / CAST(sum(n_gaps) OVER () AS DOUBLE)", 6)} AS share,
           ${roundToSql("CAST(sum(n_gaps) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / CAST(sum(n_gaps) OVER () AS DOUBLE)", 6)} AS cum_share
         FROM gp_c ORDER BY bucket""",
    "dedup_sorted_neighborhood" ->
      s"""WITH sn_t AS (SELECT doc_id,
           regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm FROM documents),
         sn_r AS (SELECT doc_id,
           row_number() OVER (ORDER BY hex(substr(norm, 1, 24)), doc_id) - 1 AS rnk FROM sn_t),
         sn_c AS (SELECT least(a.doc_id, b.doc_id) AS id_a,
             greatest(a.doc_id, b.doc_id) AS id_b
           FROM sn_r a JOIN sn_r b ON b.rnk - a.rnk BETWEEN 1 AND 9),
         sn_sh AS (SELECT doc_id,
           list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
             i -> array_to_string(toks[i:i+2], ' '))) AS shingles
           FROM (SELECT doc_id, regexp_split_to_array(norm, ' ') AS toks FROM sn_t)),
         sn_e AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh FROM sn_sh),
         sn_j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS DOUBLE) / (a.n_sh + b.n_sh - count(*)) AS jac
           FROM sn_e a JOIN sn_e b ON a.sh = b.sh AND a.doc_id < b.doc_id
           JOIN sn_c c ON c.id_a = a.doc_id AND c.id_b = b.doc_id
           GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh)
         SELECT id_a, id_b, ${roundToSql("jac", 6)} AS jaccard FROM sn_j
         WHERE jac >= 0.3 ORDER BY id_a, id_b""",
    "dedup_snm_multipass" ->
      s"""WITH sm_t AS (SELECT doc_id,
           regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm FROM documents),
         sm_r1 AS (SELECT doc_id,
           row_number() OVER (ORDER BY hex(substr(norm, 1, 24)), doc_id) - 1 AS rnk FROM sm_t),
         sm_r2 AS (SELECT doc_id,
           row_number() OVER (ORDER BY hex(substr(reverse(norm), 1, 24)), doc_id) - 1 AS rnk FROM sm_t),
         sm_c AS (SELECT least(a.doc_id, b.doc_id) AS id_a,
             greatest(a.doc_id, b.doc_id) AS id_b
           FROM sm_r1 a JOIN sm_r1 b ON b.rnk - a.rnk BETWEEN 1 AND 9
           UNION
           SELECT least(a.doc_id, b.doc_id), greatest(a.doc_id, b.doc_id)
           FROM sm_r2 a JOIN sm_r2 b ON b.rnk - a.rnk BETWEEN 1 AND 9),
         sm_sh AS (SELECT doc_id,
           list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
             i -> array_to_string(toks[i:i+2], ' '))) AS shingles
           FROM (SELECT doc_id, regexp_split_to_array(norm, ' ') AS toks FROM sm_t)),
         sm_e AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh FROM sm_sh),
         sm_j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS DOUBLE) / (a.n_sh + b.n_sh - count(*)) AS jac
           FROM sm_e a JOIN sm_e b ON a.sh = b.sh AND a.doc_id < b.doc_id
           JOIN sm_c c ON c.id_a = a.doc_id AND c.id_b = b.doc_id
           GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh)
         SELECT id_a, id_b, ${roundToSql("jac", 6)} AS jaccard FROM sm_j
         WHERE jac >= 0.3 ORDER BY id_a, id_b""",
    "dedup_clusters" ->
      """WITH RECURSIVE t AS (SELECT doc_id,
           regexp_split_to_array(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
         FROM documents),
         sh AS (SELECT doc_id,
           list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
             i -> array_to_string(toks[i:i+2], ' '))) AS shingles FROM t),
         e AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh FROM sh),
         j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM e a JOIN e b USING (sh) WHERE a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
           HAVING CAST(count(*) AS DOUBLE) / (a.n_sh + b.n_sh - count(*)) >= 0.3),
         edges AS (SELECT id_a AS src, id_b AS dst FROM j
                   UNION SELECT id_b, id_a FROM j),
         reach(src, dst) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
         nodes AS (SELECT DISTINCT src AS doc_id FROM edges)
         SELECT n.doc_id,
           least(n.doc_id, min(r.dst)) AS cluster_id
         FROM nodes n LEFT JOIN reach r ON r.src = n.doc_id
         GROUP BY n.doc_id ORDER BY n.doc_id""",
    "dedup_embed_cosine" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${duckCos("a.v", "b.v")} AS c
           FROM v a JOIN v b ON a.vec_id < b.vec_id)
         SELECT id_a, id_b, ${roundToSql("c", 6)} AS cosine FROM p
         WHERE c >= 0.4 ORDER BY id_a, id_b""",
    "q39_full_outer" ->
      s"""WITH big AS (SELECT o_custkey, count(*) AS n_big,
           ${roundToSql("sum(o_totalprice)", 2)} AS sum_big
         FROM orders WHERE o_totalprice > 300000.0 GROUP BY o_custkey),
         rich AS (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 9000.0)
         SELECT coalesce(c_custkey, o_custkey) AS custkey, c_name, n_big, sum_big
         FROM rich FULL OUTER JOIN big ON c_custkey = o_custkey
         ORDER BY custkey""",
    "q40_salted_join" ->
      s"""SELECT o_orderstatus, count(*) AS n,
           ${roundToSql("sum(l_quantity)", 2)} AS qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "txt_fuzzy_decontaminate" -> fuzzyDecontaminateOracleSql,
    "txt_decontaminate" ->
      """WITH t AS (SELECT doc_id,
           regexp_split_to_array(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
         FROM documents),
         sh AS (SELECT doc_id,
           list_distinct(list_transform(range(1, greatest(len(toks) - 4, 1) + 1),
             i -> array_to_string(toks[i:i+4], ' '))) AS shingles FROM t),
         b AS (SELECT DISTINCT unnest(shingles) AS g FROM sh WHERE doc_id < 20),
         d AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
         contam AS (SELECT DISTINCT d.doc_id FROM d JOIN b USING (g))
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM contam) ORDER BY doc_id""",
    "txt_split" ->
      s"""SELECT doc_id,
         CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id, ${duckHex60("CAST(doc_id AS VARCHAR)")} % 100 AS h
               FROM documents)
         ORDER BY doc_id""",
    "txt_canonical" ->
      s"""WITH RECURSIVE $minhashLshCtes,
         j AS (SELECT id_a, id_b FROM mh_ver WHERE jac >= 0.3),
         edges AS (SELECT id_a AS src, id_b AS dst FROM j
                   UNION SELECT id_b, id_a FROM j),
         reach(src, dst) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
         nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
         lbl AS (SELECT n.doc_id, least(n.doc_id, min(r.dst)) AS cluster_id
           FROM nodes n LEFT JOIN reach r ON r.src = n.doc_id GROUP BY n.doc_id),
         t AS (SELECT doc_id, text,
           regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents),
         m AS (SELECT doc_id,
           $qualityMetricsBody
         FROM t),
         q AS (SELECT doc_id,
           $qualityScoreExpr AS quality_score
         FROM m),
         wc AS (SELECT q.doc_id, q.quality_score,
           coalesce(lbl.cluster_id, q.doc_id) AS cl
           FROM q LEFT JOIN lbl ON lbl.doc_id = q.doc_id),
         canon AS (SELECT cl, doc_id AS canonical_id FROM (
           SELECT *, row_number() OVER (PARTITION BY cl ORDER BY quality_score DESC, doc_id) AS rn
           FROM wc) WHERE rn = 1)
         SELECT wc.doc_id, canon.canonical_id
         FROM wc JOIN canon USING (cl) ORDER BY wc.doc_id""",
    "txt_scrub" ->
      s"""WITH s AS (SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
             '${TextFunctions.UrlPattern}', '<URL>', 'g'),
             '${TextFunctions.EmailPattern}', '<EMAIL>', 'g'),
             '${TextFunctions.Ipv4Pattern}', '<IP>', 'g') AS scrubbed
         FROM documents)
         SELECT doc_id, md5(scrubbed) AS scrubbed_md5,
           CAST(len(regexp_extract_all(scrubbed, '<URL>|<EMAIL>|<IP>')) AS INTEGER) AS n_pii
         FROM s ORDER BY doc_id""",
    "txt_repetition" ->
      s"""WITH t AS (SELECT doc_id,
           regexp_split_to_array(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks
         FROM documents),
         e AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         c AS (SELECT doc_id, tok, count(*) AS n FROM e GROUP BY doc_id, tok),
         tt AS (SELECT doc_id,
           ${roundToSql("CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE)", 6)} AS top_token_frac
         FROM c GROUP BY doc_id),
         g AS (SELECT doc_id,
           list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS grams FROM t)
         SELECT t.doc_id, tt.top_token_frac,
           CASE WHEN len(g.grams) = 0 THEN 0.0
                ELSE ${roundToSql("1.0 - CAST(len(list_distinct(g.grams)) AS DOUBLE) / CAST(len(g.grams) AS DOUBLE)", 6)}
           END AS dup_2gram_frac
         FROM t JOIN tt USING (doc_id) JOIN g ON g.doc_id = t.doc_id
         ORDER BY t.doc_id""",
    "dedup_clusters_lsh" ->
      s"""WITH RECURSIVE $minhashLshCtes,
         j AS (SELECT id_a, id_b FROM mh_ver WHERE jac >= 0.3),
         edges AS (SELECT id_a AS src, id_b AS dst FROM j
                   UNION SELECT id_b, id_a FROM j),
         reach(src, dst) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
         nodes AS (SELECT DISTINCT src AS doc_id FROM edges)
         SELECT n.doc_id,
           least(n.doc_id, min(r.dst)) AS cluster_id
         FROM nodes n LEFT JOIN reach r ON r.src = n.doc_id
         GROUP BY n.doc_id ORDER BY n.doc_id""",
    "dedup_minhash_lsh" -> minhashLshOracleSql,
    "dedup_containment" -> containmentOracleSql,
    "dedup_incremental" -> {
      // Replays the two-batch incremental flow from raw documents:
      // batch1 = even ids (within-batch LSH dedup, jac >= 0.3), its
      // survivors become the index; batch2 = odd ids (within-batch
      // dedup, then signature-agreement >= ceil(0.3*128) against the
      // capped index buckets — EXACTLY incrementalMinhash's estimate
      // path, which never re-reads batch-1 text).
      val matchMin = math.ceil(0.3 * 128).toInt // = ceil(threshold*numHashes)
      s"""WITH ${minhashChain("b1_", "WHERE doc_id % 2 = 0")},
         ${minhashChain("b2_", "WHERE doc_id % 2 = 1")},
         b1_drop AS (SELECT DISTINCT id_b AS doc_id FROM b1_ver WHERE jac >= 0.3),
         b1_surv AS (SELECT doc_id FROM b1_t
           WHERE doc_id NOT IN (SELECT doc_id FROM b1_drop)),
         idx_buckets AS (SELECT b.doc_id, b.band, b.key
           FROM b1_buckets b JOIN b1_surv USING (doc_id)),
         idx_ok AS (SELECT band, key FROM idx_buckets
           GROUP BY band, key HAVING count(*) <= 1000),
         idx_sized AS (SELECT b.doc_id AS old_id, b.band, b.key
           FROM idx_buckets b JOIN idx_ok USING (band, key)),
         b2_dropw AS (SELECT DISTINCT id_b AS doc_id FROM b2_ver WHERE jac >= 0.3),
         b2_sw AS (SELECT doc_id FROM b2_t
           WHERE doc_id NOT IN (SELECT doc_id FROM b2_dropw)),
         new_buckets AS (SELECT b.doc_id, b.band, b.key
           FROM b2_buckets b JOIN b2_sw USING (doc_id)),
         xcand AS (SELECT DISTINCT n.doc_id AS id, i.old_id
           FROM new_buckets n JOIN idx_sized i USING (band, key)),
         est AS (SELECT c.id,
             len(list_filter(range(1, 129), i -> ns.sig[i] = os.sig[i])) AS match_n
           FROM xcand c JOIN b2_sg ns ON ns.doc_id = c.id
                        JOIN b1_sg os ON os.doc_id = c.old_id),
         xdrop AS (SELECT DISTINCT id AS doc_id FROM est WHERE match_n >= $matchMin),
         b2_surv AS (SELECT doc_id FROM b2_sw
           WHERE doc_id NOT IN (SELECT doc_id FROM xdrop))
         SELECT doc_id, 1 AS batch FROM b1_surv
         UNION ALL SELECT doc_id, 2 AS batch FROM b2_surv
         ORDER BY doc_id"""
    },
    "dedup_simhash" -> simhashOracleSql,
    "dedup_embed_lsh" -> embedLshOracleSql,
    "emb_knn_graph" -> knnGraphOracleSql,
    // the auto-depth build derives depth 8 at any corpus ≤ 4096 vectors
    // (floor 8, target occupancy 16), so the depth-8 plane-literal
    // oracle replays it exactly at sf0.001/sf0.01 scale
    "emb_knn_graph_auto" -> knnGraphOracleSql,
    "dedup_semantic" -> dedupSemanticOracleSql,
    "ann_ivf_topk" -> annIvfOracleSql,
    "ann_pq_topk" -> annPqOracleSql,
    "ann_bruteforce_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
         s AS (SELECT query_id, corpus_id, ${duckCos("qv", "cv")} AS c FROM c CROSS JOIN q),
         r AS (SELECT query_id, corpus_id, ${roundToSql("c", 6)} AS cosine,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, corpus_id) AS INTEGER) AS rank
           FROM s)
         SELECT query_id, corpus_id, cosine, rank FROM r WHERE rank <= 10
         ORDER BY query_id, rank""",
    "mm_binary_meta" ->
      """SELECT doc_id, CAST(strlen(text) AS INTEGER) AS n_bytes, md5(text) AS payload_md5
         FROM documents ORDER BY doc_id""",
    "mm_image_meta" ->
      """SELECT doc_id, CAST(NULL AS INTEGER) AS width, CAST(NULL AS INTEGER) AS height,
         CAST(strlen(text) AS INTEGER) AS n_bytes, 'decode failed' AS decode_error
         FROM documents ORDER BY doc_id""",
    "q26_union_all" ->
      """SELECT 'orders' AS src, count(*) AS n FROM orders
         UNION ALL SELECT 'customer', count(*) FROM customer
         UNION ALL SELECT 'lineitem', count(*) FROM lineitem
         ORDER BY src""",
    "q28_asof_join" ->
      """WITH l AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
         r AS (SELECT user_id, ts, event_id AS view_event_id, value AS view_value
               FROM events WHERE event_type = 'view')
         SELECT l.user_id, l.event_id, r.view_event_id, r.view_value
         FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY l.event_id""",
    "q29_range_join" ->
      """WITH l AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
         r AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view')
         SELECT l.event_id AS click_id, r.event_id AS view_id
         FROM l JOIN r ON l.user_id = r.user_id
           AND r.ts >= l.ts - INTERVAL 60 SECOND AND r.ts <= l.ts + INTERVAL 60 SECOND
         ORDER BY click_id, view_id""",
    "q30_percentiles" ->
      s"""SELECT l_returnflag,
         ${roundToSql("quantile_cont(l_quantity, 0.25)", 4)} AS p25,
         ${roundToSql("quantile_cont(l_quantity, 0.5)", 4)} AS p50,
         ${roundToSql("quantile_cont(l_quantity, 0.75)", 4)} AS p75,
         ${roundToSql("quantile_cont(l_extendedprice, 0.9)", 2)} AS price_p90
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q31_stats_aggs" ->
      s"""SELECT l_returnflag,
         ${roundToSql("stddev_samp(l_quantity)", 6)} AS sd_qty,
         ${roundToSql("var_samp(l_quantity)", 6)} AS var_qty,
         ${roundToSql("corr(l_quantity, l_extendedprice)", 6)} AS corr_qp,
         ${roundToSql("covar_samp(l_quantity, l_discount)", 6)} AS cov_qd
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q32_sessionize_batch" ->
      """WITH g AS (SELECT user_id, event_id, ts,
           epoch_ms(ts) - lag(epoch_ms(ts)) OVER w AS gap_ms
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT user_id, event_id,
           CAST(sum(CASE WHEN gap_ms IS NULL OR gap_ms > 300000 THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         FROM g ORDER BY user_id, event_id""",
    "q33_count_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q34_null_funcs" ->
      """SELECT o_orderkey,
         coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_or_open,
         CASE WHEN o_totalprice > 100000.0 THEN o_totalprice END AS big_price,
         greatest(o_totalprice, 50000.0) AS floored,
         least(o_custkey, o_orderkey) AS min_key
         FROM orders ORDER BY o_orderkey""",
    "q35_array_ops" ->
      s"""SELECT vec_id,
         ${roundToSql("list_max(embedding::DOUBLE[])", 6)} AS vmax,
         ${roundToSql("list_min(embedding::DOUBLE[])", 6)} AS vmin,
         ${roundToSql("(embedding::DOUBLE[])[1]", 6)} AS first_el,
         ${roundToSql("(embedding::DOUBLE[])[-1]", 6)} AS last_el,
         CAST(len(list_filter(embedding::DOUBLE[], x -> x > 0.0)) AS INTEGER) AS n_pos,
         ${roundToSql("list_sort(embedding::DOUBLE[])[1]", 6)} AS sorted_first
         FROM embeddings WHERE vec_id < 50 ORDER BY vec_id""",
    "q36_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    "q37_range_frame" ->
      s"""SELECT o_custkey, o_orderkey,
         ${roundToSql("sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY epoch_ms(o_orderdate) RANGE BETWEEN 604800000 PRECEDING AND CURRENT ROW)", 2)} AS trailing_7d
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "q38_pivot" ->
      """SELECT o_orderpriority,
         nullif(CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT), 0) AS F,
         nullif(CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT), 0) AS O,
         nullif(CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT), 0) AS P
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q27_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
         CAST(dense_rank() OVER w AS INTEGER) AS dr,
         lead(o_orderkey) OVER w AS next_key,
         CAST(ntile(4) OVER w AS INTEGER) AS quartile
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
         ORDER BY o_custkey, o_orderkey""",
    "txt_chunk_dedup" ->
      s"""WITH t AS (SELECT doc_id,
           regexp_split_to_array(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks
         FROM documents),
         e AS (SELECT doc_id, toks, unnest(range(0, len(toks) // 3)) AS pos FROM t),
         occ AS (SELECT doc_id, pos,
           ${duckHex60("array_to_string(toks[(pos*3+1):(pos*3+3)], ' ')")} AS h FROM e),
         fd AS (SELECT h, min(doc_id) AS fdoc FROM occ GROUP BY h),
         fp AS (SELECT o.h AS h, fdoc, min(o.pos) AS fpos
           FROM occ o JOIN fd ON o.h = fd.h AND o.doc_id = fd.fdoc GROUP BY o.h, fdoc),
         fl AS (SELECT o.doc_id AS doc_id,
             CASE WHEN o.doc_id = fp.fdoc AND o.pos = fp.fpos THEN 0 ELSE 1 END AS dup
           FROM occ o JOIN fp ON o.h = fp.h),
         pd AS (SELECT doc_id, count(*) AS n_chunks, CAST(sum(dup) AS BIGINT) AS n_dup
           FROM fl GROUP BY doc_id)
         SELECT d.doc_id,
           coalesce(pd.n_chunks, 0) AS n_chunks,
           coalesce(pd.n_dup, 0) AS n_dup_chunks,
           CASE WHEN coalesce(pd.n_chunks, 0) = 0 THEN 0.0
                ELSE ${roundToSql("CAST(pd.n_dup AS DOUBLE) / pd.n_chunks", 6)} END AS dup_frac
         FROM documents d LEFT JOIN pd USING (doc_id) ORDER BY doc_id""",
    "txt_c4_filters" ->
      s"""WITH t AS (SELECT doc_id, text,
           regexp_split_to_array(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks,
           regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
         FROM documents),
         m AS (SELECT doc_id, text, toks,
           len(toks) AS n,
           CASE WHEN len(toks) = 0 THEN 0.0
                ELSE CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(toks) END AS ml,
           CASE WHEN length(text) = 0 THEN 0.0
                ELSE CAST(length(regexp_replace(text, '[^.,!?;:''"()\\-]', '', 'g')) AS DOUBLE) / length(text) END AS pr
         FROM t)
         SELECT doc_id,
           n < 50 AS flag_too_short,
           n > 100000 AS flag_too_long,
           (ml < 3.0 OR ml > 10.0) AS flag_word_length,
           len(list_filter(toks, x -> list_contains($enList, x))) = 0 AS flag_no_stopwords,
           strpos(lower(text), '{') > 0 AS flag_brace,
           strpos(lower(text), 'lorem ipsum') > 0 AS flag_lorem,
           pr > 0.3 AS flag_symbol_ratio,
           ${roundToSql("ml", 6)} AS mean_word_len,
           (n >= 50 AND n <= 100000 AND ml >= 3.0 AND ml <= 10.0
            AND len(list_filter(toks, x -> list_contains($enList, x))) > 0
            AND strpos(lower(text), '{') = 0 AND strpos(lower(text), 'lorem ipsum') = 0
            AND pr <= 0.3) AS keep
         FROM m ORDER BY doc_id""",
    "dedup_url" ->
      s"""WITH u AS (SELECT doc_id,
           CASE CAST(doc_id % 4 AS INTEGER)
             WHEN 0 THEN 'HTTP://Example.COM:80/p/' || CAST(doc_id // 4 AS VARCHAR) || '?utm_source=feed&id=7'
             WHEN 1 THEN 'http://example.com/p/' || CAST(doc_id // 4 AS VARCHAR) || '?id=7'
             WHEN 2 THEN 'https://CDN.Site.org:443/img/' || CAST(doc_id // 4 AS VARCHAR) || '#frag'
             ELSE 'https://cdn.site.org/img/' || CAST(doc_id // 4 AS VARCHAR) END AS url
         FROM documents),
         n AS (SELECT doc_id,
           lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
           lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
           regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$$', 1) AS rest
         FROM u),
         c0 AS (SELECT doc_id, scheme, hostport,
           regexp_replace(rest, '#.*$$', '') AS r0 FROM n),
         c1 AS (SELECT doc_id, scheme, hostport,
           regexp_extract(r0, '^([^?]*)', 1) AS pathp,
           regexp_replace(regexp_extract(r0, '(\\?.*)$$', 1),
             '([?&])(utm_[^=&]*|fbclid|gclid)=[^&]*', '\\1', 'g') AS q1 FROM c0),
         c2 AS (SELECT doc_id, scheme, hostport,
           pathp || regexp_replace(regexp_replace(regexp_replace(q1, '\\?&+', '?', 'g'),
             '&&+', '&', 'g'), '[?&]+$$', '') AS r2 FROM c1),
         c3 AS (SELECT doc_id,
           scheme || '://' ||
           (CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$$', '')
                 WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$$', '')
                 ELSE hostport END) ||
           (CASE WHEN r2 = '/' THEN '' ELSE r2 END) AS canonical_url
         FROM c2)
         SELECT canonical_url, count(*) AS n_urls, min(doc_id) AS first_doc
         FROM c3 GROUP BY canonical_url ORDER BY canonical_url""",
    "sketch_hll_distinct" -> {
      val p = 11; val m = 1 << p; val w = 60 - p
      val key = "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)"
      s"""WITH h AS (SELECT ${duckHex60(key)} AS h FROM lineitem),
         r AS (SELECT h % $m AS b,
             CASE WHEN (h >> $p) = 0 THEN ${w + 1} ELSE $w - length(bin(h >> $p)) + 1 END AS rho
           FROM h),
         mx AS (SELECT b, max(rho) AS mr FROM r GROUP BY b),
         z AS (SELECT CAST(sum(1::BIGINT << CAST(${Sketches.HllShift} - mr AS INTEGER)) AS BIGINT) AS zs,
             count(*) AS nb
           FROM mx),
         est AS (SELECT ${Sketches.hllConstant(p)} /
             CAST(zs + ($m - nb) * (1::BIGINT << ${Sketches.HllShift}) AS DOUBLE) AS e FROM z),
         ex AS (SELECT count(DISTINCT $key) AS n_exact FROM lineitem)
         SELECT ex.n_exact, ${roundToSql("e", 3)} AS hll_estimate
         FROM ex CROSS JOIN est"""
    },
    "sketch_hll_union" -> {
      val p = 11; val m = 1 << p; val w = 60 - p
      s"""WITH h AS (SELECT o_orderpriority, ${duckHex60("CAST(o_custkey AS VARCHAR)")} AS h
           FROM orders),
         r AS (SELECT o_orderpriority, h % $m AS b,
             CASE WHEN (h >> $p) = 0 THEN ${w + 1} ELSE $w - length(bin(h >> $p)) + 1 END AS rho
           FROM h),
         fine AS (SELECT o_orderpriority, b, max(rho) AS mr FROM r GROUP BY o_orderpriority, b),
         mx AS (SELECT b, max(mr) AS mr FROM fine GROUP BY b),
         z AS (SELECT CAST(sum(1::BIGINT << CAST(${Sketches.HllShift} - mr AS INTEGER)) AS BIGINT) AS zs,
             count(*) AS nb
           FROM mx),
         est AS (SELECT ${Sketches.hllConstant(p)} /
             CAST(zs + ($m - nb) * (1::BIGINT << ${Sketches.HllShift}) AS DOUBLE) AS e FROM z),
         ex AS (SELECT count(DISTINCT o_custkey) AS n_exact FROM orders)
         SELECT ex.n_exact, ${roundToSql("e", 3)} AS hll_estimate
         FROM ex CROSS JOIN est"""
    },
    "sketch_cms_topk" ->
      s"""WITH st AS (SELECT unnest(
             regexp_split_to_array(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS item
         FROM documents),
         rs AS (SELECT unnest(range(0, 4)) AS r),
         cells AS (SELECT r, b, count(*) AS cn FROM (
             SELECT r, ${duckHex60("'cms' || CAST(r AS VARCHAR) || ':' || item")} % 1024 AS b
             FROM st CROSS JOIN rs) GROUP BY r, b),
         ex AS (SELECT item, count(*) AS exact_count FROM st WHERE item IS NOT NULL GROUP BY item),
         pr AS (SELECT item, exact_count, r,
             ${duckHex60("'cms' || CAST(r AS VARCHAR) || ':' || item")} % 1024 AS b
           FROM ex CROSS JOIN rs),
         est AS (SELECT item, exact_count, min(cn) AS cms_estimate
           FROM pr JOIN cells USING (r, b) GROUP BY item, exact_count)
         SELECT item, CAST(cms_estimate AS BIGINT) AS cms_estimate,
           CAST(exact_count AS BIGINT) AS exact_count
         FROM est ORDER BY cms_estimate DESC, item ASC LIMIT 20""",
    "samp_stratified" ->
      s"""SELECT doc_id, lang FROM documents
         WHERE ${duckHex60("'samp:' || CAST(doc_id AS VARCHAR)")} % 1000000 <
           CASE WHEN lang = 'en' THEN 100000
                WHEN lang = 'de' THEN 500000
                ELSE 250000 END
         ORDER BY doc_id""",
    "samp_hash_topk" ->
      s"""WITH h AS (SELECT doc_id,
           ${duckHex60("'samp:' || CAST(doc_id AS VARCHAR)")} AS hh FROM documents),
         k AS (SELECT doc_id FROM h ORDER BY hh, doc_id LIMIT 100)
         SELECT doc_id FROM k ORDER BY doc_id""",
    "sketch_bloom_decontaminate" ->
      s"""WITH t AS (SELECT doc_id,
           regexp_split_to_array(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks
         FROM documents),
         sh AS (SELECT doc_id,
           list_distinct(list_transform(range(1, greatest(len(toks) - 4, 1) + 1),
             i -> array_to_string(toks[i:i+4], ' '))) AS shingles FROM t),
         bsh AS (SELECT DISTINCT unnest(shingles) AS g FROM sh WHERE doc_id < 20),
         rs AS (SELECT unnest(range(0, 3)) AS j),
         bpos AS (SELECT DISTINCT
             ${duckHex60("'bloom' || CAST(j AS VARCHAR) || ':' || g")} % 65536 AS pos
           FROM bsh CROSS JOIN rs),
         dsh AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
         probe AS (SELECT doc_id, g, j,
             ${duckHex60("'bloom' || CAST(j AS VARCHAR) || ':' || g")} % 65536 AS pos
           FROM dsh CROSS JOIN rs),
         hits AS (SELECT doc_id, g, count(*) AS nh FROM probe JOIN bpos USING (pos)
           GROUP BY doc_id, g),
         bf AS (SELECT doc_id, max(nh = 3) AS bloom_flagged FROM hits GROUP BY doc_id),
         ex AS (SELECT DISTINCT d.doc_id AS doc_id FROM dsh d JOIN bsh ON d.g = bsh.g)
         SELECT doc.doc_id,
           coalesce(bf.bloom_flagged, false) AS bloom_flagged,
           (doc.doc_id IN (SELECT doc_id FROM ex)) AS exact_contaminated
         FROM documents doc LEFT JOIN bf USING (doc_id) ORDER BY doc.doc_id""",
    "ann_hamming_topk" -> annHammingOracleSql,
    "dedup_hamming_pairs" -> dedupHammingOracleSql,
    "samp_cluster_balanced" -> sampClusterBalancedOracleSql,
    "emb_int8_topk" -> annInt8OracleSql,
    "sketch_kmv_distinct" -> kmvDistinctOracleSql,
    "sketch_kmv_setops" -> kmvSetOpsOracleSql,
    "txt_html_extract" -> htmlExtractOracleSql,
    "samp_weighted" ->
      s"""WITH t AS (SELECT doc_id, text,
           regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents),
         m AS (SELECT doc_id,
           $qualityMetricsBody
         FROM t),
         q AS (SELECT doc_id, $qualityScoreExpr AS score FROM m)
         SELECT doc_id, score FROM q
         WHERE ${duckHex60("'wsamp:' || CAST(doc_id AS VARCHAR)")} % 1000000 <
           CAST(floor(least(greatest(score * 1.0, 0.0), 1.0) * 1000000.0) AS BIGINT)
         ORDER BY doc_id""",
    "samp_key_cap" ->
      s"""WITH sc AS (SELECT source AS key, doc_id AS id,
           ${duckHex60("'cap:' || CAST(doc_id AS VARCHAR)")} % 1000000 AS b
         FROM documents),
       rk AS (SELECT key, id,
           CAST(row_number() OVER (PARTITION BY key ORDER BY b, id) AS INTEGER) AS rank FROM sc)
       SELECT key, id, rank FROM rk WHERE rank <= 10 ORDER BY key, rank""",
    "txt_substring_dedup" ->
      s"""WITH t AS (SELECT doc_id,
           regexp_split_to_array(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks
         FROM documents),
         e AS (SELECT doc_id, toks, unnest(range(0, greatest(len(toks) - 4, 0))) AS pos FROM t),
         occ AS (SELECT doc_id, pos,
           ${duckHex60("array_to_string(toks[(pos+1):(pos+5)], ' ')")} AS h FROM e),
         dh AS (SELECT h FROM occ GROUP BY h HAVING count(*) >= 2),
         dup AS (SELECT doc_id, pos FROM occ JOIN dh USING (h)),
         isl AS (SELECT doc_id, pos,
           pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM dup),
         sp AS (SELECT doc_id, count(*) AS l FROM isl GROUP BY doc_id, grp),
         pd AS (SELECT doc_id, CAST(sum(l) AS BIGINT) AS n_dup_grams,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(max(l) + 4 AS BIGINT) AS max_span_tokens FROM sp GROUP BY doc_id),
         ng AS (SELECT doc_id, CAST(greatest(len(toks) - 4, 0) AS BIGINT) AS n_grams FROM t)
         SELECT ng.doc_id, ng.n_grams,
           coalesce(pd.n_dup_grams, 0) AS n_dup_grams,
           coalesce(pd.n_spans, 0) AS n_spans,
           coalesce(pd.max_span_tokens, 0) AS max_span_tokens,
           CASE WHEN ng.n_grams = 0 THEN 0.0
                ELSE ${roundToSql("CAST(coalesce(pd.n_dup_grams, 0) AS DOUBLE) / CAST(ng.n_grams AS DOUBLE)", 6)}
           END AS dup_gram_frac
         FROM ng LEFT JOIN pd USING (doc_id) ORDER BY ng.doc_id""",
    "txt_substring_strip" ->
      s"""WITH t AS (SELECT doc_id,
           regexp_split_to_array(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks
         FROM documents),
         e AS (SELECT doc_id, toks, unnest(range(0, greatest(len(toks) - 4, 0))) AS pos FROM t),
         occ AS (SELECT doc_id, pos,
           ${duckHex60("array_to_string(toks[(pos+1):(pos+5)], ' ')")} AS h FROM e),
         fd AS (SELECT h, min(doc_id) AS fdoc FROM occ GROUP BY h),
         fp AS (SELECT o.h AS h, fdoc, min(o.pos) AS fpos
           FROM occ o JOIN fd ON o.h = fd.h AND o.doc_id = fd.fdoc GROUP BY o.h, fdoc),
         dup AS (SELECT o.doc_id AS doc_id, o.pos AS pos FROM occ o JOIN fp ON o.h = fp.h
           WHERE NOT (o.doc_id = fp.fdoc AND o.pos = fp.fpos)),
         rem AS (SELECT DISTINCT doc_id, ti FROM
           (SELECT doc_id, unnest(range(pos, pos + 5)) AS ti FROM dup)),
         ra AS (SELECT doc_id, array_agg(ti ORDER BY ti) AS rem_arr FROM rem GROUP BY doc_id)
         SELECT t.doc_id,
           coalesce(array_to_string(list_transform(
             list_filter(range(0, len(t.toks)), i -> NOT list_contains(coalesce(ra.rem_arr, []), i)),
             i -> t.toks[i + 1]), ' '), '') AS clean_text,
           CAST(len(coalesce(ra.rem_arr, [])) AS BIGINT) AS n_tokens_removed
         FROM t LEFT JOIN ra USING (doc_id) ORDER BY t.doc_id""",
    "txt_lm_score" ->
      s"""WITH t AS (SELECT doc_id,
           regexp_split_to_array(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks
         FROM documents),
         e AS (SELECT doc_id, toks, unnest(range(0, greatest(len(toks) - 1, 0))) AS pos FROM t),
         bg AS (SELECT doc_id, toks[pos+1] AS w1, toks[pos+2] AS w2 FROM e),
         uc AS (SELECT w, count(*) AS c1 FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
         v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uc),
         bi AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
         sc AS (SELECT doc_id,
             CAST(floor((CAST(c12 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS q
           FROM bg JOIN bi USING (w1, w2) JOIN uc ON bg.w1 = uc.w CROSS JOIN v),
         pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nb, CAST(sum(q) AS BIGINT) AS sq
           FROM sc GROUP BY doc_id)
         SELECT d.doc_id, coalesce(pd.nb, 0) AS n_bigrams,
           CASE WHEN coalesce(pd.nb, 0) = 0 THEN 0.0
                ELSE ${roundToSql("CAST(pd.sq AS DOUBLE) / (CAST(pd.nb AS DOUBLE) * 1e9)", 6)}
           END AS lm_score
         FROM documents d LEFT JOIN pd USING (doc_id) ORDER BY d.doc_id""",
    "txt_classifier" ->
      s"""WITH w AS (SELECT CAST(range AS BIGINT) AS bucket,
           (CAST(range AS BIGINT) * 2654435761) % 2001 - 1000 AS wq FROM range(4096)),
         t AS (SELECT doc_id,
           CASE WHEN trim(text) = '' THEN []
                ELSE regexp_split_to_array(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') END AS toks
         FROM documents),
         f AS (
           SELECT doc_id, 'u:' || toks[i + 1] AS feat
             FROM (SELECT doc_id, toks, unnest(range(0, len(toks))) AS i FROM t)
           UNION ALL
           SELECT doc_id, 'b:' || toks[i + 1] || ' ' || toks[i + 2] AS feat
             FROM (SELECT doc_id, toks, unnest(range(0, greatest(len(toks) - 1, 0))) AS i FROM t)),
         fb AS (SELECT doc_id, ${duckHex60("feat")} % 4096 AS bucket FROM f),
         pd AS (SELECT fb.doc_id AS doc_id, CAST(sum(w.wq) AS BIGINT) AS lq
           FROM fb JOIN w USING (bucket) GROUP BY fb.doc_id),
         nf AS (SELECT doc_id,
           CAST(len(toks) + greatest(len(toks) - 1, 0) AS BIGINT) AS n_features FROM t)
         SELECT nf.doc_id, nf.n_features,
           coalesce(pd.lq, 0) AS logit_q,
           CASE WHEN nf.n_features = 0 THEN 0.0
                ELSE ${roundToSql("CAST(pd.lq AS DOUBLE) / (CAST(nf.n_features AS DOUBLE) * 1e6)", 6)}
           END AS clf_score,
           coalesce(pd.lq, 0) > 0 AS keep
         FROM nf LEFT JOIN pd USING (doc_id) ORDER BY nf.doc_id""",
    "txt_keywords" ->
      s"""WITH t AS (SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term FROM documents),
         tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM t WHERE term <> '' GROUP BY doc_id, term),
         df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         sc AS (SELECT tf.doc_id AS doc_id, tf.term AS term, tf.tf AS tf, df.df AS df,
             tf.tf * CAST(floor((ln(CAST(n.n + 1 AS DOUBLE) / CAST(df.df + 1 AS DOUBLE)) + 1.0) * 1e6 + 0.5) AS BIGINT) AS sq
           FROM tf JOIN df USING (term) CROSS JOIN n),
         rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY sq DESC, term ASC) AS rank
           FROM sc)
         SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, tf, df,
           ${roundToSql("CAST(sq AS DOUBLE) / 1e6", 6)} AS tfidf
         FROM rk WHERE rank <= 5 ORDER BY doc_id, rank""",
    "meta_profile" -> {
      def num(c: String) =
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
         FROM orders"""
      def str(c: String, fmt: String => String) =
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
           ${fmt(s"min($c)")} AS min_str, ${fmt(s"max($c)")} AS max_str
         FROM orders"""
      val plain = (e: String) => s"CAST($e AS VARCHAR)"
      val ts = (e: String) => s"strftime($e, '%Y-%m-%d %H:%M:%S')"
      Seq(num("o_custkey"), str("o_orderdate", ts), num("o_orderkey"),
          str("o_orderpriority", plain), str("o_orderstatus", plain),
          num("o_totalprice"))
        .mkString("", " UNION ALL ", " ORDER BY col_name")
    },
    "sketch_quantile" ->
      s"""WITH b AS (SELECT l_returnflag,
           least(greatest(CAST(floor((CAST(l_extendedprice AS DOUBLE) - 0.0)
             / (262144.0 - 0.0) * 256) AS BIGINT), 0), 255) AS bin
         FROM lineitem WHERE l_extendedprice IS NOT NULL),
         c AS (SELECT l_returnflag, bin, CAST(count(*) AS BIGINT) AS cnt
           FROM b GROUP BY l_returnflag, bin),
         cc AS (SELECT l_returnflag, bin, cnt,
             CAST(sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin) AS BIGINT) AS cum,
             CAST(sum(cnt) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
           FROM c),
         e AS (SELECT cc.*, CAST(q.quantile AS DOUBLE) AS quantile
           FROM cc CROSS JOIN (SELECT unnest([0.25, 0.5, 0.9, 0.99]) AS quantile) q),
         f AS (SELECT *, greatest(CAST(ceil(quantile * n) AS BIGINT), 1) AS target FROM e)
         SELECT l_returnflag, quantile,
           ${roundToSql(
             "0.0 + (CAST(bin AS DOUBLE) + CAST(target - (cum - cnt) AS DOUBLE) / CAST(cnt AS DOUBLE)) * ((262144.0 - 0.0) / 256)", 6)} AS estimate,
           n
         FROM f WHERE cum >= target AND (cum - cnt) < target
         ORDER BY l_returnflag, quantile""",
    "samp_mixture" ->
      s"""WITH doms AS (SELECT * FROM (VALUES ('src0', 0.5), ('src1', 0.25),
           ('src2', 0.125), ('src3', 0.125)) AS t(source, w)),
         -- LEFT JOIN so a REQUESTED domain with zero rows contributes
         -- n = 0 and forces M = 0 (empty sample), exactly like the
         -- operator's counts.getOrElse(s, 0L) — the counts-only GROUP
         -- BY would silently skip the missing domain instead
         cnts AS (SELECT doms.source AS source,
             CAST(coalesce(g.n, 0) AS DOUBLE) AS n, doms.w AS w
           FROM doms LEFT JOIN (SELECT source, count(*) AS n FROM documents
             WHERE source IN ('src0', 'src1', 'src2', 'src3') GROUP BY source) g
           ON doms.source = g.source),
         m AS (SELECT min(n / w) AS m FROM cnts),
         r AS (SELECT source,
             CASE WHEN n = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(floor(least(1.0, w * m.m / n) * 1e6 + 0.5) AS BIGINT) END AS thr
           FROM cnts CROSS JOIN m)
         SELECT d.doc_id, d.source FROM documents d JOIN r ON d.source = r.source
         WHERE ${duckHex60("'mix:' || CAST(doc_id AS VARCHAR)")} % 1000000 < r.thr
         ORDER BY d.doc_id""",
    "emb_label_outliers" ->
      s"""WITH q AS (SELECT vec_id, label,
           list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS qv
         FROM embeddings),
         e AS (SELECT label, unnest(qv) AS c, unnest(range(1, len(qv) + 1)) AS dim FROM q),
         cs AS (SELECT label, dim, sum(c) AS s FROM e GROUP BY label, dim),
         cent AS (SELECT label, array_agg(CAST(s AS DOUBLE) ORDER BY dim) AS cv FROM cs GROUP BY label),
         sc AS (SELECT q.vec_id, q.label,
             ${duckCos("list_transform(q.qv, x -> CAST(x AS DOUBLE))", "cent.cv")} AS c
           FROM q JOIN cent USING (label)),
         r AS (SELECT label, vec_id, ${roundToSql("c", 6)} AS cosine,
             CAST(row_number() OVER (PARTITION BY label ORDER BY c ASC, vec_id) AS INTEGER) AS rank
           FROM sc)
         SELECT label, vec_id, cosine, rank FROM r WHERE rank <= 10
         ORDER BY label, rank""",
    "txt_entropy" ->
      s"""WITH t AS (SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
             ELSE regexp_split_to_array(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')
           END AS toks FROM documents),
         o AS (SELECT doc_id, ${duckHex60("tok")} AS h
           FROM (SELECT doc_id, unnest(toks) AS tok FROM t)),
         c AS (SELECT doc_id, h, count(*) AS ct FROM o GROUP BY doc_id, h),
         n AS (SELECT doc_id, CAST(sum(ct) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS dist
           FROM c GROUP BY doc_id),
         q AS (SELECT c.doc_id,
             CAST(floor((CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)) *
               ln(CAST(n AS DOUBLE) / CAST(ct AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS tq
           FROM c JOIN n USING (doc_id)),
         pd AS (SELECT doc_id, CAST(sum(tq) AS BIGINT) AS entropy_q FROM q GROUP BY doc_id)
         SELECT d.doc_id,
           coalesce(n.n, 0) AS n_tokens,
           coalesce(n.dist, 0) AS n_distinct,
           coalesce(pd.entropy_q, 0) AS entropy_q,
           ${roundToSql("coalesce(pd.entropy_q, 0) / 1e6", 4)} AS entropy
         FROM documents d LEFT JOIN n USING (doc_id) LEFT JOIN pd USING (doc_id)
         ORDER BY d.doc_id""",
    "emb_linear_score" -> {
      val wq = graft.operators.Similarity.linearWeightsQ(64, "linhead")
      val bq = graft.operators.Similarity.linearBiasQ("linhead")
      val wlit = wq.mkString("[", ", ", "]")
      s"""WITH w AS (SELECT CAST($wlit AS BIGINT[]) AS wq),
         sc AS (SELECT vec_id,
             CASE WHEN len(embedding) = 64 THEN
               list_reduce(list_transform(range(1, 65), i ->
                 wq[i] * CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT)),
                 (a, b) -> a + b) + CAST($bq AS BIGINT)
             END AS logit_q
           FROM embeddings CROSS JOIN w)
         SELECT vec_id, logit_q,
           ${roundToSql("logit_q / 1e9", 6)} AS lin_score,
           coalesce(logit_q > 0, false) AS keep
         FROM sc ORDER BY vec_id"""
    },
    "samp_temperature" ->
      s"""WITH cnts AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
           FROM documents GROUP BY lang),
         m AS (SELECT max(pow(CAST(n AS DOUBLE), -0.7)) AS m FROM cnts),
         r AS (SELECT lang,
             CAST(floor(least(1.0, pow(CAST(n AS DOUBLE), -0.7) / m.m) * 1e6 + 0.5) AS BIGINT) AS thr
           FROM cnts CROSS JOIN m)
         SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
         WHERE ${duckHex60("'temp:' || CAST(doc_id AS VARCHAR)")} % 1000000 < r.thr
         ORDER BY d.doc_id""",
    "samp_dsir" ->
      s"""WITH t AS (SELECT doc_id, lang,
           CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
             ELSE regexp_split_to_array(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')
           END AS toks FROM documents),
         o AS (SELECT doc_id, lang, ${duckHex60("'dsir:' || tok")} % 256 AS b
           FROM (SELECT doc_id, lang, unnest(toks) AS tok FROM t)),
         rc AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM o GROUP BY b),
         tc AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM o WHERE lang = 'en' GROUP BY b),
         tot AS (SELECT (SELECT coalesce(sum(cr), 0) FROM rc) AS nr,
                        (SELECT coalesce(sum(ct), 0) FROM tc) AS nt),
         lam AS (SELECT coalesce(rc.b, tc.b) AS b,
             CAST(floor(ln(
               CAST((coalesce(ct, 0) + 1) * (nr + 256) AS DOUBLE) /
               CAST((coalesce(cr, 0) + 1) * (nt + 256) AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS lamq
           FROM rc FULL OUTER JOIN tc ON rc.b = tc.b CROSS JOIN tot),
         sc AS (SELECT o.doc_id, CAST(sum(lam.lamq) AS BIGINT) AS logw_q,
             CAST(count(*) AS BIGINT) AS ntok
           FROM o JOIN lam ON o.b = lam.b GROUP BY o.doc_id),
         f AS (SELECT t.doc_id, coalesce(sc.ntok, 0) AS n_tokens,
             coalesce(sc.logw_q, 0) AS logw_q
           FROM t LEFT JOIN sc USING (doc_id))
         SELECT doc_id, n_tokens, logw_q,
           CASE WHEN n_tokens = 0 THEN 0.0
             ELSE ${roundToSql("logw_q / (n_tokens * 1e6)", 6)} END AS dsir_score
         FROM f ORDER BY logw_q DESC, doc_id LIMIT 50""",
    "sketch_domain_overlap" ->
      s"""WITH h AS (SELECT DISTINCT source, ${duckHex60("'kmv:' || text")} AS h
           FROM documents WHERE text IS NOT NULL),
         rk AS (SELECT source, h,
             row_number() OVER (PARTITION BY source ORDER BY h) AS r FROM h),
         sk AS (SELECT source, array_agg(h ORDER BY h) AS hs
           FROM rk WHERE r <= 64 GROUP BY source),
         p AS (SELECT a.source AS source_a, b.source AS source_b,
             a.hs AS ha, b.hs AS hb
           FROM sk a JOIN sk b ON a.source < b.source),
         c AS (SELECT source_a, source_b, ha, hb,
             list_sort(list_distinct(ha || hb))[1:64] AS comb FROM p),
         e AS (SELECT source_a, source_b, CAST(len(comb) AS BIGINT) AS n,
             CASE WHEN len(comb) < 64 THEN CAST(len(comb) AS DOUBLE)
                  ELSE 63 * 1152921504606846976.0 / CAST(comb[64] AS DOUBLE) END AS u,
             CAST(len(list_filter(comb, x ->
               list_contains(ha, x) AND list_contains(hb, x))) AS BIGINT) AS ib
           FROM c)
         SELECT source_a, source_b,
           ${roundToSql("u", 3)} AS union_est,
           ${roundToSql("(CAST(ib AS DOUBLE) / n) * u", 3)} AS intersect_est,
           ${roundToSql("CAST(ib AS DOUBLE) / n", 6)} AS jaccard_est
         FROM e ORDER BY source_a, source_b""",
    "txt_ccnet_buckets" ->
      s"""WITH t AS (SELECT doc_id, lang,
           regexp_split_to_array(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks
         FROM documents),
         e AS (SELECT doc_id, lang, toks, unnest(range(0, greatest(len(toks) - 1, 0))) AS pos FROM t),
         bg AS (SELECT doc_id, lang, toks[pos+1] AS w1, toks[pos+2] AS w2 FROM e),
         uc AS (SELECT lang, w, count(*) AS c1
           FROM (SELECT lang, unnest(toks) AS w FROM t) GROUP BY lang, w),
         v AS (SELECT lang, CAST(count(*) AS BIGINT) AS v FROM uc GROUP BY lang),
         bi AS (SELECT lang, w1, w2, count(*) AS c12 FROM bg GROUP BY lang, w1, w2),
         sc AS (SELECT doc_id,
             CAST(floor((CAST(c12 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS q
           FROM bg JOIN bi USING (lang, w1, w2)
           JOIN uc ON bg.w1 = uc.w AND bg.lang = uc.lang
           JOIN v ON bg.lang = v.lang),
         pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nb, CAST(sum(q) AS BIGINT) AS sq
           FROM sc GROUP BY doc_id),
         lm AS (SELECT d.doc_id, d.lang, coalesce(pd.nb, 0) AS n_bigrams,
           CASE WHEN coalesce(pd.nb, 0) = 0 THEN 0.0
                ELSE ${roundToSql("CAST(pd.sq AS DOUBLE) / (CAST(pd.nb AS DOUBLE) * 1e9)", 6)}
           END AS lm_score
         FROM documents d LEFT JOIN pd USING (doc_id)),
         b AS (SELECT lang,
             least(greatest(CAST(floor((lm_score - 0.0) / (0.1 - 0.0) * 256) AS BIGINT), 0), 255) AS bin
           FROM lm WHERE lm_score IS NOT NULL),
         c AS (SELECT lang, bin, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY lang, bin),
         cc AS (SELECT lang, bin, cnt,
             CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY bin) AS BIGINT) AS cum,
             CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
           FROM c),
         e2 AS (SELECT cc.*, CAST(q.quantile AS DOUBLE) AS quantile
           FROM cc CROSS JOIN (SELECT unnest([CAST(1 AS DOUBLE) / 3, CAST(2 AS DOUBLE) / 3]) AS quantile) q),
         f AS (SELECT *, greatest(CAST(ceil(quantile * n) AS BIGINT), 1) AS target FROM e2),
         est AS (SELECT lang, quantile,
             ${roundToSql(
               "0.0 + (CAST(bin AS DOUBLE) + CAST(target - (cum - cnt) AS DOUBLE) / CAST(cnt AS DOUBLE)) * ((0.1 - 0.0) / 256)", 6)} AS estimate
           FROM f WHERE cum >= target AND (cum - cnt) < target),
         thr AS (SELECT lang,
             max(CASE WHEN quantile = CAST(1 AS DOUBLE) / 3 THEN estimate END) AS t1,
             max(CASE WHEN quantile = CAST(2 AS DOUBLE) / 3 THEN estimate END) AS t2
           FROM est GROUP BY lang)
         SELECT lm.doc_id, lm.lang, lm.n_bigrams, lm.lm_score,
           CASE WHEN lm.lm_score > thr.t2 THEN 'head'
                WHEN lm.lm_score > thr.t1 THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM lm JOIN thr USING (lang) ORDER BY lm.doc_id""",
    "txt_winnowing" ->
      s"""WITH t AS (SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
             ELSE regexp_split_to_array(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')
           END AS toks FROM documents),
         g AS (SELECT doc_id, toks, greatest(len(toks) - 4, 0) AS ng FROM t),
         -- outer lambda variable must NOT be `i`: duckHex60 expands to
         -- a list_transform whose own `i` would shadow it
         h AS (SELECT doc_id, ng, list_transform(range(0, ng), gi ->
             ${duckHex60("array_to_string(toks[(gi+1):(gi+5)], ' ')")}) AS hs FROM g),
         wn AS (SELECT doc_id, ng, hs, greatest(ng - 3, 0) AS nw FROM h),
         sel AS (SELECT doc_id, ng, nw, hs,
             list_distinct(list_transform(range(0, nw), i ->
               CAST(i + 4 - list_position(list_reverse(hs[(i+1):(i+4)]),
                 list_min(hs[(i+1):(i+4)])) AS INTEGER))) AS pos FROM wn),
         fp AS (SELECT doc_id, ng, nw,
             list_transform(pos, p -> hs[p + 1]) AS fps FROM sel)
         SELECT doc_id, CAST(ng AS BIGINT) AS n_grams, CAST(nw AS BIGINT) AS n_windows,
           CAST(len(fps) AS BIGINT) AS n_fingerprints,
           coalesce(list_min(fps), 0) AS fp_min,
           list_reduce(list_prepend(CAST(0 AS BIGINT), fps), (a, b) -> xor(a, b)) AS fp_xor
         FROM fp ORDER BY doc_id""",
    "dedup_winnowing" ->
      s"""WITH t AS (SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
             ELSE regexp_split_to_array(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')
           END AS toks FROM documents),
         g AS (SELECT doc_id, toks, greatest(len(toks) - 4, 0) AS ng FROM t),
         h AS (SELECT doc_id, ng, list_transform(range(0, ng), gi ->
             ${duckHex60("array_to_string(toks[(gi+1):(gi+5)], ' ')")}) AS hs FROM g),
         wn AS (SELECT doc_id, ng, hs, greatest(ng - 3, 0) AS nw FROM h),
         sel AS (SELECT doc_id, hs,
             list_distinct(list_transform(range(0, nw), i ->
               CAST(i + 4 - list_position(list_reverse(hs[(i+1):(i+4)]),
                 list_min(hs[(i+1):(i+4)])) AS INTEGER))) AS pos FROM wn),
         fpd AS (SELECT DISTINCT doc_id, unnest(list_transform(pos, p -> hs[p + 1])) AS h
           FROM sel),
         cold AS (SELECT h FROM fpd GROUP BY h HAVING count(*) <= 50),
         slim AS (SELECT doc_id, h FROM fpd JOIN cold USING (h)),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS n_shared
           FROM slim a JOIN slim b ON a.h = b.h AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id)
         SELECT id_a, id_b, n_shared FROM pr WHERE n_shared >= 2
         ORDER BY id_a, id_b""",
    "dedup_winnowing_clusters" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
             ELSE regexp_split_to_array(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')
           END AS toks FROM documents),
         g AS (SELECT doc_id, toks, greatest(len(toks) - 4, 0) AS ng FROM t),
         h AS (SELECT doc_id, ng, list_transform(range(0, ng), gi ->
             ${duckHex60("array_to_string(toks[(gi+1):(gi+5)], ' ')")}) AS hs FROM g),
         wn AS (SELECT doc_id, ng, hs, greatest(ng - 3, 0) AS nw FROM h),
         sel AS (SELECT doc_id, hs,
             list_distinct(list_transform(range(0, nw), i ->
               CAST(i + 4 - list_position(list_reverse(hs[(i+1):(i+4)]),
                 list_min(hs[(i+1):(i+4)])) AS INTEGER))) AS pos FROM wn),
         fpd AS (SELECT DISTINCT doc_id, unnest(list_transform(pos, p -> hs[p + 1])) AS h
           FROM sel),
         cold AS (SELECT h FROM fpd GROUP BY h HAVING count(*) <= 50),
         slim AS (SELECT doc_id, h FROM fpd JOIN cold USING (h)),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS n_shared
           FROM slim a JOIN slim b ON a.h = b.h AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id),
         pairs AS (SELECT id_a, id_b FROM pr WHERE n_shared >= 2),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         reach(src, dst) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
         nodes AS (SELECT DISTINCT src AS doc_id FROM edges)
         SELECT n.doc_id,
           least(n.doc_id, min(r.dst)) AS cluster_id
         FROM nodes n LEFT JOIN reach r ON r.src = n.doc_id
         GROUP BY n.doc_id ORDER BY n.doc_id""",
    "emb_random_projection" -> {
      val m = (0 until 16).map(j =>
        graft.operators.Similarity.linearWeightsQ(64, s"rproj:$j")
          .mkString("[", ", ", "]")).mkString("[", ", ", "]")
      s"""WITH w AS (SELECT CAST($m AS BIGINT[][]) AS m),
         sc AS (SELECT vec_id,
             CASE WHEN len(embedding) = 64 THEN
               list_transform(range(1, 17), j ->
                 list_reduce(list_transform(range(1, 65), i ->
                   m[j][i] * CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT)),
                   (a, b) -> a + b))
             END AS proj_q
           FROM embeddings CROSS JOIN w)
         SELECT vec_id, CAST(u.j AS INTEGER) - 1 AS dim, proj_q[u.j] AS comp
         FROM sc CROSS JOIN (SELECT unnest(range(1, 17)) AS j) u
         WHERE proj_q IS NOT NULL
         ORDER BY vec_id, dim"""
    },
    "evt_funnel" -> {
      val h = 7L * 86400000000L
      s"""WITH ev AS (SELECT user_id AS u, event_type AS et, epoch_us(ts) AS ts FROM events),
         s1 AS (SELECT u, min(ts) AS t1 FROM ev WHERE et = 'view' GROUP BY u),
         s2 AS (SELECT ev.u, min(ev.ts) AS t2 FROM ev JOIN s1 ON ev.u = s1.u
           WHERE ev.et = 'click' AND ev.ts > s1.t1 AND ev.ts <= s1.t1 + $h GROUP BY ev.u),
         s3 AS (SELECT ev.u, min(ev.ts) AS t3 FROM ev JOIN s2 ON ev.u = s2.u
           WHERE ev.et = 'purchase' AND ev.ts > s2.t2 AND ev.ts <= s2.t2 + $h GROUP BY ev.u),
         c AS (SELECT (SELECT count(*) FROM s1) AS c1,
                      (SELECT count(*) FROM s2) AS c2,
                      (SELECT count(*) FROM s3) AS c3)
         SELECT CAST(step AS INTEGER) AS step, event_type, users,
           CASE WHEN c1 > 0 THEN CAST(users AS DOUBLE) / CAST(c1 AS DOUBLE) END AS conv_from_first
         FROM (
           SELECT 1 AS step, 'view' AS event_type, c1 AS users, c1 FROM c
           UNION ALL SELECT 2, 'click', c2, c1 FROM c
           UNION ALL SELECT 3, 'purchase', c3, c1 FROM c)
         ORDER BY step"""
    },
    "evt_retention" ->
      """WITH ev AS (SELECT user_id AS u, epoch_us(ts) // 86400000000 AS day FROM events),
         fd AS (SELECT u, min(day) AS first_day FROM ev GROUP BY u),
         act AS (SELECT DISTINCT ev.u, fd.first_day // 7 AS cohort_week,
             (ev.day - fd.first_day) // 7 AS week_offset
           FROM ev JOIN fd ON ev.u = fd.u),
         agg AS (SELECT cohort_week, week_offset, count(*) AS active_users
           FROM act GROUP BY cohort_week, week_offset),
         sz AS (SELECT cohort_week, active_users AS cohort_size FROM agg WHERE week_offset = 0)
         SELECT agg.cohort_week, agg.week_offset, agg.active_users, sz.cohort_size,
           CAST(agg.active_users AS DOUBLE) / CAST(sz.cohort_size AS DOUBLE) AS retention
         FROM agg JOIN sz ON agg.cohort_week = sz.cohort_week
         ORDER BY agg.cohort_week, agg.week_offset""",
    "dedup_edit_distance" ->
      s"""WITH ${minhashChain("ed_", "")},
         edl AS (SELECT doc_id, text, length(text) AS len FROM documents),
         edp AS (SELECT c.id_a, c.id_b, levenshtein(a.text, b.text) AS dist
           FROM ed_cand c
           JOIN edl a ON a.doc_id = c.id_a
           JOIN edl b ON b.doc_id = c.id_b
           WHERE abs(a.len - b.len) <= 32)
         SELECT id_a, id_b, CAST(dist AS INTEGER) AS dist FROM edp
         WHERE dist <= 32 ORDER BY id_a, id_b""",
    "emb_pagerank" -> pageRankOracleSql,
    "emb_label_prop" -> labelPropOracleSql,
    "emb_graph_suite" -> embGraphSuiteOracleSql,
    "emb_bucket_profile" -> embBucketProfileOracleSql,
    "emb_pq_profile" -> pqProfileOracleSql,
    "emb_ivf_profile" -> ivfProfileOracleSql(Seq(1, 2, 4, 8), 16, 10, 8),
    "emb_recall_profile" -> embRecallProfileOracleSql(Seq(4, 6, 8), 10, 8),
    "dedup_recall_profile" -> dedupRecallProfileOracleSql(Seq(8, 16, 32), 128, 0.3, 8),
    "dedup_band_profile" ->
      s"""WITH $minhashLshCtes,
         bpf AS (SELECT band, key, CAST(count(*) AS BIGINT) AS m
           FROM mh_buckets GROUP BY band, key)
         SELECT CAST(band AS INTEGER) AS band, CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(m) AS BIGINT) AS n_docs, max(m) AS max_occupancy,
           ${roundToSql("CAST(sum(m) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)} AS avg_occupancy,
           CAST(sum(CASE WHEN m > 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_over_cap,
           CAST(sum(CASE WHEN m <= 1000 THEN m * (m - 1) // 2 ELSE 0 END) AS BIGINT) AS candidate_pairs
         FROM bpf GROUP BY band ORDER BY band""",
    "samp_winsorize" ->
      s"""WITH wz_b AS (SELECT l_returnflag,
           least(greatest(CAST(floor((CAST(l_extendedprice AS DOUBLE) - 0.0)
             / (262144.0 - 0.0) * 256) AS BIGINT), 0), 255) AS bin
         FROM lineitem WHERE l_extendedprice IS NOT NULL),
         wz_c AS (SELECT l_returnflag, bin, CAST(count(*) AS BIGINT) AS cnt
           FROM wz_b GROUP BY l_returnflag, bin),
         wz_cc AS (SELECT l_returnflag, bin, cnt,
             CAST(sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin) AS BIGINT) AS cum,
             CAST(sum(cnt) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
           FROM wz_c),
         wz_e AS (SELECT wz_cc.*, CAST(q.quantile AS DOUBLE) AS quantile
           FROM wz_cc CROSS JOIN (SELECT unnest([0.01, 0.99]) AS quantile) q),
         wz_f AS (SELECT *, greatest(CAST(ceil(quantile * n) AS BIGINT), 1) AS target FROM wz_e),
         wz_q AS (SELECT l_returnflag, quantile,
             ${roundToSql(
               "0.0 + (CAST(bin AS DOUBLE) + CAST(target - (cum - cnt) AS DOUBLE) / CAST(cnt AS DOUBLE)) * ((262144.0 - 0.0) / 256)", 6)} AS estimate
           FROM wz_f WHERE cum >= target AND (cum - cnt) < target),
         wz_t AS (SELECT l_returnflag,
             min(CASE WHEN quantile = 0.01 THEN estimate END) AS qlo,
             min(CASE WHEN quantile = 0.99 THEN estimate END) AS qhi
           FROM wz_q GROUP BY l_returnflag)
         SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           CASE WHEN l.l_extendedprice IS NULL THEN NULL
                ELSE least(greatest(CAST(l.l_extendedprice AS DOUBLE), t.qlo), t.qhi)
           END AS l_extendedprice_w
         FROM lineitem l JOIN wz_t t USING (l_returnflag)
         ORDER BY l_orderkey, l_linenumber""",
    "meta_upsert" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
         upd AS (SELECT o_orderkey, o_custkey, o_totalprice * 1.1 AS o_totalprice
           FROM base WHERE o_orderkey % 10 = 0),
         ins AS (SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey, o_totalprice
           FROM base WHERE o_orderkey % 100 = 7),
         u AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
         SELECT o_orderkey, o_custkey, o_totalprice FROM u
         UNION ALL
         SELECT b.o_orderkey, b.o_custkey, b.o_totalprice
         FROM base b LEFT JOIN u ON b.o_orderkey = u.o_orderkey
         WHERE u.o_orderkey IS NULL
         ORDER BY o_orderkey""",
    "evt_session_stats" ->
      s"""WITH g AS (SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
           epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (SELECT user_id, event_id, value, ts_us,
           CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 300000000 THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         FROM g)
         SELECT user_id, session_id, count(*) AS n_events,
           (max(ts_us) - min(ts_us)) // 1000 AS duration_ms,
           ${roundToSql("sum(value)", 2)} AS sum_value
         FROM sess GROUP BY user_id, session_id
         ORDER BY user_id, session_id""",
    "evt_transitions" ->
      s"""WITH g AS (SELECT event_type,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_event
         FROM events),
         c AS (SELECT event_type AS from_event, to_event, count(*) AS n
           FROM g WHERE to_event IS NOT NULL GROUP BY event_type, to_event)
         SELECT from_event, to_event, CAST(n AS BIGINT) AS n,
           ${roundToSql(
             "CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_event) AS DOUBLE)", 6)} AS p
         FROM c ORDER BY from_event, to_event""",
    "evt_markov_score" ->
      s"""WITH mk_g AS (SELECT user_id, event_type AS from_event,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_event
         FROM events),
         mk_uft AS (SELECT user_id, from_event, to_event, count(*) AS n_uft
           FROM mk_g WHERE to_event IS NOT NULL
           GROUP BY user_id, from_event, to_event),
         mk_m AS (SELECT from_event, to_event, sum(n_uft) AS n_ft
           FROM mk_uft GROUP BY from_event, to_event),
         mk_f AS (SELECT from_event, sum(n_ft) AS n_f FROM mk_m GROUP BY from_event),
         mk_v AS (SELECT count(DISTINCT event_type) AS v FROM events),
         mk_t AS (SELECT m.from_event, m.to_event,
             CAST(floor(ln(CAST(n_f + v AS DOUBLE) / CAST(n_ft + 1 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS term_q
           FROM mk_m m JOIN mk_f f USING (from_event) CROSS JOIN mk_v),
         mk_u AS (SELECT user_id, CAST(sum(n_uft) AS BIGINT) AS n_trans,
             sum(CAST(n_uft AS HUGEINT) * term_q) AS sum_q
           FROM mk_uft JOIN mk_t USING (from_event, to_event) GROUP BY user_id)
         SELECT user_id, n_trans,
           ${roundToSql("CAST(sum_q AS DOUBLE) / CAST(n_trans AS DOUBLE) / 1e6", 6)} AS surprisal
         FROM mk_u ORDER BY user_id""",
    "txt_novelty" ->
      s"""WITH nv_t AS (SELECT doc_id,
           regexp_split_to_array(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks
         FROM documents),
         nv_sh AS (SELECT doc_id,
           list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
             i -> array_to_string(toks[i:i+2], ' '))) AS shingles FROM nv_t),
         nv_g0 AS (SELECT doc_id, unnest(shingles) AS g FROM nv_sh),
         nv_g AS (SELECT doc_id, ${duckHex60("g")} AS h FROM nv_g0),
         nv_first AS (SELECT h, min(doc_id) AS first_id FROM nv_g GROUP BY h),
         nv_doc AS (SELECT nv_g.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN first_id = nv_g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
           FROM nv_g JOIN nv_first USING (h) GROUP BY nv_g.doc_id)
         SELECT doc_id, n_grams, n_novel,
           ${roundToSql("CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE)", 6)} AS novelty
         FROM nv_doc ORDER BY doc_id""",
    "txt_domain_quality" ->
      s"""WITH dq AS (SELECT doc_id, source,
           CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS INTEGER) AS n_tokens,
           md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
         FROM documents),
         dg AS (SELECT source, fp, count(*) AS cnt,
             sum(CASE WHEN n_tokens < 20 THEN 1 ELSE 0 END) AS short_cnt
           FROM dq GROUP BY source, fp),
         dm AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(sum(short_cnt) AS BIGINT) AS n_short FROM dg GROUP BY source),
         dv AS (SELECT source, n_docs,
             ${roundToSql("CAST(n_docs - n_distinct AS DOUBLE) / CAST(n_docs AS DOUBLE)", 6)} AS dup_frac,
             ${roundToSql("CAST(n_short AS DOUBLE) / CAST(n_docs AS DOUBLE)", 6)} AS short_frac
           FROM dm),
         dw AS (SELECT source, n_docs, dup_frac, short_frac,
             CASE WHEN n_docs >= 3 AND (dup_frac > 0.5 OR short_frac > 0.5)
                  THEN 'flag' ELSE 'keep' END AS domain_verdict FROM dv)
         SELECT dq.doc_id, dq.source, dq.n_tokens, n_docs, dup_frac, short_frac, domain_verdict
         FROM dq JOIN dw USING (source) ORDER BY dq.doc_id""",
    "evt_cooccurrence" ->
      s"""WITH co_ut AS (SELECT DISTINCT user_id AS u, event_type AS et FROM events),
         co_m AS (SELECT et, CAST(count(*) AS BIGINT) AS n_users FROM co_ut GROUP BY et),
         co_t AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS n_total FROM co_ut),
         co_p AS (SELECT a.et AS et_a, b.et AS et_b, CAST(count(*) AS BIGINT) AS n_both
           FROM co_ut a JOIN co_ut b ON a.u = b.u AND a.et < b.et GROUP BY a.et, b.et)
         SELECT et_a, et_b, n_both, ma.n_users AS n_a, mb.n_users AS n_b,
           ${roundToSql("CAST(n_both AS DOUBLE) * CAST(n_total AS DOUBLE) / " +
             "(CAST(ma.n_users AS DOUBLE) * CAST(mb.n_users AS DOUBLE))", 6)} AS lift
         FROM co_p JOIN co_m ma ON co_p.et_a = ma.et
           JOIN co_m mb ON co_p.et_b = mb.et CROSS JOIN co_t
         ORDER BY et_a, et_b""",
    "evt_paths" ->
      s"""WITH pg AS (SELECT event_type AS e1,
           lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
           lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
         FROM events),
         pc AS (SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n FROM pg
           WHERE e2 IS NOT NULL AND e3 IS NOT NULL GROUP BY e1, e2, e3),
         pt AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM pc)
         SELECT e1, e2, e3, n,
           ${roundToSql("CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)", 6)} AS share
         FROM pc CROSS JOIN pt ORDER BY n DESC, e1, e2, e3""",
    "evt_rfm" ->
      s"""WITH ru AS (SELECT user_id, max(epoch_us(ts)) AS last_ts,
           CAST(count(*) AS BIGINT) AS frequency, sum(value) AS m_raw
         FROM events GROUP BY user_id),
         rc AS (SELECT max(epoch_us(ts)) AS corpus_max FROM events),
         rr AS (SELECT user_id, (corpus_max - last_ts) // 86400000000 AS recency_days,
           frequency, m_raw FROM ru CROSS JOIN rc),
         rt AS (SELECT CAST(sum(recency_days) AS BIGINT) AS tot_r,
           CAST(sum(frequency) AS BIGINT) AS tot_f,
           CAST(count(*) AS BIGINT) AS n_users FROM rr)
         SELECT user_id, recency_days, frequency,
           ${roundToSql("m_raw", 4)} AS monetary,
           CASE WHEN recency_days * n_users <= tot_r THEN
             CASE WHEN frequency * n_users >= tot_f THEN 'core' ELSE 'casual' END
           ELSE
             CASE WHEN frequency * n_users >= tot_f THEN 'lapsed_heavy' ELSE 'dormant' END
           END AS segment
         FROM rr CROSS JOIN rt ORDER BY user_id""",
    "dedup_cluster_quality" ->
      s"""WITH RECURSIVE $minhashLshCtes,
         cj AS (SELECT id_a, id_b FROM mh_ver WHERE jac >= 0.3),
         cedges AS (SELECT id_a AS src, id_b AS dst FROM cj
                    UNION SELECT id_b, id_a FROM cj),
         creach(src, dst) AS (
           SELECT src, dst FROM cedges
           UNION
           SELECT r.src, e2.dst FROM creach r JOIN cedges e2 ON r.dst = e2.src),
         cnodes AS (SELECT DISTINCT src AS doc_id FROM cedges),
         ccq AS (SELECT n.doc_id, least(n.doc_id, min(r.dst)) AS cluster_id
           FROM cnodes n LEFT JOIN creach r ON r.src = n.doc_id GROUP BY n.doc_id),
         qed AS (SELECT DISTINCT id_a AS u, id_b AS v FROM cj),
         qdeg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM
           (SELECT u AS node FROM qed UNION ALL SELECT v FROM qed) GROUP BY node),
         qtri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
           FROM qed e1 JOIN qed e2 ON e2.u = e1.u AND e2.v > e1.v
           JOIN qed e3 ON e3.u = e1.v AND e3.v = e2.v),
         qpn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM
           (SELECT x AS node FROM qtri UNION ALL SELECT y FROM qtri
            UNION ALL SELECT z FROM qtri) GROUP BY node),
         qper AS (SELECT qdeg.node, qdeg.d,
             CAST(coalesce(qpn.n_tri, 0) AS BIGINT) AS nt,
             CASE WHEN qdeg.d >= 2 THEN ${roundToSql(
               "2.0 * CAST(coalesce(qpn.n_tri, 0) AS DOUBLE) / " +
               "(CAST(qdeg.d AS DOUBLE) * CAST(qdeg.d - 1 AS DOUBLE))", 6)}
             ELSE 0.0 END AS clust
           FROM qdeg LEFT JOIN qpn USING (node)),
         qjn AS (SELECT ccq.cluster_id, qper.d, qper.nt, qper.clust
           FROM ccq JOIN qper ON qper.node = ccq.doc_id),
         qagg AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d) / 2 AS BIGINT) AS n_edges,
             CAST(sum(nt) / 3 AS BIGINT) AS n_triangles,
             ${roundToSql("avg(clust)", 4)} AS avg_clustering
           FROM qjn GROUP BY cluster_id)
         SELECT cluster_id, n_nodes, n_edges, n_triangles,
           ${roundToSql(
             "2.0 * CAST(n_edges AS DOUBLE) / " +
             "(CAST(n_nodes AS DOUBLE) * CAST(n_nodes - 1 AS DOUBLE))", 6)} AS density,
           avg_clustering,
           CASE WHEN 10 * n_edges >= 4 * n_nodes * (n_nodes - 1) THEN 'clique'
                WHEN 20 * n_edges < 3 * n_nodes * (n_nodes - 1) THEN 'chain'
                ELSE 'mixed' END AS verdict
         FROM qagg ORDER BY cluster_id""",
    "dedup_triangles" ->
      s"""WITH $minhashLshCtes,
         tj AS (SELECT id_a, id_b FROM mh_ver WHERE jac >= 0.3),
         ted AS (SELECT DISTINCT id_a AS u, id_b AS v FROM tj),
         tdeg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM
           (SELECT u AS node FROM ted UNION ALL SELECT v FROM ted) GROUP BY node),
         ttri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
           FROM ted e1 JOIN ted e2 ON e2.u = e1.u AND e2.v > e1.v
           JOIN ted e3 ON e3.u = e1.v AND e3.v = e2.v),
         tpn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM
           (SELECT x AS node FROM ttri UNION ALL SELECT y FROM ttri
            UNION ALL SELECT z FROM ttri) GROUP BY node)
         SELECT tdeg.node AS doc_id, tdeg.d AS degree,
           CAST(coalesce(tpn.n_tri, 0) AS BIGINT) AS n_triangles,
           ${roundToSql(
             "CASE WHEN tdeg.d >= 2 THEN 2.0 * CAST(coalesce(tpn.n_tri, 0) AS DOUBLE)" +
             " / (CAST(tdeg.d AS DOUBLE) * CAST(tdeg.d - 1 AS DOUBLE)) ELSE 0.0 END", 6)}
           AS clustering
         FROM tdeg LEFT JOIN tpn USING (node) ORDER BY doc_id""",
    "graph_suite" ->
      s"""WITH RECURSIVE $minhashLshCtes,
         gj AS (SELECT id_a, id_b FROM mh_ver WHERE jac >= 0.3),
         gedges AS (SELECT id_a AS src, id_b AS dst FROM gj
                    UNION SELECT id_b, id_a FROM gj),
         greach(src, dst) AS (
           SELECT src, dst FROM gedges
           UNION
           SELECT r.src, e2.dst FROM greach r JOIN gedges e2 ON r.dst = e2.src),
         gnodes AS (SELECT DISTINCT src AS node FROM gedges),
         gcc AS (SELECT n.node, least(n.node, min(r.dst)) AS cluster_id
           FROM gnodes n LEFT JOIN greach r ON r.src = n.node GROUP BY n.node),
         ged AS (SELECT DISTINCT id_a AS u, id_b AS v FROM gj),
         gdeg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM
           (SELECT u AS node FROM ged UNION ALL SELECT v FROM ged) GROUP BY node),
         gtri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
           FROM ged e1 JOIN ged e2 ON e2.u = e1.u AND e2.v > e1.v
           JOIN ged e3 ON e3.u = e1.v AND e3.v = e2.v),
         gpn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM
           (SELECT x AS node FROM gtri UNION ALL SELECT y FROM gtri
            UNION ALL SELECT z FROM gtri) GROUP BY node)
         SELECT gcc.node AS doc_id, gcc.cluster_id, gdeg.d AS degree,
           CAST(coalesce(gpn.n_tri, 0) AS BIGINT) AS n_triangles,
           ${roundToSql(
             "CASE WHEN gdeg.d >= 2 THEN 2.0 * CAST(coalesce(gpn.n_tri, 0) AS DOUBLE)" +
             " / (CAST(gdeg.d AS DOUBLE) * CAST(gdeg.d - 1 AS DOUBLE)) ELSE 0.0 END", 6)}
           AS clustering
         FROM gcc JOIN gdeg USING (node) LEFT JOIN gpn USING (node)
         ORDER BY doc_id""",
    "evt_attribution" ->
      s"""WITH at_c AS (SELECT user_id, event_id AS conversion_id, epoch_us(ts) AS conv_ts
           FROM events WHERE event_type = 'purchase'),
         at_t AS (SELECT user_id, event_id AS touch_id, event_type AS touch_type,
             epoch_us(ts) AS touch_ts
           FROM events WHERE event_type IN ('view', 'click')),
         at_j AS (SELECT c.conversion_id,
             min({'ts': t.touch_ts, 'id': t.touch_id, 'ty': t.touch_type}) AS ft,
             max({'ts': t.touch_ts, 'id': t.touch_id, 'ty': t.touch_type}) AS lt,
             CAST(count(*) AS BIGINT) AS n
           FROM at_c c JOIN at_t t ON t.user_id = c.user_id
             AND t.touch_ts <= c.conv_ts AND c.conv_ts - t.touch_ts <= 259200000000
           GROUP BY c.conversion_id)
         SELECT c.conversion_id, c.user_id, struct_extract(j.ft, 'ty') AS first_touch,
           struct_extract(j.lt, 'ty') AS last_touch,
           coalesce(j.n, CAST(0 AS BIGINT)) AS n_touches
         FROM at_c c LEFT JOIN at_j j USING (conversion_id)
         ORDER BY conversion_id""",
    "txt_pmi" ->
      s"""WITH pm_t AS (SELECT doc_id,
           list_sort(list_distinct(list_filter(
             regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '')))[1:20] AS toks
         FROM documents),
         pm_n AS (SELECT count(*) AS nd FROM pm_t),
         pm_p0 AS (SELECT doc_id, unnest(flatten(list_transform(range(1, len(toks) + 1), i ->
             list_transform(toks[i+1:], b -> {'a': toks[i], 'b': b})))) AS u FROM pm_t),
         pm_pr AS (SELECT doc_id, u.a AS a, u.b AS b FROM pm_p0),
         pm_cab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM pm_pr
           GROUP BY a, b HAVING count(*) >= 2),
         pm_ct AS (SELECT t0 AS tok, CAST(count(*) AS BIGINT) AS c
           FROM (SELECT unnest(toks) AS t0 FROM pm_t) GROUP BY t0),
         pm_sc AS (SELECT pm_cab.a, pm_cab.b, c_ab, ca.c AS c_a, cb.c AS c_b,
             CAST(floor(ln(CAST(nd * c_ab AS DOUBLE) / CAST(ca.c * cb.c AS DOUBLE))
               * 1e6 + 0.5) AS BIGINT) AS pmi_q
           FROM pm_cab JOIN pm_ct ca ON ca.tok = pm_cab.a
           JOIN pm_ct cb ON cb.tok = pm_cab.b CROSS JOIN pm_n)
         SELECT a, b, c_ab, c_a, c_b,
           ${roundToSql("CAST(pmi_q AS DOUBLE) / 1e6", 6)} AS pmi
         FROM pm_sc ORDER BY pmi_q DESC, a, b LIMIT 50""",
    "txt_blocklist" ->
      """WITH u AS (SELECT doc_id,
           CASE CAST(doc_id % 5 AS INTEGER)
             WHEN 0 THEN 'ads.tracker.example.com'
             WHEN 1 THEN 'www.example.com'
             WHEN 2 THEN 'bad.org'
             WHEN 3 THEN 'sub.bad.org'
             ELSE 'notbad.org' END AS host
         FROM documents),
         s AS (SELECT doc_id, host, string_split(host, '.') AS labels FROM u)
         SELECT doc_id, host,
           list_has_any(
             list_transform(range(1, len(labels) + 1), i -> array_to_string(labels[i:], '.')),
             ['tracker.example.com', 'bad.org']) AS blocked
         FROM s ORDER BY doc_id""",
    "meta_correlations" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      def s0(c: String) = s"s_$c"
      def p0(a: String, b: String) = s"p_${a}_$b"
      // DECIMAL(19,6): one digit over the int64 width forces DuckDB's
      // int128 multiply path — (18,6)·(18,6) raises an overflow error
      // on DuckDB 1.0 even though the mathematical product fits. The
      // sums are exact decimals either way, so Spark's decimal(18,6)
      // moments still match bit-for-bit after the final DOUBLE cast.
      val moments =
        (cols.map(c => s"sum(CAST($c AS DECIMAL(19,6))) AS ${s0(c)}") ++
         (for (i <- cols.indices; j <- i until cols.size) yield
           s"sum(CAST(${cols(i)} AS DECIMAL(19,6)) * CAST(${cols(j)} AS DECIMAL(19,6))) AS ${p0(cols(i), cols(j))}"))
          .mkString(", ")
      val nn = cols.map(c => s"$c IS NOT NULL").mkString(" AND ")
      val rows = (for (i <- cols.indices; j <- (i + 1) until cols.size) yield {
        val (a, b) = (cols(i), cols(j))
        val nD = "CAST(n AS DOUBLE)"
        def sD(c: String) = s"CAST(${s0(c)} AS DOUBLE)"
        def pD(x: String, y: String) = s"CAST(${p0(x, y)} AS DOUBLE)"
        val numer = s"($nD * ${pD(a, b)} - ${sD(a)} * ${sD(b)})"
        val denom = s"(sqrt($nD * ${pD(a, a)} - ${sD(a)} * ${sD(a)}) * " +
          s"sqrt($nD * ${pD(b, b)} - ${sD(b)} * ${sD(b)}))"
        s"""SELECT '$a' AS col_a, '$b' AS col_b, n,
           CASE WHEN $denom = 0.0 THEN NULL
                ELSE ${roundToSql(s"$numer / $denom", 6)} END AS corr FROM m"""
      }).mkString("\n         UNION ALL ")
      s"""WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n, $moments
         FROM lineitem WHERE $nn)
         $rows
         ORDER BY col_a, col_b"""
    },
    "sketch_percentile_score" ->
      s"""WITH ps_b AS (SELECT l_returnflag,
           least(greatest(CAST(floor((CAST(l_extendedprice AS DOUBLE) - 0.0)
             / (262144.0 - 0.0) * 256) AS BIGINT), 0), 255) AS bin
         FROM lineitem WHERE l_extendedprice IS NOT NULL),
         ps_c AS (SELECT l_returnflag, bin, CAST(count(*) AS BIGINT) AS cnt
           FROM ps_b GROUP BY l_returnflag, bin),
         ps_t AS (SELECT l_returnflag, bin,
             CAST(sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin) AS BIGINT) - cnt AS cum_before,
             CAST(sum(cnt) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
           FROM ps_c)
         SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           ${roundToSql("CAST(t.cum_before AS DOUBLE) / CAST(t.n AS DOUBLE)", 6)} AS percentile
         FROM lineitem l JOIN ps_t t ON t.l_returnflag = l.l_returnflag
           AND t.bin = least(greatest(CAST(floor((CAST(l.l_extendedprice AS DOUBLE) - 0.0)
             / (262144.0 - 0.0) * 256) AS BIGINT), 0), 255)
         ORDER BY l.l_orderkey, l.l_linenumber""",
    "sketch_psi_drift" ->
      s"""WITH psi_c AS (SELECT source AS grp,
           least(greatest(CAST(floor((CAST(n_chars AS DOUBLE) - 0.0)
             / (640.0 - 0.0) * 64) AS BIGINT), 0), 63) AS bin,
           CAST(count(*) AS BIGINT) AS cnt
         FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
         psi_t AS (SELECT grp, CAST(sum(cnt) AS BIGINT) AS total FROM psi_c GROUP BY 1),
         psi_p AS (SELECT a.grp AS group_a, a.total AS ta, b.grp AS group_b, b.total AS tb
           FROM psi_t a JOIN psi_t b ON a.grp < b.grp),
         psi_e AS (SELECT p.group_a, p.group_b,
             CAST(COALESCE(ca.cnt, 0) + 1 AS DOUBLE) / CAST(p.ta + 64 AS DOUBLE) AS pa,
             CAST(COALESCE(cb.cnt, 0) + 1 AS DOUBLE) / CAST(p.tb + 64 AS DOUBLE) AS pb
           FROM psi_p p CROSS JOIN range(0, 64) g(bin)
           LEFT JOIN psi_c ca ON ca.grp = p.group_a AND ca.bin = g.bin
           LEFT JOIN psi_c cb ON cb.grp = p.group_b AND cb.bin = g.bin)
         SELECT group_a, group_b,
           ${roundToSql("CAST(sum(CAST(floor((pa - pb) * ln(pa / pb) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) / 1e6", 6)} AS psi
         FROM psi_e GROUP BY group_a, group_b ORDER BY group_a, group_b""",
    "txt_bm25" ->
      s"""WITH bm_d AS (SELECT doc_id,
           regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents),
         bm_l AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
           list_filter(toks, t -> t IN ('spark', 'window', 'join')) AS hits FROM bm_d),
         bm_s AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS tot FROM bm_l),
         bm_tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
           FROM (SELECT doc_id, dl, unnest(hits) AS term FROM bm_l) GROUP BY 1, 2, 3),
         bm_df AS (SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM bm_tf GROUP BY 1),
         bm_idf AS (SELECT term, CAST(floor(ln(CAST(2 * n + 2 AS DOUBLE)
             / CAST(2 * df_t + 1 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS idf_q
           FROM bm_df CROSS JOIN bm_s),
         bm_c AS (SELECT doc_id, CAST(floor((CAST(idf_q AS DOUBLE) / 1e6)
             * (CAST(tf AS DOUBLE) * ${1.2 + 1.0})
             / (CAST(tf AS DOUBLE) + ${1.2} * (${1.0 - 0.75}
                + ${0.75} * CAST(dl AS DOUBLE) * CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)))
             * 1e6 + 0.5) AS BIGINT) AS cq
           FROM bm_tf JOIN bm_idf USING (term) CROSS JOIN bm_s),
         bm_sc AS (SELECT doc_id, CAST(sum(cq) AS BIGINT) AS sq FROM bm_c GROUP BY 1)
         SELECT doc_id, ${roundToSql("CAST(sq AS DOUBLE) / 1e6", 6)} AS bm25
         FROM bm_sc ORDER BY sq DESC, doc_id LIMIT 20""",
    "emb_decontaminate" -> {
      val tables = duckPlaneTables
      s"""WITH ev AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         eb AS (SELECT vec_id, v FROM ev WHERE vec_id % 20 = 0),
         ec AS (SELECT vec_id, label, v FROM ev WHERE vec_id % 20 <> 0),
         cbk AS (SELECT vec_id, unnest($tables) AS u FROM ec),
         cbuckets AS (SELECT vec_id, u.tbl AS tbl, u.key AS key FROM cbk),
         bbk AS (SELECT vec_id, unnest($tables) AS u FROM eb),
         bbuckets AS (SELECT vec_id, u.tbl AS tbl, u.key AS key FROM bbk),
         dok AS (SELECT tbl, key FROM cbuckets GROUP BY tbl, key HAVING count(*) <= 1000),
         dcand AS (SELECT DISTINCT c.vec_id AS cid, b.vec_id AS bid
           FROM cbuckets c JOIN dok USING (tbl, key) JOIN bbuckets b USING (tbl, key)),
         bad AS (SELECT DISTINCT cid FROM dcand
           JOIN ec ON ec.vec_id = dcand.cid JOIN eb ON eb.vec_id = dcand.bid
           WHERE ${duckCos("ec.v", "eb.v")} >= 0.35)
         SELECT vec_id, label FROM ec
         WHERE vec_id NOT IN (SELECT cid FROM bad) ORDER BY vec_id"""
    },
    "emb_kmeans" -> kmeansOracleSql,
    "emb_kcenter" -> {
      val k = 8
      def dist(a: String, b: String) =
        s"list_reduce(list_transform(range(1, 65), i -> " +
        s"($a.qd[i] - $b.qd[i]) * ($a.qd[i] - $b.qd[i])), (x, y) -> x + y)"
      val stages = (1 until k).map { r =>
        val m =
          if (r == 1)
            s"""kc_m1 AS (SELECT d.vec_id, d.qd, ${dist("d", "s")} AS md
               FROM kc_d d CROSS JOIN kc_s0 s)"""
          else
            s"""kc_m$r AS (SELECT m.vec_id, m.qd, least(m.md, ${dist("m", "s")}) AS md
               FROM kc_m${r - 1} m CROSS JOIN kc_s${r - 1} s)"""
        s"""$m,
           kc_s$r AS (SELECT vec_id, qd, md FROM kc_m$r ORDER BY md DESC, vec_id LIMIT 1)"""
      }.mkString(",\n         ")
      val rows = (s"SELECT CAST(0 AS INTEGER) AS sel_rank, vec_id, CAST(NULL AS DOUBLE) AS radius FROM kc_s0" +:
        (1 until k).map(r =>
          s"SELECT CAST($r AS INTEGER), vec_id, ${roundToSql("md / 1e12", 6)} FROM kc_s$r"))
        .mkString("\n         UNION ALL ")
      s"""WITH kc_d AS (SELECT vec_id,
           list_transform(list_transform(embedding::DOUBLE[],
             x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)), x -> CAST(x AS DOUBLE)) AS qd
         FROM embeddings),
         kc_s0 AS (SELECT vec_id, qd FROM kc_d
           ORDER BY ((vec_id % 1000003) * ${graft.config.PortableSalt.seedMul}) % 2147483647 DESC, vec_id LIMIT 1),
         $stages
         $rows
         ORDER BY sel_rank"""
    },
    "emb_drift" -> {
      val pa = "(CAST(n_base + 1 AS DOUBLE) / CAST(tot_base + 8 AS DOUBLE))"
      val pb = "(CAST(n_new + 1 AS DOUBLE) / CAST(tot_new + 8 AS DOUBLE))"
      s"""WITH dr_qd AS (SELECT vec_id, (vec_id % 2 = 0) AS is_base,
           list_transform(list_transform(embedding::DOUBLE[],
             x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)), x -> CAST(x AS DOUBLE)) AS qd
         FROM embeddings),
         dr_seed AS (SELECT vec_id, qd FROM dr_qd
           ORDER BY ((vec_id % 1000003) * ${graft.config.PortableSalt.seedMul}) % 2147483647 DESC, vec_id LIMIT 8),
         dr_c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
             qd AS m FROM dr_seed),
         dr_cl AS (SELECT list(m ORDER BY cell) AS cl FROM dr_c0),
         dr_a AS (SELECT vec_id, is_base, list_position(dl, list_min(dl)) - 1 AS cell
           FROM (SELECT vec_id, is_base,
             list_transform(range(0, 8), c -> list_reduce(list_transform(range(1, 65),
               d -> (qd[d] - cl[c+1][d]) * (qd[d] - cl[c+1][d])), (x, y) -> x + y)) AS dl
             FROM dr_qd CROSS JOIN dr_cl)),
         dr_c AS (SELECT cell,
             CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
             CAST(sum(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) AS n_new
           FROM dr_a GROUP BY cell),
         dr_g AS (SELECT CAST(t.c AS INTEGER) AS cell_id,
             CAST(coalesce(n_base, 0) AS BIGINT) AS n_base,
             CAST(coalesce(n_new, 0) AS BIGINT) AS n_new
           FROM range(0, 8) t(c) LEFT JOIN dr_c ON dr_c.cell = t.c),
         dr_t AS (SELECT CAST(sum(n_base) AS BIGINT) AS tot_base,
             CAST(sum(n_new) AS BIGINT) AS tot_new FROM dr_g),
         dr_q AS (SELECT cell_id, n_base, n_new,
             CAST(floor(($pa - $pb) * ln($pa / $pb) * 1e6 + 0.5) AS BIGINT) AS tq
           FROM dr_g CROSS JOIN dr_t)
         SELECT cell_id, n_base, n_new,
           ${roundToSql("CAST(tq AS DOUBLE) / 1e6", 6)} AS psi_term,
           ${roundToSql("CAST(sum(tq) OVER () AS DOUBLE) / 1e6", 6)} AS psi
         FROM dr_q ORDER BY cell_id"""
    },
    "meta_zorder" ->
      """SELECT o_orderkey, list_reduce(list_transform(range(0, 16), i ->
           (((o_custkey % 65536) >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i))
           + (((o_orderkey % 65536) >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i + 1))),
           (a, b) -> a + b) AS zval
         FROM orders ORDER BY o_orderkey""",
    "evt_anomaly" -> {
      // gate on VARIANCE (not sd): sqrt of a cancellation-negative
      // variance is NaN, and NaN > 0.0 diverges loud-vs-silent across
      // engines — mirrors EventAnalytics.dailyAnomalies
      val vr = "((s.q - CAST(s.s AS DOUBLE) * CAST(s.s AS DOUBLE) / CAST(s.nd AS DOUBLE)) / CAST(s.nd - 1 AS DOUBLE))"
      val sd = s"sqrt($vr)"
      s"""WITH an_c AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
           CAST(count(*) AS BIGINT) AS n_events FROM events GROUP BY 1, 2),
         an_s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
             CAST(sum(n_events) AS BIGINT) AS s,
             CAST(sum(CAST(n_events AS HUGEINT) * n_events) AS DOUBLE) AS q
           FROM an_c GROUP BY 1),
         an_z AS (SELECT c.event_type, c.day, c.n_events,
             CASE WHEN s.nd > 1 AND $vr > 0.0
               THEN ${roundToSql(s"(CAST(c.n_events AS DOUBLE) - CAST(s.s AS DOUBLE) / CAST(s.nd AS DOUBLE)) / $sd", 6)}
             END AS z
           FROM an_c c JOIN an_s s USING (event_type))
         SELECT event_type, day, n_events, z,
           CASE WHEN z IS NOT NULL THEN abs(z) >= 2.0 END AS is_anomaly
         FROM an_z ORDER BY event_type, day"""
    },
    "evt_changepoint" -> {
      // variance gate, not sd — same NaN discipline as evt_anomaly:
      // here the divergence is loud (DuckDB errors on CAST(NaN AS
      // BIGINT)) vs silent (Spark floor(NaN) → zeroed CUSUM)
      val vr = "((s.q - CAST(s.s AS DOUBLE) * CAST(s.s AS DOUBLE) / CAST(s.nd AS DOUBLE)) / CAST(s.nd - 1 AS DOUBLE))"
      val sd = s"sqrt($vr)"
      s"""WITH cp_c AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
           CAST(count(*) AS BIGINT) AS n_events FROM events GROUP BY 1, 2),
         cp_s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
             CAST(sum(n_events) AS BIGINT) AS s,
             CAST(sum(CAST(n_events AS HUGEINT) * n_events) AS DOUBLE) AS q
           FROM cp_c GROUP BY 1),
         cp_d AS (SELECT c.event_type, c.day, c.n_events,
             (s.nd > 1 AND $vr > 0.0) AS healthy,
             CASE WHEN s.nd > 1 AND $vr > 0.0
               THEN CAST(floor((CAST(c.n_events AS DOUBLE) - CAST(s.s AS DOUBLE) / CAST(s.nd AS DOUBLE) - $sd * 0.5) * 1e6 + 0.5) AS BIGINT)
               ELSE 0 END AS dq,
             CASE WHEN s.nd > 1 AND $vr > 0.0
               THEN CAST(floor((CAST(c.n_events AS DOUBLE) - CAST(s.s AS DOUBLE) / CAST(s.nd AS DOUBLE) + $sd * 0.5) * 1e6 + 0.5) AS BIGINT)
               ELSE 0 END AS eq,
             CASE WHEN s.nd > 1 AND $vr > 0.0
               THEN CAST(floor($sd * 4.0 * 1e6 + 0.5) AS BIGINT)
               ELSE 0 END AS hq
           FROM cp_c c JOIN cp_s s USING (event_type)),
         cp_w1 AS (SELECT event_type, day, n_events, healthy, hq,
             sum(dq) OVER win AS p, sum(eq) OVER win AS e
           FROM cp_d
           WINDOW win AS (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         cp_w2 AS (SELECT event_type, day, n_events, healthy, hq,
             p - least(min(p) OVER win, 0) AS cusp,
             greatest(max(e) OVER win, 0) - e AS cusn
           FROM cp_w1
           WINDOW win AS (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_type, day, n_events,
           CASE WHEN healthy THEN ${roundToSql("CAST(cusp AS DOUBLE) / 1e6", 6)} END AS cusum_pos,
           CASE WHEN healthy THEN ${roundToSql("CAST(cusn AS DOUBLE) / 1e6", 6)} END AS cusum_neg,
           CASE WHEN healthy THEN cusp > hq END AS shift_up,
           CASE WHEN healthy THEN cusn > hq END AS shift_down
         FROM cp_w2 ORDER BY event_type, day"""
    },
    "meta_diff" ->
      """WITH df_b AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
         df_u AS (SELECT o_orderkey, o_custkey, o_totalprice * 1.1 AS o_totalprice
           FROM df_b WHERE o_orderkey % 10 = 0),
         df_i AS (SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey, o_totalprice
           FROM df_b WHERE o_orderkey % 100 = 7),
         df_c0 AS (SELECT * FROM df_u UNION ALL SELECT * FROM df_i
           UNION ALL SELECT b.* FROM df_b b
           WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM df_u
             UNION ALL SELECT o_orderkey FROM df_i)),
         df_c AS (SELECT * FROM df_c0 WHERE o_orderkey % 100 <> 13),
         df_j AS (SELECT COALESCE(b.o_orderkey, c.o_orderkey) AS o_orderkey,
             CASE WHEN b.o_orderkey IS NULL THEN 'added'
                  WHEN c.o_orderkey IS NULL THEN 'removed'
                  WHEN NOT (b.o_custkey IS NOT DISTINCT FROM c.o_custkey
                        AND b.o_totalprice IS NOT DISTINCT FROM c.o_totalprice)
                    THEN 'changed'
             END AS diff_status
           FROM df_b b FULL OUTER JOIN df_c c ON b.o_orderkey = c.o_orderkey)
         SELECT o_orderkey, diff_status FROM df_j
         WHERE diff_status IS NOT NULL ORDER BY o_orderkey""",
    "meta_skew_stats" ->
      s"""WITH sk_c AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS cnt
           FROM lineitem GROUP BY 1),
         sk_t AS (SELECT CAST(sum(cnt) AS BIGINT) AS topk_rows
           FROM (SELECT cnt FROM sk_c ORDER BY cnt DESC LIMIT 10)),
         sk_a AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(cnt) AS BIGINT) AS n_rows,
             CAST(max(cnt) AS BIGINT) AS max_cnt FROM sk_c)
         SELECT n_rows, n_keys, max_cnt, topk_rows,
           ${roundToSql("CAST(topk_rows AS DOUBLE) / CAST(n_rows AS DOUBLE)", 6)} AS topk_share,
           ${roundToSql("CAST(max_cnt AS DOUBLE) * CAST(n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE)", 6)} AS skew_factor
         FROM sk_a CROSS JOIN sk_t""",
    "samp_shuffle" ->
      s"""WITH sh AS (SELECT doc_id, source,
           ${duckHex60("('epoch0:' || CAST(doc_id AS VARCHAR))")} AS h
         FROM documents)
         SELECT doc_id, source,
           CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS shuffle_pos
         FROM sh ORDER BY doc_id""",
    "emb_covariance" ->
      s"""WITH cv_d AS (SELECT list_append(
           list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)),
           CAST(1 AS BIGINT)) AS qe FROM embeddings),
         cv_p AS (SELECT i.i AS i, j.j AS j,
             sum(CAST(qe[i.i + 1] * qe[j.j + 1] AS DECIMAL(38,0))) AS s
           FROM cv_d CROSS JOIN range(0, 65) i(i) CROSS JOIN range(0, 65) j(j)
           WHERE j.j >= i.i GROUP BY 1, 2),
         cv_n AS (SELECT CAST(s AS DOUBLE) AS n FROM cv_p WHERE i = 64 AND j = 64),
         cv_s AS (SELECT i, CAST(s AS DOUBLE) AS sv FROM cv_p WHERE j = 64 AND i < 64)
         SELECT CAST(p.i AS INTEGER) AS dim_i, CAST(p.j AS INTEGER) AS dim_j,
           ${roundToSql("(CAST(p.s AS DOUBLE) - sa.sv * sb.sv / n) / (n - 1.0) / 1e12", 6)} AS cov
         FROM cv_p p JOIN cv_s sa ON sa.i = p.i JOIN cv_s sb ON sb.i = p.j
           CROSS JOIN cv_n
         WHERE p.j < 64 ORDER BY dim_i, dim_j""",
    "txt_inverted_index" ->
      """WITH ii_p AS (SELECT DISTINCT doc_id AS doc, t.term FROM (
           SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
           FROM documents) t WHERE term <> ''),
         ii_g AS (SELECT term, CAST(count(*) AS BIGINT) AS df_count FROM ii_p GROUP BY 1),
         ii_r AS (SELECT term, doc,
             CAST(row_number() OVER (PARTITION BY term ORDER BY doc) - 1 AS INTEGER) AS slot
           FROM ii_p)
         SELECT g.term, g.df_count, r.slot, r.doc AS doc_id
         FROM ii_g g JOIN ii_r r ON r.term = g.term
         WHERE g.df_count >= 5 AND r.slot < 8
         ORDER BY g.term, r.slot""",
    "evt_active_users" ->
      s"""WITH au AS (SELECT DISTINCT user_id AS u,
           epoch_us(ts) // 86400000000 AS day FROM events),
         ad AS (SELECT DISTINCT day AS anchor FROM au),
         dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM au GROUP BY day),
         wau AS (SELECT anchor, CAST(count(DISTINCT u) AS BIGINT) AS wau
           FROM au JOIN ad ON au.day <= ad.anchor AND au.day > ad.anchor - 7
           GROUP BY anchor)
         SELECT d.day, d.dau, w.wau,
           ${roundToSql("CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE)", 6)} AS stickiness
         FROM dau d JOIN wau w ON d.day = w.anchor ORDER BY d.day""",
    "evt_conversion_lag" ->
      s"""WITH cl_a AS (SELECT user_id AS u, min(epoch_us(ts)) AS ta
           FROM events WHERE event_type = 'signup' GROUP BY 1),
         cl_b AS (SELECT e.user_id AS u, min(epoch_us(e.ts) - a.ta) AS lag_us
           FROM events e JOIN cl_a a ON e.user_id = a.u
           WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= a.ta GROUP BY 1),
         cl_h AS (SELECT lag_us // 3600000000 AS lag_hours,
             CAST(count(*) AS BIGINT) AS n_users FROM cl_b GROUP BY 1)
         SELECT lag_hours, n_users,
           CAST(sum(n_users) OVER (ORDER BY lag_hours) AS BIGINT) AS cum_users,
           ${roundToSql("CAST(n_users AS DOUBLE) / CAST(sum(n_users) OVER () AS DOUBLE)", 6)} AS share
         FROM cl_h ORDER BY lag_hours""",
    "emb_silhouette" ->
      s"""WITH sl_qd AS (SELECT vec_id,
           list_transform(list_transform(embedding::DOUBLE[],
             x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)), x -> CAST(x AS DOUBLE)) AS qd
         FROM embeddings),
         sl_seed AS (SELECT vec_id, qd FROM sl_qd
           ORDER BY ((vec_id % 1000003) * ${graft.config.PortableSalt.seedMul}) % 2147483647 DESC, vec_id LIMIT 8),
         sl_c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
             qd AS m FROM sl_seed),
         sl_cl AS (SELECT list(m ORDER BY cell) AS cl FROM sl_c0),
         sl_d AS (SELECT vec_id,
             list_transform(range(0, 8), c -> list_reduce(list_transform(range(1, 65),
               d -> (qd[d] - cl[c+1][d]) * (qd[d] - cl[c+1][d])), (x, y) -> x + y)) AS dl
           FROM sl_qd CROSS JOIN sl_cl),
         sl_s AS (SELECT vec_id, list_position(dl, list_min(dl)) - 1 AS cell,
             list_sort(dl)[1] AS a, list_sort(dl)[2] AS b FROM sl_d),
         sl_q AS (SELECT cell,
             CASE WHEN b > 0 THEN CAST(floor((b - a) / b * 1e6 + 0.5) AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS sq FROM sl_s),
         sl_c AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_points,
             CAST(sum(sq) AS BIGINT) AS sumq FROM sl_q GROUP BY cell)
         SELECT CAST(t.c AS INTEGER) AS cell_id,
           CAST(coalesce(n_points, 0) AS BIGINT) AS n_points,
           ${roundToSql("CAST(sumq AS DOUBLE) / CAST(n_points AS DOUBLE) / 1e6", 6)} AS mean_silhouette
         FROM range(0, 8) t(c) LEFT JOIN sl_c ON sl_c.cell = t.c
         ORDER BY cell_id""",
    "txt_zipf" ->
      s"""WITH zt AS (SELECT CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
             ELSE regexp_split_to_array(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')
           END AS toks FROM documents),
         zo AS (SELECT ${duckHex60("tok")} AS h
           FROM (SELECT unnest(toks) AS tok FROM zt)),
         zc AS (SELECT h, CAST(count(*) AS BIGINT) AS c FROM zo GROUP BY h),
         ztot AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS vocab_size,
             CAST(max(c) AS BIGINT) AS top1_count FROM zc),
         ztop AS (SELECT c, row_number() OVER (ORDER BY c DESC, h ASC) AS r
           FROM (SELECT h, c FROM zc ORDER BY c DESC, h ASC LIMIT 100)),
         zxy AS (SELECT CAST(floor(ln(CAST(r AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS x,
             CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS y FROM ztop),
         zr AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx FROM zxy)
         SELECT coalesce(n_tokens, 0) AS n_tokens, vocab_size, top1_count,
           ${roundToSql("CAST(top1_count AS DOUBLE) / CAST(n_tokens AS DOUBLE)", 6)} AS top1_share,
           CASE WHEN n * sxx - sx * sx <> 0
             THEN ${roundToSql("CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)", 6)}
           END AS zipf_slope
         FROM ztot CROSS JOIN zr""",
    "evt_gini" ->
      s"""WITH gc AS (SELECT user_id AS u, CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1),
         gr AS (SELECT c, CAST(row_number() OVER (ORDER BY c ASC, u ASC) AS BIGINT) AS r
           FROM gc),
         gm AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(c) AS tc,
             sum(r * c) AS src FROM gr),
         gk AS (SELECT n, tc, src, (n + 99) // 100 AS k FROM gm),
         gt AS (SELECT sum(c) AS topc FROM gr, gk WHERE gr.r > gk.n - gk.k)
         SELECT n AS n_users, CAST(tc AS BIGINT) AS n_events,
           ${roundToSql("(CAST(src AS DOUBLE) * 2.0 - (CAST(n AS DOUBLE) + 1.0) * CAST(tc AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(tc AS DOUBLE))", 6)} AS gini,
           CAST(k AS BIGINT) AS top1pct_users,
           ${roundToSql("CAST(topc AS DOUBLE) / CAST(tc AS DOUBLE)", 6)} AS top1pct_share
         FROM gk, gt""",
    "evt_seasonality" ->
      s"""WITH sc AS (SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
             (epoch_us(ts) // 3600000000) % 24 AS hour,
             CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         st AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM sc),
         sg AS (SELECT i // 24 AS dow, i % 24 AS hour FROM range(0, 168) t(i))
         SELECT sg.dow, sg.hour, CAST(coalesce(c, 0) AS BIGINT) AS n_events,
           ${roundToSql("CAST(coalesce(c, 0) AS DOUBLE) / CAST(tot AS DOUBLE)", 6)} AS share,
           ${roundToSql("(CAST(coalesce(c, 0) AS DOUBLE) - CAST(tot AS DOUBLE) / 168.0) * (CAST(coalesce(c, 0) AS DOUBLE) - CAST(tot AS DOUBLE) / 168.0) / (CAST(tot AS DOUBLE) / 168.0)", 6)} AS chi_term
         FROM sg LEFT JOIN sc ON sc.dow = sg.dow AND sc.hour = sg.hour
           CROSS JOIN st
         ORDER BY sg.dow, sg.hour""",
    "evt_bots" ->
      s"""WITH bm AS (SELECT user_id, epoch_us(ts) // 60000000 AS minute,
             CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         bu AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
             CAST(count(*) AS BIGINT) AS active_minutes,
             CAST(max(c) AS BIGINT) AS max_per_minute
           FROM bm GROUP BY 1)
         SELECT user_id, n_events, active_minutes, max_per_minute,
           ${roundToSql("CAST(n_events AS DOUBLE) / CAST(active_minutes AS DOUBLE)", 6)} AS mean_rate,
           CASE WHEN max_per_minute >= 30 THEN 'burst'
             WHEN n_events >= 50 AND n_events >= active_minutes * 2 THEN 'sustained'
             ELSE 'ok' END AS verdict
         FROM bu ORDER BY user_id""",
    "emb_diversity" -> {
      // dim-sum aliases use a d-prefix: an s-prefix would collide with
      // the norm-total alias s2 at dim index 2 (both engines resolve
      // the duplicate silently and the centroid term explodes)
      val sums = (0 until 64).map(d => s"sum(q[${d + 1}]) AS d$d").mkString(", ")
      val tExpr = (0 until 64).map(d => s"d$d * d$d").mkString(" + ")
      s"""WITH dvq AS (SELECT list_transform(embedding::DOUBLE[],
             x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS q FROM embeddings),
         dvm AS (SELECT CAST(count(*) AS BIGINT) AS n,
             sum(list_reduce(list_transform(q, x -> x * x), (a, b) -> a + b)) AS s2,
             $sums
           FROM dvq),
         dvt AS (SELECT n, s2, ($tExpr) AS t FROM dvm)
         SELECT n AS n_vectors,
           ${roundToSql("CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) / 1e12", 6)} AS mean_sq_norm,
           ${roundToSql("CAST(t AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1e12", 6)} AS centroid_sq_norm,
           CASE WHEN n >= 2 THEN
             ${roundToSql("CAST(n * s2 * 2 - t * 2 AS DOUBLE) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 1e12", 6)}
           END AS mean_pairwise_sqdist
         FROM dvt"""
    },
    "emb_recall_eval" ->
      s"""WITH rex AS (SELECT query_id, corpus_id FROM (
           WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
             c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
             sc AS (SELECT query_id, corpus_id, ${duckCos("qv", "cv")} AS c FROM c CROSS JOIN q)
           SELECT query_id, corpus_id FROM (
             SELECT query_id, corpus_id,
               row_number() OVER (PARTITION BY query_id ORDER BY c DESC, corpus_id) AS rank
             FROM sc) WHERE rank <= 10)),
         rap AS (SELECT query_id, corpus_id FROM ($annIvfOracleSql)),
         rov AS (SELECT e.query_id, CAST(count(a.corpus_id) AS BIGINT) AS n_overlap
           FROM rex e LEFT JOIN rap a
             ON a.query_id = e.query_id AND a.corpus_id = e.corpus_id
           GROUP BY 1)
         SELECT query_id, 10 AS k, n_overlap,
           ${roundToSql("CAST(n_overlap AS DOUBLE) / 10.0", 6)} AS recall
         FROM rov ORDER BY query_id""",
    "txt_readability" ->
      s"""WITH rb AS (SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
             ELSE CAST(len(regexp_split_to_array(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS BIGINT)
           END AS w,
           CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS s,
           CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS syl
         FROM documents),
         rb2 AS (SELECT doc_id, w, s, syl,
           CASE WHEN w > 0 THEN
             ${roundToSql("206.835 - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE)) - 84.6 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE))", 6)}
           END AS flesch FROM rb)
         SELECT doc_id, w AS n_words, s AS n_sentences, syl AS n_syllables, flesch,
           CASE WHEN w = 0 THEN 'empty'
             WHEN flesch >= 60.0 THEN 'easy'
             WHEN flesch >= 30.0 THEN 'medium'
             ELSE 'hard' END AS band
         FROM rb2 ORDER BY doc_id""",
    "txt_code_detect" ->
      s"""WITH cd AS (SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
           CAST(len(regexp_extract_all(text, '[{}();=<>\\[\\]]')) AS BIGINT) AS sym_count,
           CAST(len(list_filter(string_split(text, chr(10)),
             l -> l LIKE '  %' OR l LIKE chr(9) || '%')) AS BIGINT) AS indent_lines,
           CAST(len(list_filter(string_split(text, chr(10)),
             l -> rtrim(l) LIKE '%;' OR rtrim(l) LIKE '%{' OR rtrim(l) LIKE '%}')) AS BIGINT) AS eol_code_lines,
           CAST(len(regexp_extract_all(lower(text),
             '\\b(def|class|return|import|function|void|int)\\b')) AS BIGINT) AS kw_hits,
           length(trim(text)) = 0 AS is_empty
         FROM documents)
         SELECT doc_id, n_chars, n_lines, sym_count, indent_lines, eol_code_lines, kw_hits,
           CASE WHEN is_empty THEN 'empty'
             WHEN sym_count * 1000 >= n_chars * 30 THEN 'code'
             WHEN indent_lines * 10 >= n_lines * 3 AND eol_code_lines * 10 >= n_lines * 2 THEN 'code'
             ELSE 'prose' END AS verdict
         FROM cd ORDER BY doc_id""",
    "evt_lifecycle" ->
      s"""WITH lau AS (SELECT DISTINCT user_id AS u,
           epoch_us(ts) // 86400000000 AS day FROM events),
         lm AS (SELECT u, day,
             lag(day) OVER (PARTITION BY u ORDER BY day) AS prev,
             lead(day) OVER (PARTITION BY u ORDER BY day) AS next
           FROM lau),
         lc AS (SELECT day,
             CAST(count(*) FILTER (WHERE prev IS NULL) AS BIGINT) AS n_new,
             CAST(count(*) FILTER (WHERE day - prev = 1) AS BIGINT) AS n_retained,
             CAST(count(*) FILTER (WHERE prev IS NOT NULL AND day - prev > 1) AS BIGINT) AS n_resurrected
           FROM lm GROUP BY day),
         lch AS (SELECT day + 1 AS day, CAST(count(*) AS BIGINT) AS n_churned
           FROM lm WHERE next IS NULL OR next > day + 1 GROUP BY 1)
         SELECT lc.day, n_new, n_retained, n_resurrected,
           CAST(coalesce(n_churned, 0) AS BIGINT) AS n_churned
         FROM lc LEFT JOIN lch ON lch.day = lc.day ORDER BY lc.day""",
    "emb_dims_health" ->
      s"""WITH dhq AS (SELECT list_transform(embedding::DOUBLE[],
             x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS q FROM embeddings),
         dhx AS (SELECT CAST(t.i - 1 AS INTEGER) AS dim, q[CAST(t.i AS INTEGER)] AS v
           FROM dhq CROSS JOIN range(1, 65) t(i)),
         dhm AS (SELECT dim, CAST(count(*) AS BIGINT) AS n, sum(v) AS s,
             sum(CAST(v AS HUGEINT) * v) AS sq, min(v) AS lo, max(v) AS hi
           FROM dhx GROUP BY dim)
         SELECT dim,
           ${roundToSql("CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1e6", 6)} AS mean,
           CASE WHEN n >= 2 THEN
             ${roundToSql("CAST(n * sq - s * s AS DOUBLE) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 1e12", 6)}
           END AS variance,
           ${roundToSql("CAST(lo AS DOUBLE) / 1e6", 6)} AS min_val,
           ${roundToSql("CAST(hi AS DOUBLE) / 1e6", 6)} AS max_val,
           lo = hi AS dead
         FROM dhm ORDER BY dim""",
    "emb_ood_score" ->
      s"""WITH oq AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
             x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS q FROM embeddings),
         ox AS (SELECT CAST(t.i AS INTEGER) AS d, q[CAST(t.i AS INTEGER)] AS v
           FROM oq CROSS JOIN range(1, 65) t(i)),
         om AS (SELECT d, sum(CAST(v AS HUGEINT)) AS s,
             sum(CAST(v AS HUGEINT) * v) AS sq FROM ox GROUP BY d),
         ol AS (SELECT list(s ORDER BY d) AS ss, list(sq ORDER BY d) AS qq FROM om),
         oc AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM embeddings),
         os AS (SELECT vec_id,
             list_reduce(list_transform(range(1, 65), d ->
               CASE WHEN CAST(n * qq[CAST(d AS INTEGER)] - ss[CAST(d AS INTEGER)] * ss[CAST(d AS INTEGER)] AS DOUBLE) = 0
                 THEN 0.0
                 ELSE CAST((n * q[CAST(d AS INTEGER)] - ss[CAST(d AS INTEGER)]) * (n * q[CAST(d AS INTEGER)] - ss[CAST(d AS INTEGER)]) AS DOUBLE)
                   * (CAST(n AS DOUBLE) - 1.0)
                   / (CAST(n AS DOUBLE) * CAST(n * qq[CAST(d AS INTEGER)] - ss[CAST(d AS INTEGER)] * ss[CAST(d AS INTEGER)] AS DOUBLE))
               END), (x, y) -> x + y) AS ood
           FROM oq, ol, oc)
         SELECT vec_id, ${roundToSql("ood", 6)} AS ood FROM os ORDER BY vec_id""",
    "meta_integrity" -> {
      def rel(child: String, ck: String, parent: String, pk: String, name: String) =
        s"""SELECT '$name' AS relation,
           CAST((SELECT count(*) FROM $child) AS BIGINT) AS n_child,
           CAST((SELECT count(*) FROM $child WHERE $ck IS NULL) AS BIGINT) AS n_null_keys,
           CAST((SELECT count(*) FROM $child c WHERE c.$ck IS NOT NULL
             AND NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pk = c.$ck)) AS BIGINT) AS n_orphans,
           ${roundToSql(
             s"CAST((SELECT count(*) FROM $child) - (SELECT count(*) FROM $child WHERE $ck IS NULL) - (SELECT count(*) FROM $child c WHERE c.$ck IS NOT NULL AND NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pk = c.$ck)) AS DOUBLE) / CAST((SELECT count(*) FROM $child) AS DOUBLE)", 6)} AS coverage"""
      s"""${rel("orders", "o_custkey", "customer", "c_custkey", "orders->customer")}
         UNION ALL ${rel("lineitem", "l_orderkey", "orders", "o_orderkey", "lineitem->orders")}
         UNION ALL ${rel("nation", "n_regionkey", "region", "r_regionkey", "nation->region")}
         ORDER BY relation"""
    },
    "evt_trend" ->
      s"""WITH trd AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
           CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
         trm AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(c) AS BIGINT) AS total_events,
             sum(day) AS sx, sum(c) AS sy, sum(day * c) AS sxy,
             sum(day * day) AS sxx
           FROM trd GROUP BY 1)
         SELECT event_type, n_days, total_events,
           CASE WHEN n_days >= 2 AND n_days * sxx - sx * sx <> 0 THEN
             ${roundToSql("CAST(n_days * sxy - sx * sy AS DOUBLE) / CAST(n_days * sxx - sx * sx AS DOUBLE)", 6)}
           END AS slope_per_day,
           ${roundToSql("CAST(total_events AS DOUBLE) / CAST(n_days AS DOUBLE)", 6)} AS mean_per_day
         FROM trm ORDER BY event_type""",
    "evt_regularity" -> {
      val mean = "CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)"
      val cv = roundToSql(
        s"sqrt(greatest(CAST(sgg AS DOUBLE) / CAST(n_gaps AS DOUBLE) - ($mean) * ($mean), 0.0)) / ($mean)", 6)
      s"""WITH rge AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
         rgg AS (SELECT user_id,
             ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS gap
           FROM rge),
         rgm AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
             CAST(sum(gap) AS BIGINT) AS sg,
             sum(CAST(gap AS HUGEINT) * gap) AS sgg
           FROM rgg WHERE gap IS NOT NULL GROUP BY user_id)
         SELECT user_id, n_gaps,
           ${roundToSql(mean, 6)} AS mean_gap_us,
           CASE WHEN sg > 0 THEN $cv ELSE 0.0 END AS gap_cv,
           CASE WHEN sg = 0 OR (CASE WHEN sg > 0 THEN $cv ELSE 0.0 END) < 0.1
             THEN 'metronomic' ELSE 'organic' END AS verdict
         FROM rgm WHERE n_gaps >= 4 ORDER BY user_id"""
    },
    "evt_cohort_ltv" ->
      s"""WITH cle AS (SELECT user_id AS u, epoch_us(ts) // 86400000000 AS day,
           value AS v FROM events),
         clf AS (SELECT u, min(day) AS cohort FROM cle GROUP BY u),
         cls AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_users
           FROM clf GROUP BY cohort),
         clc AS (SELECT f.cohort, e.day - f.cohort AS age,
             CAST(count(DISTINCT e.u) AS BIGINT) AS n_active_users,
             ${roundToSql("sum(v)", 4)} AS revenue
           FROM cle e JOIN clf f ON e.u = f.u GROUP BY f.cohort, e.day - f.cohort)
         SELECT c.cohort, c.age, s.cohort_users, c.n_active_users, c.revenue,
           ${roundToSql("sum(revenue) OVER (PARTITION BY c.cohort ORDER BY c.age)", 4)} AS cum_revenue,
           ${roundToSql("sum(revenue) OVER (PARTITION BY c.cohort ORDER BY c.age) / CAST(cohort_users AS DOUBLE)", 6)} AS ltv
         FROM clc c JOIN cls s ON s.cohort = c.cohort
         ORDER BY c.cohort, c.age""",
    "txt_boilerplate" ->
      s"""WITH bl AS (SELECT doc_id,
           string_split('NAV ' || source || chr(10) || text, chr(10)) AS ls
           FROM documents),
         bocc AS (SELECT doc_id, unnest(list_transform(range(1, len(ls) + 1),
             i -> {'pos': i - 1, 'l': ls[CAST(i AS INTEGER)]})) AS e FROM bl),
         bo2 AS (SELECT doc_id, CAST(e.pos AS INTEGER) AS pos,
             trim(e.l, ' ' || chr(9)) AS tl
           FROM bocc WHERE trim(e.l, ' ' || chr(9)) <> ''),
         bh AS (SELECT doc_id, pos, ${duckHex60("tl")} AS h FROM bo2),
         bdc AS (SELECT h, CAST(count(*) AS BIGINT) AS c FROM
           (SELECT DISTINCT doc_id, h FROM bh) GROUP BY h),
         bfl AS (SELECT h FROM bdc WHERE c >= 3),
         bps AS (SELECT doc_id, list_sort(list(DISTINCT pos)) AS bp
           FROM bh JOIN bfl USING (h) GROUP BY doc_id),
         bout AS (SELECT bl.doc_id, len(ls) AS n_lines, coalesce(len(bp), 0) AS nb,
             list_filter(list_transform(range(1, len(ls) + 1),
               i -> CASE WHEN list_contains(coalesce(bp, CAST([] AS INTEGER[])), i - 1)
                 THEN NULL ELSE ls[CAST(i AS INTEGER)] END), x -> x IS NOT NULL) AS kept
           FROM bl LEFT JOIN bps ON bps.doc_id = bl.doc_id)
         SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
           CAST(nb AS BIGINT) AS n_boilerplate,
           ${roundToSql("CAST(nb AS DOUBLE) / CAST(n_lines AS DOUBLE)", 6)} AS boilerplate_frac,
           md5(array_to_string(kept, chr(10))) AS cleaned_md5
         FROM bout ORDER BY doc_id"""
  )
}
