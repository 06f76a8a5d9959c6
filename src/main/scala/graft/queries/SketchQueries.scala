package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.{t, duckHex60}
import graft.functions.TextFunctions
import graft.functions.MathFunctions.roundToSql
import graft.operators.{Dedup, Sketches}
import graft.queries.QuerySpec._

/** Sketches (`sketch_*`): HyperLogLog, count-min, KMV, Bloom filters
  * and quantiles. */
object SketchQueries {

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

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("sketch_hll_distinct", Headline,
      PlanDoc("map-side register reduction; only ≤m register rows cross the wire"))((s, dir) => {
      // Portable HyperLogLog over the highest-cardinality key in the
      // test set (lineitem composite line id: n ≥ 2.5·m at every SF,
      // the raw-HLL validity regime). Integer-arithmetic harmonic sum
      // → bit-exact oracle.
      Sketches.hllDistinct(
          t(s, dir, "lineitem")
            .select(concat_ws(":", col("l_orderkey"), col("l_linenumber")).as("line_key")),
          "line_key", Seq.empty, p = 11)
    })({
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
    }),
    QuerySpec("sketch_hll_union",
      PlanDoc("per-group register tables merged by pointwise max — both levels partial-aggregated"))((s, dir) => {
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
    })({
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
    }),
    QuerySpec("sketch_cms_topk", Scale10x,
      PlanDoc("constant-size cell table broadcast to the item probes"))((s, dir) => {
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
    })(
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
         FROM est ORDER BY cms_estimate DESC, item ASC LIMIT 20"""),
    QuerySpec("sketch_kmv_distinct")((s, dir) =>
      // KMV distinct estimate: 64 smallest distinct portable hashes
      // of l_partkey; estimate = 63·2^60 / h_64 — config-sized
      // synopsis, TakeOrderedAndProject (no global sort).
      Sketches.kmvDistinct(t(s, dir, "lineitem"), "l_partkey", k = 64))(kmvDistinctOracleSql),
    QuerySpec("sketch_kmv_setops")((s, dir) =>
      // Set-operation estimates from two KMV synopses alone — the
      // corpus-overlap question (union / intersection / Jaccard of
      // customer keys vs ordering-customer keys) answered without
      // ever joining the corpora.
      Sketches.kmvSetOps(t(s, dir, "customer"), t(s, dir, "orders")
          .select(col("o_custkey").as("c_custkey")), "c_custkey", k = 64))(kmvSetOpsOracleSql),
    QuerySpec("sketch_bloom_decontaminate",
      PlanDoc("literal-array bloom probe in the scan; no corpus-vs-benchmark shuffle for the flag"))((s, dir) => {
      // Decontamination against a BROADCAST bloom of the eval set
      // (doc_id < 20, same benchmark as txt_decontaminate): the probe
      // is a literal-array bit test in the scan — no corpus-vs-
      // benchmark shuffle. exact_contaminated rides along to audit
      // the (one-sided) false-positive rate.
      val docs = t(s, dir, "documents")
      Sketches.bloomDecontaminate(docs, docs.filter(col("doc_id") < 20),
          "text", "doc_id", shingleSize = 5, mBits = 1 << 16, kHashes = 3)
        .orderBy("doc_id")
    })(
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
         FROM documents doc LEFT JOIN bf USING (doc_id) ORDER BY doc.doc_id"""),
    QuerySpec("sketch_quantile",
      PlanDoc("one (group,bin) count shuffle of <= numBuckets rows per group; window over the bin table, never raw values"))((s, dir) => {
      // histogram quantile sketch per return flag: 256 bins over a
      // fixed [0, 262144) price domain (power-of-two width keeps the
      // bin arithmetic FP-exact); ≤256 slim rows per group shuffle.
      graft.operators.Sketches.quantileSketch(
          t(s, dir, "lineitem"), "l_extendedprice", Seq("l_returnflag"),
          lo = 0.0, hi = 262144.0, numBuckets = 256,
          quantiles = Seq(0.25, 0.5, 0.9, 0.99))
        .orderBy("l_returnflag", "quantile")
    })(
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
         ORDER BY l_returnflag, quantile"""),
    QuerySpec("sketch_domain_overlap",
      PlanDoc("k-bounded partial sketches per group; broadcast groups-by-groups pair join; no window"))((s, dir) => {
      // Pairwise source-overlap matrix from per-source KMV synopses:
      // one corpus pass into k-long sketches, then a tiny self-join.
      Sketches.kmvOverlapMatrix(t(s, dir, "documents"), "source", "text", k = 64)
        .orderBy("source_a", "source_b")
    })(
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
         FROM e ORDER BY source_a, source_b"""),
    QuerySpec("sketch_percentile_score")((s, dir) =>
      // Rank normalization without a window: per-row percentile =
      // fraction of the group's rows in strictly lower histogram
      // bins; bin table broadcast, scan-side assignment.
      graft.operators.Sketches.percentileScore(t(s, dir, "lineitem"),
          "l_extendedprice", Seq("l_returnflag"), lo = 0.0, hi = 262144.0,
          numBuckets = 256)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("percentile"))
        .orderBy("l_orderkey", "l_linenumber"))(
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
         ORDER BY l.l_orderkey, l.l_linenumber"""),
    QuerySpec("sketch_psi_drift")((s, dir) =>
      // Pairwise PSI drift matrix over doc-length distributions per
      // source: ≤64 bin counts per group shuffle, broadcast pair
      // join, quantized per-bin terms → exact integer sums.
      graft.operators.Sketches.psiMatrix(t(s, dir, "documents"),
          "source", "n_chars", lo = 0.0, hi = 640.0, numBuckets = 64)
        .orderBy("group_a", "group_b"))(
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
         FROM psi_e GROUP BY group_a, group_b ORDER BY group_a, group_b""")
  )
}
