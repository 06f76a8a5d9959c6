package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.{t, duckHex60, qualityMetricsBody, qualityScoreExpr}
import graft.functions.TextFunctions
import graft.functions.MathFunctions.roundToSql
import graft.queries.QuerySpec._

/** Sampling (`samp_*`): stratified, weighted, capped, mixture and
  * importance (DSIR) sampling. */
object SampQueries {

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

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("samp_stratified")((s, dir) => {
      // Deterministic stratified sampling — the corpus-mixing
      // primitive: downsample English hard, keep half of German,
      // a quarter of everything else. Membership is a pure function
      // of (salt, doc_id): reproducible across runs, retries, and
      // engines; the filter is a narrow scan-side expression.
      graft.operators.Sampling.stratifiedSample(
          t(s, dir, "documents"), "lang", "doc_id",
          Map("en" -> 0.10, "de" -> 0.50), defaultFrac = 0.25)
        .select("doc_id", "lang").orderBy("doc_id")
    })(
      s"""SELECT doc_id, lang FROM documents
         WHERE ${duckHex60("'samp:' || CAST(doc_id AS VARCHAR)")} % 1000000 <
           CASE WHEN lang = 'en' THEN 100000
                WHEN lang = 'de' THEN 500000
                ELSE 250000 END
         ORDER BY doc_id"""),
    QuerySpec("samp_hash_topk")((s, dir) => {
      // Exactly-k uniform sample with no population-size knowledge:
      // smallest-hash k rows via bounded per-partition heaps
      // (TakeOrderedAndProject), never a global sort.
      graft.operators.Sampling.hashTopK(t(s, dir, "documents"), "doc_id", 100)
        .select("doc_id").orderBy("doc_id")
    })(
      s"""WITH h AS (SELECT doc_id,
           ${duckHex60("'samp:' || CAST(doc_id AS VARCHAR)")} AS hh FROM documents),
         k AS (SELECT doc_id FROM h ORDER BY hh, doc_id LIMIT 100)
         SELECT doc_id FROM k ORDER BY doc_id"""),
    QuerySpec("samp_weighted")((s, dir) => {
      // Importance sampling by quality: each doc kept with
      // probability = its (rounded) quality score — the soft
      // alternative to a hard threshold; membership a pure function
      // of (salt, doc_id, score), narrow scan-side filter.
      val scored = t(s, dir, "documents").withColumn("score",
        TextFunctions.qualityScore(col("text")))
      graft.operators.Sampling.weightedSample(scored, "doc_id", "score")
        .select("doc_id", "score").orderBy("doc_id")
    })(
      s"""WITH t AS (SELECT doc_id, text,
           regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents),
         m AS (SELECT doc_id,
           $qualityMetricsBody
         FROM t),
         q AS (SELECT doc_id, $qualityScoreExpr AS score FROM m)
         SELECT doc_id, score FROM q
         WHERE ${duckHex60("'wsamp:' || CAST(doc_id AS VARCHAR)")} % 1000000 <
           CAST(floor(least(greatest(score * 1.0, 0.0), 1.0) * 1000000.0) AS BIGINT)
         ORDER BY doc_id"""),
    QuerySpec("samp_key_cap",
      PlanDoc("per-key bounded heap: a hot domain costs the same heap as a small one"))((s, dir) =>
      // Per-source cap (the per-host limit of web-corpus recipes):
      // ≤ 10 docs per source, deterministic hash order, bounded heap
      // per key — a hot domain costs the same heap as a small one.
      graft.operators.Sampling.perKeyCap(t(s, dir, "documents"),
          "source", "doc_id", cap = 10)
        .orderBy("key", "rank"))(
      s"""WITH sc AS (SELECT source AS key, doc_id AS id,
           ${duckHex60("'cap:' || CAST(doc_id AS VARCHAR)")} % 1000000 AS b
         FROM documents),
       rk AS (SELECT key, id,
           CAST(row_number() OVER (PARTITION BY key ORDER BY b, id) AS INTEGER) AS rank FROM sc)
       SELECT key, id, rank FROM rk WHERE rank <= 10 ORDER BY key, rank"""),
    QuerySpec("samp_cluster_balanced", Golden,
      PlanDoc("narrow literal-matrix cell assignment; per-cell bounded heap — no window sorts a cell"))((s, dir) =>
      // Diversity sampling: ≤ perCell rows from each k-means cell,
      // picked by deterministic hash order via the bounded heap —
      // every semantic region capped equally, no window ever sorts a
      // cell. Portable-seed cells (lloydIters = 0) so the oracle
      // replays the cells, the hash order, and the cap exactly.
      graft.operators.Sampling.clusterBalancedSample(t(s, dir, "embeddings"),
          "embedding", "vec_id", nCells = 8, perCell = 5,
          lloydIters = 0)
        .orderBy("cell_id", "rank"))(sampClusterBalancedOracleSql),
    QuerySpec("samp_mixture",
      PlanDoc("derived keep-rates become a literal CASE filter — narrow scan, no join or window on the data path"))((s, dir) => {
      // Target-mixture sampling: rates DERIVED from the domain counts
      // to hit 50/25/12.5/12.5 shares at the largest feasible size
      // (power-of-two weights keep the rate arithmetic exact in FP).
      graft.operators.Sampling.mixtureSample(
          t(s, dir, "documents"), "source", "doc_id",
          Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.125, "src3" -> 0.125))
        .select("doc_id", "source").orderBy("doc_id")
    })(
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
         ORDER BY d.doc_id"""),
    QuerySpec("samp_temperature")((s, dir) => {
      // α-temperature language rebalancing (XLM-R/mC4 rule): the
      // smallest language keeps 100%, larger ones soften as n^(α-1).
      graft.operators.Sampling.temperatureSample(
          t(s, dir, "documents"), "lang", "doc_id", alpha = 0.3)
        .select("doc_id", "lang").orderBy("doc_id")
    })(
      s"""WITH cnts AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
           FROM documents GROUP BY lang),
         m AS (SELECT max(pow(CAST(n AS DOUBLE), -0.7)) AS m FROM cnts),
         r AS (SELECT lang,
             CAST(floor(least(1.0, pow(CAST(n AS DOUBLE), -0.7) / m.m) * 1e6 + 0.5) AS BIGINT) AS thr
           FROM cnts CROSS JOIN m)
         SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
         WHERE ${duckHex60("'temp:' || CAST(doc_id AS VARCHAR)")} % 1000000 < r.thr
         ORDER BY d.doc_id"""),
    QuerySpec("samp_dsir",
      PlanDoc("bucket tables config-sized; model one broadcast map row; bounded TakeOrderedAndProject selection"))((s, dir) => {
      // DSIR importance resampling: raw = all documents, target = the
      // English slice; top-50 docs whose hashed-unigram distribution
      // most resembles the target under add-one-smoothed log-ratios.
      val docs = t(s, dir, "documents")
      graft.operators.Sampling.dsirSample(
        docs, docs.filter(col("lang") === "en"), "doc_id", "text",
        numBuckets = 256, k = 50)
    })(
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
         FROM f ORDER BY logw_q DESC, doc_id LIMIT 50"""),
    QuerySpec("samp_winsorize")((s, dir) =>
      // Per-group winsorization: clamp prices to each return flag's
      // [p01, p99] sketch-quantile band. Thresholds shuffle as bin
      // counts; the clip is a narrow scan-side least/greatest
      // against an O(groups) broadcast.
      graft.operators.Sampling.winsorize(t(s, dir, "lineitem"),
          "l_extendedprice", Seq("l_returnflag"),
          lo = 0.0, hi = 262144.0, numBuckets = 256, pLow = 0.01, pHigh = 0.99)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_extendedprice_w"))
        .orderBy("l_orderkey", "l_linenumber"))(
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
         ORDER BY l_orderkey, l_linenumber"""),
    QuerySpec("samp_shuffle")((s, dir) =>
      // Deterministic global training shuffle: distributed rank over
      // the portable (salt, id) hash — a range exchange plus two
      // streaming passes, never a single-partition sort.
      graft.operators.Sampling.deterministicShuffle(
          t(s, dir, "documents").select("doc_id", "source"), "doc_id", "epoch0")
        .select("doc_id", "source", "shuffle_pos")
        .orderBy("doc_id"))(
      s"""WITH sh AS (SELECT doc_id, source,
           ${duckHex60("('epoch0:' || CAST(doc_id AS VARCHAR))")} AS h
         FROM documents)
         SELECT doc_id, source,
           CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS shuffle_pos
         FROM sh ORDER BY doc_id""")
  )
}
