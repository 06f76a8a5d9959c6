package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.{rd, t, duckCos, duckPlaneTablesFor, duckPlaneTables, signBits48Sql}
import graft.functions.MathFunctions.roundToSql
import graft.operators.{Dedup, Similarity}
import graft.queries.QuerySpec._

/** Embeddings: exact and approximate nearest neighbours (`ann_*`), the
  * kNN graph and the algorithms over it, clustering and embedding
  * statistics. */
object EmbQueries {

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

  /** DuckDB replication of [[graft.operators.Similarity.knnGraph]]:
    * the same capped LSH buckets as [[embedLshOracleSql]], directed
    * candidate edges, exact-cosine ranking with the (c desc, id asc)
    * order the bounded-heap top-k implements.
    */
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

  /** DuckDB replication of [[Similarity.hammingTopK]]: the same 48
    * seeded plane literals, the same MSB-first sign-bit packing, then
    * `bit_count(xor)` ranking — bit-exact, like embedLshOracleSql.
    */
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

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("emb_knn_graph", Scale10x, Golden,
      PlanDoc("one RDD kernel job over a single projection: vectors ride the n*nTables bucket rows through one shuffle, each capped bucket scores its pairs locally, both directed edges feed a map-side-combined bounded per-node top-k; no join, no window"))((s, dir) =>
      // directed k-NN graph over the same capped LSH buckets as
      // dedup_embed_lsh: each vector's 10 nearest bucket-mates by
      // exact cosine, ranked by the bounded-heap top-k.
      graft.operators.Similarity.knnGraph(t(s, dir, "embeddings"), "embedding",
          "vec_id", dim = 64, k = 10, nPlanes = 8, nTables = 8)
        .orderBy("src_id", "rank"))(knnGraphOracleSql),
    QuerySpec("emb_knn_graph_auto", Headline, Scale10x, Golden)((s, dir) =>
      // the DEFAULT-parameter build: nPlanes is DERIVED from one corpus
      // count (Dedup.derivedPlanes — the r12 fix for the fixed-depth
      // density-quadratic scale trap). At oracle scale (≤ 4096 vectors)
      // the derivation lands exactly on the committed floor 8, so this
      // shares emb_knn_graph's depth-8 oracle bit-for-bit — while the
      // same call at the 30x curve's 60k vectors derives depth 12 and
      // builds ~16x faster than pinned-8 (SCALE_CURVE_r12).
      graft.operators.Similarity.knnGraph(t(s, dir, "embeddings"), "embedding",
          "vec_id", dim = 64, k = 10, nTables = 8)
        .orderBy("src_id", "rank"))(
      // the auto-depth build derives depth 8 at any corpus ≤ 4096 vectors
      // (floor 8, target occupancy 16), so the depth-8 plane-literal
      // oracle replays it exactly at sf0.001/sf0.01 scale
      knnGraphOracleSql),
    QuerySpec("ann_bruteforce_topk", Headline,
      PlanDoc("broadcast queries, single corpus pass, bounded-heap top-k"))((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
          e.filter(col("vec_id") >= 5), e.filter(col("vec_id") < 5),
          "embedding", "vec_id", 10)
        .select(col("query_id"), col("corpus_id"), rd(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("query_id", "rank")
    })(
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
         s AS (SELECT query_id, corpus_id, ${duckCos("qv", "cv")} AS c FROM c CROSS JOIN q),
         r AS (SELECT query_id, corpus_id, ${roundToSql("c", 6)} AS cosine,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, corpus_id) AS INTEGER) AS rank
           FROM s)
         SELECT query_id, corpus_id, cosine, rank FROM r WHERE rank <= 10
         ORDER BY query_id, rank"""),
    QuerySpec("ann_ivf_topk", Scale10x, Golden, PlanDoc("narrow literal-matrix assignment, broadcast probes"))((s, dir) => {
      // deterministic variant (portable-hash seed cells, no Lloyd
      // averaging) so the DuckDB oracle replicates the whole IVF
      // pipeline; the k-means path keeps its recall gate in DedupSpec
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(
          e.filter(col("vec_id") >= 5), e.filter(col("vec_id") < 5),
          "embedding", "vec_id", 10, nCells = 16, nProbe = 4,
          lloydIters = 0)
        .select(col("query_id"), col("corpus_id"), rd(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("query_id", "rank")
    })(annIvfOracleSql),
    QuerySpec("ann_pq_topk", Golden, PlanDoc("narrow codebook-literal encode + ADC, corpus never shuffles"))((s, dir) => {
      // deterministic variant (portable-seed codebook) so the DuckDB
      // oracle replicates PQ encode + ADC scoring bit-for-bit
      val e = t(s, dir, "embeddings")
      Similarity.pqTopK(
          e.filter(col("vec_id") >= 5), e.filter(col("vec_id") < 5),
          "embedding", "vec_id", 10, m = 8, ksub = 16, lloydIters = 0)
        .select(col("query_id"), col("corpus_id"),
                rd(col("approx_sqdist"), 6).as("approx_sqdist"), col("rank"))
        .orderBy("query_id", "rank")
    })(annPqOracleSql),
    QuerySpec("ann_hamming_topk",
      PlanDoc("48-bit signatures, broadcast queries, bit_count ranking, bounded-heap top-k"))((s, dir) => {
      // Binary-signature ANN: 48 packed sign bits per embedding,
      // per-query top-10 by Hamming distance via the bounded heap.
      val e = t(s, dir, "embeddings")
      Similarity.hammingTopK(e.filter(col("vec_id") >= 5), e.filter(col("vec_id") < 5),
          "embedding", "vec_id", dim = 64, k = 10, nBits = 48)
        .orderBy("query_id", "rank")
    })(annHammingOracleSql),
    QuerySpec("emb_int8_topk",
      PlanDoc("int8-quantized corpus scans once, never shuffles; integer dot products; broadcast queries"))((s, dir) => {
      // int8 scalar-quantized ANN: exact integer dot products over the
      // 4×-compressed corpus, dequantized by both scales. Every
      // quantized element is one multiply/divide/floor — the oracle
      // reproduces the whole pipeline bit-for-bit.
      val e = t(s, dir, "embeddings")
      Similarity.int8TopK(e.filter(col("vec_id") >= 5), e.filter(col("vec_id") < 5),
          "embedding", "vec_id", k = 10)
        .select(col("query_id"), col("corpus_id"), rd(col("score"), 6).as("score"), col("rank"))
        .orderBy("query_id", "rank")
    })(annInt8OracleSql),
    QuerySpec("emb_label_outliers",
      PlanDoc("integer-quantized centroid sums broadcast back; bounded-heap bottom-k; no vector self-join"))((s, dir) => {
      // Noisy-label pruning: per label, the 10 members least
      // cosine-similar to their own label centroid (integer-quantized
      // centroid sums → order-immune; bounded-heap bottom-k).
      Similarity.labelOutliers(t(s, dir, "embeddings"), "embedding", "vec_id", "label", k = 10)
        .orderBy("label", "rank")
    })(
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
         ORDER BY label, rank"""),
    QuerySpec("emb_linear_score",
      PlanDoc("plan-literal integer model; pure scan-side zip_with/aggregate — zero joins, zero data shuffles"))((s, dir) => {
      // Linear quality head over embeddings (aesthetic-predictor
      // shape): plan-literal integer model, pure scan-side scoring.
      Similarity.linearScore(t(s, dir, "embeddings"), "embedding", "vec_id", dim = 64)
        .orderBy("vec_id")
    })({
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
    }),
    QuerySpec("emb_random_projection")((s, dir) => {
      // JL random projection 64 -> 16 dims: plan-literal integer
      // matrix, exact integer output components. Flattened to
      // (vec_id, dim, comp) rows — the oracle comparator is scalar.
      Similarity.randomProjection(t(s, dir, "embeddings"), "embedding", "vec_id",
          dim = 64, outDim = 16)
        .select(col("vec_id"), posexplode(col("proj_q")).as(Seq("dim", "comp")))
        .orderBy("vec_id", "dim")
    })({
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
    }),
    QuerySpec("emb_pagerank", Headline, Scale10x,
      PlanDoc("graph kernel: adjacency co-partitioned with the ranks, one map-side-combined inflow shuffle per round; integer ranks, no join, no window"))((s, dir) =>
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
        .orderBy("vec_id"))(pageRankOracleSql),
    QuerySpec("emb_label_prop", Headline, Scale10x)((s, dir) => {
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
    })(labelPropOracleSql),
    QuerySpec("emb_bucket_profile", Scale10x, Golden)((s, dir) =>
      // LSH key-depth advisor: per-table bucket occupancy + the exact
      // candidate-pair work the bucketed build will pay — the one-scan
      // check that catches quadratic density creep (the 30x-curve
      // emb_knn_graph finding) BEFORE a big build.
      graft.operators.Similarity.lshBucketProfile(t(s, dir, "embeddings"),
        "embedding", "vec_id", dim = 64, nPlanes = 8, nTables = 8))(embBucketProfileOracleSql),
    QuerySpec("emb_pq_profile", Scale10x, Golden)((s, dir) =>
      // PQ codebook-quality advisor: exact mean reconstruction error
      // per candidate subspace count (shared seed codebook), one
      // narrow corpus scan scoring every m at once — the bits-vs-
      // distortion curve measured before a cluster-wide encode.
      graft.operators.Similarity.pqDistortionProfile(t(s, dir, "embeddings"),
        "embedding", "vec_id", dim = 64))(pqProfileOracleSql),
    QuerySpec("emb_ivf_profile", Scale10x, Golden)((s, dir) =>
      // IVF nProbe advisor: exact scan work + sampled recall@k per
      // candidate probe count — ONE corpus pass scores every depth
      // (cells partition the corpus, so each candidate row carries
      // exactly one probe rank).
      graft.operators.Similarity.ivfProbeProfile(t(s, dir, "embeddings"),
        "embedding", "vec_id", dim = 64))(
      ivfProfileOracleSql(Seq(1, 2, 4, 8), 16, 10, 8)),
    QuerySpec("emb_recall_profile", Scale10x, Golden)((s, dir) =>
      // The recall half of the key-depth decision emb_bucket_profile
      // opened: per candidate depth, the exact capped candidate work
      // AND the sampled recall@10 it buys (8 portable-hash queries vs
      // exact cosine top-10). A 100 TB user reads the two advisors
      // together: deepest depth whose recall clears target.
      graft.operators.Similarity.lshRecallProfile(t(s, dir, "embeddings"),
        "embedding", "vec_id", dim = 64, depths = Seq(4, 6, 8),
        k = 10, nTables = 8, sampleQ = 8))(embRecallProfileOracleSql(Seq(4, 6, 8), 10, 8)),
    QuerySpec("emb_graph_suite", Scale10x)((s, dir) =>
      // One-build-many-queries for the embedding graph class: the
      // capped-LSH k-NN edge list is built and checkpointed ONCE,
      // then feeds out-degree + PageRank + label propagation —
      // centrality and label from a single edge build, where the
      // three standalone queries each pay the bucket/top-k build.
      graft.operators.Graphs.embeddingGraphSuite(t(s, dir, "embeddings"),
          "embedding", "vec_id", "label", dim = 64, k = 10,
          nPlanes = 8, nTables = 8)
        .orderBy("vec_id"))(embGraphSuiteOracleSql),
    QuerySpec("emb_decontaminate", Golden)((s, dir) => {
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
    })({
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
    }),
    QuerySpec("emb_kmeans")((s, dir) =>
      // Full portable Lloyd's: hash-seeded cells, 3 integer-exact
      // update rounds, final assignment + quantized inertia.
      Similarity.kmeansAssign(t(s, dir, "embeddings"), "embedding", "vec_id",
          nCells = 8, iters = 3)
        .orderBy("vec_id"))(kmeansOracleSql),
    QuerySpec("emb_drift", Scale10x)((s, dir) =>
      // Embedding-space drift between two snapshots (even/odd vec_id
      // halves, the incremental convention): seeded-centroid cell
      // histograms compared by +1-smoothed PSI; corpus never shuffles.
      Similarity.embeddingDrift(
          t(s, dir, "embeddings")
            .withColumn("is_base", pmod(col("vec_id"), lit(2)) === 0),
          "embedding", "vec_id", "is_base", nCells = 8)
        .orderBy("cell_id"))({
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
    }),
    QuerySpec("emb_kcenter", Scale10x)((s, dir) =>
      // Greedy k-center diversity selection: 8 farthest-first picks,
      // integer-exact distances, every argmax tie-broken to the
      // smallest id — the oracle unrolls the same 8 stages.
      Similarity.kcenterSelect(t(s, dir, "embeddings"), "embedding", "vec_id", k = 8)
        .orderBy("sel_rank"))({
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
    }),
    QuerySpec("emb_covariance")((s, dir) =>
      // Exact 64x64 covariance from one augmented-moment scan;
      // decimal integer sums, fixed-shape IEEE assembly.
      Similarity.covarianceMatrix(t(s, dir, "embeddings"), "embedding", dim = 64)
        .orderBy("dim_i", "dim_j"))(
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
         WHERE p.j < 64 ORDER BY dim_i, dim_j"""),
    QuerySpec("emb_silhouette", Scale10x,
      PlanDoc("plan-literal centroids; one narrow corpus pass, vectors never shuffle; cell-sized rollup + broadcast grid join"))((s, dir) =>
      // Simplified silhouette per hash-seeded cell: plan-literal
      // centroids, one narrow scan, corpus never shuffles;
      // integer-exact squared distances, 1e-6-quantized scores.
      Similarity.silhouette(t(s, dir, "embeddings"), "embedding", "vec_id",
        nCells = 8))(
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
         ORDER BY cell_id"""),
    QuerySpec("emb_diversity", Scale10x,
      PlanDoc("O(n²) pairwise semantic in one O(n·d) scan via the moment identity — single global agg, corpus never shuffles"))((s, dir) =>
      // Exact mean pairwise squared distance via the moment identity
      // (O(n^2) semantic, one O(n·d) scan; corpus never shuffles).
      Similarity.embeddingDiversity(t(s, dir, "embeddings"), "embedding"))({
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
    }),
    QuerySpec("emb_recall_eval", Scale10x, Golden,
      PlanDoc("both ANN arms broadcast queries; overlap join broadcasts the k·|Q|-row approx arm; count map-side combined"))((s, dir) => {
      // ANN self-QA: recall@10 of the deterministic IVF index vs the
      // exact brute-force top-10 on the same query split.
      val e = t(s, dir, "embeddings")
      Similarity.recallEval(e.filter(col("vec_id") >= 5),
        e.filter(col("vec_id") < 5), "embedding", "vec_id",
        k = 10, nCells = 16, nProbe = 4)
    })(
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
         FROM rov ORDER BY query_id"""),
    QuerySpec("emb_dims_health", Scale10x,
      PlanDoc("one global agg (4·dim map-side moments) + inline unpivot — corpus never shuffles, no join"))((s, dir) =>
      // Per-dimension mean/var/min/max + dead-dim flag: one global
      // agg (4·dim map-side combined), inline unpivot, no corpus shuffle.
      Similarity.dimsHealth(t(s, dir, "embeddings"), "embedding"))(
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
         FROM dhm ORDER BY dim"""),
    QuerySpec("emb_ood_score", Scale10x)((s, dir) =>
      // Diagonal-Mahalanobis OOD score per vector: one-row stats
      // aggregate cross-joined back (broadcast), fixed-shape per-dim
      // terms folded left-to-right — nothing data-sized shuffles.
      Similarity.oodScore(t(s, dir, "embeddings"), "embedding", "vec_id")
        .orderBy("vec_id"))(
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
         SELECT vec_id, ${roundToSql("ood", 6)} AS ood FROM os ORDER BY vec_id""")
  )
}
