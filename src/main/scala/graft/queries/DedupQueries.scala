package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.{rd, t, duckCos, duckHex60, minhashLshCtes, minhashChain,
  duckPlaneTables, signBits48Sql}
import graft.functions.MathFunctions.roundToSql
import graft.functions.UrlFunctions
import graft.operators.{Dedup, TextAnalysis}
import graft.queries.QuerySpec._

/** Deduplication: exact, MinHash-LSH, SimHash, sorted-neighborhood,
  * winnowing and embedding near-duplicates, their clusters and graph
  * statistics. */
object DedupQueries {

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

  /** DuckDB replication of hyperplane-LSH embedding near-dup: the SAME
    * seeded gaussian planes ([[Dedup.randomPlanes]]) baked as literals,
    * sign-bit bucket fold in the same order, exact-cosine verification
    * with the bit-identical sequential fold.
    */
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

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("dedup_exact", Headline)((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "text", "doc_id").orderBy("fingerprint"))(
      """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint,
         min(doc_id) AS canonical_id, count(*) AS n_docs
         FROM documents GROUP BY fingerprint ORDER BY fingerprint"""),
    QuerySpec("dedup_ngram_jaccard", Scale10x)((s, dir) => {
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id", 3, 0.3)
        .select(col("id_a"), col("id_b"), rd(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    })(
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
         WHERE jac >= 0.3 ORDER BY id_a, id_b"""),
    QuerySpec("dedup_threshold_profile", Scale10x, Golden)((s, dir) =>
      // Verify-threshold advisor: exact-Jaccard histogram over the
      // capped LSH candidates (threshold open) — measures where the
      // duplicate mode and the background separate before a dedup run
      // commits to a cutoff.
      Dedup.jaccardThresholdProfile(t(s, dir, "documents"), "text", "doc_id",
        shingleSize = 3, numHashes = 128, bands = 32))(
      s"""WITH $minhashLshCtes,
         tp_b AS (SELECT least(CAST(floor(jac * 10) AS INTEGER), 9) AS bin,
             CAST(count(*) AS BIGINT) AS n_pairs FROM mh_ver GROUP BY 1)
         SELECT bin, CAST(bin AS DOUBLE) / 10.0 AS lo,
           (CAST(bin AS DOUBLE) + 1.0) / 10.0 AS hi, n_pairs,
           ${roundToSql("CAST(n_pairs AS DOUBLE) / CAST(sum(n_pairs) OVER () AS DOUBLE)", 6)} AS share
         FROM tp_b ORDER BY bin"""),
    QuerySpec("dedup_sorted_neighborhood", Scale10x)((s, dir) => {
      // Sorted-neighborhood blocking (merge/purge): rank by normalized
      // text prefix, pair within a 10-row window, verify exact Jaccard
      // — candidate volume exactly n·(w−1), no bucket-skew tail.
      Dedup.sortedNeighborhoodNearDups(t(s, dir, "documents"), "text", "doc_id",
          window = 10, keyLen = 24, shingleSize = 3, threshold = 0.3)
        .select(col("id_a"), col("id_b"), rd(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    })(
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
         WHERE jac >= 0.3 ORDER BY id_a, id_b"""),
    QuerySpec("dedup_snm_multipass", Headline, Scale10x,
      PlanDoc("two rank-and-window passes (prefix + reversed-suffix keys, eager zipWithIndex ranks), slim pair union + map-side-combined distinct, one shared exact-Jaccard verify"))((s, dir) => {
      // Two-pass merge/purge: prefix key + reversed-suffix key, pairs
      // unioned + deduped before ONE shared exact-Jaccard verify — a
      // prefix-edited duplicate that pass 1's sort order separates is
      // caught by pass 2 (and vice versa).
      Dedup.sortedNeighborhoodMultiPass(t(s, dir, "documents"), "text", "doc_id",
          window = 10, keyLen = 24, shingleSize = 3, threshold = 0.3)
        .select(col("id_a"), col("id_b"), rd(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    })(
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
         WHERE jac >= 0.3 ORDER BY id_a, id_b"""),
    QuerySpec("dedup_embed_cosine")((s, dir) => {
      // EXACT all-pairs recall oracle for the LSH variant — fenced by
      // Dedup.requireOracleScale so it can never be pointed at a full
      // production corpus (the cross join is uncapped by design).
      Dedup.embedCosinePairsExact(t(s, dir, "embeddings"), "embedding", "vec_id", 0.4)
        .select(col("id_a"), col("id_b"), rd(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    })(
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${duckCos("a.v", "b.v")} AS c
           FROM v a JOIN v b ON a.vec_id < b.vec_id)
         SELECT id_a, id_b, ${roundToSql("c", 6)} AS cosine FROM p
         WHERE c >= 0.4 ORDER BY id_a, id_b"""),
    QuerySpec("dedup_clusters", Scale10x, Golden)((s, dir) => {
      // Connected components over the exact near-dup pairs: cluster
      // canonicalization (min reachable doc_id per member).
      val pairs = Dedup.ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id", 3, 0.3)
      Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    })(
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
         GROUP BY n.doc_id ORDER BY n.doc_id"""),
    QuerySpec("dedup_clusters_lsh", Scale10x, Golden,
      PlanDoc("pointer-jumping CC on the graph kernel over capped LSH edges: one job per round, its changed-node count; result is a checkpointed scan"))((s, dir) => {
      // The AT-SCALE clustering composition: connected components over
      // the CAPPED MinHash-LSH pair set (the MinHash kernel's capped
      // buckets) — what you actually run at 100 TB, where the exact-pair
      // variant above is the sampled recall oracle.
      val pairs = Dedup.minhashNearDups(t(s, dir, "documents"), "text", "doc_id",
        shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.3)
      Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    })(
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
         GROUP BY n.doc_id ORDER BY n.doc_id"""),
    QuerySpec("dedup_minhash_lsh", Headline, Scale10x, Golden,
      PlanDoc("MinHash kernel: band buckets combined map-side into capped member lists, candidate pairs and a co-partitioned exact-Jaccard verify in one job; text never shuffles, no Catalyst join"))((s, dir) =>
      Dedup.minhashNearDups(t(s, dir, "documents"), "text", "doc_id",
          shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.3)
        .select(col("id_a"), col("id_b"), rd(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b"))(minhashLshOracleSql),
    QuerySpec("dedup_containment", Scale10x, Golden,
      PlanDoc("the same MinHash kernel as dedup_minhash_lsh, scoring |A∩B|/min in its co-partitioned verify"))((s, dir) =>
      // Same banded candidates as dedup_minhash_lsh, verified with
      // MAX-CONTAINMENT |A∩B|/min(|A|,|B|) — the embeds-the-other
      // metric (Gopher-style) symmetric Jaccard under-scores.
      Dedup.containmentNearDups(t(s, dir, "documents"), "text", "doc_id",
          shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.5)
        .select(col("id_a"), col("id_b"), rd(col("containment"), 6).as("containment"))
        .orderBy("id_a", "id_b"))(containmentOracleSql),
    QuerySpec("dedup_incremental", Scale10x, Golden)((s, dir) => {
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
          shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.3)
        // Batch-1's commit is overlapped behind batch-2's within-batch
        // candidate build (guide §2.6; r15): the build depends only on
        // b2, the commit only writes the index, and the operator
        // barriers before its first index read — computes exactly what
        // the sequential { commit(s1); incrementalMinhash(b2) } did.
        val s2 = Dedup.incrementalMinhashOverlapping(b2, "text", "doc_id", idx,
          shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.3) { () =>
          Dedup.commitMinhash(s1, "text", "doc_id", idx,
            shingleSize = 3, numHashes = 128, bands = 32)
        }
        s1.select(col("doc_id"), lit(1).as("batch"))
          .union(s2.select(col("doc_id"), lit(2).as("batch")))
          .orderBy("doc_id")
      } finally org.apache.commons.io.FileUtils.deleteDirectory(idxDir.toFile)
    })({
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
    }),
    QuerySpec("dedup_simhash", Scale10x, Golden)((s, dir) =>
      Dedup.simhashNearDups(t(s, dir, "documents"), "text", "doc_id", maxHamming = 8)
        .orderBy("id_a", "id_b"))(simhashOracleSql),
    QuerySpec("dedup_embed_lsh", Scale10x, Golden,
      PlanDoc("capped hyperplane buckets, vectors rejoin per candidate"))((s, dir) =>
      Dedup.embeddingNearDups(t(s, dir, "embeddings"), "embedding", "vec_id",
          dim = 64, threshold = 0.4, nPlanes = 8, nTables = 8)
        .select(col("id_a"), col("id_b"), rd(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b"))(embedLshOracleSql),
    QuerySpec("dedup_semantic", Scale10x, Golden,
      PlanDoc("narrow literal-matrix cell assignment, slim within-cell self-join, keep-lowest-id anti-join"))((s, dir) =>
      // SemDeDup: k-means cells + within-cell cosine pruning, keep the
      // lowest-id representative. Deterministic portable-seed variant
      // (lloydIters = 0) so the oracle replays the full pipeline; the
      // k-means path keeps its behavior tests in DedupSpec.
      Dedup.semanticDedup(t(s, dir, "embeddings"), "embedding", "vec_id",
          nCells = 8, threshold = 0.4, lloydIters = 0)
        .orderBy("id"))(dedupSemanticOracleSql),
    QuerySpec("dedup_url")((s, dir) => {
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
    })(
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
         FROM c3 GROUP BY canonical_url ORDER BY canonical_url"""),
    QuerySpec("dedup_hamming_pairs", Scale10x, Golden,
      PlanDoc("8-byte signatures banded into slim (id,band,key) rows; capped buckets; bit_count verify"))((s, dir) => {
      // Signature-agnostic banded-Hamming near-dup (the core behind
      // perceptual image dedup): 48 packed sign bits per embedding as
      // the stand-in fingerprint, 6 bands × 8 bits, bit_count verify.
      // A perceptual image hash would feed the SAME operator.
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
      val planes = Seq(Dedup.randomPlanes(48, 64, Dedup.DefaultSeed))
      val sigs = t(s, dir, "embeddings").select(col("vec_id").as("id"),
        element_at(column(graft.plans.HyperplaneBuckets(
          expression(col("embedding").cast("array<double>")), planes)), 1).as("sig"))
      Dedup.hammingNearDups(sigs, "sig", "id", nBits = 48, bands = 6, maxHamming = 11)
        .orderBy("id_a", "id_b")
    })(dedupHammingOracleSql),
    QuerySpec("dedup_winnowing", Scale10x, Golden)((s, dir) => {
      // MOSS matching: pairs sharing >= 2 winnowing fingerprints,
      // capped-bucket equi-join over slim (doc, hash) rows.
      TextAnalysis.winnowingPairs(t(s, dir, "documents"), "doc_id", "text",
          gramSize = 5, w = 4, minShared = 2, maxBucketSize = 50)
        .orderBy("id_a", "id_b")
    })(
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
         ORDER BY id_a, id_b"""),
    QuerySpec("dedup_winnowing_clusters", Scale10x, Golden)((s, dir) => {
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
    })(
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
         GROUP BY n.doc_id ORDER BY n.doc_id"""),
    QuerySpec("dedup_edit_distance", Headline, Scale10x, Golden,
      PlanDoc("LSH candidates with (id,len,band,key) rows; length pre-filter before text joins; bounded levenshtein"))((s, dir) =>
      // MinHash-LSH candidates (same portable chain as
      // dedup_minhash_lsh) verified by BOUNDED levenshtein over the
      // raw text — the character-edit notion of near-duplicate.
      Dedup.editDistanceNearDups(t(s, dir, "documents"), "text", "doc_id",
          maxDist = 32, shingleSize = 3, numHashes = 128, bands = 32)
        .orderBy("id_a", "id_b"))(
      s"""WITH ${minhashChain("ed_", "")},
         edl AS (SELECT doc_id, text, length(text) AS len FROM documents),
         edp AS (SELECT c.id_a, c.id_b, levenshtein(a.text, b.text) AS dist
           FROM ed_cand c
           JOIN edl a ON a.doc_id = c.id_a
           JOIN edl b ON b.doc_id = c.id_b
           WHERE abs(a.len - b.len) <= 32)
         SELECT id_a, id_b, CAST(dist AS INTEGER) AS dist FROM edp
         WHERE dist <= 32 ORDER BY id_a, id_b"""),
    QuerySpec("dedup_cluster_quality", Scale10x, Golden,
      PlanDoc("one graph kernel reads the pair set once for CC + triangles; node-sized stats join, cluster-keyed rollup, integer-exact verdicts"))((s, dir) => {
      // Actionable rollup of the triangle signal: per near-dup
      // cluster, size/edges/density/mean-clustering and an
      // integer-exact clique/chain/mixed verdict — "collapse this
      // cluster" vs "re-verify before collapsing".
      val pairs = Dedup.minhashNearDups(t(s, dir, "documents"), "text", "doc_id",
        shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.3)
      graft.operators.Graphs.clusterQuality(pairs)
        .orderBy("cluster_id")
    })(
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
         FROM qagg ORDER BY cluster_id"""),
    QuerySpec("dedup_triangles", Scale10x, Golden,
      PlanDoc("degree-ordered node iterator on the graph kernel over the capped LSH edge set — O(m^1.5), one job; round lineage audited in PlanAuditSpec"))((s, dir) => {
      // Clique QA over the capped LSH near-dup graph: per-node
      // triangle count + clustering coefficient. Clustering ~1 means
      // a genuine mutual-duplicate clique; a big cluster of
      // low-clustering nodes was merged by transitive chains — the
      // LSH over-merge signature connectedComponents can't see.
      // Degree-ordered node-iterator: O(m^1.5) exact, per-node counts
      // orientation-invariant so the id-ordered oracle matches.
      val pairs = Dedup.minhashNearDups(t(s, dir, "documents"), "text", "doc_id",
        shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.3)
      graft.operators.Graphs.triangleStats(pairs)
        .select(col("node").as("doc_id"), col("degree"),
          col("n_triangles"), col("clustering"))
        .orderBy("doc_id")
    })(
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
         FROM tdeg LEFT JOIN tpn USING (node) ORDER BY doc_id"""),
    QuerySpec("dedup_band_profile", Scale10x, Golden)((s, dir) =>
      // Text-side LSH advisor: per-band bucket occupancy + the exact
      // candidate work the minhash dedup's candidate join will pay —
      // shows which bands carry hot (degenerate/boilerplate) buckets
      // and what the cap is dropping, before the corpus-scale run.
      Dedup.minhashBandProfile(t(s, dir, "documents"), "text", "doc_id",
        shingleSize = 3, numHashes = 128, bands = 32))(
      s"""WITH $minhashLshCtes,
         bpf AS (SELECT band, key, CAST(count(*) AS BIGINT) AS m
           FROM mh_buckets GROUP BY band, key)
         SELECT CAST(band AS INTEGER) AS band, CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(m) AS BIGINT) AS n_docs, max(m) AS max_occupancy,
           ${roundToSql("CAST(sum(m) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)} AS avg_occupancy,
           CAST(sum(CASE WHEN m > 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_over_cap,
           CAST(sum(CASE WHEN m <= 1000 THEN m * (m - 1) // 2 ELSE 0 END) AS BIGINT) AS candidate_pairs
         FROM bpf GROUP BY band ORDER BY band"""),
    QuerySpec("dedup_recall_profile", Scale10x, Golden)((s, dir) =>
      // The recall half of the band decision: per bands value, the
      // exact capped candidate work PLUS the measured fraction of
      // true near-dup pairs (exact Jaccard >= 0.3 on an 8-doc
      // portable-hash sample) the banding catches — the empirical
      // 1-(1-j^r)^b curve on the actual corpus, caps included.
      Dedup.minhashRecallProfile(t(s, dir, "documents"), "text", "doc_id",
        bandsList = Seq(8, 16, 32), shingleSize = 3, numHashes = 128,
        threshold = 0.3, sampleQ = 8))(
      dedupRecallProfileOracleSql(Seq(8, 16, 32), 128, 0.3, 8)),
    QuerySpec("graph_suite", Headline, Scale10x, Golden)((s, dir) => {
      // One-build-many-queries composition: the capped-LSH pair set
      // (the dominant cost) is built ONCE and feeds connected
      // components AND per-node triangle stats — the per-node
      // keep/collapse/re-verify frame, where running dedup_clusters_lsh
      // + dedup_triangles separately pays the candidate build twice.
      val pairs = Dedup.minhashNearDups(t(s, dir, "documents"), "text", "doc_id",
        shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.3)
      graft.operators.Graphs.graphSuite(pairs)
        .select(col("node").as("doc_id"), col("cluster_id"), col("degree"),
          col("n_triangles"), col("clustering"))
        .orderBy("doc_id")
    })(
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
         ORDER BY doc_id""")
  )
}
