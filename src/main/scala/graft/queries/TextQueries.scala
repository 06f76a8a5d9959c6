package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.{t, duckHex60, minhashLshCtes, minhashChain, enList, qualityMetricsBody,
  qualityScoreExpr}
import graft.functions.TextFunctions
import graft.functions.MathFunctions.roundToSql
import graft.functions.UrlFunctions
import graft.operators.{Dedup, TextAnalysis}
import graft.queries.QuerySpec._

/** Text curation (`txt_*`): tokens, language and quality scores, n-gram
  * and substring deduplication, decontamination and corpus statistics. */
object TextQueries {

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

  private val esList = TextFunctions.esStopwords.mkString("['", "', '", "']")

  private val deList = TextFunctions.deStopwords.mkString("['", "', '", "']")

  private val frList = TextFunctions.frStopwords.mkString("['", "', '", "']")

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("txt_decontaminate")((s, dir) => {
      // Benchmark decontamination: docs sharing any 5-gram with the
      // "eval set" (doc_id < 20) are removed — training-data hygiene.
      val docs = t(s, dir, "documents")
      Dedup.decontaminate(docs, docs.filter(col("doc_id") < 20), "text", "doc_id", 5)
        .select("doc_id").orderBy("doc_id")
    })(
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
         WHERE doc_id NOT IN (SELECT doc_id FROM contam) ORDER BY doc_id"""),
    QuerySpec("txt_tokens", Headline)((s, dir) => {
      TextAnalysis.tokenStats(t(s, dir, "documents"), "text")
        .select("doc_id", "n_tokens", "n_bpeish_tokens", "n_chars_computed")
        .orderBy("doc_id")
    })(
      """SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS INTEGER) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS INTEGER) AS n_bpeish_tokens,
         CAST(length(text) AS INTEGER) AS n_chars_computed
         FROM documents ORDER BY doc_id"""),
    QuerySpec("txt_quality", Headline)((s, dir) => {
      TextAnalysis.quality(t(s, dir, "documents"), "text")
        .select("doc_id", "punct_ratio", "stopword_ratio", "quality_score")
        .orderBy("doc_id")
    })(
      s"""WITH t AS (SELECT doc_id, text,
           regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents),
         m AS (SELECT doc_id,
           $qualityMetricsBody
         FROM t)
         SELECT doc_id, ${roundToSql("pr", 6)} AS punct_ratio, ${roundToSql("sr", 6)} AS stopword_ratio,
           $qualityScoreExpr AS quality_score
         FROM m ORDER BY doc_id"""),
    QuerySpec("txt_langid")((s, dir) => {
      TextAnalysis.withLangId(t(s, dir, "documents"), "text")
        .select("doc_id", "lang_pred").orderBy("doc_id")
    })(
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
         FROM h ORDER BY doc_id"""),
    QuerySpec("txt_fingerprint")((s, dir) => {
      TextAnalysis.fingerprints(t(s, dir, "documents"), "text")
        .select("doc_id", "fingerprint", "rolling_hash").orderBy("doc_id")
    })(
      """SELECT doc_id,
         md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ''),
               c -> CAST(ascii(c) AS BIGINT))),
           (acc, c) -> (acc * 131 + c) % 1125899906842597) AS rolling_hash
         FROM documents ORDER BY doc_id"""),
    QuerySpec("txt_packing", PlanDoc("distributed two-pass prefix sum (no global window)"))((s, dir) => {
      // Sequence packing for LLM training: assign each document to the
      // token-budget pack in which it starts (budget 2048), via the
      // DISTRIBUTED two-pass running token count (range shuffle +
      // broadcast prefix offsets) — no single-partition window.
      TextAnalysis.packSequences(t(s, dir, "documents"), "doc_id", "text", 2048)
        .select(col("doc_id"), col("n_tokens").cast("int").as("n_tokens"), col("pack_id"))
        .orderBy("doc_id")
    })(
      """WITH t AS (SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens
         FROM documents),
         c AS (SELECT doc_id, n_tokens,
           sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM t)
         SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
           CAST(floor((cum - n_tokens) / 2048) AS BIGINT) AS pack_id
         FROM c ORDER BY doc_id"""),
    QuerySpec("txt_split", PlanDoc("pure narrow map: portable-hash split assignment"))((s, dir) => {
      // Deterministic train/val/test assignment by portable id hash —
      // THE 100 TB split mechanism: stable across runs/engines, no
      // sampling state, any engine reproduces the same membership.
      val h = pmod(Dedup.portableHash60(col("doc_id").cast("string")), lit(100))
      t(s, dir, "documents").select(col("doc_id"),
          when(h < 80, "train").when(h < 90, "val").otherwise("test").as("split"))
        .orderBy("doc_id")
    })(
      s"""SELECT doc_id,
         CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id, ${duckHex60("CAST(doc_id AS VARCHAR)")} % 100 AS h
               FROM documents)
         ORDER BY doc_id"""),
    QuerySpec("txt_canonical", Headline, Scale10x, Golden,
      PlanDoc("capped LSH → pointer-jumping CC on the graph kernel → per-cluster row_number keyed by bounded cluster ids"))((s, dir) => {
      // Canonical selection: for each near-dup cluster (capped LSH
      // pairs ≥ 0.3 → connected components) keep the HIGHEST-quality
      // member (ties → lowest doc_id); singletons are their own
      // canonical. The "which duplicate do we train on" step that
      // follows clustering in a real curation stack.
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashNearDups(docs, "text", "doc_id",
        shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.3)
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
    })(
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
         FROM wc JOIN canon USING (cl) ORDER BY wc.doc_id"""),
    QuerySpec("txt_scrub")((s, dir) => {
      // PII scrubbing audit: scrubbed text fingerprint + placeholder
      // count (emails/URLs/IPv4 → typed tokens; parity-safe ASCII
      // regex classes so any RE2/Java engine agrees byte-for-byte).
      t(s, dir, "documents").select(
        col("doc_id"),
        md5(TextFunctions.scrubPii(col("text"))).as("scrubbed_md5"),
        TextFunctions.piiCount(col("text")).as("n_pii"))
        .orderBy("doc_id")
    })(
      s"""WITH s AS (SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
             '${TextFunctions.UrlPattern}', '<URL>', 'g'),
             '${TextFunctions.EmailPattern}', '<EMAIL>', 'g'),
             '${TextFunctions.Ipv4Pattern}', '<IP>', 'g') AS scrubbed
         FROM documents)
         SELECT doc_id, md5(scrubbed) AS scrubbed_md5,
           CAST(len(regexp_extract_all(scrubbed, '<URL>|<EMAIL>|<IP>')) AS INTEGER) AS n_pii
         FROM s ORDER BY doc_id"""),
    QuerySpec("txt_repetition", PlanDoc("two keyed partial aggregations + broadcast of the tiny result"))((s, dir) => {
      // Gopher-style repetition quality signals: most-frequent-token
      // fraction + duplicated word-2-gram fraction.
      TextAnalysis.repetition(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    })(
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
         ORDER BY t.doc_id"""),
    QuerySpec("txt_curation", Scale10x, Golden,
      PlanDoc("MinHash-kernel near-dup losers anti-joined against codegen'd lang/quality scores"))((s, dir) => {
      // End-to-end curation: language filter + quality threshold +
      // near-dup removal (keep the smallest doc_id of each near-dup
      // cluster). The composed form of the text-analysis + dedup
      // operators — the LLM-training-data use case in one plan.
      // Near-dup step is the CAPPED MinHash-LSH path (the at-scale
      // plan: the MinHash kernel, skew cap), not the exact n-gram
      // join whose hot-shingle buckets go quadratic at 100 TB; the
      // exact form remains its own oracle query (dedup_ngram_jaccard).
      val docs = t(s, dir, "documents")
      val scored = TextAnalysis.quality(TextAnalysis.withLangId(docs, "text"), "text")
      val dupLosers = Dedup.minhashNearDups(docs, "text", "doc_id",
          shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.5)
        .select(col("id_b").as("doc_id")).distinct()
      scored
        .filter(col("lang_pred") === "en" && col("quality_score") >= 0.5)
        .join(dupLosers, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang_pred", "quality_score")
        .orderBy("doc_id")
    })(
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
         ORDER BY doc_id"""),
    QuerySpec("txt_fuzzy_decontaminate", Scale10x, Golden,
      PlanDoc("cross-corpus band join (corpus buckets vs benchmark buckets); capped; exact-Jaccard verify"))((s, dir) => {
      // FUZZY decontamination: corpus docs (doc_id >= 20) whose n-gram
      // Jaccard vs any eval doc (doc_id < 20) reaches 0.3 are removed
      // — the near-dup form of txt_decontaminate, catching the edited
      // benchmark copies exact shingle overlap misses. Cross-corpus
      // MinHash band join, exact-Jaccard verify.
      val docs = t(s, dir, "documents")
      Dedup.minhashDecontaminate(docs.filter(col("doc_id") >= 20),
          docs.filter(col("doc_id") < 20), "text", "doc_id",
          shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.3)
        .select("doc_id").orderBy("doc_id")
    })(fuzzyDecontaminateOracleSql),
    QuerySpec("txt_chunk_dedup",
      PlanDoc("agg+join chunk dedup — no window over the (skew-prone) chunk key"))((s, dir) => {
      // Sub-document exact dedup (Lee et al. 2022): flag every
      // 3-token chunk occurrence that repeats an earlier one
      // (globally, by (doc, position) order). Agg+join formulation —
      // no window over the chunk key, so a hot boilerplate chunk
      // cannot pile into one task at scale.
      TextAnalysis.chunkDedup(t(s, dir, "documents"), "doc_id", "text", chunkSize = 3)
        .orderBy("doc_id")
    })(
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
         FROM documents d LEFT JOIN pd USING (doc_id) ORDER BY doc_id"""),
    QuerySpec("txt_c4_filters")((s, dir) => {
      // C4/Gopher document-filter flags: each heuristic its own
      // boolean column + composite keep. Pure codegen'd scan.
      TextAnalysis.c4Filters(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    })(
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
         FROM m ORDER BY doc_id"""),
    QuerySpec("txt_html_extract")((s, dir) => {
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
    })(htmlExtractOracleSql),
    QuerySpec("txt_substring_dedup",
      PlanDoc("gram occurrences shuffle as 8-byte hashes; islands window keyed by DOC, not the gram hash"))((s, dir) => {
      // Exact substring-duplication spans (Lee et al. 2022): every
      // overlapping 5-gram hashed, duplicated positions merged into
      // MAXIMAL spans per doc (gaps-and-islands; window key = doc).
      TextAnalysis.substringDedup(t(s, dir, "documents"), "doc_id", "text", gramSize = 5)
        .orderBy("doc_id")
    })(
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
         FROM ng LEFT JOIN pd USING (doc_id) ORDER BY ng.doc_id"""),
    QuerySpec("txt_substring_strip",
      PlanDoc("window-free removal: removed indices collapse to one array row per doc, text rebuilt scan-side"))((s, dir) => {
      // The REMOVE step of ExactSubstr dedup: every duplicated 5-gram
      // window keeps only its global first occurrence; text rebuilt
      // scan-side from the removed-index array (no token shuffle).
      TextAnalysis.substringStrip(t(s, dir, "documents"), "doc_id", "text", gramSize = 5)
        .orderBy("doc_id")
    })(
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
         FROM t LEFT JOIN ra USING (doc_id) ORDER BY t.doc_id"""),
    QuerySpec("txt_lm_score",
      PlanDoc("bigram/unigram count tables as slim keyed joins; vocab scalar broadcast"))((s, dir) => {
      // CCNet-style fluency scoring against the corpus's own add-one
      // bigram table; per-bigram probabilities quantized to integers
      // before the per-doc mean, so the aggregate is order-immune.
      TextAnalysis.lmScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    })(
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
         FROM documents d LEFT JOIN pd USING (doc_id) ORDER BY d.doc_id"""),
    QuerySpec("txt_classifier",
      PlanDoc("weight table baked into the plan as literals; hashed features scored inside the row — no Generate, no join, no data-side shuffle"))((s, dir) => {
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
    })(
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
         FROM nf LEFT JOIN pd USING (doc_id) ORDER BY nf.doc_id"""),
    QuerySpec("txt_keywords", Scale10x,
      PlanDoc("tf/df map-side combined; corpus size broadcast; the only window keys by DOC, bounded per doc"))((s, dir) => {
      // TF-IDF keyword extraction: top-5 terms per doc; idf quantized
      // to 1e-6 integers per TERM (safe magnitude for cross-engine
      // ln), score an exact integer product, term-string tiebreak.
      TextAnalysis.tfidfKeywords(t(s, dir, "documents"), "doc_id", "text", k = 5)
        .orderBy("doc_id", "rank")
    })(
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
         FROM rk WHERE rank <= 5 ORDER BY doc_id, rank"""),
    QuerySpec("txt_entropy",
      PlanDoc("tokens shuffle as 8-byte hashes; (doc,hash) counts map-side combined; no window"))((s, dir) => {
      // Token Shannon entropy per doc (information-density quality
      // gate): per-term 1e-6-quantized integers → exact sums.
      TextAnalysis.tokenEntropy(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    })(
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
         ORDER BY d.doc_id"""),
    QuerySpec("txt_ccnet_buckets", Scale10x,
      PlanDoc("per-language thresholds from bin-bounded histogram windows, broadcast back to the doc scan"))((s, dir) => {
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
    })(
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
         FROM lm JOIN thr USING (lang) ORDER BY lm.doc_id"""),
    QuerySpec("txt_winnowing")((s, dir) => {
      // MOSS winnowing fingerprints: rightmost-min gram hash per
      // sliding window — all scan-side, nothing shuffles.
      TextAnalysis.winnowing(t(s, dir, "documents"), "doc_id", "text",
          gramSize = 5, w = 4)
        .orderBy("doc_id")
    })(
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
         FROM fp ORDER BY doc_id"""),
    QuerySpec("txt_novelty", Scale10x,
      PlanDoc("grams shuffle as 8-byte portable hashes; two aggregations, never rejoined on the gram key"))((s, dir) =>
      // N-gram novelty: fraction of a doc's distinct 3-gram shingles
      // whose first corpus occurrence (min doc_id) is this doc — the
      // aggregate contribution signal data-pruning runs beside
      // pairwise dedup.
      TextAnalysis.ngramNovelty(t(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy("doc_id"))(
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
         FROM nv_doc ORDER BY doc_id"""),
    QuerySpec("txt_domain_quality", Scale10x,
      PlanDoc("checkpointed result (one text scan via persisted slim frame); shape audited on the checkpoint job's plan"))((s, dir) =>
      // Domain-level curation rollup (RefinedWeb/DCLM-style source
      // filter): per-source dup/short fractions via one two-level
      // aggregation, verdict broadcast back onto every doc
      // (tag-don't-drop).
      TextAnalysis.domainQuality(t(s, dir, "documents"), "doc_id", "source", "text")
        .orderBy("doc_id"))(
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
         FROM dq JOIN dw USING (source) ORDER BY dq.doc_id"""),
    QuerySpec("txt_pmi", Scale10x)((s, dir) =>
      // PMI collocations: top-50 token pairs by pointwise mutual
      // information over per-doc co-occurrence; per-doc token cap 20
      // (alphabetical — engine-portable), quantized single-ln score.
      TextAnalysis.pmiPairs(t(s, dir, "documents"), "doc_id", "text",
        minCount = 2, capPerDoc = 20, k = 50))(
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
         FROM pm_sc ORDER BY pmi_q DESC, a, b LIMIT 50"""),
    QuerySpec("txt_blocklist")((s, dir) => {
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
    })(
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
         FROM s ORDER BY doc_id"""),
    QuerySpec("txt_bm25")((s, dir) =>
      // BM25 top-20 for a 3-term query: only query-term postings
      // shuffle, stats broadcast, bounded top-k selection.
      TextAnalysis.bm25Search(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "window", "join"), k = 20))(
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
         FROM bm_sc ORDER BY sq DESC, doc_id LIMIT 20"""),
    QuerySpec("txt_inverted_index")((s, dir) =>
      // Bounded index build: exact df + the 8 lowest doc ids per
      // term via the k-bounded heap aggregate; no collect_list.
      TextAnalysis.invertedIndex(t(s, dir, "documents"), "doc_id", "text",
          maxPostings = 8, minDf = 5)
        .orderBy("term", "slot"))(
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
         ORDER BY g.term, r.slot"""),
    QuerySpec("txt_zipf", Scale10x,
      PlanDoc("checkpointed result (tokens shuffle as 8-byte hashes, bounded-heap top-N); shape audited on the checkpoint job's plan"))((s, dir) =>
      // Corpus Zipf slope + vocabulary stats: tokens shuffle as
      // 8-byte portable hashes, top-100 via bounded heaps,
      // exact-integer regression sums.
      TextAnalysis.zipfStats(t(s, dir, "documents"), "text", topN = 100))(
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
         FROM ztot CROSS JOIN zr"""),
    QuerySpec("txt_readability", Scale10x,
      PlanDoc("pure scan-side regex counters + fixed IEEE arithmetic — no keyed shuffle, no join, no window"))((s, dir) =>
      // Flesch reading ease per document: scan-side regex counters +
      // fixed IEEE arithmetic, banded on the quantized score.
      TextAnalysis.readability(t(s, dir, "documents"), "doc_id", "text"))(
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
         FROM rb2 ORDER BY doc_id"""),
    QuerySpec("txt_code_detect", Scale10x,
      PlanDoc("pure scan-side line/char signals, integer-exact thresholds — no keyed shuffle, no join, no window"))((s, dir) =>
      // Code-vs-prose router: line/char signals with integer-exact
      // thresholds, tag-don't-drop.
      TextAnalysis.codeDetect(t(s, dir, "documents"), "doc_id", "text"))(
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
         FROM cd ORDER BY doc_id"""),
    QuerySpec("txt_boilerplate", Scale10x,
      PlanDoc("lines shuffle as 8-byte hashes; distinct-before-count doc frequency; indexed array reassembly, no second text shuffle"))((s, dir) =>
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
        "doc_id", "text", minDocs = 3))(
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
         FROM bout ORDER BY doc_id""")
  )
}
