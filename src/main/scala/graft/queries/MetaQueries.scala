package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.t
import graft.functions.MathFunctions.roundToSql
import graft.queries.QuerySpec._

/** Metadata (`meta_*`) and multimodal (`mm_*`) queries: table profiles,
  * upserts, diffs, layout and integrity checks, and media metadata. */
object MetaQueries {

  val specs: Seq[QuerySpec] = Seq(
    // ---- multimodal binary plumbing ----
    QuerySpec("mm_binary_meta")((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        octet_length(col("text")).as("n_bytes"),
        md5(col("text").cast("binary")).as("payload_md5"))
        .orderBy("doc_id")
    })(
      """SELECT doc_id, CAST(strlen(text) AS INTEGER) AS n_bytes, md5(text) AS payload_md5
         FROM documents ORDER BY doc_id"""),
    QuerySpec("mm_image_meta", Headline)((s, dir) => {
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
    })(
      """SELECT doc_id, CAST(NULL AS INTEGER) AS width, CAST(NULL AS INTEGER) AS height,
         CAST(strlen(text) AS INTEGER) AS n_bytes, 'decode failed' AS decode_error
         FROM documents ORDER BY doc_id"""),
    QuerySpec("meta_profile",
      PlanDoc("one aggregation pass; multi-distinct via Expand; collected row is schema-sized"))((s, dir) => {
      // ANALYZE-style per-column profile of orders: exact counts from
      // ONE aggregation pass, type-appropriate min/max (numeric as
      // double, timestamp via explicit second-precision format).
      graft.operators.Maintenance.profileTable(t(s, dir, "orders"))
        .orderBy("col_name")
    })({
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
    }),
    QuerySpec("meta_upsert")((s, dir) => {
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
    })(
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
         ORDER BY o_orderkey"""),
    QuerySpec("meta_correlations")((s, dir) =>
      // One-pass Pearson matrix over the lineitem measures via exact
      // decimal moments (order-immune) + fixed-shape double formula.
      graft.operators.Maintenance.correlationMatrix(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")))({
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
    }),
    QuerySpec("meta_zorder")((s, dir) =>
      // Morton key over (custkey, orderkey): the clustering key
      // zOrderWrite range-partitions on; pure codegen'd bit math.
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          graft.operators.Maintenance.zOrderValue(
            pmod(col("o_custkey"), lit(65536L)),
            pmod(col("o_orderkey"), lit(65536L)), bits = 16).as("zval"))
        .orderBy("o_orderkey"))(
      """SELECT o_orderkey, list_reduce(list_transform(range(0, 16), i ->
           (((o_custkey % 65536) >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i))
           + (((o_orderkey % 65536) >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i + 1))),
           (a, b) -> a + b) AS zval
         FROM orders ORDER BY o_orderkey"""),
    QuerySpec("meta_diff")((s, dir) => {
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
    })(
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
         WHERE diff_status IS NOT NULL ORDER BY o_orderkey"""),
    QuerySpec("meta_skew_stats")((s, dir) =>
      // Join-key skew advisor over lineitem's order key: one
      // map-side-combined count, exact integer summary, one row out.
      graft.operators.Maintenance.keySkewProfile(
        t(s, dir, "lineitem"), Seq("l_orderkey"), topK = 10))(
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
         FROM sk_a CROSS JOIN sk_t"""),
    QuerySpec("meta_integrity",
      PlanDoc("distinct parent keys → LeftAnti orphan counts per relation; scalar one-row cross joins broadcast"))((s, dir) => {
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
    })({
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
    })
  )
}
