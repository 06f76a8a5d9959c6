package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.{rd, t, events}
import graft.functions.MathFunctions.roundToSql
import graft.functions.VectorFunctions._
import graft.queries.QuerySpec._

/** TPC-H-style relational core: aggregation, joins, windows, set
  * operations, subqueries and the other generic SQL shapes over the
  * `q*` tables. */
object TpchQueries {

  private[graft] def joinMulti(s: SparkSession, dir: String): DataFrame = {
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

  val specs: Seq[QuerySpec] = Seq(
    // ---- relational core (SURVEY §2.5 generic surface) ----
    QuerySpec("q1_agg", Headline, PlanDoc("map-side partial aggregation before the exchange"))((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(rd(sum("l_quantity"), 2).as("sum_qty"),
             rd(sum("l_extendedprice"), 2).as("sum_base_price"),
             rd(avg("l_quantity"), 4).as("avg_qty"),
             rd(avg("l_discount"), 6).as("avg_disc"),
             count("*").as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    })(
      s"""SELECT l_returnflag, l_linestatus,
         ${roundToSql("sum(l_quantity)", 2)} AS sum_qty,
         ${roundToSql("sum(l_extendedprice)", 2)} AS sum_base_price,
         ${roundToSql("avg(l_quantity)", 4)} AS avg_qty,
         ${roundToSql("avg(l_discount)", 6)} AS avg_disc,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),
    QuerySpec("q2_filter_pushdown", PlanDoc("filter + projection reach the parquet scan"))((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") < to_timestamp(lit("1995-01-01")) && col("l_discount") > 0.05)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
        .orderBy("l_orderkey", "l_linenumber")
    })(
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
         FROM lineitem
         WHERE l_shipdate < TIMESTAMP '1995-01-01' AND l_discount > 0.05
         ORDER BY l_orderkey, l_linenumber"""),
    QuerySpec("q3_join_broadcast", PlanDoc("dimension join broadcasts, fact side never shuffles"))((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count("*").as("n_orders"), rd(sum("o_totalprice"), 2).as("revenue"))
        .orderBy("c_mktsegment")
    })(
      s"""SELECT c_mktsegment, count(*) AS n_orders, ${roundToSql("sum(o_totalprice)", 2)} AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
    QuerySpec("q4_join_multi", Headline)((s, dir) => joinMulti(s, dir))(
      s"""SELECT r_name, n_name,
         ${roundToSql("sum(l_extendedprice * (1.0 - l_discount))", 2)} AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name"""),
    QuerySpec("q5_sort_limit")((s, dir) => {
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
    })(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""),
    QuerySpec("q6_distinct")((s, dir) =>
      t(s, dir, "customer").select("c_mktsegment").distinct().orderBy("c_mktsegment"))(
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment"),
    QuerySpec("q7_window_rank", Headline)((s, dir) => {
      val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      t(s, dir, "customer")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("c_mktsegment", "rn", "c_custkey", "c_acctbal")
        .orderBy("c_mktsegment", "rn")
    })(
      """SELECT c_mktsegment, rn, c_custkey, c_acctbal FROM (
           SELECT c_mktsegment, c_custkey, c_acctbal,
             CAST(row_number() OVER (PARTITION BY c_mktsegment
               ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rn
           FROM customer) WHERE rn <= 3 ORDER BY c_mktsegment, rn"""),
    QuerySpec("q8_window_analytic")((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      t(s, dir, "orders")
        .withColumn("prev_price", lag("o_totalprice", 1).over(w))
        .withColumn("run_sum", rd(sum("o_totalprice")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
        .select("o_custkey", "o_orderkey", "o_totalprice", "prev_price", "run_sum")
        .orderBy("o_custkey", "o_orderkey")
    })(
      s"""SELECT o_custkey, o_orderkey, o_totalprice,
         lag(o_totalprice) OVER w AS prev_price,
         ${roundToSql("sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", 2)} AS run_sum
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey"""),
    QuerySpec("q9_intersect")((s, dir) => {
      t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k"))
        .intersect(t(s, dir, "orders").select(col("o_custkey").as("k")))
        .orderBy("k")
    })(
      """SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
         INTERSECT SELECT o_custkey FROM orders ORDER BY k"""),
    QuerySpec("q10_except")((s, dir) => {
      t(s, dir, "customer").select(col("c_custkey").as("k"))
        .except(t(s, dir, "orders").select(col("o_custkey").as("k")))
        .orderBy("k")
    })(
      """SELECT c_custkey AS k FROM customer
         EXCEPT SELECT o_custkey FROM orders ORDER BY k"""),
    QuerySpec("q11_semi_join")((s, dir) => {
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 200000.0)
      t(s, dir, "customer")
        .join(big, col("c_custkey") === big("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    })(
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_totalprice > 200000.0)
         ORDER BY c_custkey"""),
    QuerySpec("q12_anti_join")((s, dir) => {
      val o = t(s, dir, "orders")
      t(s, dir, "customer")
        .join(o, col("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey").orderBy("c_custkey")
    })(
      """SELECT c_custkey FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey"""),
    QuerySpec("q13_rollup")((s, dir) => {
      val agg = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count("*").as("n_cust"), rd(sum("c_acctbal"), 2).as("sum_bal"))
      // toDF cuts dataset lineage: rollup over a multi-join otherwise
      // trips the ambiguous-self-join check on the sort columns
      agg.toDF("r_name", "n_name", "n_cust", "sum_bal")
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
    })(
      s"""SELECT r_name, n_name, count(*) AS n_cust, ${roundToSql("sum(c_acctbal)", 2)} AS sum_bal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP(r_name, n_name)
         ORDER BY r_name NULLS FIRST, n_name NULLS FIRST"""),
    QuerySpec("q14_cube")((s, dir) => {
      t(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count("*").as("n"), rd(sum("o_totalprice"), 2).as("sum_price"))
        .toDF("o_orderstatus", "o_orderpriority", "n", "sum_price")
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    })(
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         ${roundToSql("sum(o_totalprice)", 2)} AS sum_price
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""),
    QuerySpec("q15_having")((s, dir) => {
      t(s, dir, "orders").groupBy("o_custkey").agg(count("*").as("n"))
        .filter(col("n") >= 8).orderBy("o_custkey")
    })(
      """SELECT o_custkey, count(*) AS n FROM orders
         GROUP BY o_custkey HAVING count(*) >= 8 ORDER BY o_custkey"""),
    QuerySpec("q16_scalar_subquery")((s, dir) => {
      val o = t(s, dir, "orders")
      val avgP = o.agg(avg("o_totalprice").as("ap"))
      o.crossJoin(broadcast(avgP)).filter(col("o_totalprice") > col("ap"))
        .agg(count("*").as("n_above"), rd(avg("o_totalprice"), 2).as("avg_above"))
    })(
      s"""SELECT count(*) AS n_above, ${roundToSql("avg(o_totalprice)", 2)} AS avg_above
         FROM orders WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)"""),
    QuerySpec("q17_in_subquery")((s, dir) => {
      val hot = t(s, dir, "lineitem").filter(col("l_quantity") >= 49.0).select(col("l_partkey"))
      val p = t(s, dir, "part")
      p.join(hot, p("p_partkey") === hot("l_partkey"), "left_semi")
        .select("p_partkey", "p_name").orderBy("p_partkey")
    })(
      """SELECT p_partkey, p_name FROM part
         WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49.0)
         ORDER BY p_partkey"""),
    QuerySpec("q18_string_funcs")((s, dir) => {
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
    })(
      """SELECT p_partkey, upper(p_name) AS up_name, substring(p_name, 1, 8) AS pre,
         CAST(length(p_name) AS INTEGER) AS name_len,
         concat_ws('#', p_brand, p_type) AS bt,
         lpad(CAST(p_size AS VARCHAR), 4, '0') AS padded,
         regexp_replace(p_name, '[aeiou]', '', 'g') AS novowels,
         reverse(p_name) AS rev
         FROM part ORDER BY p_partkey"""),
    QuerySpec("q19_date_funcs")((s, dir) => {
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dy"),
        quarter(col("o_orderdate")).as("qtr"),
        dayofweek(col("o_orderdate")).as("dow"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start")
      ).orderBy("o_orderkey")
    })(
      """SELECT o_orderkey,
         CAST(year(o_orderdate) AS INTEGER) AS yr,
         CAST(month(o_orderdate) AS INTEGER) AS mo,
         CAST(day(o_orderdate) AS INTEGER) AS dy,
         CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
         CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
         strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start
         FROM orders ORDER BY o_orderkey"""),
    QuerySpec("q20_case_agg")((s, dir) => {
      t(s, dir, "orders").groupBy("o_orderpriority").agg(
        count("*").as("n"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_f"),
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_o"),
        sum(when(col("o_orderstatus") === "P", 1L).otherwise(0L)).as("n_p"))
        .withColumn("f_ratio", rd(col("n_f").cast("double") / col("n"), 6))
        .orderBy("o_orderpriority")
    })(
      s"""SELECT o_orderpriority, count(*) AS n,
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
         CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
         CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
         ${roundToSql("CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS f_ratio
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    // ---- events (timestamps / streaming-equivalent batch) ----
    QuerySpec("q21_events_hourly")((s, dir) => {
      events(s, dir)
        .groupBy(col("event_type"),
          date_format(date_trunc("hour", col("tstamp")), "yyyy-MM-dd HH:mm").as("hour"))
        .agg(count("*").as("n"), rd(sum("value"), 4).as("sum_value"))
        .orderBy("event_type", "hour")
    })(
      s"""SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
         count(*) AS n, ${roundToSql("sum(value)", 4)} AS sum_value
         FROM events GROUP BY event_type, hour ORDER BY event_type, hour"""),
    QuerySpec("q22_events_lag")((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, dir)
        .withColumn("ms", expr("ts_us div 1000"))
        .withColumn("delta_ms", col("ms") - lag("ms", 1).over(w))
        .select("user_id", "event_id", "delta_ms")
        .orderBy("user_id", "event_id")
    })(
      """SELECT user_id, event_id,
         epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta_ms
         FROM events ORDER BY user_id, event_id"""),
    QuerySpec("q23_json_extract")((s, dir) => {
      events(s, dir).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
        .orderBy("event_id")
    })(
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
         FROM events ORDER BY event_id"""),
    // ---- arrays / embeddings scalar surface ----
    QuerySpec("q24_array_norms")((s, dir) => {
      val v = col("embedding").cast("array<double>")
      t(s, dir, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        rd(sqrt(sqNorm(v)), 6).as("l2_norm"),
        rd(aggregate(v, lit(0.0), (a, x) => a + x), 6).as("sum_vals")
      ).orderBy("vec_id")
    })(
      s"""SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
         ${roundToSql("sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x*x), (x, y) -> x + y))", 6)} AS l2_norm,
         ${roundToSql("list_reduce(embedding::DOUBLE[], (x, y) -> x + y)", 6)} AS sum_vals
         FROM embeddings ORDER BY vec_id"""),
    QuerySpec("q25_posexplode")((s, dir) => {
      t(s, dir, "embeddings").filter(col("vec_id") < 10)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos"), rd(col("col").cast("double"), 6).as("val"))
        .orderBy("vec_id", "pos")
    })(
      s"""SELECT vec_id, CAST(s.pos AS INTEGER) AS pos,
         ${roundToSql("CAST(s.val AS DOUBLE)", 6)} AS val
         FROM (SELECT vec_id, unnest(list_transform(range(1, len(embedding)+1),
               i -> struct_pack(pos := i - 1, val := embedding[CAST(i AS INTEGER)]))) AS s
               FROM embeddings WHERE vec_id < 10)
         ORDER BY vec_id, pos"""),
    QuerySpec("q39_full_outer")((s, dir) => {
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 300000.0)
        .groupBy("o_custkey")
        .agg(count("*").as("n_big"), rd(sum("o_totalprice"), 2).as("sum_big"))
      val rich = t(s, dir, "customer").filter(col("c_acctbal") > 9000.0)
        .select(col("c_custkey"), col("c_name"))
      rich.join(big, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_name"), col("n_big"), col("sum_big"))
        .orderBy("custkey")
    })(
      s"""WITH big AS (SELECT o_custkey, count(*) AS n_big,
           ${roundToSql("sum(o_totalprice)", 2)} AS sum_big
         FROM orders WHERE o_totalprice > 300000.0 GROUP BY o_custkey),
         rich AS (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 9000.0)
         SELECT coalesce(c_custkey, o_custkey) AS custkey, c_name, n_big, sum_big
         FROM rich FULL OUTER JOIN big ON c_custkey = o_custkey
         ORDER BY custkey"""),
    QuerySpec("q40_salted_join",
      PlanDoc("deterministic salt splits hot keys across reducers; result identical to the plain join"))((s, dir) => {
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
    })(
      s"""SELECT o_orderstatus, count(*) AS n,
           ${roundToSql("sum(l_quantity)", 2)} AS qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
    QuerySpec("q26_union_all")((s, dir) => {
      val o = t(s, dir, "orders").agg(count("*").as("n")).select(lit("orders").as("src"), col("n"))
      val c = t(s, dir, "customer").agg(count("*").as("n")).select(lit("customer").as("src"), col("n"))
      val l = t(s, dir, "lineitem").agg(count("*").as("n")).select(lit("lineitem").as("src"), col("n"))
      o.unionAll(c).unionAll(l).orderBy("src")
    })(
      """SELECT 'orders' AS src, count(*) AS n FROM orders
         UNION ALL SELECT 'customer', count(*) FROM customer
         UNION ALL SELECT 'lineitem', count(*) FROM lineitem
         ORDER BY src"""),
    QuerySpec("q28_asof_join")((s, dir) => {
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
    })(
      """WITH l AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
         r AS (SELECT user_id, ts, event_id AS view_event_id, value AS view_value
               FROM events WHERE event_type = 'view')
         SELECT l.user_id, l.event_id, r.view_event_id, r.view_value
         FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY l.event_id"""),
    QuerySpec("q29_range_join")((s, dir) => {
      // Bucketized range join: click↔view pairs within ±60s per user.
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click").select("user_id", "ts_us", "event_id")
      val views = ev.filter(col("event_type") === "view").select("user_id", "ts_us", "event_id")
      graft.operators.Joins.rangeJoin(clicks, views, Seq("user_id"), "ts_us",
          before = 60L * 1000000L, after = 60L * 1000000L,
          granularity = 60L * 1000000L)
        .select(col("event_id").as("click_id"), col("r_event_id").as("view_id"))
        .orderBy("click_id", "view_id")
    })(
      """WITH l AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
         r AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view')
         SELECT l.event_id AS click_id, r.event_id AS view_id
         FROM l JOIN r ON l.user_id = r.user_id
           AND r.ts >= l.ts - INTERVAL 60 SECOND AND r.ts <= l.ts + INTERVAL 60 SECOND
         ORDER BY click_id, view_id"""),
    QuerySpec("q30_percentiles")((s, dir) => {
      t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        rd(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
        rd(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
        rd(expr("percentile(l_quantity, 0.75)"), 4).as("p75"),
        rd(expr("percentile(l_extendedprice, 0.9)"), 2).as("price_p90"))
        .orderBy("l_returnflag")
    })(
      s"""SELECT l_returnflag,
         ${roundToSql("quantile_cont(l_quantity, 0.25)", 4)} AS p25,
         ${roundToSql("quantile_cont(l_quantity, 0.5)", 4)} AS p50,
         ${roundToSql("quantile_cont(l_quantity, 0.75)", 4)} AS p75,
         ${roundToSql("quantile_cont(l_extendedprice, 0.9)", 2)} AS price_p90
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    QuerySpec("q31_stats_aggs")((s, dir) => {
      t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        rd(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
        rd(var_samp(col("l_quantity")), 6).as("var_qty"),
        rd(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
        rd(covar_samp(col("l_quantity"), col("l_discount")), 6).as("cov_qd"))
        .orderBy("l_returnflag")
    })(
      s"""SELECT l_returnflag,
         ${roundToSql("stddev_samp(l_quantity)", 6)} AS sd_qty,
         ${roundToSql("var_samp(l_quantity)", 6)} AS var_qty,
         ${roundToSql("corr(l_quantity, l_extendedprice)", 6)} AS corr_qp,
         ${roundToSql("covar_samp(l_quantity, l_discount)", 6)} AS cov_qd
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    QuerySpec("q32_sessionize_batch")((s, dir) => {
      // Batch gap sessionization: session bumps when the gap > 300 s.
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
    })(
      """WITH g AS (SELECT user_id, event_id, ts,
           epoch_ms(ts) - lag(epoch_ms(ts)) OVER w AS gap_ms
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT user_id, event_id,
           CAST(sum(CASE WHEN gap_ms IS NULL OR gap_ms > 300000 THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         FROM g ORDER BY user_id, event_id"""),
    QuerySpec("q33_count_distinct")((s, dir) => {
      events(s, dir).groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"),
             count("*").as("n_events"))
        .orderBy("event_type")
    })(
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
         FROM events GROUP BY event_type ORDER BY event_type"""),
    QuerySpec("q34_null_funcs")((s, dir) => {
      t(s, dir, "orders").select(
        col("o_orderkey"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status_or_open"),
        when(col("o_totalprice") > 100000.0, col("o_totalprice")).as("big_price"),
        greatest(col("o_totalprice"), lit(50000.0)).as("floored"),
        least(col("o_custkey"), col("o_orderkey")).as("min_key"))
        .orderBy("o_orderkey")
    })(
      """SELECT o_orderkey,
         coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_or_open,
         CASE WHEN o_totalprice > 100000.0 THEN o_totalprice END AS big_price,
         greatest(o_totalprice, 50000.0) AS floored,
         least(o_custkey, o_orderkey) AS min_key
         FROM orders ORDER BY o_orderkey"""),
    QuerySpec("q35_array_ops")((s, dir) => {
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
    })(
      s"""SELECT vec_id,
         ${roundToSql("list_max(embedding::DOUBLE[])", 6)} AS vmax,
         ${roundToSql("list_min(embedding::DOUBLE[])", 6)} AS vmin,
         ${roundToSql("(embedding::DOUBLE[])[1]", 6)} AS first_el,
         ${roundToSql("(embedding::DOUBLE[])[-1]", 6)} AS last_el,
         CAST(len(list_filter(embedding::DOUBLE[], x -> x > 0.0)) AS INTEGER) AS n_pos,
         ${roundToSql("list_sort(embedding::DOUBLE[])[1]", 6)} AS sorted_first
         FROM embeddings WHERE vec_id < 50 ORDER BY vec_id"""),
    QuerySpec("q36_grouping_sets")((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql(s"""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")
    })(
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""),
    QuerySpec("q37_range_frame")((s, dir) => {
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
    })(
      s"""SELECT o_custkey, o_orderkey,
         ${roundToSql("sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY epoch_ms(o_orderdate) RANGE BETWEEN 604800000 PRECEDING AND CURRENT ROW)", 2)} AS trailing_7d
         FROM orders ORDER BY o_custkey, o_orderkey"""),
    QuerySpec("q38_pivot")((s, dir) => {
      t(s, dir, "orders").groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P")).count()
        .orderBy("o_orderpriority")
    })(
      """SELECT o_orderpriority,
         nullif(CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT), 0) AS F,
         nullif(CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT), 0) AS O,
         nullif(CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT), 0) AS P
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    QuerySpec("q27_window_funcs")((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("dr", dense_rank().over(w))
        .withColumn("next_key", lead("o_orderkey", 1).over(w))
        .withColumn("quartile", ntile(4).over(w))
        .select("o_custkey", "o_orderkey", "dr", "next_key", "quartile")
        .orderBy("o_custkey", "o_orderkey")
    })(
      """SELECT o_custkey, o_orderkey,
         CAST(dense_rank() OVER w AS INTEGER) AS dr,
         lead(o_orderkey) OVER w AS next_key,
         CAST(ntile(4) OVER w AS INTEGER) AS quartile
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
         ORDER BY o_custkey, o_orderkey""")
  )
}
