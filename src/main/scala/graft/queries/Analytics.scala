package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch analytics surface over the landed star schema (SURVEY §2.5-2.7).
  *
  * The reference lands a star schema precisely so "ClickHouse for
  * analytics" queries can run over it (`docker-compose.yml:98`,
  * `init_postgresql_data.sql:11-52`); these queries are that implied
  * surface, expressed Spark-first: declarative plans, broadcast-able dim
  * joins, partial aggregation before shuffles, windows only where
  * semantics demand a sort.
  *
  * Every aggregate uses exact DECIMAL accumulation (see [[queries.dec]])
  * so results are bitwise-stable across partition orderings and engines.
  */
object Analytics {

  val all: Seq[Q] = Seq(

    // ---- A: grouped aggregation with filter + column pushdown --------
    Q("q01_pricing_summary",
      (s, dir) => {
        t(s, dir, "lineitem")
          .filter(col("l_shipdate").cast("date") <= lit("1998-09-01"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            sum(dec("l_quantity")).cast("double").as("sum_qty"),
            sum(dec("l_extendedprice")).cast("double").as("sum_base_price"),
            // round the product-sums to money scale BEFORE the double
            // cast: the scale-6 charge sum passes 2^53 micro-units at
            // sf1.0 and the engines' decimal->double conversions then
            // differ by one ulp; at scale 2 the value is exact in both
            round(sum(dec("l_extendedprice") * dec(lit(1) - col("l_discount"))), 2)
              .cast("double").as("sum_disc_price"),
            round(sum(dec("l_extendedprice") * dec(lit(1) - col("l_discount"))
              * dec(lit(1) + col("l_tax"))), 2).cast("double").as("sum_charge"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
             |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_disc_price,
             |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2)) * CAST(1 + l_tax AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_charge,
             |  COUNT(*) AS count_order
             |FROM lineitem
             |WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-01'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ---- F: predicate + projection pushdown to the parquet scan ------
    Q("q02_filter_project",
      (s, dir) => {
        t(s, dir, "lineitem")
          .filter(col("l_quantity") >= 48 && col("l_discount").isNotNull &&
            col("l_extendedprice") > 50000.0)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
            "l_extendedprice")
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
             |FROM lineitem
             |WHERE l_quantity >= 48 AND l_discount IS NOT NULL AND l_extendedprice > 50000.0
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ---- 3-way join + agg + deterministic top-k ----------------------
    Q("q03_shipping_priority",
      (s, dir) => {
        val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        val ord = t(s, dir, "orders")
          .filter(col("o_orderdate").cast("date") < lit("1998-01-01"))
        val li = t(s, dir, "lineitem")
          .filter(col("l_shipdate").cast("date") >= lit("1996-01-01"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
            col("o_orderpriority"))
          .agg(sum(dec("l_extendedprice") * dec(lit(1) - col("l_discount")))
            .cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
             |  AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
             |GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
             |ORDER BY revenue DESC, l_orderkey
             |LIMIT 10""".stripMargin)),

    // ---- full star join: dims broadcast, fact-fact sort-merge --------
    Q("q05_nation_revenue",
      (s, dir) => {
        val region = broadcast(t(s, dir, "region"))
        val nation = broadcast(t(s, dir, "nation"))
        val supp = broadcast(t(s, dir, "supplier"))
        val cust = t(s, dir, "customer")
        val ord = t(s, dir, "orders")
          .filter(col("o_orderdate").cast("date") >= lit("1996-01-01") &&
            col("o_orderdate").cast("date") < lit("1998-01-01"))
        val li = t(s, dir, "lineitem")
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(supp, col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(nation, col("s_nationkey") === col("n_nationkey"))
          .join(region, col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(sum(dec("l_extendedprice") * dec(lit(1) - col("l_discount")))
            .cast("double").as("revenue"),
            count(lit(1)).as("n_lines"))
          .orderBy(col("revenue").desc, col("r_name"), col("n_name"))
      },
      Some("""SELECT r_name, n_name,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
             |  COUNT(*) AS n_lines
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
             |  AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
             |GROUP BY r_name, n_name
             |ORDER BY revenue DESC, r_name, n_name""".stripMargin)),

    // ---- scalar aggregate (single row) -------------------------------
    Q("q06_revenue_delta",
      (s, dir) => {
        t(s, dir, "lineitem")
          .filter(col("l_shipdate").cast("date") >= lit("1996-01-01") &&
            col("l_shipdate").cast("date") < lit("1997-01-01") &&
            col("l_discount") >= 0.02 && col("l_discount") <= 0.06 &&
            col("l_quantity") < 24)
          .agg(sum(dec("l_extendedprice") * dec("l_discount"))
            .cast("double").as("revenue"))
      },
      Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
             |FROM lineitem
             |WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
             |  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
             |  AND l_discount >= 0.02 AND l_discount <= 0.06
             |  AND l_quantity < 24""".stripMargin)),

    // ---- A1: correlated scalar-subquery SUM, decorrelated ------------
    // `scenario2:174-179`: UPDATE transactions SET total_amount =
    // (SELECT SUM(line_total) ...). Spark-first: partial agg BEFORE the
    // join, so the join input is |orders| + |distinct keys|.
    Q("q07_order_backfill",
      (s, dir) => {
        val ord = t(s, dir, "orders")
        val sums = t(s, dir, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(sum(dec("l_extendedprice")).cast("double").as("computed_total"))
        ord.join(sums, col("o_orderkey") === col("l_orderkey"), "left")
          .select(col("o_orderkey"), col("o_totalprice"),
            coalesce(col("computed_total"), lit(0.0)).as("computed_total"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_totalprice,
             |  COALESCE(t.s, 0.0) AS computed_total
             |FROM orders
             |LEFT JOIN (
             |  SELECT l_orderkey, CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS s
             |  FROM lineitem GROUP BY l_orderkey
             |) t ON o_orderkey = l_orderkey
             |ORDER BY o_orderkey""".stripMargin)),

    // ---- A2: global min/max/count ------------------------------------
    Q("q08_global_minmax",
      (s, dir) => {
        t(s, dir, "orders").agg(
          max(col("o_orderkey")).as("max_key"),
          min(col("o_orderkey")).as("min_key"),
          count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_customers"))
      },
      Some("""SELECT MAX(o_orderkey) AS max_key, MIN(o_orderkey) AS min_key,
             |  COUNT(*) AS n_orders,
             |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
             |FROM orders""".stripMargin)),

    // ---- W1: FINAL / latest-state per key (ReplacingMergeTree analog)
    // `groupBy(key).agg(max_by(...))` — hash agg with map-side partial
    // aggregation; see graft.operators.Versioned for the scale analysis.
    Q("q09_latest_events",
      (s, dir) => {
        t(s, dir, "events")
          .groupBy("user_id")
          .agg(
            max_by(struct(col("event_id"), col("event_type"), col("value")),
              struct(col("ts"), col("event_id"))).as("_latest"),
            date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("last_ts"))
          .select(col("user_id"),
            col("_latest.event_id").as("last_event_id"),
            col("_latest.event_type").as("last_type"),
            col("_latest.value").as("last_value"),
            col("last_ts"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, event_id AS last_event_id, event_type AS last_type,
             |  value AS last_value, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts
             |FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events
             |) WHERE rn = 1
             |ORDER BY user_id""".stripMargin)),

    // ---- sort + limit (top-k) ----------------------------------------
    Q("q10_topk_orders",
      (s, dir) => {
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(10)
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice, strftime(o_orderdate, '%Y-%m-%d') AS orderdate
             |FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey
             |LIMIT 10""".stripMargin)),

    // ---- window: rank within partition -------------------------------
    Q("q11_window_rank",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, dir, "orders")
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
          .orderBy("o_custkey", "rnk")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, CAST(rnk AS INTEGER) AS rnk
             |FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
             |  FROM orders
             |) WHERE rnk <= 3
             |ORDER BY o_custkey, rnk""".stripMargin)),

    // ---- window: running total (exact decimal accumulation) ----------
    Q("q12_running_total",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "orders")
          .withColumn("running_spend",
            sum(dec("o_totalprice")).over(w).cast("double"))
          .select("o_custkey", "o_orderkey", "running_spend")
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
             |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
             |FROM orders
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // ---- left-semi join (EXISTS) --------------------------------------
    Q("q13_parts_shipped",
      (s, dir) => {
        val p = t(s, dir, "part").filter(col("p_size") >= 40)
        val li = t(s, dir, "lineitem")
        p.join(li, col("p_partkey") === col("l_partkey"), "left_semi")
          .select("p_partkey", "p_name", "p_brand")
          .orderBy("p_partkey")
      },
      Some("""SELECT p_partkey, p_name, p_brand
             |FROM part
             |WHERE p_size >= 40
             |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
             |ORDER BY p_partkey""".stripMargin)),

    // ---- left-anti join (NOT EXISTS) ----------------------------------
    Q("q14_customers_no_orders",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders").filter(col("o_orderstatus") === "P")
        c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_name", "c_mktsegment")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_mktsegment
             |FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
             |ORDER BY c_custkey""".stripMargin)),

    // ---- set ops: EXCEPT / INTERSECT ----------------------------------
    Q("q15_nations_cust_only",
      (s, dir) => {
        val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        val sup = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
        c.except(sup).orderBy("nationkey")
      },
      Some("""SELECT c_nationkey AS nationkey FROM customer
             |EXCEPT
             |SELECT s_nationkey AS nationkey FROM supplier
             |ORDER BY nationkey""".stripMargin)),

    Q("q16_nations_both",
      (s, dir) => {
        val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        val sup = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
        c.intersect(sup).orderBy("nationkey")
      },
      Some("""SELECT c_nationkey AS nationkey FROM customer
             |INTERSECT
             |SELECT s_nationkey AS nationkey FROM supplier
             |ORDER BY nationkey""".stripMargin)),

    // ---- rollup (multi-level aggregate) -------------------------------
    Q("q17_rollup_acctbal",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val n = broadcast(t(s, dir, "nation"))
        val r = broadcast(t(s, dir, "region"))
        // DataFrame rollup + sort trips a DetectAmbiguousSelfJoin false
        // positive in Spark 4 (Expand re-exposes child attributes), so
        // this one runs through the engine's SQL surface (S9) — same
        // Catalyst plan, same Expand-based rollup execution.
        c.createOrReplaceTempView("q17_customer")
        n.createOrReplaceTempView("q17_nation")
        r.createOrReplaceTempView("q17_region")
        s.sql("""SELECT r_name AS region_name, n_name AS nation_name,
                |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal,
                |  COUNT(*) AS n_custs
                |FROM q17_customer
                |JOIN q17_nation ON c_nationkey = n_nationkey
                |JOIN q17_region ON n_regionkey = r_regionkey
                |GROUP BY ROLLUP(r_name, n_name)
                |ORDER BY region_name ASC NULLS FIRST, nation_name ASC NULLS FIRST""".stripMargin)
      },
      Some("""SELECT r_name AS region_name, n_name AS nation_name,
             |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal,
             |  COUNT(*) AS n_custs
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY ROLLUP(region_name, nation_name)
             |ORDER BY region_name ASC NULLS FIRST, nation_name ASC NULLS FIRST""".stripMargin)),

    // ---- distinct ------------------------------------------------------
    Q("q18_distinct_flags",
      (s, dir) => {
        t(s, dir, "lineitem")
          .select("l_returnflag", "l_linestatus")
          .distinct()
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""SELECT DISTINCT l_returnflag, l_linestatus
             |FROM lineitem
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ---- event-time tumbling window (batch form of the streaming agg) -
    Q("q19_events_hourly",
      (s, dir) => {
        t(s, dir, "events")
          .groupBy(date_format(date_trunc("hour", col("ts")),
            "yyyy-MM-dd HH:mm:ss").as("hour"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(dec("value")).cast("double").as("total_value"))
          .orderBy("hour", "event_type")
      },
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
             |FROM events
             |GROUP BY strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S'), event_type
             |ORDER BY hour, event_type""".stripMargin)),

    // ---- JSON extraction (T4/F1 scalar surface on a real column) ------
    Q("q20_events_json",
      (s, dir) => {
        t(s, dir, "events")
          .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
          .filter(col("k").isNotNull)
          .groupBy("event_type")
          .agg(sum(col("k")).cast("long").as("sum_k"),
            count(lit(1)).as("n"),
            max(col("k")).as("max_k"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
             |  CAST(SUM(k) AS BIGINT) AS sum_k, COUNT(*) AS n, max(k) AS max_k
             |FROM (
             |  SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
             |  FROM events
             |) WHERE k IS NOT NULL
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // ---- scalar-function gallery (casts, CASE, string, date parts) ----
    // The reference's typed-view cast layer (`clickhouse.sql:70-82`) +
    // data-gen CASE dispatch (`init_postgresql_data.sql:137-149`).
    Q("q21_scalar_gallery",
      (s, dir) => {
        t(s, dir, "orders")
          .select(
            col("o_orderkey"),
            when(col("o_orderstatus") === "O", "open")
              .when(col("o_orderstatus") === "F", "filled")
              .otherwise("partial").as("status_label"),
            substring(col("o_orderpriority"), 1, 1).cast("int").as("priority_num"),
            year(col("o_orderdate")).as("order_year"),
            month(col("o_orderdate")).as("order_month"),
            round(dec("o_totalprice"), -2).cast("double").as("price_bucket"),
            concat_ws("-", col("o_orderstatus"), col("o_orderpriority")).as("status_key"),
            rtrim(col("o_orderpriority"), "DWY").as("trimmed"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |  CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'filled' ELSE 'partial' END AS status_label,
             |  CAST(SUBSTRING(o_orderpriority, 1, 1) AS INTEGER) AS priority_num,
             |  CAST(YEAR(o_orderdate) AS INTEGER) AS order_year,
             |  CAST(MONTH(o_orderdate) AS INTEGER) AS order_month,
             |  CAST(ROUND(CAST(o_totalprice AS DECIMAL(12,2)), -2) AS DOUBLE) AS price_bucket,
             |  CONCAT_WS('-', o_orderstatus, o_orderpriority) AS status_key,
             |  RTRIM(o_orderpriority, 'DWY') AS trimmed
             |FROM orders
             |ORDER BY o_orderkey""".stripMargin))
  )
}
