package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Sixty-sixth analytics pack (round 6, session 9): the warehouse
  * integrity audit — foreign-key orphan counts over every declared
  * relationship, primary-key uniqueness across all ten tables, the
  * order-total vs lineitem reconciliation, date-sanity checks, and
  * the structural consistency panel. The synthetic harness is
  * deliberately messy (totalprice does not reconcile; thousands of
  * lines ship before their order) — the audit reports those numbers
  * honestly rather than asserting them away.
  *
  * Exactness: pure integer counting and exact cent gaps throughout;
  * one division per emitted ratio. */
object Analytics66 {

  val all: Seq[Q] = Seq(

    // ---- FK orphan audit over the seven declared relationships:
    // ---- child rows whose key misses the parent, one anti-join per
    // ---- edge, stacked into a report. ------------------------------
    Q("q436_fk_orphans",
      (s, dir) => {
        def edge(name: String, child: DataFrame, ck: String,
          parent: DataFrame, pk: String): DataFrame = {
          val orphans = child.select(col(ck).as("k"))
            .join(parent.select(col(pk).as("k")).distinct(),
              Seq("k"), "left_anti")
          child.agg(count(lit(1)).as("n_child"))
            .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
            .select(lit(name).as("relationship"), col("n_child"),
              col("n_orphans"))
        }
        Seq(
          edge("lineitem->orders", t(s, dir, "lineitem"), "l_orderkey",
            t(s, dir, "orders"), "o_orderkey"),
          edge("lineitem->part", t(s, dir, "lineitem"), "l_partkey",
            t(s, dir, "part"), "p_partkey"),
          edge("lineitem->supplier", t(s, dir, "lineitem"), "l_suppkey",
            t(s, dir, "supplier"), "s_suppkey"),
          edge("orders->customer", t(s, dir, "orders"), "o_custkey",
            t(s, dir, "customer"), "c_custkey"),
          edge("customer->nation", t(s, dir, "customer"), "c_nationkey",
            t(s, dir, "nation"), "n_nationkey"),
          edge("supplier->nation", t(s, dir, "supplier"), "s_nationkey",
            t(s, dir, "nation"), "n_nationkey"),
          edge("nation->region", t(s, dir, "nation"), "n_regionkey",
            t(s, dir, "region"), "r_regionkey"))
          .reduce(_ unionByName _)
      },
      Some("""SELECT 'lineitem->orders' AS relationship,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem)
             |    AS n_child,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
             |   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
             |    AS n_orphans
             |UNION ALL SELECT 'lineitem->part',
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
             |   WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
             |UNION ALL SELECT 'lineitem->supplier',
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
             |   WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
             |UNION ALL SELECT 'orders->customer',
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
             |   WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
             |UNION ALL SELECT 'customer->nation',
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM customer),
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
             |   WHERE c_nationkey NOT IN
             |     (SELECT n_nationkey FROM nation))
             |UNION ALL SELECT 'supplier->nation',
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM supplier),
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM supplier
             |   WHERE s_nationkey NOT IN
             |     (SELECT n_nationkey FROM nation))
             |UNION ALL SELECT 'nation->region',
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM nation),
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM nation
             |   WHERE n_regionkey NOT IN
             |     (SELECT r_regionkey FROM region))""".stripMargin)),

    // ---- primary-key uniqueness across all ten tables (lineitem by
    // ---- its composite key): rows vs distinct keys vs rows living in
    // ---- duplicated keys. ------------------------------------------
    Q("q437_pk_uniqueness",
      (s, dir) => {
        def pk(name: String, df: DataFrame,
          keys: Seq[String]): DataFrame =
          df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
            .agg(sum(col("c")).as("n_rows"),
              count(lit(1)).as("n_keys"),
              sum(when(col("c") > 1L, col("c")).otherwise(0L))
                .as("rows_in_dup_keys"))
            .select(lit(name).as("table_name"), col("n_rows"),
              col("n_keys"), col("rows_in_dup_keys"))
        Seq(
          pk("region", t(s, dir, "region"), Seq("r_regionkey")),
          pk("nation", t(s, dir, "nation"), Seq("n_nationkey")),
          pk("customer", t(s, dir, "customer"), Seq("c_custkey")),
          pk("supplier", t(s, dir, "supplier"), Seq("s_suppkey")),
          pk("part", t(s, dir, "part"), Seq("p_partkey")),
          pk("orders", t(s, dir, "orders"), Seq("o_orderkey")),
          pk("lineitem", t(s, dir, "lineitem"),
            Seq("l_orderkey", "l_linenumber")),
          pk("events", t(s, dir, "events"), Seq("event_id")),
          pk("documents", t(s, dir, "documents"), Seq("doc_id")),
          pk("embeddings", t(s, dir, "embeddings"), Seq("vec_id")))
          .reduce(_ unionByName _)
      },
      Some {
        val rows = Seq(
          ("region", "r_regionkey", "region"),
          ("nation", "n_nationkey", "nation"),
          ("customer", "c_custkey", "customer"),
          ("supplier", "s_suppkey", "supplier"),
          ("part", "p_partkey", "part"),
          ("orders", "o_orderkey", "orders"),
          ("events", "event_id", "events"),
          ("documents", "doc_id", "documents"),
          ("embeddings", "vec_id", "embeddings"))
          .map { case (nm, k, tb) =>
            s"""SELECT '$nm' AS table_name,
               |  CAST(SUM(c) AS BIGINT) AS n_rows,
               |  CAST(COUNT(*) AS BIGINT) AS n_keys,
               |  CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
               |    AS rows_in_dup_keys
               |FROM (SELECT $k, CAST(COUNT(*) AS BIGINT) AS c
               |      FROM $tb GROUP BY 1) z""".stripMargin
          }
        val li =
          """SELECT 'lineitem' AS table_name,
            |  CAST(SUM(c) AS BIGINT) AS n_rows,
            |  CAST(COUNT(*) AS BIGINT) AS n_keys,
            |  CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
            |    AS rows_in_dup_keys
            |FROM (SELECT l_orderkey, l_linenumber,
            |    CAST(COUNT(*) AS BIGINT) AS c
            |  FROM lineitem GROUP BY 1, 2) z""".stripMargin
        (rows :+ li).mkString("\nUNION ALL\n")
      }),

    // ---- order-total reconciliation: o_totalprice vs Σ extendedprice
    // ---- per order in exact cents — match count and the gap profile
    // ---- (this generator does NOT reconcile; the audit quantifies
    // ---- it). ------------------------------------------------------
    Q("q438_totalprice_reconciliation",
      (s, dir) => {
        val lsum = t(s, dir, "lineitem")
          .groupBy(col("l_orderkey").as("ok"))
          .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
            .as("line_cents"))
        t(s, dir, "orders")
          .select(col("o_orderkey").as("ok"),
            round(col("o_totalprice") * 100).cast("long").as("hdr"))
          .join(lsum, Seq("ok"))
          .select((col("hdr") - col("line_cents")).as("gap"))
          .agg(count(lit(1)).as("n_orders_with_lines"),
            sum(when(col("gap") === 0L, 1L).otherwise(0L))
              .as("n_exact_match"),
            round(sum(abs(col("gap"))).cast("double")
              / count(lit(1)).cast("double") / 100.0, 2)
              .as("mean_abs_gap_dollars"),
            round(max(abs(col("gap"))).cast("double") / 100.0, 2)
              .as("max_abs_gap_dollars"))
      },
      Some("""WITH lsum AS (
             |  SELECT l_orderkey AS ok,
             |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
             |      AS BIGINT) AS line_cents
             |  FROM lineitem GROUP BY 1
             |), gaps AS (
             |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT)
             |    - line_cents AS gap
             |  FROM orders JOIN lsum ON o_orderkey = ok
             |)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_orders_with_lines,
             |  CAST(SUM(CASE WHEN gap = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_exact_match,
             |  ROUND(CAST(SUM(ABS(gap)) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE) / 100.0, 2)
             |    AS mean_abs_gap_dollars,
             |  ROUND(CAST(MAX(ABS(gap)) AS DOUBLE) / 100.0, 2)
             |    AS max_abs_gap_dollars
             |FROM gaps""".stripMargin)),

    // ---- date-sanity audit: lines shipping before their order, the
    // ---- order-date span, and the event-timestamp span. ------------
    Q("q439_date_sanity",
      (s, dir) => {
        val ship = t(s, dir, "lineitem")
          .join(t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          .agg(count(lit(1)).as("n_lines"),
            sum(when(col("l_shipdate") < col("o_orderdate"), 1L)
              .otherwise(0L)).as("ship_before_order"))
        val ospan = t(s, dir, "orders")
          .agg(datediff(max(col("o_orderdate")), min(col("o_orderdate")))
            .cast("long").as("order_span_days"))
        val espan = t(s, dir, "events")
          .agg(((unix_micros(max(col("ts")))
            - unix_micros(min(col("ts")))) / lit(86400000000L))
            .cast("long").as("event_span_days"))
        ship.crossJoin(broadcast(ospan)).crossJoin(broadcast(espan))
          .select(col("n_lines"), col("ship_before_order"),
            round(col("ship_before_order").cast("double")
              / col("n_lines").cast("double"), 6)
              .as("frac_ship_before_order"),
            col("order_span_days"), col("event_span_days"))
      },
      Some("""WITH ship AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
             |    CAST(SUM(CASE WHEN l_shipdate < o_orderdate THEN 1
             |      ELSE 0 END) AS BIGINT) AS ship_before_order
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |), ospan AS (
             |  SELECT CAST(DATEDIFF('day', MIN(o_orderdate),
             |    MAX(o_orderdate)) AS BIGINT) AS order_span_days
             |  FROM orders
             |), espan AS (
             |  SELECT CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts)))
             |    // 86400000000 AS BIGINT) AS event_span_days
             |  FROM events
             |)
             |SELECT n_lines, ship_before_order,
             |  ROUND(CAST(ship_before_order AS DOUBLE)
             |    / CAST(n_lines AS DOUBLE), 6)
             |    AS frac_ship_before_order,
             |  order_span_days, event_span_days
             |FROM ship CROSS JOIN ospan CROSS JOIN espan""".stripMargin)),

    // ---- structural consistency: orders without lines, the
    // ---- lines-per-order profile, and linenumber gaps (count vs max
    // ---- linenumber per order). ------------------------------------
    Q("q440_structural_consistency",
      (s, dir) => {
        val per = t(s, dir, "orders").select(col("o_orderkey").as("ok"))
          .join(t(s, dir, "lineitem")
            .groupBy(col("l_orderkey").as("ok"))
            .agg(count(lit(1)).as("nl"),
              max(col("l_linenumber")).cast("long").as("maxln"),
              countDistinct(col("l_linenumber")).as("ndln")),
            Seq("ok"), "left")
        per.agg(count(lit(1)).as("n_orders"),
          sum(when(col("nl").isNull, 1L).otherwise(0L))
            .as("orders_without_lines"),
          round(sum(coalesce(col("nl"), lit(0L))).cast("double")
            / count(lit(1)).cast("double"), 6).as("mean_lines"),
          max(coalesce(col("nl"), lit(0L))).as("max_lines"),
          sum(when(col("nl").isNotNull
            && col("maxln") =!= col("nl"), 1L).otherwise(0L))
            .as("orders_with_linenumber_gaps"),
          sum(when(col("nl").isNotNull
            && col("ndln") =!= col("nl"), 1L).otherwise(0L))
            .as("orders_with_dup_linenumbers"))
      },
      Some("""WITH per AS (
             |  SELECT o_orderkey, nl, maxln, ndln
             |  FROM orders LEFT JOIN (
             |    SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS nl,
             |      CAST(MAX(l_linenumber) AS BIGINT) AS maxln,
             |      CAST(COUNT(DISTINCT l_linenumber) AS BIGINT) AS ndln
             |    FROM lineitem GROUP BY 1) l
             |    ON o_orderkey = l_orderkey
             |)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
             |  CAST(SUM(CASE WHEN nl IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS orders_without_lines,
             |  ROUND(CAST(SUM(COALESCE(nl, 0)) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE), 6) AS mean_lines,
             |  CAST(MAX(COALESCE(nl, 0)) AS BIGINT) AS max_lines,
             |  CAST(SUM(CASE WHEN nl IS NOT NULL AND maxln <> nl THEN 1
             |    ELSE 0 END) AS BIGINT) AS orders_with_linenumber_gaps,
             |  CAST(SUM(CASE WHEN nl IS NOT NULL AND ndln <> nl THEN 1
             |    ELSE 0 END) AS BIGINT) AS orders_with_dup_linenumbers
             |FROM per""".stripMargin)),
  )
}
