package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Twenty-eighth analytics pack (round 6, session 7): boilerplate
  * prefix census, day-of-week × hour activity heatmap, a correlated-
  * subquery SQL-surface gallery, referential-integrity orphan audit,
  * as-of join with a staleness tolerance, and session entry/exit
  * analysis.
  *
  * Exactness discipline unchanged; calendar arithmetic (q244) is pure
  * integer epoch math so no engine calendar function is trusted. */
object Analytics28 {

  val all: Seq[Q] = Seq(

    // ---- boilerplate prefix census: documents sharing their first 8
    // ---- tokens are template copies (crawl boilerplate — headers,
    // ---- cookie banners); the census keys on the literal prefix, one
    // ---- narrow projection + group-by. The MassiveText-style cleanup
    // ---- (q103) removes repetition WITHIN docs; this finds it ACROSS
    // ---- docs. ------------------------------------------------------
    Q("q243_boilerplate_prefix",
      (s, dir) => {
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            concat_ws(" ", slice(split(col("text"), " "), 1, 8)).as("prefix"))
          .groupBy("prefix")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("source")).as("n_sources"),
            min(col("doc_id")).as("first_doc"))
          .where(col("n_docs") >= 2)
          .orderBy(col("n_docs").desc, col("prefix"))
      },
      Some("""SELECT array_to_string(string_split(text, ' ')[1:8], ' ')
             |    AS prefix,
             |  CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
             |  CAST(MIN(doc_id) AS BIGINT) AS first_doc
             |FROM documents
             |GROUP BY 1
             |HAVING COUNT(*) >= 2
             |ORDER BY n_docs DESC, prefix""".stripMargin)),

    // ---- day-of-week × hour activity heatmap: both axes from pure
    // ---- integer epoch arithmetic (epoch day 0 = Thursday, so ISO dow
    // ---- = (day+3) mod 7 + 1) — no engine calendar function, hence no
    // ---- locale/week-start divergence. One scan, 168-cell reduce. ----
    Q("q244_dow_hour_heatmap",
      (s, dir) => {
        val us = unix_micros(col("ts"))
        val day = floor(us / 86400000000L).cast("long")
        val dow = pmod(day + 3L, lit(7L)) + 1L
        val hour = floor(pmod(us, lit(86400000000L)) / 3600000000L)
          .cast("long")
        t(s, dir, "events")
          .select(dow.as("iso_dow"), hour.as("hour"),
            col("event_type"), dec(col("value")).as("v"))
          .groupBy("iso_dow", "hour")
          .agg(count(lit(1)).as("n"),
            sum(when(col("event_type") === "purchase", col("v"))
              .otherwise(lit(java.math.BigDecimal.ZERO)
                .cast(DecimalType(12, 2)))).cast("double").as("purchase_value"))
          .orderBy("iso_dow", "hour")
      },
      Some("""SELECT
             |  ((CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) + 3) % 7)
             |    + 1 AS iso_dow,
             |  CAST(FLOOR((epoch_us(ts) % 86400000000) / 3600000000)
             |    AS BIGINT) AS hour,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CASE WHEN event_type = 'purchase'
             |    THEN CAST(value AS DECIMAL(12,2))
             |    ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
             |    AS purchase_value
             |FROM events
             |GROUP BY 1, 2
             |ORDER BY iso_dow, hour""".stripMargin)),

    // ---- correlated-subquery gallery through the SQL surface (S9):
    // ---- EXISTS, NOT EXISTS, IN, and a correlated scalar COUNT in one
    // ---- statement — Catalyst decorrelates all four into joins (no
    // ---- per-row re-execution), which PlanSpec-style plans elsewhere
    // ---- already pin for A1. ---------------------------------------
    Q("q245_correlated_gallery",
      (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("q245_customer")
        t(s, dir, "orders").createOrReplaceTempView("q245_orders")
        t(s, dir, "nation").createOrReplaceTempView("q245_nation")
        s.sql("""SELECT c_custkey, c_name,
                |  (SELECT COUNT(*) FROM q245_orders o
                |   WHERE o.o_custkey = c.c_custkey) AS n_orders
                |FROM q245_customer c
                |WHERE EXISTS (SELECT 1 FROM q245_orders o
                |        WHERE o.o_custkey = c.c_custkey
                |          AND o.o_totalprice > 300000)
                |  AND NOT EXISTS (SELECT 1 FROM q245_orders o
                |        WHERE o.o_custkey = c.c_custkey
                |          AND o.o_orderstatus = 'P')
                |  AND c.c_nationkey IN (SELECT n_nationkey FROM q245_nation
                |        WHERE n_regionkey = 0)
                |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey, c_name,
             |  CAST((SELECT COUNT(*) FROM orders o
             |   WHERE o.o_custkey = c.c_custkey) AS BIGINT) AS n_orders
             |FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |        WHERE o.o_custkey = c.c_custkey
             |          AND o.o_totalprice > 300000)
             |  AND NOT EXISTS (SELECT 1 FROM orders o
             |        WHERE o.o_custkey = c.c_custkey
             |          AND o.o_orderstatus = 'P')
             |  AND c.c_nationkey IN (SELECT n_nationkey FROM nation
             |        WHERE n_regionkey = 0)
             |ORDER BY c_custkey""".stripMargin)),

    // ---- referential-integrity audit: orphan counts for every FK edge
    // ---- of the star schema, as one unioned report — each edge is an
    // ---- anti-join (broadcast for the dimension sides). The DQ check
    // ---- that runs before every warehouse load. ---------------------
    Q("q246_fk_orphans",
      (s, dir) => {
        def edge(rel: String, from: DataFrame, fk: String,
                 to: DataFrame, pk: String): DataFrame =
          from.select(col(fk).as("k"))
            .join(to.select(col(pk).as("k")), Seq("k"), "left_anti")
            .agg(count(lit(1)).as("n_orphans"))
            .select(lit(rel).as("fk_edge"), col("n_orphans"))
        val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
        val c = t(s, dir, "customer"); val p = t(s, dir, "part")
        val su = t(s, dir, "supplier"); val n = t(s, dir, "nation")
        val r = t(s, dir, "region")
        edge("lineitem.orderkey->orders", li, "l_orderkey", o, "o_orderkey")
          .unionByName(edge("lineitem.partkey->part", li, "l_partkey",
            p, "p_partkey"))
          .unionByName(edge("lineitem.suppkey->supplier", li, "l_suppkey",
            su, "s_suppkey"))
          .unionByName(edge("orders.custkey->customer", o, "o_custkey",
            c, "c_custkey"))
          .unionByName(edge("customer.nationkey->nation", c, "c_nationkey",
            n, "n_nationkey"))
          .unionByName(edge("nation.regionkey->region", n, "n_regionkey",
            r, "r_regionkey"))
          .orderBy("fk_edge")
      },
      Some {
        def edge(rel: String, from: String, fk: String,
                 to: String, pk: String): String =
          s"""SELECT '$rel' AS fk_edge, CAST(COUNT(*) AS BIGINT) AS n_orphans
             |FROM $from WHERE $fk NOT IN (SELECT $pk FROM $to)""".stripMargin
        Seq(
          edge("lineitem.orderkey->orders", "lineitem", "l_orderkey",
            "orders", "o_orderkey"),
          edge("lineitem.partkey->part", "lineitem", "l_partkey",
            "part", "p_partkey"),
          edge("lineitem.suppkey->supplier", "lineitem", "l_suppkey",
            "supplier", "s_suppkey"),
          edge("orders.custkey->customer", "orders", "o_custkey",
            "customer", "c_custkey"),
          edge("customer.nationkey->nation", "customer", "c_nationkey",
            "nation", "n_nationkey"),
          edge("nation.regionkey->region", "nation", "n_regionkey",
            "region", "r_regionkey"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY fk_edge")
      }),

    // ---- as-of join with staleness tolerance: q26's backward as-of,
    // ---- but a match older than 30 days is DISCARDED (nulled) — the
    // ---- "don't join stale reference data" semantics feeds-and-quotes
    // ---- systems need. Tolerance is a post-filter on the carried
    // ---- match timestamp (exact µs compare), so the join shape — and
    // ---- its no-range-explosion property — is unchanged. ------------
    Q("q247_asof_tolerance",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val errors = ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("event_id"), col("ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("p_ts"),
            col("event_id").as("purchase_event_id"),
            col("value").as("purchase_value"))
        val tolUs = 30L * 86400L * 1000000L
        val fresh = unix_micros(col("ts")) - unix_micros(col("p_ts")) <= tolUs
        graft.operators.AsOfJoin.asofBackward(
          errors, purchases, keys = Seq("user_id"),
          leftTs = "ts", rightTs = "p_ts",
          rightValueCols = Seq("purchase_event_id", "purchase_value", "p_ts"),
          tiebreak = Some("purchase_event_id"))
          .select(col("user_id"), col("event_id"),
            when(col("p_ts").isNotNull && fresh, col("purchase_event_id"))
              .as("purchase_event_id"),
            when(col("p_ts").isNotNull && fresh, col("purchase_value"))
              .as("purchase_value"),
            (col("p_ts").isNotNull && !fresh).as("stale_dropped"))
          .orderBy("event_id")
      },
      Some("""SELECT e.user_id, e.event_id,
             |  CASE WHEN p.ts IS NOT NULL
             |      AND epoch_us(e.ts) - epoch_us(p.ts) <= 2592000000000
             |    THEN p.event_id END AS purchase_event_id,
             |  CASE WHEN p.ts IS NOT NULL
             |      AND epoch_us(e.ts) - epoch_us(p.ts) <= 2592000000000
             |    THEN p.value END AS purchase_value,
             |  (p.ts IS NOT NULL
             |    AND epoch_us(e.ts) - epoch_us(p.ts) > 2592000000000)
             |    AS stale_dropped
             |FROM (SELECT * FROM events WHERE event_type = 'error') e
             |ASOF LEFT JOIN (SELECT * FROM events
             |                WHERE event_type = 'purchase') p
             |  ON e.user_id = p.user_id AND e.ts >= p.ts
             |ORDER BY e.event_id""".stripMargin)),

    // ---- session entry/exit analysis: per session (q25's gap
    // ---- assignment), the entering and exiting event types; reduced
    // ---- to the landing-page report — sessions, bounce rate (1-event
    // ---- sessions), mean depth per entry type. ----------------------
    Q("q248_session_entry_exit",
      (s, dir) => {
        val assigned = graft.streaming.Sessionize.assign(
          t(s, dir, "events"), gapMinutes = 30)
        val bySess = Window.partitionBy(col("user_id"), col("session_seq"))
        val byTs = bySess.orderBy(col("ts"), col("event_id"))
        val byTsDesc = bySess.orderBy(col("ts").desc, col("event_id").desc)
        assigned
          .withColumn("ra", row_number().over(byTs))
          .withColumn("rd", row_number().over(byTsDesc))
          .groupBy("user_id", "session_seq")
          .agg(count(lit(1)).as("depth"),
            max(when(col("ra") === 1, col("event_type"))).as("entry"),
            max(when(col("rd") === 1, col("event_type"))).as("exit"))
          .groupBy("entry")
          .agg(count(lit(1)).as("n_sessions"),
            sum(when(col("depth") === 1, 1L).otherwise(0L)).as("n_bounces"),
            sum(col("depth")).as("total_depth"),
            sum(when(col("exit") === "purchase", 1L).otherwise(0L))
              .as("n_purchase_exits"))
          .select(col("entry"), col("n_sessions"),
            round(col("n_bounces").cast("double")
              / col("n_sessions").cast("double"), 6).as("bounce_rate"),
            round(col("total_depth").cast("double")
              / col("n_sessions").cast("double"), 6).as("mean_depth"),
            col("n_purchase_exits"))
          .orderBy("entry")
      },
      Some("""WITH g AS (
             |  SELECT user_id, event_id, ts, event_type,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
             |             > 1800000000
             |         THEN 1 ELSE 0 END AS is_new
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |), sx AS (
             |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id
             |    ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
             |  FROM g
             |), sess AS (
             |  SELECT user_id, seq, CAST(COUNT(*) AS BIGINT) AS depth,
             |    MAX(CASE WHEN ra = 1 THEN event_type END) AS entry,
             |    MAX(CASE WHEN rd = 1 THEN event_type END) AS exit
             |  FROM (
             |    SELECT *,
             |      ROW_NUMBER() OVER (PARTITION BY user_id, seq
             |        ORDER BY ts, event_id) AS ra,
             |      ROW_NUMBER() OVER (PARTITION BY user_id, seq
             |        ORDER BY ts DESC, event_id DESC) AS rd
             |    FROM sx)
             |  GROUP BY 1, 2
             |)
             |SELECT entry, CAST(COUNT(*) AS BIGINT) AS n_sessions,
             |  ROUND(CAST(SUM(CASE WHEN depth = 1 THEN 1 ELSE 0 END)
             |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS bounce_rate,
             |  ROUND(CAST(SUM(depth) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE),
             |    6) AS mean_depth,
             |  CAST(SUM(CASE WHEN exit = 'purchase' THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_purchase_exits
             |FROM sess
             |GROUP BY entry
             |ORDER BY entry""".stripMargin))
  )
}
