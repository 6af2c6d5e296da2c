package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType, LongType, DoubleType}

import graft.sources.Tables

/** Second analytics pack: priority-exists (TPC-H Q4 shape), cube,
  * exact percentiles, approx-distinct sketches, and the typed-JSON
  * source path (S3: `JSONEachRow` ≡ `from_json` with declared schema,
  * `minio_cdc_example/clickhouse_minio.sql:14-26`). */
object Analytics2 {

  val all: Seq[Q] = Seq(

    // ---- TPC-H Q4 shape: EXISTS-filtered priority counts -------------
    Q("q04_priority_count",
      (s, dir) => {
        val ord = t(s, dir, "orders")
          .filter(col("o_orderdate").cast("date") >= lit("1996-01-01") &&
            col("o_orderdate").cast("date") < lit("1997-01-01"))
        val late = t(s, dir, "lineitem")
          .join(ord, col("l_orderkey") === col("o_orderkey"), "inner")
          .where(col("l_shipdate") > col("o_orderdate"))
          .select("l_orderkey").distinct()
        ord.join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count
             |FROM orders
             |WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
             |  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
             |  AND EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ---- CUBE over status × year --------------------------------------
    Q("q22_cube_orders",
      (s, dir) => {
        Tables.load(s, dir, "orders").createOrReplaceTempView("q22_orders")
        s.sql("""SELECT o_orderstatus AS status,
                |  CAST(YEAR(o_orderdate) AS INT) AS order_year,
                |  COUNT(*) AS n,
                |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
                |FROM q22_orders
                |GROUP BY CUBE(o_orderstatus, YEAR(o_orderdate))
                |ORDER BY status ASC NULLS FIRST, order_year ASC NULLS FIRST""".stripMargin)
      },
      Some("""SELECT o_orderstatus AS status,
             |  CAST(YEAR(o_orderdate) AS INT) AS order_year,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
             |FROM orders
             |GROUP BY CUBE(o_orderstatus, YEAR(o_orderdate))
             |ORDER BY status ASC NULLS FIRST, order_year ASC NULLS FIRST""".stripMargin)),

    // ---- exact interpolated percentiles per group ---------------------
    Q("q23_price_percentiles",
      (s, dir) => t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus,
             |  ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
             |  ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
             |  COUNT(*) AS n
             |FROM orders
             |GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // ---- DDSketch quantiles, oracled by the q24 pattern: hash-checked
    // ---- columns are the exact interpolated percentiles (both engines
    // ---- compute those identically) plus flags that the sketch's
    // ---- estimate landed inside its relative-error guarantee (α=0.01,
    // ---- slack for midpoint-vs-interpolation). The sketch itself is
    // ---- the operator: mergeable partials fold per partition before
    // ---- the exchange, O(buckets) per task at any scale --------------
    Q("q86_quantile_sketch",
      (s, dir) => {
        import graft.functions.QuantileSketch
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50_exact"),
            round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95_exact"),
            QuantileSketch.sketchAgg(col("l_extendedprice")).as("sk"),
            count(lit(1)).as("n"))
          .select(col("l_returnflag"), col("p50_exact"), col("p95_exact"),
            col("n"),
            (abs(QuantileSketch.quantile(col("sk"), 0.5) - col("p50_exact")) /
              col("p50_exact") <= 0.021).as("p50_ok"),
            (abs(QuantileSketch.quantile(col("sk"), 0.95) - col("p95_exact")) /
              col("p95_exact") <= 0.021).as("p95_ok"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
             |  ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95_exact,
             |  COUNT(*) AS n, TRUE AS p50_ok, TRUE AS p95_ok
             |FROM lineitem
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ---- HLL sketch, oracled: the raw estimate is engine-specific, so
    // ---- the hash-checked columns are the exact count plus a flag that
    // ---- the estimate landed within the documented rsd bound (a broken
    // ---- sketch fails the hash-match; exact values also asserted in
    // ---- SimilaritySpec) ---------------------------------------------
    Q("q24_approx_distinct",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_orderkey")).as("approx_orders"),
          countDistinct(col("l_orderkey")).as("exact_orders"))
        .select(col("l_returnflag"), col("exact_orders"),
          (abs(col("approx_orders") - col("exact_orders")).cast("double") /
            col("exact_orders") < 0.1).as("approx_ok"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
             |  TRUE AS approx_ok
             |FROM lineitem
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ---- range join: price-tier banding (binned equi-join; the naive
    // ---- nested-loop form is the differential partner in specs) ------
    Q("q29_price_tiers",
      (s, dir) => {
        import s.implicits._
        val tiers = Seq(
          ("budget", 0.0, 100000.0), ("mid", 100000.0, 200000.0),
          ("upper", 200000.0, 300000.0), ("premium", 300000.0, 400000.0),
          ("luxury", 400000.0, 600000.0))
          .toDF("tier", "lo", "hi")
        graft.operators.RangeJoin.binnedRangeJoin(
          t(s, dir, "orders"), tiers, "o_totalprice", "lo", "hi",
          binWidth = 50000.0)
          .groupBy("tier")
          .agg(count(lit(1)).as("n_orders"),
            sum(dec("o_totalprice")).cast("double").as("tier_total"))
          .orderBy("tier")
      },
      Some("""SELECT tier, COUNT(*) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS tier_total
             |FROM orders
             |JOIN (VALUES ('budget', 0.0, 100000.0), ('mid', 100000.0, 200000.0),
             |             ('upper', 200000.0, 300000.0), ('premium', 300000.0, 400000.0),
             |             ('luxury', 400000.0, 600000.0)) t(tier, lo, hi)
             |  ON o_totalprice >= lo AND o_totalprice < hi
             |GROUP BY tier
             |ORDER BY tier""".stripMargin)),

    // ---- interval × interval overlap join: lineitem [ship, receipt]
    // ---- windows against order-derived maintenance windows — grid-
    // ---- celled equi-join, each pair emitted once from the overlap-
    // ---- start cell (no dedup pass); oracle is the naive overlap -----
    Q("q112_interval_overlap",
      (s, dir) => {
        val epoch = lit("1970-01-01")
        // the harness lineitem carries no receipt date; derive a
        // deterministic transit time from the key (1-20 days) so the
        // oracle reproduces the same interval arithmetically
        val li = t(s, dir, "lineitem")
          .withColumn("ship_d", datediff(col("l_shipdate"), epoch))
          .withColumn("rcpt_d",
            col("ship_d") + (col("l_orderkey") % 20) + 1)
        val win = t(s, dir, "orders")
          .filter(col("o_orderkey") % 997 === 0)
          .select(col("o_orderkey").as("window_id"),
            datediff(col("o_orderdate"), epoch).as("w_lo"))
          .withColumn("w_hi", col("w_lo") + 10)
        graft.operators.RangeJoin.intervalOverlapJoin(
            li, win, "ship_d", "rcpt_d", "w_lo", "w_hi", binWidth = 16.0)
          .groupBy("window_id")
          .agg(count(lit(1)).as("n_lines"),
            sum(dec("l_quantity")).cast("double").as("qty"))
          .orderBy("window_id")
      },
      Some("""WITH win AS (
             |  SELECT o_orderkey AS window_id,
             |    CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS w_lo,
             |    CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) + 10 AS w_hi
             |  FROM orders WHERE o_orderkey % 997 = 0
             |), li AS (
             |  SELECT l_quantity,
             |    CAST(floor(epoch(l_shipdate) / 86400) AS BIGINT) AS ship_d,
             |    CAST(floor(epoch(l_shipdate) / 86400) AS BIGINT)
             |      + (l_orderkey % 20) + 1 AS rcpt_d
             |  FROM lineitem
             |)
             |SELECT window_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
             |FROM li l JOIN win w
             |  ON l.ship_d <= w.w_hi AND w.w_lo <= l.rcpt_d
             |GROUP BY window_id
             |ORDER BY window_id""".stripMargin)),

    // ---- table profiling (ANALYZE TABLE analog): per-column nulls,
    // ---- exact distincts, numeric envelope — one scan, one agg -------
    Q("q113_table_profile",
      (s, dir) => graft.operators.Profile.profile(t(s, dir, "orders"))
        .orderBy("col_name"),
      Some(graft.operators.Profile.profileSql("orders", Seq(
        "o_orderkey" -> Some("o_orderkey"),
        "o_custkey" -> Some("o_custkey"),
        "o_orderstatus" -> None,
        "o_totalprice" -> Some("o_totalprice"),
        "o_orderdate" -> Some("epoch_us(o_orderdate)"),
        "o_orderpriority" -> None)))),

    // ---- lag/lead: inter-event gaps per user -------------------------
    Q("q46_event_gaps",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        t(s, dir, "events")
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(col("prev_ts")))
          .groupBy("user_id")
          .agg(count(col("gap_us")).as("n_gaps"),
            min(col("gap_us")).as("min_gap_us"),
            max(col("gap_us")).as("max_gap_us"),
            sum(col("gap_us")).as("total_gap_us"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id,
             |  COUNT(gap_us) AS n_gaps,
             |  MIN(gap_us) AS min_gap_us,
             |  MAX(gap_us) AS max_gap_us,
             |  CAST(SUM(gap_us) AS BIGINT) AS total_gap_us
             |FROM (
             |  SELECT user_id,
             |    epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
             |  FROM events
             |)
             |GROUP BY user_id
             |ORDER BY user_id""".stripMargin)),

    // ---- correlated-aggregate HAVING: big-spender customers ----------
    Q("q47_big_spenders",
      (s, dir) => {
        val ord = t(s, dir, "orders")
        val cust = t(s, dir, "customer")
        val spend = ord.groupBy(col("o_custkey"))
          .agg(sum(dec("o_totalprice")).cast("double").as("lifetime_spend"),
            max(dec("o_totalprice")).cast("double").as("max_order"))
          .where(col("lifetime_spend") > 1000000.0)
        cust.join(spend, col("c_custkey") === col("o_custkey"))
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
            col("lifetime_spend"), col("max_order"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_mktsegment, lifetime_spend, max_order
             |FROM customer
             |JOIN (
             |  SELECT o_custkey,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS lifetime_spend,
             |    CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS max_order
             |  FROM orders
             |  GROUP BY o_custkey
             |  HAVING CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) > 1000000.0
             |) s ON c_custkey = o_custkey
             |ORDER BY c_custkey""".stripMargin)),

    // ---- unpivot (stack): wide → long, the inverse of q27 ------------
    Q("q49_unpivot_priority",
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("q49_orders")
        s.sql("""SELECT order_year, metric, CAST(v AS BIGINT) AS v FROM (
                |  SELECT CAST(YEAR(o_orderdate) AS INT) AS order_year,
                |    COUNT(*) AS n_orders,
                |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
                |  FROM q49_orders GROUP BY YEAR(o_orderdate)
                |) UNPIVOT (v FOR metric IN (n_orders, n_customers))
                |ORDER BY order_year, metric""".stripMargin)
      },
      Some("""SELECT order_year, metric, CAST(v AS BIGINT) AS v FROM (
             |  SELECT CAST(YEAR(o_orderdate) AS INT) AS order_year,
             |    COUNT(*) AS n_orders,
             |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
             |  FROM orders GROUP BY YEAR(o_orderdate)
             |) UNPIVOT (v FOR metric IN (n_orders, n_customers))
             |ORDER BY order_year, metric""".stripMargin)),

    // ---- higher-order array functions over vectors, oracle-checked ---
    Q("q45_vector_stats",
      (s, dir) => t(s, dir, "embeddings")
        .select(col("vec_id"),
          round(array_min(col("embedding")).cast("double"), 6).as("min_dim"),
          round(array_max(col("embedding")).cast("double"), 6).as("max_dim"),
          size(filter(col("embedding"), x => x > 0)).as("n_positive"),
          size(col("embedding")).as("dim"))
        .orderBy("vec_id"),
      Some("""SELECT vec_id,
             |  ROUND(list_aggregate(CAST(embedding AS DOUBLE[]), 'min'), 6) AS min_dim,
             |  ROUND(list_aggregate(CAST(embedding AS DOUBLE[]), 'max'), 6) AS max_dim,
             |  CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_positive,
             |  CAST(len(embedding) AS INTEGER) AS dim
             |FROM embeddings
             |ORDER BY vec_id""".stripMargin)),

    // ---- exact dedup on NORMALIZED text (case/whitespace-insensitive)
    Q("q38_normalized_dedup",
      (s, dir) => t(s, dir, "documents")
        .groupBy(md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
          .as("norm_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id"),
      Some("""SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS norm_hash,
             |  MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
             |FROM documents
             |GROUP BY 1
             |ORDER BY keep_id""".stripMargin)),

    // ---- fuzzy matching: near-identical names by edit distance, via
    // ---- FastSS deletion-neighborhood blocking + levenshtein verify
    // ---- (linear candidate generation — the cartesian formulation is
    // ---- the differential partner in DedupSpec) ----------------------
    Q("q48_fuzzy_names",
      (s, dir) => Analytics33.fuzzyPairsCached(s, dir)
        .orderBy("id_a", "id_b"),
      Some("""SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
             |  CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
             |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
             |WHERE a.c_custkey <= 1500 AND b.c_custkey <= 1500
             |  AND levenshtein(a.c_name, b.c_name) <= 2
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- pivot: orders count by year × status (oracled via the
    // ---- equivalent conditional aggregation) -------------------------
    Q("q27_pivot_status",
      (s, dir) => t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("order_year"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("order_year").cast("int").as("order_year"),
          col("F").as("n_f"), col("O").as("n_o"), col("P").as("n_p"))
        .orderBy("order_year"),
      Some("""SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS order_year,
             |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
             |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
             |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
             |FROM orders
             |GROUP BY YEAR(o_orderdate)
             |ORDER BY order_year""".stripMargin)),

    // ---- generator/explode: corpus word-count top-50 -----------------
    Q("q28_word_count",
      (s, dir) => Tables.loadParallel(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .where(col("word") =!= "")
        .groupBy("word")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(50),
      Some("""SELECT word, COUNT(*) AS n
             |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
             |WHERE word <> ''
             |GROUP BY word
             |ORDER BY n DESC, word
             |LIMIT 50""".stripMargin)),

    // ---- backward as-of join: each error event picks up the user's
    // ---- latest prior-or-simultaneous purchase (union+window compose;
    // ---- DuckDB native ASOF JOIN is the oracle) ----------------------
    Q("q26_asof_prior_purchase",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val errors = ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("event_id"), col("ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("p_ts"),
            col("event_id").as("purchase_event_id"),
            col("value").as("purchase_value"))
        graft.operators.AsOfJoin.asofBackward(
          errors, purchases, keys = Seq("user_id"),
          leftTs = "ts", rightTs = "p_ts",
          rightValueCols = Seq("purchase_event_id", "purchase_value"),
          tiebreak = Some("purchase_event_id"))
          .select(col("user_id"), col("event_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("err_ts"),
            col("purchase_event_id"), col("purchase_value"))
          .orderBy("event_id")
      },
      Some("""SELECT e.user_id, e.event_id,
             |  strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS err_ts,
             |  p.event_id AS purchase_event_id,
             |  p.value AS purchase_value
             |FROM (SELECT * FROM events WHERE event_type = 'error') e
             |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
             |  ON e.user_id = p.user_id AND e.ts >= p.ts
             |ORDER BY e.event_id""".stripMargin)),

    // ---- gap-based sessionization (batch form of the
    // ---- flatMapGroupsWithState operator; streaming↔batch equivalence
    // ---- asserted in SessionizeSpec) ---------------------------------
    Q("q25_sessionize",
      (s, dir) => graft.streaming.Sessionize.batch(
        t(s, dir, "events"), gapMinutes = 30)
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("session_end"),
          col("n_events"), col("total_value"))
        .orderBy("user_id", "session_start"),
      Some("""WITH g AS (
             |  SELECT user_id, event_id, ts, value,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             |         THEN 1 ELSE 0 END AS is_new
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |), s AS (
             |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
             |  FROM g
             |)
             |SELECT user_id,
             |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
             |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
             |  COUNT(*) AS n_events,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
             |FROM s
             |GROUP BY user_id, seq
             |ORDER BY user_id, session_start""".stripMargin)),

    // ---- S3: typed JSON source (`JSONEachRow` analog) — build a
    // ---- minio-style message stream, parse with a DECLARED schema ----
    Q("q65_typed_json_source",
      (s, dir) => {
        // JSON encode/decode is the compute: spread it across cores (the
        // harness file is a single split; see Tables.loadParallel)
        val msgs = Tables.loadParallel(s, dir, "events")
          .select(to_json(struct(
            col("event_id").as("id"),
            col("event_type").as("message"),
            col("value").as("amount"))).as("value"))
        val schema = StructType(Seq(
          StructField("id", LongType),
          StructField("message", StringType),
          StructField("amount", DoubleType)))
        msgs.select(from_json(col("value"), schema).as("m"))
          .select("m.*")
          .groupBy("message")
          .agg(count(lit(1)).as("n"),
            sum(col("amount").cast("decimal(12,2)")).cast("double").as("total_amount"))
          .orderBy("message")
      },
      Some("""SELECT event_type AS message, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_amount
             |FROM events
             |GROUP BY event_type
             |ORDER BY message""".stripMargin)),

    // ---- funnel depth per user (ClickHouse windowFunnel analog): one
    // ---- shuffle via the WindowFunnel TypedImperativeAggregate; the
    // ---- oracle mirrors the anchored-greedy strict-increase semantics
    // ---- as a chain of filtered-min CTEs (see functions/Funnel.scala) -
    Q("q70_window_funnel",
      (s, dir) => {
        val week = 7L * 86400 * 1000000 // µs
        t(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(graft.functions.Funnel.windowFunnel(
            unix_micros(col("ts")), week,
            Seq(col("event_type") === "signup", col("event_type") === "view",
              col("event_type") === "click", col("event_type") === "purchase"))
            .as("level"))
          .where(col("level") >= 1)
          .groupBy("level")
          .agg(count(lit(1)).as("users"))
          .orderBy("level")
      },
      Some("""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
             |t1 AS (SELECT user_id, MIN(tus) AS t1 FROM ev
             |       WHERE event_type='signup' GROUP BY user_id),
             |t2 AS (SELECT e.user_id, MIN(e.tus) AS t2 FROM ev e JOIN t1 USING (user_id)
             |       WHERE e.event_type='view' AND e.tus > t1.t1
             |         AND e.tus <= t1.t1 + 604800000000 GROUP BY e.user_id),
             |t3 AS (SELECT e.user_id, MIN(e.tus) AS t3
             |       FROM ev e JOIN t1 USING (user_id) JOIN t2 USING (user_id)
             |       WHERE e.event_type='click' AND e.tus > t2.t2
             |         AND e.tus <= t1.t1 + 604800000000 GROUP BY e.user_id),
             |t4 AS (SELECT e.user_id, MIN(e.tus) AS t4
             |       FROM ev e JOIN t1 USING (user_id) JOIN t3 USING (user_id)
             |       WHERE e.event_type='purchase' AND e.tus > t3.t3
             |         AND e.tus <= t1.t1 + 604800000000 GROUP BY e.user_id)
             |SELECT CASE WHEN t4.user_id IS NOT NULL THEN 4
             |            WHEN t3.user_id IS NOT NULL THEN 3
             |            WHEN t2.user_id IS NOT NULL THEN 2 ELSE 1 END AS level,
             |       CAST(COUNT(*) AS BIGINT) AS users
             |FROM t1 LEFT JOIN t2 ON t1.user_id=t2.user_id
             |        LEFT JOIN t3 ON t1.user_id=t3.user_id
             |        LEFT JOIN t4 ON t1.user_id=t4.user_id
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- retention cohort (ClickHouse retention analog): anchor
    // ---- condition + co-occurrence flags, two narrow aggregations ----
    Q("q71_retention",
      (s, dir) => {
        val flags = graft.functions.Funnel.retentionFlags(Seq(
          col("event_type") === "signup",
          col("event_type") === "click",
          col("event_type") === "purchase"))
        t(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(flags(0).as("r1"), flags(1).as("r2"), flags(2).as("r3"))
          .agg(sum(col("r1")).as("signed_up"),
            sum(col("r2")).as("clicked"),
            sum(col("r3")).as("purchased"))
      },
      Some("""SELECT CAST(SUM(r1) AS BIGINT) AS signed_up,
             |  CAST(SUM(LEAST(r1, c2)) AS BIGINT) AS clicked,
             |  CAST(SUM(LEAST(r1, c3)) AS BIGINT) AS purchased
             |FROM (
             |  SELECT user_id,
             |    MAX(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS r1,
             |    MAX(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS c2,
             |    MAX(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS c3
             |  FROM events GROUP BY user_id
             |)""".stripMargin)),

    // ---- approximate quantiles (ClickHouse quantile() is approximate
    // ---- by default): oracled like q24 — exact values hash-checked,
    // ---- plus a flag that the sketch landed within tolerance ---------
    Q("q72_approx_quantiles",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_extendedprice, 0.5)").as("ex50"),
          expr("percentile(l_extendedprice, 0.99)").as("ex99"),
          expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("ap50"),
          expr("approx_percentile(l_extendedprice, 0.99, 10000)").as("ap99"))
        .select(col("l_returnflag"),
          round(col("ex50"), 4).as("p50"), round(col("ex99"), 4).as("p99"),
          (abs(col("ap50") - col("ex50")) / col("ex50") < 0.005 &&
            abs(col("ap99") - col("ex99")) / col("ex99") < 0.005).as("approx_ok"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
             |  ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
             |  TRUE AS approx_ok
             |FROM lineitem
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin))
  )
}
