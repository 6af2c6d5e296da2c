package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Forty-ninth analytics pack (round 6, session 9): sampling and
  * experimentation operations — Neyman stratified allocation with
  * largest-remainder rounding, Bloom-filter sizing for the table
  * keys, a 16-split A/A false-positive audit, temporal AUC decay, and
  * restricted mean survival time off the q150 product-limit curve.
  *
  * Exactness discipline: strata moments, split moments, and rank
  * sums are exact BIGINTs (tie mass carried as doubled counts);
  * survival areas sum grid-rounded DECIMAL terms. */
object Analytics49 {

  /** q353: number of synthetic A/A replications. */
  private val AaSplits = 16

  /** q355: RMST horizon in days. */
  private val Tau = 60

  val all: Seq[Q] = Seq(

    // ---- Neyman allocation of a 1000-unit sample across market
    // ---- segments: n_h ∝ N_h·S_h from exact cent moments, floored,
    // ---- then largest-remainder rounding (remainder desc, segment
    // ---- asc) so the allocations sum exactly to the sample size. ----
    Q("q351_neyman_allocation",
      (s, dir) => {
        val strata = t(s, dir, "customer")
          .select(col("c_mktsegment").as("seg"),
            round(col("c_acctbal") * 100).cast("long").as("cents"))
          .groupBy("seg")
          .agg(count(lit(1)).as("nh"),
            sum(col("cents").cast(DecimalType(38, 0))).cast("double")
              .as("sc"),
            sum((col("cents") * col("cents")).cast(DecimalType(38, 0)))
              .cast("double").as("sq"))
          .select(col("seg"), col("nh"),
            sqrt((col("sq") - col("sc") * col("sc") / col("nh")) /
              (col("nh") - 1L)).as("sd"))
          .select(col("seg"), col("nh"), col("sd"),
            (col("nh").cast("double") * col("sd")).as("w"))
        val tot = strata.agg(
          sum(round(col("w"), 6).cast(DecimalType(38, 6))).cast("double")
            .as("wsum"))
        val real = strata.crossJoin(broadcast(tot))
          .select(col("seg"), col("nh"), col("sd"),
            (lit(1000.0) * col("w") / col("wsum")).as("alloc_real"))
          .select(col("seg"), col("nh"), col("sd"), col("alloc_real"),
            floor(col("alloc_real")).cast("long").as("fl"),
            (col("alloc_real") - floor(col("alloc_real"))).as("rem"))
        val short = real.agg((lit(1000L) - sum(col("fl"))).as("leftover"))
        real.crossJoin(broadcast(short))
          .withColumn("rk", row_number().over(
            Window.orderBy(desc("rem"), asc("seg"))).cast("long"))
          .select(col("seg"), col("nh"),
            round(col("sd") / 100.0, 2).as("stratum_sd"),
            (col("fl") + when(col("rk") <= col("leftover"), 1L)
              .otherwise(0L)).as("allocated"))
          .orderBy("seg")
      },
      Some("""WITH strata AS (
             |  SELECT seg, nh, sd, CAST(nh AS DOUBLE) * sd AS w
             |  FROM (
             |    SELECT c_mktsegment AS seg,
             |      CAST(COUNT(*) AS BIGINT) AS nh,
             |      sqrt((CAST(SUM(CAST(cents * cents AS DECIMAL(38, 0)))
             |          AS DOUBLE)
             |        - CAST(SUM(CAST(cents AS DECIMAL(38, 0))) AS DOUBLE)
             |          * CAST(SUM(CAST(cents AS DECIMAL(38, 0)))
             |            AS DOUBLE) / COUNT(*))
             |        / (COUNT(*) - 1)) AS sd
             |    FROM (SELECT c_mktsegment,
             |        CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
             |      FROM customer)
             |    GROUP BY 1)
             |), tot AS (
             |  SELECT CAST(SUM(CAST(ROUND(w, 6) AS DECIMAL(38, 6)))
             |    AS DOUBLE) AS wsum
             |  FROM strata
             |), realloc AS (
             |  SELECT seg, nh, sd, alloc_real,
             |    CAST(FLOOR(alloc_real) AS BIGINT) AS fl,
             |    alloc_real - FLOOR(alloc_real) AS rem
             |  FROM (
             |    SELECT seg, nh, sd, 1000.0 * w / wsum AS alloc_real
             |    FROM strata CROSS JOIN tot)
             |), short AS (
             |  SELECT 1000 - CAST(SUM(fl) AS BIGINT) AS leftover
             |  FROM realloc
             |), ranked AS (
             |  SELECT seg, nh, sd, fl, leftover,
             |    CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, seg)
             |      AS BIGINT) AS rk
             |  FROM realloc CROSS JOIN short
             |)
             |SELECT seg, nh,
             |  ROUND(sd / 100.0, 2) AS stratum_sd,
             |  CAST(fl + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
             |    AS BIGINT) AS allocated
             |FROM ranked
             |ORDER BY seg""".stripMargin)),

    // ---- Bloom-filter sizing for each table's join key at 1% / 0.1%
    // ---- target fpp: m = ⌈−n·ln p / ln²2⌉ bits, k = round(m/n·ln 2)
    // ---- hashes — the planner's input when deciding the q85-style
    // ---- bloom semi-join. -------------------------------------------
    Q("q352_bloom_sizing",
      (s, dir) => {
        def keys(table: String, key: String): DataFrame =
          t(s, dir, table).agg(countDistinct(col(key)).as("n_keys"))
            .select(lit(table).as("tbl"), col("n_keys"))
        val stats = Seq(
          keys("customer", "c_custkey"), keys("orders", "o_orderkey"),
          keys("part", "p_partkey"), keys("supplier", "s_suppkey"),
          keys("lineitem", "l_orderkey")).reduce(_ unionByName _)
        val fpps = stats.sparkSession
          .createDataFrame(Seq(Tuple1(0.01), Tuple1(0.001))).toDF("fpp")
        stats.crossJoin(broadcast(fpps))
          .select(col("tbl"), col("n_keys"), col("fpp"),
            ceil(-col("n_keys").cast("double") * log(col("fpp")) /
              (log(lit(2.0)) * log(lit(2.0)))).cast("long").as("bits"))
          .select(col("tbl"), col("n_keys"), col("fpp"), col("bits"),
            greatest(lit(1L), round(col("bits").cast("double") /
              col("n_keys").cast("double") * log(lit(2.0)), 0)
              .cast("long")).as("hashes"),
            round(col("bits").cast("double") / 8.0 / 1048576.0, 3)
              .as("mib"))
          .orderBy("tbl", "fpp")
      },
      Some("""WITH stats AS (
             |  SELECT 'customer' AS tbl,
             |    CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_keys
             |  FROM customer
             |  UNION ALL SELECT 'orders',
             |    CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders
             |  UNION ALL SELECT 'part',
             |    CAST(COUNT(DISTINCT p_partkey) AS BIGINT) FROM part
             |  UNION ALL SELECT 'supplier',
             |    CAST(COUNT(DISTINCT s_suppkey) AS BIGINT) FROM supplier
             |  UNION ALL SELECT 'lineitem',
             |    CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) FROM lineitem
             |), sized AS (
             |  SELECT tbl, n_keys, fpp,
             |    CAST(CEIL(-CAST(n_keys AS DOUBLE) * ln(fpp)
             |      / (ln(2.0) * ln(2.0))) AS BIGINT) AS bits
             |  FROM stats
             |  CROSS JOIN (SELECT UNNEST([0.01::DOUBLE, 0.001::DOUBLE])
             |    AS fpp)
             |)
             |SELECT tbl, n_keys, fpp, bits,
             |  CAST(GREATEST(1, ROUND(CAST(bits AS DOUBLE)
             |    / CAST(n_keys AS DOUBLE) * ln(2.0), 0)) AS BIGINT)
             |    AS hashes,
             |  ROUND(CAST(bits AS DOUBLE) / 8.0 / 1048576.0, 3) AS mib
             |FROM sized
             |ORDER BY tbl, fpp""".stripMargin)),

    // ---- A/A false-positive audit: 16 md5-keyed re-randomizations of
    // ---- customers into two arms, pooled z on lifetime spend per
    // ---- split; under the null ~5% should flag at 1.96. Exact cent
    // ---- moments per (split, arm); the experiment-harness health
    // ---- check beside q157's real A/B. ------------------------------
    Q("q353_aa_audit",
      (s, dir) => {
        val spend = t(s, dir, "orders").groupBy("o_custkey")
          .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("x"))
        val units = t(s, dir, "customer")
          .join(spend, col("c_custkey") === col("o_custkey"), "left")
          .select(col("c_custkey").as("key"),
            coalesce(col("x"), lit(0L)).as("x"))
        val splits = units.crossJoin(
            units.sparkSession.range(1, AaSplits + 1).toDF("sp"))
          .select(col("sp"),
            expr("conv(substring(md5(concat(sp, '|', key)), 29, 4), 16, " +
              "10) % 2").cast("long").as("arm"), col("x"))
        val m = splits.groupBy("sp", "arm")
          .agg(count(lit(1)).as("n"),
            sum(col("x").cast(DecimalType(38, 0))).cast("double").as("s"),
            sum((col("x").cast(DecimalType(19, 0)) *
              col("x").cast(DecimalType(19, 0)))).cast("double").as("sq"))
        val z = m.groupBy("sp")
          .agg(max(when(col("arm") === 1L, col("n"))).as("n1"),
            max(when(col("arm") === 1L, col("s"))).as("s1"),
            max(when(col("arm") === 1L, col("sq"))).as("sq1"),
            max(when(col("arm") === 0L, col("n"))).as("n0"),
            max(when(col("arm") === 0L, col("s"))).as("s0"),
            max(when(col("arm") === 0L, col("sq"))).as("sq0"))
          .select(col("sp"),
            ((col("s1") / col("n1") - col("s0") / col("n0")) /
              sqrt((col("sq1") - col("s1") * col("s1") / col("n1")) /
                (col("n1") - 1L) / col("n1") +
                (col("sq0") - col("s0") * col("s0") / col("n0")) /
                (col("n0") - 1L) / col("n0"))).as("z"))
        z.select(round(abs(col("z")), 9).cast(DecimalType(38, 9))
            .as("az"))
          .agg(count(lit(1)).as("n_splits"),
            sum((col("az") > 1.96).cast("long")).as("n_significant"),
            round(max(col("az")).cast("double"), 6).as("max_abs_z"),
            round(sum(col("az")).cast("double") / AaSplits, 6)
              .as("mean_abs_z"))
      },
      Some(s"""WITH spend AS (
             |  SELECT o_custkey,
             |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
             |      AS BIGINT) AS x
             |  FROM orders GROUP BY 1
             |), units AS (
             |  SELECT c_custkey AS key, COALESCE(x, 0) AS x
             |  FROM customer LEFT JOIN spend ON c_custkey = o_custkey
             |), splits AS (
             |  SELECT sp,
             |    ('0x' || substr(md5(sp || '|' || key), 29, 4))::BIGINT % 2
             |      AS arm, x
             |  FROM units
             |  CROSS JOIN (SELECT UNNEST(range(1, ${AaSplits + 1})) AS sp)
             |), m AS (
             |  SELECT sp, arm, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(CAST(x AS DECIMAL(38, 0))) AS DOUBLE) AS s,
             |    CAST(SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT))
             |      AS DOUBLE) AS sq
             |  FROM splits GROUP BY 1, 2
             |), z AS (
             |  SELECT sp,
             |    (s1 / n1 - s0 / n0)
             |      / sqrt((sq1 - s1 * s1 / n1) / (n1 - 1) / n1
             |        + (sq0 - s0 * s0 / n0) / (n0 - 1) / n0) AS z
             |  FROM (
             |    SELECT sp,
             |      MAX(CASE WHEN arm = 1 THEN n END) AS n1,
             |      MAX(CASE WHEN arm = 1 THEN s END) AS s1,
             |      MAX(CASE WHEN arm = 1 THEN sq END) AS sq1,
             |      MAX(CASE WHEN arm = 0 THEN n END) AS n0,
             |      MAX(CASE WHEN arm = 0 THEN s END) AS s0,
             |      MAX(CASE WHEN arm = 0 THEN sq END) AS sq0
             |    FROM m GROUP BY sp)
             |), az AS (
             |  SELECT CAST(ROUND(ABS(z), 9) AS DECIMAL(38, 9)) AS az
             |  FROM z
             |)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_splits,
             |  CAST(SUM(CASE WHEN az > 1.96 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_significant,
             |  ROUND(CAST(MAX(az) AS DOUBLE), 6) AS max_abs_z,
             |  ROUND(CAST(SUM(az) AS DOUBLE) / $AaSplits, 6) AS mean_abs_z
             |FROM az""".stripMargin)),

    // ---- temporal AUC decay: the price→urgency AUC per order year
    // ---- via the tie-aware U identity U·2 = Σ_score pos_s·(2·neg_below
    // ---- + neg_eq) — exact BIGINTs until one division per year. Does
    // ---- the q215-style ranking power hold over time? ----------------
    Q("q354_auc_decay",
      (s, dir) => {
        val scored = t(s, dir, "orders")
          .where(year(col("o_orderdate")).isin(1995, 1996, 1997))
          .select(year(col("o_orderdate")).cast("long").as("yr"),
            round(col("o_totalprice") * 100).cast("long").as("cents"),
            col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
              .as("y"))
        val perScore = scored.groupBy("yr", "cents")
          .agg(sum(col("y")).as("pos"),
            sum(lit(1L) - col("y")).as("neg"))
        val w = Window.partitionBy("yr").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, -1)
        val u2 = perScore
          .withColumn("neg_below", coalesce(sum(col("neg")).over(w),
            lit(0L)))
          .groupBy("yr")
          .agg(sum(col("pos")).as("p"), sum(col("neg")).as("q"),
            sum(col("pos") * (lit(2L) * col("neg_below") + col("neg")))
              .as("u2"))
        u2.select(col("yr").as("year"), col("p").as("positives"),
            col("q").as("negatives"),
            round(col("u2").cast("double") /
              (lit(2.0) * col("p").cast("double") *
                col("q").cast("double")), 6).as("auc"))
          .orderBy("year")
      },
      Some("""WITH scored AS (
             |  SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
             |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |      THEN 1 ELSE 0 END AS y
             |  FROM orders WHERE YEAR(o_orderdate) IN (1995, 1996, 1997)
             |), per_score AS (
             |  SELECT yr, cents, CAST(SUM(y) AS BIGINT) AS pos,
             |    CAST(SUM(1 - y) AS BIGINT) AS neg
             |  FROM scored GROUP BY 1, 2
             |), cum AS (
             |  SELECT yr, pos, neg,
             |    COALESCE(SUM(neg) OVER (PARTITION BY yr ORDER BY cents
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS neg_below
             |  FROM per_score
             |), u AS (
             |  SELECT yr, CAST(SUM(pos) AS BIGINT) AS p,
             |    CAST(SUM(neg) AS BIGINT) AS q,
             |    CAST(SUM(pos * (2 * neg_below + neg)) AS BIGINT) AS u2
             |  FROM cum GROUP BY yr
             |)
             |SELECT yr AS year, p AS positives, q AS negatives,
             |  ROUND(CAST(u2 AS DOUBLE)
             |    / (2.0 * CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), 6)
             |    AS auc
             |FROM u
             |ORDER BY year""".stripMargin)),

    // ---- restricted mean survival time: the area under q150's
    // ---- product-limit curve up to τ = 60 days (step integral on the
    // ---- round-9 grid), plus the median survival time (first step at
    // ---- or below 0.5, τ if never reached). --------------------------
    Q("q355_rmst",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val horizon = ev.agg(max(to_date(col("ts"))).as("maxday"))
        val perUser = ev.groupBy("user_id")
          .agg(min(when(col("event_type") === "signup", to_date(col("ts"))))
              .as("sday"),
            min(when(col("event_type") === "purchase", to_date(col("ts"))))
              .as("pday"))
          .where(col("sday").isNotNull)
          .crossJoin(broadcast(horizon))
          .select(
            when(col("pday") >= col("sday"),
              datediff(col("pday"), col("sday"))).as("tev"),
            col("sday"), col("maxday"))
          .select(coalesce(col("tev"), datediff(col("maxday"), col("sday")))
              .cast("long").as("t"),
            col("tev").isNotNull.as("observed"))
        val steps = perUser.groupBy("t").agg(
          sum(when(col("observed"), 1L).otherwise(0L)).as("d"),
          sum(when(col("observed"), 0L).otherwise(1L)).as("c"))
        val wPrev = Window.orderBy("t")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wAll = Window.orderBy("t")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val wCur = Window.orderBy("t")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val surv = steps
          .withColumn("n", sum(col("d") + col("c")).over(wAll) -
            coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
          .withColumn("lnterm",
            when(col("d") > 0,
              round(log(lit(1.0) - col("d").cast("double") / col("n")), 9))
              .otherwise(lit(0.0)).cast(DecimalType(38, 9)))
          .select(col("t"),
            exp(sum(col("lnterm")).over(wCur).cast("double")).as("sv"))
        // step integral on [0, tau): S=1 before the first step; each
        // step's survival applies from its t to the next step (clipped)
        val clipped = surv
          .withColumn("nxt", coalesce(lead(col("t"), 1)
            .over(Window.orderBy("t")), lit(Tau.toLong)))
          .where(col("t") < Tau)
          .select(col("t"), col("sv"),
            (least(col("nxt"), lit(Tau.toLong)) - col("t")).as("wd"))
        val firstT = surv.agg(min(col("t")).as("t0"))
          .select(least(col("t0"), lit(Tau.toLong)).as("t0"))
        val area = clipped
          .select(round(col("sv") * col("wd").cast("double"), 9)
            .cast(DecimalType(38, 9)).as("a"))
          .agg(sum(col("a")).cast("double").as("area"))
        val med = surv.where(round(col("sv"), 9) <= 0.5)
          .agg(min(col("t")).as("medt"))
        firstT.crossJoin(area).crossJoin(med)
          .select(lit(Tau.toLong).as("tau"),
            round(col("t0").cast("double") + col("area"), 6).as("rmst"),
            coalesce(col("medt"), lit(Tau.toLong)).as("median_survival"))
      },
      Some(s"""WITH horizon AS (
             |  SELECT MAX(CAST(ts AS DATE)) AS maxday FROM events
             |), per_user AS (
             |  SELECT user_id,
             |    MIN(CASE WHEN event_type = 'signup'
             |      THEN CAST(ts AS DATE) END) AS sday,
             |    MIN(CASE WHEN event_type = 'purchase'
             |      THEN CAST(ts AS DATE) END) AS pday
             |  FROM events GROUP BY user_id
             |), durs AS (
             |  SELECT
             |    CAST(COALESCE(CASE WHEN pday >= sday THEN pday - sday END,
             |      maxday - sday) AS BIGINT) AS t,
             |    (CASE WHEN pday >= sday THEN pday - sday END) IS NOT NULL
             |      AS observed
             |  FROM per_user CROSS JOIN horizon
             |  WHERE sday IS NOT NULL
             |), steps AS (
             |  SELECT t,
             |    CAST(SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT)
             |      AS d,
             |    CAST(SUM(CASE WHEN observed THEN 0 ELSE 1 END) AS BIGINT)
             |      AS c
             |  FROM durs GROUP BY t
             |), risk AS (
             |  SELECT t, d,
             |    CAST(SUM(d + c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
             |        PRECEDING AND UNBOUNDED FOLLOWING)
             |      - COALESCE(SUM(d + c) OVER (ORDER BY t ROWS BETWEEN
             |        UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             |      AS n
             |  FROM steps
             |), surv AS MATERIALIZED (
             |  SELECT t,
             |    exp(CAST(SUM(CAST(CASE WHEN d > 0 THEN
             |        ROUND(ln(1.0 - CAST(d AS DOUBLE) / n), 9)
             |        ELSE 0.0 END AS DECIMAL(38, 9)))
             |      OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS DOUBLE))
             |      AS sv
             |  FROM risk
             |), clipped AS (
             |  SELECT t, sv, wd FROM (
             |    SELECT t, sv,
             |      LEAST(COALESCE(LEAD(t, 1) OVER (ORDER BY t), $Tau),
             |        $Tau) - t AS wd
             |    FROM surv)
             |  WHERE t < $Tau
             |), area AS (
             |  SELECT CAST(SUM(CAST(ROUND(sv * CAST(wd AS DOUBLE), 9)
             |    AS DECIMAL(38, 9))) AS DOUBLE) AS area
             |  FROM clipped
             |), first_t AS (
             |  SELECT LEAST(CAST(MIN(t) AS BIGINT), $Tau) AS t0 FROM surv
             |), med AS (
             |  SELECT MIN(t) AS medt FROM surv WHERE ROUND(sv, 9) <= 0.5
             |)
             |SELECT CAST($Tau AS BIGINT) AS tau,
             |  ROUND(CAST(t0 AS DOUBLE) + area, 6) AS rmst,
             |  CAST(COALESCE(medt, $Tau) AS BIGINT) AS median_survival
             |FROM first_t CROSS JOIN area CROSS JOIN med""".stripMargin))
  )
}
