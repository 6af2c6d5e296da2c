package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.dedup.Portable
import graft.functions.QuantileSketch
import graft.sources.Tables

/** Twenty-seventh analytics pack (round 6, session 7): merged DDSketch
  * quantile windows (the quantileState windowed-merge partner of
  * q209's HLL windows), monthly OHLC bars, near-dup source census,
  * EWMA control chart, discount elasticity, and event-transition
  * latency.
  *
  * Exactness discipline unchanged: BIGINT/decimal sums to the final
  * division, q24/q86's estimate-within-bound flag pattern for sketch
  * estimates, decimal-grid weighted sums for the EWMA closed form. */
object Analytics27 {

  private val WindowLagDays = 6

  val all: Seq[Q] = Seq(

    // ---- trailing-7-day p50 of event value per day from MERGED
    // ---- per-day DDSketch states: land one ~KB sketch per day, window
    // ---- = state union (dd_sketch_merge), never a re-scan of raw
    // ---- events — the quantile partner of q209's HLL windows and the
    // ---- shape that makes windowed quantiles viable at 100 TB. Hash-
    // ---- checked columns: exact windowed p50 + within-bound flag
    // ---- (alpha=0.01 sketch against a 3% band). ---------------------
    Q("q237_sliding_p50_sketch",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(dayofmonth(col("ts")).cast("long").as("d"), col("value"))
        val states = ev.groupBy("d")
          .agg(QuantileSketch.sketchAgg(col("value")).as("sk"))
        val spine = states.select(col("d").as("wday"))
        val merged = spine.join(states,
            col("d").between(col("wday") - WindowLagDays, col("wday")))
          .groupBy("wday")
          .agg(count(lit(1)).as("n_days"),
            QuantileSketch.quantile(QuantileSketch.merge(col("sk")), 0.5)
              .as("est"))
        val exact = spine.join(ev,
            col("d").between(col("wday") - WindowLagDays, col("wday")))
          .groupBy("wday")
          .agg(round(expr("percentile(value, 0.5)"), 4).as("p50_exact"))
        exact.join(merged, Seq("wday"))
          .select(col("wday").as("day"), col("n_days"), col("p50_exact"),
            (abs(col("est") - col("p50_exact")) / col("p50_exact") <= 0.03)
              .as("p50_ok"))
          .orderBy("day")
      },
      Some(s"""WITH ev AS MATERIALIZED (
             |  SELECT CAST(EXTRACT(day FROM ts) AS BIGINT) AS d, value
             |  FROM events
             |), spine AS (SELECT DISTINCT d AS wday FROM ev),
             |days AS (SELECT DISTINCT d FROM ev)
             |SELECT s.wday AS day,
             |  CAST((SELECT COUNT(*) FROM days
             |        WHERE d BETWEEN s.wday - $WindowLagDays AND s.wday)
             |    AS BIGINT) AS n_days,
             |  ROUND(quantile_cont(e.value, 0.5), 4) AS p50_exact,
             |  TRUE AS p50_ok
             |FROM spine s JOIN ev e
             |  ON e.d BETWEEN s.wday - $WindowLagDays AND s.wday
             |GROUP BY s.wday
             |ORDER BY day""".stripMargin)),

    // ---- monthly OHLC bars per event type: open/close by the total
    // ---- (ts, event_id) order within the bar, high/low/volume as
    // ---- plain aggregates — the financial-bars shape. Two window
    // ---- passes per bar key, then one reduce; open/close are single
    // ---- picked values (no float summation), volume is decimal. -----
    Q("q238_ohlc_bars",
      (s, dir) => {
        val bar = Window.partitionBy(col("event_type"), col("mon"))
        val byTs = bar.orderBy(col("ts"), col("event_id"))
        val byTsDesc = bar.orderBy(col("ts").desc, col("event_id").desc)
        t(s, dir, "events")
          .select(col("event_type"),
            date_format(col("ts"), "yyyy-MM").as("mon"), col("ts"),
            col("event_id"), col("value"))
          .withColumn("ra", row_number().over(byTs))
          .withColumn("rd", row_number().over(byTsDesc))
          .groupBy("event_type", "mon")
          .agg(count(lit(1)).as("n"),
            max(when(col("ra") === 1, col("value"))).as("open"),
            max(when(col("rd") === 1, col("value"))).as("close"),
            max(col("value")).as("high"), min(col("value")).as("low"),
            sum(dec(col("value"))).cast("double").as("volume"))
          .orderBy("event_type", "mon")
      },
      Some("""WITH ev AS (
             |  SELECT event_type, strftime(ts, '%Y-%m') AS mon, value,
             |    ROW_NUMBER() OVER (PARTITION BY event_type,
             |      strftime(ts, '%Y-%m') ORDER BY ts, event_id) AS ra,
             |    ROW_NUMBER() OVER (PARTITION BY event_type,
             |      strftime(ts, '%Y-%m') ORDER BY ts DESC, event_id DESC)
             |      AS rd
             |  FROM events
             |)
             |SELECT event_type, mon, CAST(COUNT(*) AS BIGINT) AS n,
             |  MAX(CASE WHEN ra = 1 THEN value END) AS open,
             |  MAX(CASE WHEN rd = 1 THEN value END) AS close,
             |  MAX(value) AS high, MIN(value) AS low,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS volume
             |FROM ev
             |GROUP BY 1, 2
             |ORDER BY event_type, mon""".stripMargin)),

    // ---- near-dup source census: where do the q35 MinHash pairs live —
    // ---- within one source or across two? Joins the banded pair set
    // ---- (cached signature index) to sources on both sides; the
    // ---- census is |sources|²-bounded. The curation question this
    // ---- answers: is duplication a crawl artifact (intra-source) or
    // ---- syndication (cross-source)? --------------------------------
    Q("q239_dup_source_census",
      (s, dir) => {
        val idx = graft.sim.IndexCache.getOrBuild(s, s"mh-index:$dir") {
          Portable.minhashIndex(Tables.loadParallel(s, dir, "documents"))
        }
        val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
        Portable.minhashPairsFromIndex(idx, threshold = 0.6)
          .join(src.select(col("doc_id").as("id_a"),
            col("source").as("sa")), Seq("id_a"))
          .join(src.select(col("doc_id").as("id_b"),
            col("source").as("sb")), Seq("id_b"))
          .select(least(col("sa"), col("sb")).as("src_lo"),
            greatest(col("sa"), col("sb")).as("src_hi"))
          .groupBy("src_lo", "src_hi")
          .agg(count(lit(1)).as("n_pairs"))
          .select(col("src_lo"), col("src_hi"), col("n_pairs"),
            (col("src_lo") === col("src_hi")).as("intra"))
          .orderBy("src_lo", "src_hi")
      },
      Some(s"""WITH pairs AS (
             |  SELECT id_a, id_b FROM (
             |    ${Portable.minhashPairsSql(threshold = 0.6)
                    .replace("\n", "\n    ")})
             |)
             |SELECT LEAST(da.source, db.source) AS src_lo,
             |  GREATEST(da.source, db.source) AS src_hi,
             |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
             |  LEAST(da.source, db.source) = GREATEST(da.source, db.source)
             |    AS intra
             |FROM pairs p
             |JOIN documents da ON da.doc_id = p.id_a
             |JOIN documents db ON db.doc_id = p.id_b
             |GROUP BY 1, 2
             |ORDER BY src_lo, src_hi""".stripMargin)),

    // ---- EWMA control chart over monthly revenue (λ=1/4, L=3): the
    // ---- recurrence is unrolled into its closed form z_t = Σ w(i,t)·xᵢ
    // ---- with dyadic weights, each term rounded onto a 1e-9 grid —
    // ---- order-free over the bounded month grid (≤ 84² terms), so no
    // ---- recursive fold is needed at all. Control limits use the
    // ---- exact-decimal series mean/variance and the finite-horizon
    // ---- variance inflation 1−(1−λ)^{2t}. ---------------------------
    Q("q240_ewma_chart",
      (s, dir) => {
        val monthly = monthlyRevenue(t(s, dir, "orders"), byStatus = false)
          .select(col("mon"), col("rev"))
        val seq0 = monthly
          .withColumn("ti", row_number().over(Window.orderBy("mon"))
            .cast("long"))
          .select(col("ti"), col("mon"), col("rev"))
        val stats = seq0.agg(count(lit(1)).as("n"), sum(col("rev")).as("sx"),
          sum((col("rev") * col("rev")).cast(DecimalType(30, 4))).as("sxx"))
        val nD = col("n").cast("double")
        val mu = col("sx").cast("double") / nD
        val vr = (col("sxx").cast("double") - col("sx").cast("double")
          * col("sx").cast("double") / nD) / (nD - 1.0)
        // pow results are quantized onto a 1e-10 grid BEFORE the
        // multiply: a 1-ulp libm difference between engines vanishes
        // under the grid, and grid 10 is boundary-free for these dyadic
        // weights (0.75^m terminates at 2m digits, 0.25·0.75^m at 2m+2
        // — neither can end exactly one digit past an EVEN grid). The
        // weighted term then stays in exact DECIMAL arithmetic — no
        // double rounding anywhere on the summation path, so the two
        // engines' round-half conventions never meet a boundary.
        val wgt = round(when(col("i") === 1L,
            pow(lit(0.75), (col("ti") - 1L).cast("double")))
          .otherwise(lit(0.25) * pow(lit(0.75),
            (col("ti") - col("i")).cast("double"))), 10)
          .cast(DecimalType(20, 10))
        val z = seq0.as("tt").join(
            seq0.select(col("ti").as("i"), col("rev").as("xi")).as("ss"),
            col("i") <= col("ti"))
          .select(col("ti"), col("mon"), col("rev"),
            (wgt * col("xi")).as("term"))
          .groupBy("ti", "mon", "rev")
          .agg(sum(col("term")).as("zsum"))
        val infl = sqrt((lit(1.0) / 7.0)
          * (lit(1.0) - pow(lit(0.5625), col("ti").cast("double"))))
        z.crossJoin(broadcast(stats))
          .select(col("ti"), date_format(col("mon"), "yyyy-MM").as("mon"),
            col("rev").cast("double").as("x"),
            round(col("zsum"), 4).cast("double").as("ewma"),
            round(mu + lit(3.0) * sqrt(vr) * infl, 4).as("ucl"),
            round(mu - lit(3.0) * sqrt(vr) * infl, 4).as("lcl"),
            (col("zsum").cast("double") > mu + lit(3.0) * sqrt(vr) * infl ||
              col("zsum").cast("double") < mu - lit(3.0) * sqrt(vr) * infl)
              .as("out_of_control"))
          .orderBy("ti")
      },
      Some("""WITH monthly AS (
             |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
             |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
             |  FROM orders GROUP BY 1
             |), seq AS (
             |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY mon) AS BIGINT) AS ti,
             |    mon, rev
             |  FROM monthly
             |), stats AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    SUM(rev) AS sx,
             |    SUM(CAST(rev * rev AS DECIMAL(30,4))) AS sxx
             |  FROM seq
             |), z AS (
             |  SELECT t.ti, t.mon, t.rev,
             |    SUM(CAST(ROUND(CASE WHEN s.ti = 1
             |        THEN POWER(0.75, CAST(t.ti - 1 AS DOUBLE))
             |        ELSE 0.25 * POWER(0.75, CAST(t.ti - s.ti AS DOUBLE))
             |      END, 10) AS DECIMAL(20,10)) * s.rev)
             |      AS zsum
             |  FROM seq t JOIN seq s ON s.ti <= t.ti
             |  GROUP BY 1, 2, 3
             |)
             |SELECT ti, strftime(z.mon, '%Y-%m') AS mon,
             |  CAST(z.rev AS DOUBLE) AS x,
             |  CAST(ROUND(zsum, 4) AS DOUBLE) AS ewma,
             |  ROUND(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
             |    + 3.0 * sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
             |        * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
             |      / (CAST(n AS DOUBLE) - 1.0))
             |    * sqrt((1.0 / 7.0) * (1.0 - POWER(0.5625,
             |        CAST(ti AS DOUBLE)))), 4) AS ucl,
             |  ROUND(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
             |    - 3.0 * sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
             |        * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
             |      / (CAST(n AS DOUBLE) - 1.0))
             |    * sqrt((1.0 / 7.0) * (1.0 - POWER(0.5625,
             |        CAST(ti AS DOUBLE)))), 4) AS lcl,
             |  (CAST(zsum AS DOUBLE) > CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
             |    + 3.0 * sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
             |        * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
             |      / (CAST(n AS DOUBLE) - 1.0))
             |    * sqrt((1.0 / 7.0) * (1.0 - POWER(0.5625,
             |        CAST(ti AS DOUBLE))))
             |   OR CAST(zsum AS DOUBLE) < CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
             |    - 3.0 * sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
             |        * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
             |      / (CAST(n AS DOUBLE) - 1.0))
             |    * sqrt((1.0 / 7.0) * (1.0 - POWER(0.5625,
             |        CAST(ti AS DOUBLE))))) AS out_of_control
             |FROM z, stats
             |ORDER BY ti""".stripMargin)),

    // ---- discount elasticity per part type: Pearson correlation and
    // ---- OLS slope of quantity on discount over decimal-exact
    // ---- sufficient statistics (q128's discipline) — one fact scan,
    // ---- one bounded reduce, divisions only in the output. ----------
    Q("q241_discount_elasticity",
      (s, dir) => {
        val joined = t(s, dir, "lineitem")
          .select(col("l_partkey"), dec(col("l_discount")).as("dx"),
            dec(col("l_quantity")).as("qy"))
          .join(t(s, dir, "part").select(col("p_partkey"), col("p_type")),
            col("l_partkey") === col("p_partkey"))
        val sums = joined.groupBy("p_type").agg(
          count(lit(1)).as("n"), sum(col("dx")).as("sx"),
          sum(col("qy")).as("sy"),
          sum((col("dx") * col("dx")).cast(DecimalType(30, 6))).as("sxx"),
          sum((col("qy") * col("qy")).cast(DecimalType(30, 6))).as("syy"),
          sum((col("dx") * col("qy")).cast(DecimalType(30, 6))).as("sxy"))
        val nD = col("n").cast("double")
        def d(c: String) = col(c).cast("double")
        val covn = nD * d("sxy") - d("sx") * d("sy")
        val vxn = nD * d("sxx") - d("sx") * d("sx")
        val vyn = nD * d("syy") - d("sy") * d("sy")
        sums.select(col("p_type"), col("n"),
            when(vxn > 0.0 && vyn > 0.0,
              round(covn / sqrt(vxn * vyn), 6)).as("corr"),
            when(vxn > 0.0, round(covn / vxn, 6)).as("slope"))
          .orderBy("p_type")
      },
      Some("""WITH j AS (
             |  SELECT p.p_type,
             |    CAST(l.l_discount AS DECIMAL(12,2)) AS dx,
             |    CAST(l.l_quantity AS DECIMAL(12,2)) AS qy
             |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
             |), sums AS (
             |  SELECT p_type, CAST(COUNT(*) AS BIGINT) AS n,
             |    SUM(dx) AS sx, SUM(qy) AS sy,
             |    SUM(CAST(dx * dx AS DECIMAL(30,6))) AS sxx,
             |    SUM(CAST(qy * qy AS DECIMAL(30,6))) AS syy,
             |    SUM(CAST(dx * qy AS DECIMAL(30,6))) AS sxy
             |  FROM j GROUP BY 1
             |)
             |SELECT p_type, n,
             |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
             |    AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
             |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0.0 THEN
             |    ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |      / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |       * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
             |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             |  END AS corr,
             |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0 THEN
             |    ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
             |  END AS slope
             |FROM sums
             |ORDER BY p_type""".stripMargin)),

    // ---- event-transition latency matrix: for each (current, next)
    // ---- event-type pair, how long until the next event — exact
    // ---- integer microsecond gaps reduced per pair (mean is the only
    // ---- division). One window pass per user (q154/q220's shape). ---
    Q("q242_transition_latency",
      (s, dir) => {
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        t(s, dir, "events")
          .select(col("user_id"), col("event_type").as("cur"), col("ts"),
            lead(col("event_type"), 1).over(byUser).as("nxt"),
            lead(col("ts"), 1).over(byUser).as("nts"))
          .where(col("nxt").isNotNull)
          .select(col("cur"), col("nxt"),
            (unix_micros(col("nts")) - unix_micros(col("ts"))).as("gap_us"))
          .groupBy("cur", "nxt")
          .agg(count(lit(1)).as("n"),
            round(sum(col("gap_us")).cast("double")
              / count(lit(1)).cast("double") / 1000000.0, 4)
              .as("mean_gap_s"),
            round(min(col("gap_us")).cast("double") / 1000000.0, 6)
              .as("min_gap_s"),
            round(max(col("gap_us")).cast("double") / 1000000.0, 6)
              .as("max_gap_s"))
          .orderBy("cur", "nxt")
      },
      Some("""WITH seq AS (
             |  SELECT user_id, event_type AS cur, ts,
             |    LEAD(event_type) OVER w AS nxt,
             |    LEAD(ts) OVER w AS nts
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |  QUALIFY nxt IS NOT NULL
             |)
             |SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n,
             |  ROUND(CAST(SUM(epoch_us(nts) - epoch_us(ts)) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE) / 1000000.0, 4) AS mean_gap_s,
             |  ROUND(CAST(MIN(epoch_us(nts) - epoch_us(ts)) AS DOUBLE)
             |    / 1000000.0, 6) AS min_gap_s,
             |  ROUND(CAST(MAX(epoch_us(nts) - epoch_us(ts)) AS DOUBLE)
             |    / 1000000.0, 6) AS max_gap_s
             |FROM seq
             |GROUP BY 1, 2
             |ORDER BY cur, nxt""".stripMargin))
  )
}
