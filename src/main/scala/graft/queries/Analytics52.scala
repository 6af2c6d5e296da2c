package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Fifty-second analytics pack (round 6, session 9): forecast
  * evaluation — the metrics a pipeline needs to judge its demand /
  * volume forecasts. MASE of the seasonal-naive forecast, pinball
  * (quantile) loss of last year's empirical deciles, the cumulative
  * tracking signal of a naive forecast, the CRPS of an empirical
  * ensemble, and the Diebold-Mariano test comparing naive vs
  * seasonal-naive under absolute-error loss.
  *
  * Exactness discipline: every error is an exact cent BIGINT; MASE
  * rides the integer cross-ratio (num·nd)/(den·nf); pinball loss is
  * the integer 10·loss lattice; CRPS reuses the sorted-cumulative
  * pairwise-|x−y| identity (O(distinct), never an n² join); DM moments
  * are exact Σd / Σd² with one double division at the end. */
object Analytics52 {

  /** Monthly revenue in exact cents, keyed by sortable 'yyyy-MM'. */
  private def monthly(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("mon"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))

  private val MonthlySql =
    """m AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS mon,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1
      |)""".stripMargin

  /** 1995 (forecast ensemble) vs 1996 (actuals) order totals by exact
    * cent value — the q369 cohort table. */
  private val YearCohortSql =
    """coh AS (
      |  SELECT CASE WHEN YEAR(o_orderdate) = 1995 THEN 'a' ELSE 'b' END
      |      AS g,
      |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE YEAR(o_orderdate) IN (1995, 1996)
      |), byval AS (
      |  SELECT cents,
      |    CAST(SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM coh GROUP BY 1
      |), tot AS (
      |  SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
      |  FROM byval
      |)""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- MASE of the seasonal-naive forecast (x̂_t = x_{t−12}) on
    // ---- monthly revenue, scaled by the one-step naive in-sample
    // ---- MAE: both numerator and denominator are exact cent sums,
    // ---- and the ratio rides the integer cross-product
    // ---- (num·nd)/(den·nf) — one double division at the end. -------
    Q("q366_mase",
      (s, dir) => {
        val w = Window.orderBy("mon")
        val lagd = monthly(s, dir)
          .withColumn("l1", lag(col("cents"), 1).over(w))
          .withColumn("l12", lag(col("cents"), 12).over(w))
        lagd.agg(
          sum(when(col("l12").isNotNull, abs(col("cents") - col("l12"))))
            .as("num"),
          sum(when(col("l12").isNotNull, 1L)).as("nf"),
          sum(when(col("l1").isNotNull, abs(col("cents") - col("l1"))))
            .as("den"),
          sum(when(col("l1").isNotNull, 1L)).as("nd"))
          .select(col("nf").as("n_forecasts"),
            round(col("num").cast("double") / col("nf").cast("double")
              / 100.0, 6).as("mae_seasonal_dollars"),
            round((col("num") * col("nd")).cast("double")
              / (col("den") * col("nf")).cast("double"), 6).as("mase"))
      },
      Some(s"""WITH $MonthlySql, lagd AS (
             |  SELECT cents,
             |    LAG(cents, 1) OVER (ORDER BY mon) AS l1,
             |    LAG(cents, 12) OVER (ORDER BY mon) AS l12
             |  FROM m
             |), agg AS (
             |  SELECT
             |    CAST(SUM(CASE WHEN l12 IS NOT NULL
             |      THEN ABS(cents - l12) END) AS BIGINT) AS num,
             |    CAST(SUM(CASE WHEN l12 IS NOT NULL THEN 1 END)
             |      AS BIGINT) AS nf,
             |    CAST(SUM(CASE WHEN l1 IS NOT NULL
             |      THEN ABS(cents - l1) END) AS BIGINT) AS den,
             |    CAST(SUM(CASE WHEN l1 IS NOT NULL THEN 1 END)
             |      AS BIGINT) AS nd
             |  FROM lagd
             |)
             |SELECT nf AS n_forecasts,
             |  ROUND(CAST(num AS DOUBLE) / CAST(nf AS DOUBLE) / 100.0, 6)
             |    AS mae_seasonal_dollars,
             |  ROUND(CAST(num * nd AS DOUBLE) / CAST(den * nf AS DOUBLE),
             |    6) AS mase
             |FROM agg""".stripMargin)),

    // ---- pinball (quantile) loss: 1995's empirical deciles (type-1
    // ---- order stats, rank = ceil(τ·n) = (t10·n+9) div 10) forecast
    // ---- the 1996 order-total distribution; the τ-weighted loss
    // ---- rides the integer lattice 10·loss = t10·(y−q) or
    // ---- (10−t10)·(q−y), summed exactly per decile. ----------------
    Q("q367_pinball_loss",
      (s, dir) => {
        val c95 = t(s, dir, "orders")
          .where(year(col("o_orderdate")) === 1995)
          .select(round(col("o_totalprice") * 100).cast("long")
            .as("cents"))
        // 1995 quantile forecasts via distributed rank (orders-grain;
        // rank among tied cents is arbitrary but the VALUE at rank k is
        // the exact k-th order statistic either way)
        val rn = graft.operators.Ranks
          .withGlobalRank(c95, Seq(col("cents")), "rn")
          .crossJoin(broadcast(c95.agg(count(lit(1)).cast("long").as("n"))))
        val taus = s.range(1, 10).select(col("id").as("t10"))
        val qf = rn.crossJoin(broadcast(taus))
          .where(col("rn") === expr("(t10 * n + 9) div 10"))
          .select(col("t10"), col("cents").as("q"))
        t(s, dir, "orders")
          .where(year(col("o_orderdate")) === 1996)
          .select(round(col("o_totalprice") * 100).cast("long").as("y"))
          .crossJoin(broadcast(qf))
          .select(col("t10"), col("q"),
            when(col("y") >= col("q"), col("t10") * (col("y") - col("q")))
              .otherwise((lit(10L) - col("t10"))
                * (col("q") - col("y"))).as("loss10"))
          .groupBy("t10", "q")
          .agg(sum(col("loss10")).as("s10"), count(lit(1)).as("n"))
          .select((col("t10").cast("double") / 10.0).as("tau"),
            round(col("q").cast("double") / 100.0, 2)
              .as("q_forecast_dollars"),
            round(col("s10").cast("double")
              / (lit(10.0) * col("n").cast("double")) / 100.0, 6)
              .as("pinball_dollars"))
      },
      Some("""WITH c95 AS (
             |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders WHERE YEAR(o_orderdate) = 1995
             |), rn AS (
             |  SELECT cents,
             |    CAST(ROW_NUMBER() OVER (ORDER BY cents) AS BIGINT) AS rn,
             |    CAST(COUNT(*) OVER () AS BIGINT) AS n
             |  FROM c95
             |), taus AS (
             |  SELECT CAST(range AS BIGINT) AS t10 FROM range(1, 10)
             |), qf AS (
             |  SELECT t10, cents AS q
             |  FROM rn CROSS JOIN taus
             |  WHERE rn = (t10 * n + 9) // 10
             |), loss AS (
             |  SELECT t10, q,
             |    CASE WHEN y >= q THEN t10 * (y - q)
             |      ELSE (10 - t10) * (q - y) END AS loss10
             |  FROM (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT)
             |      AS y FROM orders WHERE YEAR(o_orderdate) = 1996) a
             |  CROSS JOIN qf
             |)
             |SELECT CAST(t10 AS DOUBLE) / 10.0 AS tau,
             |  ROUND(CAST(q AS DOUBLE) / 100.0, 2) AS q_forecast_dollars,
             |  ROUND(CAST(SUM(loss10) AS DOUBLE)
             |    / (10.0 * CAST(COUNT(*) AS DOUBLE)) / 100.0, 6)
             |    AS pinball_dollars
             |FROM loss GROUP BY t10, q""".stripMargin)),

    // ---- tracking signal of the one-step naive forecast: per month,
    // ---- TS_t = cumulative error / (cumulative MAE / t) — exact cent
    // ---- cumulatives, each TS round-6 gridded before max so the
    // ---- final and worst signals are order-independent. -------------
    Q("q368_tracking_signal",
      (s, dir) => {
        val w = Window.orderBy("mon")
        val e = monthly(s, dir)
          .withColumn("l1", lag(col("cents"), 1).over(w))
          .where(col("l1").isNotNull)
        val wc = Window.orderBy("mon")
          .rowsBetween(Window.unboundedPreceding, 0)
        e.withColumn("idx",
          row_number().over(Window.orderBy("mon")).cast("long"))
          .withColumn("cume", sum(col("cents") - col("l1")).over(wc))
          .withColumn("cumae",
            sum(abs(col("cents") - col("l1"))).over(wc))
          .withColumn("ts",
            round(col("idx").cast("double") * col("cume").cast("double")
              / col("cumae").cast("double"), 6))
          .agg(max(col("idx")).as("n_months"),
            max_by(col("ts"), col("idx")).as("ts_final"),
            max(abs(col("ts"))).as("max_abs_ts"))
      },
      Some(s"""WITH $MonthlySql, e AS (
             |  SELECT mon, cents, l1 FROM (
             |    SELECT mon, cents,
             |      LAG(cents, 1) OVER (ORDER BY mon) AS l1
             |    FROM m) x
             |  WHERE l1 IS NOT NULL
             |), ts AS (
             |  SELECT
             |    CAST(ROW_NUMBER() OVER (ORDER BY mon) AS BIGINT) AS idx,
             |    ROUND(CAST(ROW_NUMBER() OVER (ORDER BY mon) AS DOUBLE)
             |      * CAST(SUM(cents - l1) OVER (ORDER BY mon
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |        AS DOUBLE)
             |      / CAST(SUM(ABS(cents - l1)) OVER (ORDER BY mon
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |        AS DOUBLE), 6) AS ts
             |  FROM e
             |)
             |SELECT CAST(MAX(idx) AS BIGINT) AS n_months,
             |  MAX_BY(ts, idx) AS ts_final,
             |  MAX(ABS(ts)) AS max_abs_ts
             |FROM ts""".stripMargin)),

    // ---- CRPS of the 1995 empirical ensemble against 1996 actuals:
    // ---- avg CRPS = E|X−y| − ½E|X−X'| = C/(na·nb) − A/na², both
    // ---- pairwise masses from the sorted per-value cumulative
    // ---- identity (Σ gap·cum·(n−cum)) — O(distinct values). --------
    Q("q369_crps",
      (s, dir) => {
        val byval = t(s, dir, "orders")
          .where(year(col("o_orderdate")).isin(1995, 1996))
          .select(
            when(year(col("o_orderdate")) === 1995, "a").otherwise("b")
              .as("g"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
          .groupBy("cents")
          .agg(sum(when(col("g") === "a", 1L).otherwise(0L)).as("ca"),
            sum(when(col("g") === "b", 1L).otherwise(0L)).as("cb"))
        val tot = byval.agg(sum(col("ca")).as("na"),
          sum(col("cb")).as("nb"))
        val w = Window.orderBy("cents")
        byval
          .withColumn("cuma", sum(col("ca")).over(w))
          .withColumn("cumb", sum(col("cb")).over(w))
          .withColumn("gap", lead(col("cents"), 1).over(w) - col("cents"))
          .where(col("gap").isNotNull)
          .crossJoin(broadcast(tot))
          .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
            sum((col("gap") * col("cuma")).cast(DecimalType(38, 0))
              * (col("na") - col("cuma"))).as("aa"),
            sum(col("gap").cast(DecimalType(38, 0))
              * (col("cuma") * (col("nb") - col("cumb"))
                + col("cumb") * (col("na") - col("cuma")))).as("cc"))
          .select(col("na").as("n_forecast"), col("nb").as("n_actual"),
            round(col("cc").cast("double")
              / (col("na") * col("nb")).cast("double") / 100.0, 6)
              .as("mean_cross_dollars"),
            round((col("cc").cast("double")
              / (col("na") * col("nb")).cast("double")
              - col("aa").cast("double")
                / (col("na") * col("na")).cast("double")) / 100.0, 6)
              .as("crps_dollars"))
      },
      Some(s"""WITH $YearCohortSql, cum AS (
             |  SELECT cents,
             |    CAST(SUM(ca) OVER (ORDER BY cents) AS BIGINT) AS cuma,
             |    CAST(SUM(cb) OVER (ORDER BY cents) AS BIGINT) AS cumb,
             |    LEAD(cents) OVER (ORDER BY cents) - cents AS gap
             |  FROM byval
             |), agg AS (
             |  SELECT MAX(na) AS na, MAX(nb) AS nb,
             |    SUM(CAST(gap * cuma AS DECIMAL(38, 0)) * (na - cuma))
             |      AS aa,
             |    SUM(CAST(gap AS DECIMAL(38, 0))
             |      * (cuma * (nb - cumb) + cumb * (na - cuma))) AS cc
             |  FROM cum CROSS JOIN tot
             |  WHERE gap IS NOT NULL
             |)
             |SELECT na AS n_forecast, nb AS n_actual,
             |  ROUND(CAST(cc AS DOUBLE) / CAST(na * nb AS DOUBLE) / 100.0,
             |    6) AS mean_cross_dollars,
             |  ROUND((CAST(cc AS DOUBLE) / CAST(na * nb AS DOUBLE)
             |    - CAST(aa AS DOUBLE) / CAST(na * na AS DOUBLE)) / 100.0,
             |    6) AS crps_dollars
             |FROM agg""".stripMargin)),

    // ---- Diebold-Mariano under absolute-error loss: d_t = |e_naive|
    // ---- − |e_seasonal| in exact cents over months where both
    // ---- forecasts exist; DM = d̄ / √(s²/m) with the lag-0 sample
    // ---- variance from exact Σd and Σd² (documented: no HAC
    // ---- correction at monthly grain). -----------------------------
    Q("q370_diebold_mariano",
      (s, dir) => {
        val w = Window.orderBy("mon")
        val d = monthly(s, dir)
          .withColumn("l1", lag(col("cents"), 1).over(w))
          .withColumn("l12", lag(col("cents"), 12).over(w))
          .where(col("l1").isNotNull && col("l12").isNotNull)
          .select((abs(col("cents") - col("l1"))
            - abs(col("cents") - col("l12"))).as("d"))
        d.agg(count(lit(1)).as("m"), sum(col("d")).as("s1"),
          sum(col("d").cast(DecimalType(38, 0)) * col("d")).as("s2"))
          .select(col("m").as("n_months"),
            round(col("s1").cast("double") / col("m").cast("double")
              / 100.0, 6).as("mean_d_dollars"),
            round((col("s1").cast("double") / col("m").cast("double"))
              / sqrt((col("s2").cast("double")
                - col("s1").cast("double") * col("s1").cast("double")
                  / col("m").cast("double"))
                / (col("m").cast("double")
                  * (col("m").cast("double") - 1.0))), 6).as("dm_stat"))
      },
      Some(s"""WITH $MonthlySql, d AS (
             |  SELECT ABS(cents - l1) - ABS(cents - l12) AS d FROM (
             |    SELECT cents,
             |      LAG(cents, 1) OVER (ORDER BY mon) AS l1,
             |      LAG(cents, 12) OVER (ORDER BY mon) AS l12
             |    FROM m) x
             |  WHERE l1 IS NOT NULL AND l12 IS NOT NULL
             |), agg AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS m,
             |    CAST(SUM(d) AS BIGINT) AS s1,
             |    SUM(CAST(d AS DECIMAL(38, 0)) * d) AS s2
             |  FROM d
             |)
             |SELECT m AS n_months,
             |  ROUND(CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE) / 100.0, 6)
             |    AS mean_d_dollars,
             |  ROUND((CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE))
             |    / sqrt((CAST(s2 AS DOUBLE)
             |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
             |        / CAST(m AS DOUBLE))
             |      / (CAST(m AS DOUBLE) * (CAST(m AS DOUBLE) - 1.0))), 6)
             |    AS dm_stat
             |FROM agg""".stripMargin)),
  )
}
