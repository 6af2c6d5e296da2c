package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Forty-fourth analytics pack (round 6, session 9): series and
  * regression diagnostics plus distributional structure — maximum
  * drawdown, the Durbin-Watson autocorrelation test, Cook's-distance
  * influence ranking, an inequality panel (Atkinson / Theil / Palma),
  * and Moran's I spatial autocorrelation over the region adjacency.
  *
  * Exactness discipline: OLS coefficients come from exact BIGINT
  * moment sums; every per-row double term that feeds a sum is floored
  * onto a fixed micro/nano grid first (µ-residuals as BIGINT², ln and
  * √ terms as round-9/round-6 DECIMAL), so no statistic depends on
  * float summation order. */
object Analytics44 {

  /** Monthly revenue series with a 1-based month index — the shared
    * frame for the serial-dependence diagnostics (q326-q335, q406+).
    * Month lattice (orders span 1995-2001 → ≤ 84 rows), materialized
    * once per consumer with its bound asserted: every serial-dependence
    * query lags/sorts this frame in lattice-grain windows, which is
    * only legitimate while the yyyy-MM key space stays tiny. */
  private[queries] def monthlySeries(s: SparkSession, dir: String): DataFrame =
    graft.operators.Lattice.checkpointBounded(
      t(s, dir, "orders")
        .groupBy((year(col("o_orderdate")) * 100 +
          month(col("o_orderdate"))).cast("long").as("ym"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev"))
        .withColumn("x", row_number().over(Window.orderBy("ym")).cast("long")),
      1000, "orders yyyy-MM monthly series")

  private[queries] val MonthlySql =
    """monthly AS MATERIALIZED (
      |  SELECT ym, rev,
      |    CAST(ROW_NUMBER() OVER (ORDER BY ym) AS BIGINT) AS x
      |  FROM (
      |    SELECT YEAR(o_orderdate) * 100 + MONTH(o_orderdate) AS ym,
      |      CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |        AS rev
      |    FROM orders GROUP BY 1)
      |)""".stripMargin

  /** OLS moment sums + slope/intercept for the monthly series (exact
    * BIGINT sums, one double tree for the coefficients). */
  private[queries] val OlsSql =
    """m AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(rev) AS BIGINT) AS sy,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx,
      |    CAST(SUM(x * rev) AS BIGINT) AS sxy
      |  FROM monthly
      |), fit AS (
      |  SELECT n, sx, sxx,
      |    (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
      |      / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS b,
      |    (CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * sxy
      |        - CAST(sx AS DOUBLE) * sy)
      |      / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
      |      * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS a
      |  FROM m
      |)""".stripMargin

  private[queries] def olsFit(monthly: DataFrame): DataFrame = {
    val m = monthly.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("rev")).as("sy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("rev")).as("sxy"))
    m.select(col("n"), col("sx"), col("sxx"),
        ((col("n").cast("double") * col("sxy") -
          col("sx").cast("double") * col("sy")) /
          (col("n").cast("double") * col("sxx") -
            col("sx").cast("double") * col("sx"))).as("b"),
        col("sy"), col("sxy"))
      .select(col("n"), col("sx"), col("sxx"), col("b"),
        ((col("sy").cast("double") - col("b") * col("sx").cast("double")) /
          col("n").cast("double")).as("a"))
  }

  val all: Seq[Q] = Seq(

    // ---- maximum drawdown of the monthly revenue series: running
    // ---- peak, exact cent drawdowns, and the worst peak-to-trough
    // ---- month with its relative depth — the stability view the
    // ---- q240 EWMA chart and q212 anomaly flags bracket. ------------
    Q("q326_max_drawdown",
      (s, dir) => {
        val monthly = monthlySeries(s, dir)
        val withPeak = monthly.withColumn("peak",
          max(col("rev")).over(Window.orderBy("x")
            .rowsBetween(Window.unboundedPreceding, 0)))
        withPeak
          .select(col("ym"), col("rev"), col("peak"),
            (col("peak") - col("rev")).as("dd"))
          .orderBy(desc("dd"), asc("ym")).limit(1)
          .select(col("ym").as("trough_month"),
            round(col("peak") / lit(100.0), 2).as("peak_rev"),
            round(col("rev") / lit(100.0), 2).as("trough_rev"),
            round(col("dd") / lit(100.0), 2).as("max_drawdown"),
            round(col("dd").cast("double") / col("peak").cast("double"), 6)
              .as("depth"))
      },
      Some(s"""WITH $MonthlySql, with_peak AS (
             |  SELECT ym, rev,
             |    MAX(rev) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
             |      AS peak
             |  FROM monthly
             |)
             |SELECT ym AS trough_month,
             |  ROUND(peak / 100.0, 2) AS peak_rev,
             |  ROUND(rev / 100.0, 2) AS trough_rev,
             |  ROUND((peak - rev) / 100.0, 2) AS max_drawdown,
             |  ROUND(CAST(peak - rev AS DOUBLE) / CAST(peak AS DOUBLE), 6)
             |    AS depth
             |FROM with_peak
             |ORDER BY peak - rev DESC, ym LIMIT 1""".stripMargin)),

    // ---- Durbin-Watson on the monthly-trend OLS residuals: the
    // ---- residuals are floored to exact µ-cent BIGINTs, so both
    // ---- engines sum identical integer squares (HUGEINT / DECIMAL38
    // ---- across the exchange); DW ≈ 2(1−ρ̂₁). Complements q158's ACF
    // ---- with the regression-residual form. -------------------------
    Q("q327_durbin_watson",
      (s, dir) => {
        val monthly = monthlySeries(s, dir)
        val fit = olsFit(monthly)
        val resid = monthly.crossJoin(broadcast(fit))
          .select(col("x"),
            round((col("rev").cast("double") - col("a") -
              col("b") * col("x").cast("double")) * 1e6).cast("long")
              .as("e"))
        val lagged = resid
          .withColumn("ep", lag(col("e"), 1).over(Window.orderBy("x")))
        lagged.agg(count(lit(1)).as("n_months"),
            sum((col("e").cast(DecimalType(38, 0)) *
              col("e").cast(DecimalType(19, 0)))).cast("double").as("sse"),
            sum(when(col("ep").isNotNull,
              (col("e") - col("ep")).cast(DecimalType(38, 0)) *
              (col("e") - col("ep")).cast(DecimalType(19, 0)))
              .otherwise(lit(0).cast(DecimalType(38, 0)))).cast("double")
              .as("sdiff"))
          .select(col("n_months"),
            round(col("sdiff") / col("sse"), 6).as("dw"),
            round(lit(1.0) - col("sdiff") / col("sse") / lit(2.0), 6)
              .as("rho1_approx"))
      },
      Some(s"""WITH $MonthlySql, $OlsSql, resid AS (
             |  SELECT x,
             |    CAST(ROUND((CAST(rev AS DOUBLE) - a
             |      - b * CAST(x AS DOUBLE)) * 1e6) AS BIGINT) AS e
             |  FROM monthly CROSS JOIN fit
             |), lagged AS (
             |  SELECT e, LAG(e, 1) OVER (ORDER BY x) AS ep FROM resid
             |)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_months,
             |  ROUND(CAST(SUM(CASE WHEN ep IS NOT NULL THEN
             |      CAST(e - ep AS HUGEINT) * CAST(e - ep AS HUGEINT)
             |      ELSE 0 END) AS DOUBLE)
             |    / CAST(SUM(CAST(e AS HUGEINT) * CAST(e AS HUGEINT))
             |      AS DOUBLE), 6) AS dw,
             |  ROUND(1.0 - CAST(SUM(CASE WHEN ep IS NOT NULL THEN
             |      CAST(e - ep AS HUGEINT) * CAST(e - ep AS HUGEINT)
             |      ELSE 0 END) AS DOUBLE)
             |    / CAST(SUM(CAST(e AS HUGEINT) * CAST(e AS HUGEINT))
             |      AS DOUBLE) / 2.0, 6) AS rho1_approx
             |FROM lagged""".stripMargin)),

    // ---- Cook's distance for the monthly-trend fit: simple-OLS
    // ---- leverage in closed form h = 1/n + (x−x̄)²/Sxx, s² from the
    // ---- exact µ-residual SSE, top-5 influential months by rounded
    // ---- D (month tie-break). The influence partner of q204's
    // ---- Tukey-fence outliers. --------------------------------------
    Q("q328_cooks_distance",
      (s, dir) => {
        val monthly = monthlySeries(s, dir)
        val fit = olsFit(monthly)
        val resid = monthly.crossJoin(broadcast(fit))
          .select(col("ym"), col("x"), col("n"), col("sx"), col("sxx"),
            round((col("rev").cast("double") - col("a") -
              col("b") * col("x").cast("double")) * 1e6).cast("long")
              .as("e"))
        val sse = resid.agg(sum(col("e").cast(DecimalType(38, 0)) *
          col("e").cast(DecimalType(19, 0))).cast("double").as("sse2"))
        resid.crossJoin(broadcast(sse))
          .select(col("ym"),
            round(col("e").cast("double") / 1e8, 2).as("residual"),
            (lit(1.0) / col("n").cast("double") +
              pow(col("x").cast("double") -
                col("sx").cast("double") / col("n").cast("double"), 2) /
              (col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double") /
                col("n").cast("double"))).as("h"),
            (col("sse2") / (col("n") - 2L).cast("double")).as("s2"),
            col("e"))
          .select(col("ym"), col("residual"),
            round(col("h"), 6).as("leverage"),
            round(col("e").cast("double") * col("e").cast("double") *
              col("h") /
              (lit(2.0) * col("s2") * (lit(1.0) - col("h")) *
                (lit(1.0) - col("h"))), 6).as("cooks_d"))
          .orderBy(desc("cooks_d"), asc("ym")).limit(5)
      },
      Some(s"""WITH $MonthlySql, $OlsSql, resid AS (
             |  SELECT ym, x, n, sx, sxx,
             |    CAST(ROUND((CAST(rev AS DOUBLE) - a
             |      - b * CAST(x AS DOUBLE)) * 1e6) AS BIGINT) AS e
             |  FROM monthly CROSS JOIN fit
             |), sse AS (
             |  SELECT CAST(SUM(CAST(e AS HUGEINT) * CAST(e AS HUGEINT))
             |    AS DOUBLE) AS sse2
             |  FROM resid
             |), scored AS (
             |  SELECT ym,
             |    ROUND(CAST(e AS DOUBLE) / 1e8, 2) AS residual,
             |    1.0 / CAST(n AS DOUBLE)
             |      + POW(CAST(x AS DOUBLE) - CAST(sx AS DOUBLE)
             |        / CAST(n AS DOUBLE), 2)
             |      / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
             |        * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS h,
             |    sse2 / CAST(n - 2 AS DOUBLE) AS s2, e
             |  FROM resid CROSS JOIN sse
             |)
             |SELECT ym, residual, ROUND(h, 6) AS leverage,
             |  ROUND(CAST(e AS DOUBLE) * CAST(e AS DOUBLE) * h
             |    / (2.0 * s2 * (1.0 - h) * (1.0 - h)), 6) AS cooks_d
             |FROM scored
             |ORDER BY ROUND(CAST(e AS DOUBLE) * CAST(e AS DOUBLE) * h
             |  / (2.0 * s2 * (1.0 - h) * (1.0 - h)), 6) DESC, ym
             |LIMIT 5""".stripMargin)),

    // ---- inequality panel over per-customer lifetime spend (active
    // ---- customers): Atkinson(0.5) from grid-√ terms, Theil T from
    // ---- grid-ln terms, and the Palma ratio from exact decile
    // ---- boundaries — the concentration triple alongside q153's
    // ---- Gini and q179's Pareto curve. ------------------------------
    Q("q329_inequality_panel",
      (s, dir) => {
        val spend = t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("x"))
          .localCheckpoint(true)
        val tot = spend.agg(count(lit(1)).as("n"),
          sum(col("x").cast(DecimalType(38, 0))).cast("double").as("s"))
        // spend deciles via distributed rank (customer grain is
        // base-table grain: no single-task ntile sort)
        val terms = graft.operators.Ranks
          .withGlobalRank(spend, Seq(asc("x"), asc("o_custkey")), "rn")
          .crossJoin(broadcast(tot))
          .select(col("n"), col("s"),
            round(sqrt(col("x").cast("double")), 6)
              .cast(DecimalType(38, 6)).as("sqrt_t"),
            round((col("x").cast("double") / (col("s") / col("n"))) *
              log(col("x").cast("double") / (col("s") / col("n"))), 9)
              .cast(DecimalType(38, 9)).as("theil_t"),
            graft.operators.Ranks.ntileFromRank(col("rn"), col("n"), 10)
              .as("dec"),
            col("x"))
        terms.groupBy("n", "s")
          .agg(sum(col("sqrt_t")).cast("double").as("sq_s"),
            sum(col("theil_t")).cast("double").as("th_s"),
            sum(when(col("dec") === 10, col("x")).otherwise(0L)).as("top10"),
            sum(when(col("dec") <= 4, col("x")).otherwise(0L)).as("bot40"))
          .select(col("n"),
            round(col("s") / col("n") / lit(100.0), 2).as("mean_spend"),
            round(lit(1.0) - (col("sq_s") / col("n")) *
              (col("sq_s") / col("n")) / (col("s") / col("n")), 6)
              .as("atkinson_05"),
            round(col("th_s") / col("n"), 6).as("theil_t"),
            round(col("top10").cast("double") / col("bot40").cast("double"),
              6).as("palma"))
      },
      Some("""WITH spend AS MATERIALIZED (
             |  SELECT o_custkey,
             |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
             |      AS BIGINT) AS x
             |  FROM orders GROUP BY 1
             |), tot AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(CAST(x AS DECIMAL(38, 0))) AS DOUBLE) AS s
             |  FROM spend
             |), terms AS (
             |  SELECT n, s,
             |    CAST(ROUND(sqrt(CAST(x AS DOUBLE)), 6) AS DECIMAL(38, 6))
             |      AS sqrt_t,
             |    CAST(ROUND((CAST(x AS DOUBLE) / (s / n))
             |      * ln(CAST(x AS DOUBLE) / (s / n)), 9) AS DECIMAL(38, 9))
             |      AS theil_t,
             |    NTILE(10) OVER (ORDER BY x, o_custkey) AS dec, x
             |  FROM spend CROSS JOIN tot
             |), agg AS (
             |  SELECT n, s,
             |    CAST(SUM(sqrt_t) AS DOUBLE) AS sq_s,
             |    CAST(SUM(theil_t) AS DOUBLE) AS th_s,
             |    CAST(SUM(CASE WHEN dec = 10 THEN x ELSE 0 END) AS BIGINT)
             |      AS top10,
             |    CAST(SUM(CASE WHEN dec <= 4 THEN x ELSE 0 END) AS BIGINT)
             |      AS bot40
             |  FROM terms GROUP BY 1, 2
             |)
             |SELECT n,
             |  ROUND(s / n / 100.0, 2) AS mean_spend,
             |  ROUND(1.0 - (sq_s / n) * (sq_s / n) / (s / n), 6)
             |    AS atkinson_05,
             |  ROUND(th_s / n, 6) AS theil_t,
             |  ROUND(CAST(top10 AS DOUBLE) / CAST(bot40 AS DOUBLE), 6)
             |    AS palma
             |FROM agg""".stripMargin)),

    // ---- Moran's I over the region adjacency: nation-level mean
    // ---- balances, binary same-region weights (i≠j), centered
    // ---- cross-products on the 1e-6 grid — positive I means regions
    // ---- cluster rich/poor nations together. n=25 nations, so the
    // ---- pair table is metadata-sized; the heavy step is the one
    // ---- customer aggregation. --------------------------------------
    Q("q330_morans_i",
      (s, dir) => {
        val nat = t(s, dir, "customer")
          .groupBy("c_nationkey")
          .agg(sum(round(col("c_acctbal") * 100).cast("long")).as("sb"),
            count(lit(1)).as("cn"))
          .join(broadcast(t(s, dir, "nation")
            .select(col("n_nationkey"), col("n_regionkey"))),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("n_nationkey").as("nk"), col("n_regionkey").as("rk"),
            (col("sb").cast("double") / col("cn").cast("double")).as("m"))
          .localCheckpoint(true)
        // mbar must not float-sum across partitions: grid each nation
        // mean (already an identical double in both engines — exact
        // integer division) to 1e-6 DECIMAL, sum exactly, divide once
        val gm = nat.agg(count(lit(1)).as("nn"),
          (sum(round(col("m"), 6).cast(DecimalType(38, 6))).cast("double") /
            count(lit(1))).as("mbar"))
        val z = nat.crossJoin(broadcast(gm))
          .select(col("nk"), col("rk"), col("nn"),
            (col("m") - col("mbar")).as("z"))
        val denom = z.select(col("nn"),
            round(col("z") * col("z"), 6).cast(DecimalType(38, 6)).as("zz"))
          .groupBy("nn").agg(sum(col("zz")).cast("double").as("sz2"))
        val cross = z.as("a").join(z.as("b"),
            col("a.rk") === col("b.rk") && col("a.nk") =!= col("b.nk"))
          .select(round(col("a.z") * col("b.z"), 6)
            .cast(DecimalType(38, 6)).as("zw"))
          .agg(count(lit(1)).as("s0"), sum(col("zw")).cast("double")
            .as("szw"))
        denom.crossJoin(cross)
          .select(col("nn").as("n_nations"), col("s0"),
            round(col("nn").cast("double") / col("s0").cast("double") *
              col("szw") / col("sz2"), 6).as("morans_i"),
            round(lit(-1.0) / (col("nn") - 1L).cast("double"), 6)
              .as("expected_i"))
      },
      Some("""WITH nat AS MATERIALIZED (
             |  SELECT n_nationkey AS nk, n_regionkey AS rk,
             |    CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT))
             |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS m
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  GROUP BY 1, 2
             |), gm AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS nn,
             |    CAST(SUM(CAST(ROUND(m, 6) AS DECIMAL(38, 6))) AS DOUBLE)
             |      / CAST(COUNT(*) AS BIGINT) AS mbar
             |  FROM nat
             |), z AS (
             |  SELECT nk, rk, nn, m - mbar AS z
             |  FROM nat CROSS JOIN gm
             |), denom AS (
             |  SELECT nn,
             |    CAST(SUM(CAST(ROUND(z * z, 6) AS DECIMAL(38, 6)))
             |      AS DOUBLE) AS sz2
             |  FROM z GROUP BY nn
             |), crossp AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS s0,
             |    CAST(SUM(CAST(ROUND(a.z * b.z, 6) AS DECIMAL(38, 6)))
             |      AS DOUBLE) AS szw
             |  FROM z a JOIN z b ON a.rk = b.rk AND a.nk <> b.nk
             |)
             |SELECT nn AS n_nations, s0,
             |  ROUND(CAST(nn AS DOUBLE) / CAST(s0 AS DOUBLE) * szw / sz2,
             |    6) AS morans_i,
             |  ROUND(-1.0 / CAST(nn - 1 AS DOUBLE), 6) AS expected_i
             |FROM denom CROSS JOIN crossp""".stripMargin))
  )
}
