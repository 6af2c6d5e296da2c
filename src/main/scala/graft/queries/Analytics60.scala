package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Sixtieth analytics pack (round 6, session 9): method-comparison /
  * agreement statistics on the paired monthly construct (1995 vs 1996
  * revenue by calendar month, q356's pairing) — Deming
  * errors-in-both regression, Lin's concordance correlation,
  * Bland-Altman limits of agreement, the Passing-Bablok shifted
  * median slope (all 66 pairwise slopes exact), and the two-way
  * random-effects ICC(2,1).
  *
  * Exactness discipline: the 12 paired cells are exact cent BIGINTs;
  * every cross-moment rides DECIMAL(38,0) products; pairwise slopes
  * are round-9 gridded with rank selection by row_number; the closed
  * forms are evaluated in one identical double expression per
  * engine. */
object Analytics60 {

  /** Paired monthly revenue: (mon 1..12, x = 1995 cents, y = 1996). */
  private def paired(s: SparkSession, dir: String): DataFrame = {
    val m = t(s, dir, "orders")
      .where(year(col("o_orderdate")).isin(1995, 1996))
      .groupBy(month(col("o_orderdate")).as("mon"),
        year(col("o_orderdate")).as("yr"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long"))
        .as("cents"))
    m.where(col("yr") === 1995).select(col("mon"), col("cents").as("x"))
      .join(m.where(col("yr") === 1996)
        .select(col("mon"), col("cents").as("y")), Seq("mon"))
  }

  private val PairedSql =
    """m AS (
      |  SELECT MONTH(o_orderdate) AS mon, YEAR(o_orderdate) AS yr,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders WHERE YEAR(o_orderdate) IN (1995, 1996)
      |  GROUP BY 1, 2
      |), paired AS (
      |  SELECT a.mon, a.cents AS x, b.cents AS y
      |  FROM m a JOIN m b ON a.mon = b.mon
      |  WHERE a.yr = 1995 AND b.yr = 1996
      |)""".stripMargin

  /** Exact centered second moments of the paired cells (doubles from
    * decimal sums; identical expression both engines). */
  private val MomentsSql =
    """mom AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(CAST(x AS DECIMAL(38, 0)) * x) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(y AS DECIMAL(38, 0)) * y) AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(x AS DECIMAL(38, 0)) * y) AS DOUBLE) AS sxy
      |  FROM paired
      |)""".stripMargin

  private def moments(p: DataFrame): DataFrame =
    p.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"),
      sum(col("x").cast(DecimalType(38, 0)) * col("x")).cast("double")
        .as("sxx"),
      sum(col("y").cast(DecimalType(38, 0)) * col("y")).cast("double")
        .as("syy"),
      sum(col("x").cast(DecimalType(38, 0)) * col("y")).cast("double")
        .as("sxy"))

  val all: Seq[Q] = Seq(

    // ---- Deming regression (error-variance ratio δ = 1): the
    // ---- errors-in-both-variables slope from centered moments,
    // ---- β = [Syy − Sxx + √((Syy−Sxx)² + 4·Sxy²)] / (2·Sxy). -------
    Q("q406_deming_regression",
      (s, dir) => {
        moments(paired(s, dir))
          .select(col("n"),
            (col("sxx") - col("sx").cast("double")
              * col("sx").cast("double") / col("n").cast("double"))
              .as("cxx"),
            (col("syy") - col("sy").cast("double")
              * col("sy").cast("double") / col("n").cast("double"))
              .as("cyy"),
            (col("sxy") - col("sx").cast("double")
              * col("sy").cast("double") / col("n").cast("double"))
              .as("cxy"),
            (col("sx").cast("double") / col("n").cast("double"))
              .as("mx"),
            (col("sy").cast("double") / col("n").cast("double"))
              .as("my"))
          .select(col("n").as("n_months"),
            round((col("cyy") - col("cxx")
              + sqrt((col("cyy") - col("cxx"))
                * (col("cyy") - col("cxx"))
                + lit(4.0) * col("cxy") * col("cxy")))
              / (lit(2.0) * col("cxy")), 6).as("slope"),
            round((col("my") - (col("cyy") - col("cxx")
              + sqrt((col("cyy") - col("cxx")) * (col("cyy") - col("cxx"))
                + lit(4.0) * col("cxy") * col("cxy")))
              / (lit(2.0) * col("cxy")) * col("mx")) / 100.0, 2)
              .as("intercept_dollars"))
      },
      Some(s"""WITH $PairedSql, $MomentsSql, cen AS (
             |  SELECT n,
             |    sxx - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
             |      / CAST(n AS DOUBLE) AS cxx,
             |    syy - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
             |      / CAST(n AS DOUBLE) AS cyy,
             |    sxy - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
             |      / CAST(n AS DOUBLE) AS cxy,
             |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
             |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my
             |  FROM mom
             |)
             |SELECT n AS n_months,
             |  ROUND((cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
             |    + 4.0 * cxy * cxy)) / (2.0 * cxy), 6) AS slope,
             |  ROUND((my - (cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
             |    + 4.0 * cxy * cxy)) / (2.0 * cxy) * mx) / 100.0, 2)
             |    AS intercept_dollars
             |FROM cen""".stripMargin)),

    // ---- Lin's concordance correlation coefficient: CCC =
    // ---- 2·Sxy / (Sxx + Syy + n·(x̄−ȳ)²) on population moments,
    // ---- with the Pearson r alongside. -----------------------------
    Q("q407_lins_ccc",
      (s, dir) => {
        moments(paired(s, dir))
          .select(col("n").as("n_months"),
            round((lit(2.0) * (col("sxy") - col("sx").cast("double")
              * col("sy").cast("double") / col("n").cast("double")))
              / ((col("sxx") - col("sx").cast("double")
                * col("sx").cast("double") / col("n").cast("double"))
                + (col("syy") - col("sy").cast("double")
                  * col("sy").cast("double") / col("n").cast("double"))
                + col("n").cast("double")
                  * (col("sx").cast("double") / col("n").cast("double")
                    - col("sy").cast("double") / col("n").cast("double"))
                  * (col("sx").cast("double") / col("n").cast("double")
                    - col("sy").cast("double")
                      / col("n").cast("double"))), 6).as("ccc"),
            round((col("sxy") - col("sx").cast("double")
              * col("sy").cast("double") / col("n").cast("double"))
              / sqrt((col("sxx") - col("sx").cast("double")
                * col("sx").cast("double") / col("n").cast("double"))
                * (col("syy") - col("sy").cast("double")
                  * col("sy").cast("double")
                  / col("n").cast("double"))), 6).as("pearson_r"))
      },
      Some(s"""WITH $PairedSql, $MomentsSql
             |SELECT n AS n_months,
             |  ROUND((2.0 * (sxy - CAST(sx AS DOUBLE)
             |      * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
             |    / ((sxx - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
             |        / CAST(n AS DOUBLE))
             |      + (syy - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
             |        / CAST(n AS DOUBLE))
             |      + CAST(n AS DOUBLE)
             |        * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
             |          - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
             |        * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
             |          - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))), 6)
             |    AS ccc,
             |  ROUND((sxy - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
             |      / CAST(n AS DOUBLE))
             |    / sqrt((sxx - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
             |        / CAST(n AS DOUBLE))
             |      * (syy - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
             |        / CAST(n AS DOUBLE))), 6) AS pearson_r
             |FROM mom""".stripMargin)),

    // ---- Bland-Altman limits of agreement: paired differences in
    // ---- exact cents, bias ± 1.96·sd(n−1) in dollars, and the count
    // ---- outside the limits. ---------------------------------------
    Q("q408_bland_altman",
      (s, dir) => {
        val d = paired(s, dir).select((col("y") - col("x")).as("d"))
        val stats = d.agg(count(lit(1)).as("n"), sum(col("d")).as("s1"),
          sum(col("d").cast(DecimalType(38, 0)) * col("d")).as("s2"))
          .select(col("n"),
            (col("s1").cast("double") / col("n").cast("double"))
              .as("mean_d"),
            sqrt((col("s2").cast("double")
              - col("s1").cast("double") * col("s1").cast("double")
                / col("n").cast("double"))
              / (col("n") - 1L).cast("double")).as("sd_d"))
        d.crossJoin(broadcast(stats))
          .agg(max(col("n")).as("n_months"),
            round(max(col("mean_d")) / 100.0, 2).as("bias_dollars"),
            round((max(col("mean_d")) - lit(1.96) * max(col("sd_d")))
              / 100.0, 2).as("loa_low_dollars"),
            round((max(col("mean_d")) + lit(1.96) * max(col("sd_d")))
              / 100.0, 2).as("loa_high_dollars"),
            sum(when(col("d").cast("double")
              < col("mean_d") - lit(1.96) * col("sd_d"), 1L)
              .when(col("d").cast("double")
                > col("mean_d") + lit(1.96) * col("sd_d"), 1L)
              .otherwise(0L)).as("n_outside"))
      },
      Some(s"""WITH $PairedSql, d AS (
             |  SELECT y - x AS d FROM paired
             |), stats AS (
             |  SELECT n,
             |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_d,
             |    sqrt((CAST(s2 AS DOUBLE)
             |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
             |        / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE))
             |      AS sd_d
             |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |      CAST(SUM(d) AS BIGINT) AS s1,
             |      SUM(CAST(d AS DECIMAL(38, 0)) * d) AS s2
             |    FROM d) z
             |)
             |SELECT MAX(n) AS n_months,
             |  ROUND(MAX(mean_d) / 100.0, 2) AS bias_dollars,
             |  ROUND((MAX(mean_d) - 1.96 * MAX(sd_d)) / 100.0, 2)
             |    AS loa_low_dollars,
             |  ROUND((MAX(mean_d) + 1.96 * MAX(sd_d)) / 100.0, 2)
             |    AS loa_high_dollars,
             |  CAST(SUM(CASE
             |    WHEN CAST(d AS DOUBLE) < mean_d - 1.96 * sd_d THEN 1
             |    WHEN CAST(d AS DOUBLE) > mean_d + 1.96 * sd_d THEN 1
             |    ELSE 0 END) AS BIGINT) AS n_outside
             |FROM d CROSS JOIN stats""".stripMargin)),

    // ---- Passing-Bablok shifted median slope: all 66 pairwise
    // ---- slopes (x strictly ordered, gridded), offset K = #slopes
    // ---- < −1, estimate = the (N+K)-shifted two-middle median via
    // ---- rank selection. -------------------------------------------
    Q("q409_passing_bablok",
      (s, dir) => {
        val p = paired(s, dir)
        // 12-row calendar lattice on both sides — broadcast the probe
        // side so the non-equi pair join plans as BroadcastNestedLoop,
        // not a CartesianProduct (the aggregate's SIZE ESTIMATE, not
        // its actual 12 rows, drives that choice)
        val slopes = p.as("a").join(broadcast(p.as("b")),
          col("b.mon") > col("a.mon"))
          .where(col("a.x") =!= col("b.x"))
          .select(round((col("b.y") - col("a.y")).cast("double")
            / (col("b.x") - col("a.x")).cast("double"), 9).as("sl"))
        // `slopes` is pair-of-months grain: 84 months → ≤ 84·83/2 ≈
        // 3.5k rows regardless of data volume, so the single-partition
        // rank is bounded by the calendar, not the table. If this is
        // ever reused over a data-scaled pair set, switch to
        // Ranks.withGlobalRank.
        val ranked = slopes
          .withColumn("rn", row_number().over(
            Window.orderBy(col("sl"), monotonically_increasing_id()))
            .cast("long"))
        val ks = slopes.agg(count(lit(1)).as("nsl"),
          sum(when(col("sl") < -1.0, 1L).otherwise(0L)).as("k"))
        ranked.crossJoin(broadcast(ks))
          .agg(max(col("nsl")).as("n_slopes"), max(col("k")).as("k_offset"),
            round((sum(when(col("rn") === expr("(nsl + k + 1) div 2"),
              col("sl")).otherwise(0.0))
              + sum(when(col("rn") === expr("(nsl + k) div 2 + 1"),
                col("sl")).otherwise(0.0))) / 2.0, 6).as("pb_slope"))
      },
      Some(s"""WITH $PairedSql, slopes AS (
             |  SELECT ROUND(CAST(b.y - a.y AS DOUBLE)
             |    / CAST(b.x - a.x AS DOUBLE), 9) AS sl
             |  FROM paired a JOIN paired b ON b.mon > a.mon
             |  WHERE a.x <> b.x
             |), ranked AS (
             |  SELECT sl, CAST(ROW_NUMBER() OVER (ORDER BY sl)
             |    AS BIGINT) AS rn
             |  FROM slopes
             |), ks AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS nsl,
             |    CAST(SUM(CASE WHEN sl < -1.0 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS k
             |  FROM slopes
             |)
             |SELECT MAX(nsl) AS n_slopes, MAX(k) AS k_offset,
             |  ROUND((SUM(CASE WHEN rn = (nsl + k + 1) // 2 THEN sl
             |      ELSE 0 END)
             |    + SUM(CASE WHEN rn = (nsl + k) // 2 + 1 THEN sl
             |      ELSE 0 END)) / 2.0, 6) AS pb_slope
             |FROM ranked CROSS JOIN ks""".stripMargin)),

    // ---- two-way random-effects ICC(2,1) with months as subjects and
    // ---- the two years as raters: ANOVA mean squares from exact
    // ---- decimal sums of squares, ICC = (MSR − MSE) /
    // ---- (MSR + (k−1)·MSE + k·(MSC − MSE)/n). ----------------------
    Q("q410_icc21",
      (s, dir) => {
        val long = paired(s, dir)
          .select(col("mon"), col("x").as("v"), lit(1L).as("r"))
          .unionByName(paired(s, dir)
            .select(col("mon"), col("y").as("v"), lit(2L).as("r")))
        val g = long.agg(count(lit(1)).as("nn"), sum(col("v")).as("sv"),
          sum(col("v").cast(DecimalType(38, 0)) * col("v")).as("svv"))
        val rows = long.groupBy("mon").agg(sum(col("v")).as("sr"))
          .agg(count(lit(1)).as("n"),
            sum(col("sr").cast(DecimalType(38, 0)) * col("sr"))
              .as("ssr"))
        val cols = long.groupBy("r").agg(sum(col("v")).as("sc"))
          .agg(count(lit(1)).as("k"),
            sum(col("sc").cast(DecimalType(38, 0)) * col("sc"))
              .as("ssc"))
        g.crossJoin(broadcast(rows)).crossJoin(broadcast(cols))
          .select(col("n"), col("k"),
            (col("svv").cast("double")
              - col("sv").cast("double") * col("sv").cast("double")
                / col("nn").cast("double")).as("sst"),
            (col("ssr").cast("double") / col("k").cast("double")
              - col("sv").cast("double") * col("sv").cast("double")
                / col("nn").cast("double")).as("ssr"),
            (col("ssc").cast("double") / col("n").cast("double")
              - col("sv").cast("double") * col("sv").cast("double")
                / col("nn").cast("double")).as("ssc"))
          .select(col("n").as("n_subjects"), col("k").as("k_raters"),
            round((
              (col("ssr") / (col("n") - 1L).cast("double"))
                - ((col("sst") - col("ssr") - col("ssc"))
                  / ((col("n") - 1L) * (col("k") - 1L)).cast("double")))
              / ((col("ssr") / (col("n") - 1L).cast("double"))
                + (col("k") - 1L).cast("double")
                  * ((col("sst") - col("ssr") - col("ssc"))
                    / ((col("n") - 1L) * (col("k") - 1L)).cast("double"))
                + col("k").cast("double")
                  * ((col("ssc") / (col("k") - 1L).cast("double"))
                    - ((col("sst") - col("ssr") - col("ssc"))
                      / ((col("n") - 1L) * (col("k") - 1L))
                        .cast("double")))
                  / col("n").cast("double")), 6).as("icc21"))
      },
      Some(s"""WITH $PairedSql, lng AS (
             |  SELECT mon, x AS v, 1 AS r FROM paired
             |  UNION ALL
             |  SELECT mon, y AS v, 2 AS r FROM paired
             |), g AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS nn,
             |    CAST(SUM(v) AS BIGINT) AS sv,
             |    SUM(CAST(v AS DECIMAL(38, 0)) * v) AS svv
             |  FROM lng
             |), rws AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    SUM(CAST(sr AS DECIMAL(38, 0)) * sr) AS ssr
             |  FROM (SELECT mon, CAST(SUM(v) AS BIGINT) AS sr
             |        FROM lng GROUP BY 1) z
             |), cls AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
             |    SUM(CAST(sc AS DECIMAL(38, 0)) * sc) AS ssc
             |  FROM (SELECT r, CAST(SUM(v) AS BIGINT) AS sc
             |        FROM lng GROUP BY 1) z
             |), ss AS (
             |  SELECT n, k,
             |    CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE)
             |      * CAST(sv AS DOUBLE) / CAST(nn AS DOUBLE) AS sst,
             |    CAST(ssr AS DOUBLE) / CAST(k AS DOUBLE)
             |      - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
             |        / CAST(nn AS DOUBLE) AS ssr,
             |    CAST(ssc AS DOUBLE) / CAST(n AS DOUBLE)
             |      - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
             |        / CAST(nn AS DOUBLE) AS ssc
             |  FROM g CROSS JOIN rws CROSS JOIN cls
             |)
             |SELECT n AS n_subjects, k AS k_raters,
             |  ROUND(((ssr / CAST(n - 1 AS DOUBLE))
             |      - ((sst - ssr - ssc)
             |        / CAST((n - 1) * (k - 1) AS DOUBLE)))
             |    / ((ssr / CAST(n - 1 AS DOUBLE))
             |      + CAST(k - 1 AS DOUBLE) * ((sst - ssr - ssc)
             |        / CAST((n - 1) * (k - 1) AS DOUBLE))
             |      + CAST(k AS DOUBLE)
             |        * ((ssc / CAST(k - 1 AS DOUBLE))
             |          - ((sst - ssr - ssc)
             |            / CAST((n - 1) * (k - 1) AS DOUBLE)))
             |        / CAST(n AS DOUBLE)), 6) AS icc21
             |FROM ss""".stripMargin)),
  )
}
