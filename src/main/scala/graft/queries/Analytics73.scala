package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Seventy-third analytics pack (round 6, session 9): forensic digit
  * analysis (the Nigrini suite, extending q151's first-digit
  * Benford) — the second-digit Benford test, last-cent-digit
  * uniformity, psychological price-point attraction, the first-two-
  * digit MAD conformity scale, and the Benford sum-invariance check.
  *
  * Exactness discipline: every digit extraction is integer div/mod
  * on exact cents; Benford expectations are round-9 gridded log10
  * sums evaluated identically in both engines; chi-square and MAD
  * are one double expression over exact counts. */
object Analytics73 {

  /** Whole-dollar amounts (>= 10) of order totals, exact. */
  private def dollars(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(expr(
        "cast(round(o_totalprice * 100) as bigint) div 100").as("d"))
      .where(col("d") >= 10L)

  private val DollarsSql =
    """dollars AS (
      |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) // 100 AS d
      |  FROM orders
      |  WHERE CAST(ROUND(o_totalprice * 100) AS BIGINT) // 100 >= 10
      |)""".stripMargin

  /** First-two-digit extraction: leading two digits of d. */
  private val FirstTwoSql =
    """ft AS (
      |  SELECT CAST(d // CAST(pow(10.0, CAST(LENGTH(CAST(d AS VARCHAR))
      |    - 2 AS DOUBLE)) AS BIGINT) AS BIGINT) AS d2
      |  FROM dollars
      |)""".stripMargin

  private def firstTwo(dol: DataFrame): DataFrame =
    dol.select(expr("cast(d div cast(pow(10.0, " +
      "cast(length(cast(d as string)) - 2 as double)) as bigint) " +
      "as bigint)").as("d2"))

  val all: Seq[Q] = Seq(

    // ---- second-digit Benford: P(d) = Σ_k log10(1 + 1/(10k+d)) on
    // ---- the round-9 grid, chi-square over the 10 digits. ----------
    Q("q471_benford_second_digit",
      (s, dir) => {
        val ft = firstTwo(dollars(s, dir))
          .select((col("d2") % 10L).as("digit"))
        val obs = ft.groupBy("digit").agg(count(lit(1)).as("o"))
        val tot = obs.agg(sum(col("o")).as("n"))
        val exp9 = s.range(0, 10).select(col("id").as("digit"))
          .crossJoin(s.range(1, 10).select(col("id").as("k")))
          .select(col("digit"),
            round(log(10.0, lit(1.0)
              + lit(1.0) / (lit(10L) * col("k") + col("digit"))
                .cast("double")), 9).cast(DecimalType(38, 9)).as("pk"))
          .groupBy("digit").agg(sum(col("pk")).cast("double").as("p"))
        obs.join(exp9, Seq("digit")).crossJoin(broadcast(tot))
          .select(col("digit"), col("o"),
            round(col("p"), 6).as("expected_p"),
            round((col("o").cast("double")
              - col("n").cast("double") * col("p"))
              * (col("o").cast("double")
                - col("n").cast("double") * col("p"))
              / (col("n").cast("double") * col("p")), 6)
              .as("chi2_term"))
      },
      Some(s"""WITH $DollarsSql, $FirstTwoSql, obs AS (
             |  SELECT d2 % 10 AS digit, CAST(COUNT(*) AS BIGINT) AS o
             |  FROM ft GROUP BY 1
             |), tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
             |exp9 AS (
             |  SELECT digit, CAST(SUM(pk) AS DOUBLE) AS p FROM (
             |    SELECT dg.digit,
             |      CAST(ROUND(log10(1.0 + 1.0
             |        / CAST(10 * k.k + dg.digit AS DOUBLE)), 9)
             |        AS DECIMAL(38, 9)) AS pk
             |    FROM (SELECT CAST(range AS BIGINT) AS digit
             |          FROM range(0, 10)) dg
             |    CROSS JOIN (SELECT CAST(range AS BIGINT) AS k
             |                FROM range(1, 10)) k) z
             |  GROUP BY 1
             |)
             |SELECT digit, o,
             |  ROUND(p, 6) AS expected_p,
             |  ROUND((CAST(o AS DOUBLE) - CAST(n AS DOUBLE) * p)
             |    * (CAST(o AS DOUBLE) - CAST(n AS DOUBLE) * p)
             |    / (CAST(n AS DOUBLE) * p), 6) AS chi2_term
             |FROM obs JOIN exp9 USING (digit) CROSS JOIN tot"""
        .stripMargin)),

    // ---- last-cent-digit uniformity: invented amounts cluster on
    // ---- favorite digits; chi-square against the uniform 10%. ------
    Q("q472_last_digit_uniformity",
      (s, dir) => {
        val obs = t(s, dir, "orders")
          .select((round(col("o_totalprice") * 100).cast("long") % 10L)
            .as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("o"))
        val tot = obs.agg(sum(col("o")).as("n"))
        obs.crossJoin(broadcast(tot))
          .agg(max(col("n")).as("n_orders"),
            round(sum(round((col("o").cast("double")
              - col("n").cast("double") / 10.0)
              * (col("o").cast("double")
                - col("n").cast("double") / 10.0)
              / (col("n").cast("double") / 10.0), 6)
              .cast(DecimalType(38, 6))).cast("double"), 6).as("chi2"),
            max(col("o")).as("max_digit_count"),
            min(col("o")).as("min_digit_count"))
      },
      Some("""WITH obs AS (
             |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) % 10
             |    AS digit, CAST(COUNT(*) AS BIGINT) AS o
             |  FROM orders GROUP BY 1
             |), tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs)
             |SELECT MAX(n) AS n_orders,
             |  ROUND(CAST(SUM(CAST(ROUND((CAST(o AS DOUBLE)
             |      - CAST(n AS DOUBLE) / 10.0)
             |    * (CAST(o AS DOUBLE) - CAST(n AS DOUBLE) / 10.0)
             |    / (CAST(n AS DOUBLE) / 10.0), 6) AS DECIMAL(38, 6)))
             |    AS DOUBLE), 6) AS chi2,
             |  CAST(MAX(o) AS BIGINT) AS max_digit_count,
             |  CAST(MIN(o) AS BIGINT) AS min_digit_count
             |FROM obs CROSS JOIN tot""".stripMargin)),

    // ---- psychological price points: shares of totals ending .00,
    // ---- .99, .50 cents vs the 1% uniform baseline each. -----------
    Q("q473_price_points",
      (s, dir) => {
        t(s, dir, "orders")
          .select((round(col("o_totalprice") * 100).cast("long") % 100L)
            .as("cents"))
          .agg(count(lit(1)).as("n_orders"),
            sum(when(col("cents") === 0L, 1L).otherwise(0L)).as("end00"),
            sum(when(col("cents") === 99L, 1L).otherwise(0L))
              .as("end99"),
            sum(when(col("cents") === 50L, 1L).otherwise(0L))
              .as("end50"))
          .select(col("n_orders"),
            round(col("end00").cast("double")
              / col("n_orders").cast("double"), 6).as("share_00"),
            round(col("end99").cast("double")
              / col("n_orders").cast("double"), 6).as("share_99"),
            round(col("end50").cast("double")
              / col("n_orders").cast("double"), 6).as("share_50"))
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
             |  ROUND(CAST(SUM(CASE WHEN
             |      CAST(ROUND(o_totalprice * 100) AS BIGINT) % 100 = 0
             |    THEN 1 ELSE 0 END) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE), 6) AS share_00,
             |  ROUND(CAST(SUM(CASE WHEN
             |      CAST(ROUND(o_totalprice * 100) AS BIGINT) % 100 = 99
             |    THEN 1 ELSE 0 END) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE), 6) AS share_99,
             |  ROUND(CAST(SUM(CASE WHEN
             |      CAST(ROUND(o_totalprice * 100) AS BIGINT) % 100 = 50
             |    THEN 1 ELSE 0 END) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE), 6) AS share_50
             |FROM orders""".stripMargin)),

    // ---- first-two-digit Benford MAD (Nigrini conformity): MAD of
    // ---- |observed − expected| proportions over 10..99 with the
    // ---- published conformity bands. -------------------------------
    Q("q474_benford_mad",
      (s, dir) => {
        val obs = firstTwo(dollars(s, dir))
          .groupBy(col("d2")).agg(count(lit(1)).as("o"))
        val tot = obs.agg(sum(col("o")).as("n"))
        val grid = s.range(10, 100).select(col("id").as("d2"))
          .select(col("d2"),
            round(log(10.0, lit(1.0)
              + lit(1.0) / col("d2").cast("double")), 9).as("p"))
        grid.join(obs, Seq("d2"), "left")
          .crossJoin(broadcast(tot))
          .select(round(abs(coalesce(col("o"), lit(0L)).cast("double")
            / col("n").cast("double") - col("p")), 9)
            .cast(DecimalType(38, 9)).as("dev"))
          .agg(count(lit(1)).as("n_bins"),
            round(sum(col("dev")).cast("double") / count(lit(1)), 6)
              .as("mad"))
          .select(col("n_bins"), col("mad"),
            when(col("mad") < 0.0012, "close")
              .when(col("mad") < 0.0018, "acceptable")
              .when(col("mad") < 0.0022, "marginal")
              .otherwise("nonconforming").as("conformity"))
      },
      Some(s"""WITH $DollarsSql, $FirstTwoSql, obs AS (
             |  SELECT d2, CAST(COUNT(*) AS BIGINT) AS o
             |  FROM ft GROUP BY 1
             |), tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
             |grid AS (
             |  SELECT CAST(range AS BIGINT) AS d2,
             |    ROUND(log10(1.0 + 1.0 / CAST(range AS DOUBLE)), 9)
             |      AS p
             |  FROM range(10, 100)
             |), devs AS (
             |  SELECT CAST(ROUND(ABS(CAST(COALESCE(o, 0) AS DOUBLE)
             |    / CAST(n AS DOUBLE) - p), 9) AS DECIMAL(38, 9)) AS dev
             |  FROM grid LEFT JOIN obs USING (d2) CROSS JOIN tot
             |), agg AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
             |    ROUND(CAST(SUM(dev) AS DOUBLE) / COUNT(*), 6) AS mad
             |  FROM devs
             |)
             |SELECT n_bins, mad,
             |  CASE WHEN mad < 0.0012 THEN 'close'
             |    WHEN mad < 0.0018 THEN 'acceptable'
             |    WHEN mad < 0.0022 THEN 'marginal'
             |    ELSE 'nonconforming' END AS conformity
             |FROM agg""".stripMargin)),

    // ---- Benford sum invariance: under Benford, the SUM of amounts
    // ---- sharing a first digit is roughly equal across digits —
    // ---- per-digit sum shares with their max/min ratio. ------------
    Q("q475_benford_sum_invariance",
      (s, dir) => {
        val fd = dollars(s, dir)
          .select(col("d"), expr("cast(d div cast(pow(10.0, " +
            "cast(length(cast(d as string)) - 1 as double)) as bigint) " +
            "as bigint)").as("digit"))
        val per = fd.groupBy("digit").agg(sum(col("d")).as("amt"))
        val tot = per.agg(sum(col("amt")).as("ta"))
        per.crossJoin(broadcast(tot))
          .select(col("digit"),
            round(col("amt").cast("double") / col("ta").cast("double"),
              6).as("sum_share"))
      },
      Some(s"""WITH $DollarsSql, fd AS (
             |  SELECT d,
             |    CAST(d // CAST(pow(10.0,
             |      CAST(LENGTH(CAST(d AS VARCHAR)) - 1 AS DOUBLE))
             |      AS BIGINT) AS BIGINT) AS digit
             |  FROM dollars
             |), per AS (
             |  SELECT digit, CAST(SUM(d) AS BIGINT) AS amt
             |  FROM fd GROUP BY 1
             |), tot AS (SELECT CAST(SUM(amt) AS BIGINT) AS ta FROM per)
             |SELECT digit,
             |  ROUND(CAST(amt AS DOUBLE) / CAST(ta AS DOUBLE), 6)
             |    AS sum_share
             |FROM per CROSS JOIN tot""".stripMargin)),
  )
}
