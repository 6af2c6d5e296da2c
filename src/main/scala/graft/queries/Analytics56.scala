package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Fifty-sixth analytics pack (round 6, session 9): the two-sample
  * EDF-statistic family over the urgent-vs-low order-total cohorts —
  * Cramér-von Mises, two-sample Anderson-Darling, the Brunner-Munzel
  * robust relative-effect test, Ansari-Bradley dispersion ranks with
  * the combined Lepage statistic, and Kuiper's V.
  *
  * All five ride the by-value cohort machinery (per-cent-value
  * counts + cumulative cross-products): CvM and Kuiper reduce to the
  * exact integer numerator cuma·nb − cumb·na; AD terms are round-9
  * gridded rationals; Brunner-Munzel uses doubled midranks so every
  * placement moment stays an exact integer; Ansari-Bradley scores use
  * the closed-form prefix sum of min(i, N+1−i). Nothing touches an n²
  * pair join and every window runs over the distinct-value support. */
object Analytics56 {

  private val CohortSql =
    """coh AS (
      |  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'a' ELSE 'b'
      |      END AS g,
      |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
      |), byval AS (
      |  SELECT cents,
      |    CAST(SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM coh GROUP BY 1
      |), tot AS (
      |  SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
      |  FROM byval
      |)""".stripMargin

  private def cohortByValue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .where(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(
        when(col("o_orderpriority") === "1-URGENT", "a").otherwise("b")
          .as("g"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy("cents")
      .agg(sum(when(col("g") === "a", 1L).otherwise(0L)).as("ca"),
        sum(when(col("g") === "b", 1L).otherwise(0L)).as("cb"))

  /** byval + inclusive cumulatives + pooled counts (+ total row). */
  private def withCums(byval: DataFrame): DataFrame = {
    val w = Window.orderBy("cents")
    byval
      .withColumn("cuma", sum(col("ca")).over(w))
      .withColumn("cumb", sum(col("cb")).over(w))
      .withColumn("cnt", col("ca") + col("cb"))
      .withColumn("cum", col("cuma") + col("cumb"))
  }

  val all: Seq[Q] = Seq(

    // ---- two-sample Cramér-von Mises: T = Σ_v cnt_v·(cuma·nb −
    // ---- cumb·na)² / (na·nb·N²) — the EDF-gap integral evaluated at
    // ---- every pooled observation, with a fully exact integer
    // ---- numerator (the companion of q152's sup-norm KS). ----------
    Q("q386_cramer_von_mises",
      (s, dir) => {
        val byval = cohortByValue(s, dir)
        val tot = byval.agg(sum(col("ca")).as("na"),
          sum(col("cb")).as("nb"))
        withCums(byval)
          .crossJoin(broadcast(tot))
          .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
            sum(col("cnt").cast(DecimalType(38, 0))
              * (col("cuma") * col("nb") - col("cumb") * col("na"))
              * (col("cuma") * col("nb") - col("cumb") * col("na")))
              .as("num"))
          .select(col("na").as("n_urgent"), col("nb").as("n_low"),
            round(col("num").cast("double")
              / (col("na").cast("double") * col("nb").cast("double")
                * (col("na") + col("nb")).cast("double")
                * (col("na") + col("nb")).cast("double")), 6)
              .as("cvm_t"))
      },
      Some(s"""WITH $CohortSql, cum AS (
             |  SELECT ca + cb AS cnt,
             |    CAST(SUM(ca) OVER (ORDER BY cents) AS BIGINT) AS cuma,
             |    CAST(SUM(cb) OVER (ORDER BY cents) AS BIGINT) AS cumb
             |  FROM byval
             |), agg AS (
             |  SELECT MAX(na) AS na, MAX(nb) AS nb,
             |    SUM(CAST(cnt AS DECIMAL(38, 0))
             |      * (cuma * nb - cumb * na)
             |      * (cuma * nb - cumb * na)) AS num
             |  FROM cum CROSS JOIN tot
             |)
             |SELECT na AS n_urgent, nb AS n_low,
             |  ROUND(CAST(num AS DOUBLE)
             |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
             |      * CAST(na + nb AS DOUBLE) * CAST(na + nb AS DOUBLE)),
             |    6) AS cvm_t
             |FROM agg""".stripMargin)),

    // ---- two-sample Anderson-Darling (Pettitt's A²): tail-weighted
    // ---- EDF gaps, A² = (1/(na·nb))·Σ_v cnt_v·(cuma·N − na·cum)² /
    // ---- (cum·(N−cum)), the last pooled value excluded; each
    // ---- rational term round-9 gridded before the exact sum. -------
    Q("q387_anderson_darling",
      (s, dir) => {
        val byval = cohortByValue(s, dir)
        val tot = byval.agg(sum(col("ca")).as("na"),
          sum(col("cb")).as("nb"))
        withCums(byval)
          .crossJoin(broadcast(tot))
          .withColumn("nn", col("na") + col("nb"))
          .where(col("cum") < col("nn"))
          .select(col("na"), col("nb"),
            round(col("cnt").cast("double")
              * (col("cuma") * col("nn") - col("na") * col("cum"))
                .cast("double")
              * (col("cuma") * col("nn") - col("na") * col("cum"))
                .cast("double")
              / (col("cum") * (col("nn") - col("cum"))).cast("double"),
              9).cast(DecimalType(38, 9)).as("term"))
          .groupBy("na", "nb")
          .agg(sum(col("term")).as("s"))
          .select(col("na").as("n_urgent"), col("nb").as("n_low"),
            round(col("s").cast("double")
              / (col("na").cast("double") * col("nb").cast("double")), 6)
              .as("ad_a2"))
      },
      Some(s"""WITH $CohortSql, cum AS (
             |  SELECT ca + cb AS cnt,
             |    CAST(SUM(ca) OVER (ORDER BY cents) AS BIGINT) AS cuma,
             |    CAST(SUM(ca + cb) OVER (ORDER BY cents) AS BIGINT)
             |      AS cum
             |  FROM byval
             |), terms AS (
             |  SELECT na, nb,
             |    CAST(ROUND(CAST(cnt AS DOUBLE)
             |      * CAST(cuma * (na + nb) - na * cum AS DOUBLE)
             |      * CAST(cuma * (na + nb) - na * cum AS DOUBLE)
             |      / CAST(cum * (na + nb - cum) AS DOUBLE), 9)
             |      AS DECIMAL(38, 9)) AS term
             |  FROM cum CROSS JOIN tot
             |  WHERE cum < na + nb
             |)
             |SELECT na AS n_urgent, nb AS n_low,
             |  ROUND(CAST(SUM(term) AS DOUBLE)
             |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS ad_a2
             |FROM terms GROUP BY na, nb""".stripMargin)),

    // ---- Brunner-Munzel: relative effect p̂ = P(X_a < X_b) + ½ties
    // ---- and the rank-placement variances, all from doubled midranks
    // ---- (combined R2 and within-sample r2 are equal across a tied
    // ---- block, so per-value weighting is exact); BM t-statistic in
    // ---- the lawstat formulation. ----------------------------------
    Q("q388_brunner_munzel",
      (s, dir) => {
        val byval = cohortByValue(s, dir)
        val tot = byval.agg(sum(col("ca")).as("na"),
          sum(col("cb")).as("nb"))
        val w = Window.orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, -1)
        val mid = byval
          .withColumn("la", coalesce(sum(col("ca")).over(w), lit(0L)))
          .withColumn("lb", coalesce(sum(col("cb")).over(w), lit(0L)))
          .select(col("ca"), col("cb"),
            (lit(2L) * (col("la") + col("lb")) + col("ca") + col("cb")
              + 1L).as("r2"),
            (lit(2L) * col("la") + col("ca") + 1L).as("r2a"),
            (lit(2L) * col("lb") + col("cb") + 1L).as("r2b"))
        val agg = mid.agg(
          sum(col("ca").cast(DecimalType(38, 0)) * col("r2")).as("sra"),
          sum(col("cb").cast(DecimalType(38, 0)) * col("r2")).as("srb"),
          sum(col("ca").cast(DecimalType(38, 0))
            * (col("r2") - col("r2a")) * (col("r2") - col("r2a")))
            .as("spa2"),
          sum(col("cb").cast(DecimalType(38, 0))
            * (col("r2") - col("r2b")) * (col("r2") - col("r2b")))
            .as("spb2"),
          sum(col("ca").cast(DecimalType(38, 0))
            * (col("r2") - col("r2a"))).as("spa"),
          sum(col("cb").cast(DecimalType(38, 0))
            * (col("r2") - col("r2b"))).as("spb"))
        agg.crossJoin(broadcast(tot))
          .select(col("na"), col("nb"),
            col("sra").cast("double").as("sra"),
            col("srb").cast("double").as("srb"),
            col("spa").cast("double").as("spa"),
            col("spb").cast("double").as("spb"),
            col("spa2").cast("double").as("spa2"),
            col("spb2").cast("double").as("spb2"))
          .select(col("na").as("n_urgent"), col("nb").as("n_low"),
            round((col("srb") / (lit(2.0) * col("nb").cast("double"))
              - (col("nb") + 1L).cast("double") / 2.0)
              / col("na").cast("double"), 6).as("p_hat"),
            round(col("na").cast("double") * col("nb").cast("double")
              * (col("srb") / (lit(2.0) * col("nb").cast("double"))
                - col("sra") / (lit(2.0) * col("na").cast("double")))
              / ((col("na") + col("nb")).cast("double")
                * sqrt(col("na").cast("double")
                  * ((col("spa2") - col("spa") * col("spa")
                    / col("na").cast("double"))
                    / (lit(4.0) * (col("na") - 1L).cast("double")))
                  + col("nb").cast("double")
                    * ((col("spb2") - col("spb") * col("spb")
                      / col("nb").cast("double"))
                      / (lit(4.0) * (col("nb") - 1L).cast("double"))))),
              6).as("bm_stat"))
      },
      Some(s"""WITH $CohortSql, mid AS (
             |  SELECT ca, cb,
             |    2 * (la + lb) + ca + cb + 1 AS r2,
             |    2 * la + ca + 1 AS r2a,
             |    2 * lb + cb + 1 AS r2b
             |  FROM (
             |    SELECT ca, cb,
             |      COALESCE(CAST(SUM(ca) OVER (ORDER BY cents
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |        AS BIGINT), 0) AS la,
             |      COALESCE(CAST(SUM(cb) OVER (ORDER BY cents
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |        AS BIGINT), 0) AS lb
             |    FROM byval) z
             |), agg AS (
             |  SELECT
             |    CAST(SUM(CAST(ca AS DECIMAL(38, 0)) * r2) AS DOUBLE)
             |      AS sra,
             |    CAST(SUM(CAST(cb AS DECIMAL(38, 0)) * r2) AS DOUBLE)
             |      AS srb,
             |    CAST(SUM(CAST(ca AS DECIMAL(38, 0)) * (r2 - r2a))
             |      AS DOUBLE) AS spa,
             |    CAST(SUM(CAST(cb AS DECIMAL(38, 0)) * (r2 - r2b))
             |      AS DOUBLE) AS spb,
             |    CAST(SUM(CAST(ca AS DECIMAL(38, 0)) * (r2 - r2a)
             |      * (r2 - r2a)) AS DOUBLE) AS spa2,
             |    CAST(SUM(CAST(cb AS DECIMAL(38, 0)) * (r2 - r2b)
             |      * (r2 - r2b)) AS DOUBLE) AS spb2
             |  FROM mid
             |)
             |SELECT na AS n_urgent, nb AS n_low,
             |  ROUND((srb / (2.0 * CAST(nb AS DOUBLE))
             |    - CAST(nb + 1 AS DOUBLE) / 2.0)
             |    / CAST(na AS DOUBLE), 6) AS p_hat,
             |  ROUND(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
             |    * (srb / (2.0 * CAST(nb AS DOUBLE))
             |      - sra / (2.0 * CAST(na AS DOUBLE)))
             |    / (CAST(na + nb AS DOUBLE)
             |      * sqrt(CAST(na AS DOUBLE)
             |        * ((spa2 - spa * spa / CAST(na AS DOUBLE))
             |          / (4.0 * CAST(na - 1 AS DOUBLE)))
             |        + CAST(nb AS DOUBLE)
             |          * ((spb2 - spb * spb / CAST(nb AS DOUBLE))
             |            / (4.0 * CAST(nb - 1 AS DOUBLE))))), 6)
             |    AS bm_stat
             |FROM agg CROSS JOIN tot""".stripMargin)),

    // ---- Ansari-Bradley dispersion ranks + Lepage: AB scores are
    // ---- min(i, N+1−i) with tie blocks averaged via the closed-form
    // ---- prefix sum T(i) (ascending triangle + descending tail), the
    // ---- urgent sum z-scored with the parity-exact null moments;
    // ---- Lepage = z_W² + z_AB² adds the tie-corrected Wilcoxon. ----
    Q("q389_ansari_bradley_lepage",
      (s, dir) => {
        val byval = cohortByValue(s, dir)
        val tot = byval.agg(sum(col("ca")).as("na"),
          sum(col("cb")).as("nb"))
        val w = Window.orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, -1)
        // closed-form prefix sum of min(j, N+1-j), exact integers
        def tsum(i: org.apache.spark.sql.Column,
          nn: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
          val m1 = (nn + 1L) / lit(2L) cast "long"
          when(i <= m1, (i * (i + 1L)) / lit(2L) cast "long")
            .otherwise(((m1 * (m1 + 1L)) / lit(2L) cast "long")
              + (((nn + 1L - i) + (nn - m1))
                * ((nn - m1) - (nn + 1L - i) + 1L)) / lit(2L)
                cast "long")
        }
        val cums = byval
          .withColumn("la", coalesce(sum(col("ca")).over(w), lit(0L)))
          .withColumn("lb", coalesce(sum(col("cb")).over(w), lit(0L)))
          .crossJoin(broadcast(tot))
          .withColumn("nn", col("na") + col("nb"))
          .withColumn("cnt", col("ca") + col("cb"))
          .withColumn("cumprev", col("la") + col("lb"))
          .withColumn("blocksum",
            tsum(col("cumprev") + col("cnt"), col("nn"))
              - tsum(col("cumprev"), col("nn")))
          .withColumn("r2", lit(2L) * col("cumprev") + col("cnt") + 1L)
        val agg = cums.agg(
          max(col("na")).as("na"), max(col("nb")).as("nb"),
          max(col("nn")).as("nn"),
          // exact quotient split: round(ca·blocksum/cnt, 9) on a raw
          // double diverges between engines once the product passes
          // 2^53/1e9 (sf0.3 sweep, last-ulp drift in ab_stat). Integer
          // div/mod are exact in both engines, and the remainder
          // fraction lives in [0,1) where round(·,9) is stable.
          sum(expr("(ca * blocksum) div cnt").cast(DecimalType(38, 9))
            + round(((col("ca") * col("blocksum")) % col("cnt"))
                .cast("double") / col("cnt").cast("double"), 9)
              .cast(DecimalType(38, 9))).as("ab"),
          sum(col("ca").cast(DecimalType(38, 0)) * col("r2")).as("w2a"),
          sum((col("cnt") * col("cnt") * col("cnt") - col("cnt"))
            .cast(DecimalType(38, 0))).as("tsum3"))
        agg.select(col("na").as("n_urgent"), col("nb").as("n_low"),
          // round in DECIMAL space, then cast: round(double, 6) at 4e9
          // magnitude is below the double ulp (~1e-6) and the engines'
          // double-rounding disagrees on the last printed digit
          round(col("ab"), 6).cast("double").as("ab_stat"),
          round((col("ab").cast("double")
            - when(col("nn") % 2L === 0L,
              col("na").cast("double") * (col("nn") + 2L).cast("double")
                / 4.0)
              .otherwise(col("na").cast("double")
                * ((col("nn") + 1L) * (col("nn") + 1L)).cast("double")
                / (lit(4.0) * col("nn").cast("double"))))
            / sqrt(when(col("nn") % 2L === 0L,
              col("na").cast("double") * col("nb").cast("double")
                * ((col("nn") * col("nn")).cast("double") - 4.0)
                / (lit(48.0) * (col("nn") - 1L).cast("double")))
              .otherwise(col("na").cast("double")
                * col("nb").cast("double")
                * (col("nn") + 1L).cast("double")
                * (lit(3.0) + (col("nn") * col("nn")).cast("double"))
                / (lit(48.0) * (col("nn") * col("nn")).cast("double")))),
            6).as("z_ab"),
          round((col("w2a").cast("double") / 2.0
            - col("na").cast("double") * (col("nn") + 1L).cast("double")
              / 2.0)
            / sqrt(col("na").cast("double") * col("nb").cast("double")
              / 12.0 * ((col("nn") + 1L).cast("double")
              - col("tsum3").cast("double")
                / (col("nn").cast("double")
                  * (col("nn") - 1L).cast("double")))), 6).as("z_w"))
          .withColumn("lepage",
            round(col("z_ab") * col("z_ab") + col("z_w") * col("z_w"), 6))
      },
      Some(s"""WITH $CohortSql, cums AS (
             |  SELECT ca, cb, na, nb, na + nb AS nn, ca + cb AS cnt,
             |    la + lb AS cumprev
             |  FROM (
             |    SELECT ca, cb,
             |      COALESCE(CAST(SUM(ca) OVER (ORDER BY cents
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |        AS BIGINT), 0) AS la,
             |      COALESCE(CAST(SUM(cb) OVER (ORDER BY cents
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |        AS BIGINT), 0) AS lb
             |    FROM byval) z
             |  CROSS JOIN tot
             |), scored AS (
             |  SELECT ca, cb, na, nb, nn, cnt, cumprev,
             |    2 * cumprev + cnt + 1 AS r2,
             |    (CASE WHEN cumprev + cnt <= (nn + 1) // 2
             |      THEN ((cumprev + cnt) * (cumprev + cnt + 1)) // 2
             |      ELSE ((nn + 1) // 2 * ((nn + 1) // 2 + 1)) // 2
             |        + (((nn + 1 - (cumprev + cnt)) + (nn - (nn + 1) // 2))
             |          * ((nn - (nn + 1) // 2)
             |            - (nn + 1 - (cumprev + cnt)) + 1)) // 2 END)
             |    - (CASE WHEN cumprev <= (nn + 1) // 2
             |      THEN (cumprev * (cumprev + 1)) // 2
             |      ELSE ((nn + 1) // 2 * ((nn + 1) // 2 + 1)) // 2
             |        + (((nn + 1 - cumprev) + (nn - (nn + 1) // 2))
             |          * ((nn - (nn + 1) // 2)
             |            - (nn + 1 - cumprev) + 1)) // 2 END)
             |      AS blocksum
             |  FROM cums
             |), agg AS (
             |  SELECT MAX(na) AS na, MAX(nb) AS nb, MAX(nn) AS nn,
             |    SUM(CAST((ca * blocksum) // cnt AS DECIMAL(38, 9))
             |      + CAST(ROUND(CAST((ca * blocksum) % cnt AS DOUBLE)
             |        / CAST(cnt AS DOUBLE), 9) AS DECIMAL(38, 9)))
             |      AS abd,
             |    CAST(SUM(CAST(ca AS DECIMAL(38, 0)) * r2) AS DOUBLE)
             |      AS w2a,
             |    CAST(SUM(CAST(cnt * cnt * cnt - cnt AS DECIMAL(38, 0)))
             |      AS DOUBLE) AS tsum3
             |  FROM scored
             |)
             |, zs AS (
             |  SELECT na, nb,
             |    CAST(ROUND(abd, 6) AS DOUBLE) AS ab_stat,
             |    ROUND((CAST(abd AS DOUBLE) - CASE WHEN nn % 2 = 0
             |        THEN CAST(na AS DOUBLE) * CAST(nn + 2 AS DOUBLE)
             |          / 4.0
             |        ELSE CAST(na AS DOUBLE)
             |          * CAST((nn + 1) * (nn + 1) AS DOUBLE)
             |          / (4.0 * CAST(nn AS DOUBLE)) END)
             |      / sqrt(CASE WHEN nn % 2 = 0
             |        THEN CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
             |          * (CAST(nn * nn AS DOUBLE) - 4.0)
             |          / (48.0 * CAST(nn - 1 AS DOUBLE))
             |        ELSE CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
             |          * CAST(nn + 1 AS DOUBLE)
             |          * (3.0 + CAST(nn * nn AS DOUBLE))
             |          / (48.0 * CAST(nn * nn AS DOUBLE)) END), 6)
             |      AS z_ab,
             |    ROUND((w2a / 2.0
             |      - CAST(na AS DOUBLE) * CAST(nn + 1 AS DOUBLE) / 2.0)
             |      / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
             |        * (CAST(nn + 1 AS DOUBLE)
             |          - tsum3 / (CAST(nn AS DOUBLE)
             |            * CAST(nn - 1 AS DOUBLE)))), 6) AS z_w
             |  FROM agg
             |)
             |SELECT na AS n_urgent, nb AS n_low, ab_stat, z_ab, z_w,
             |  ROUND(z_ab * z_ab + z_w * z_w, 6) AS lepage
             |FROM zs""".stripMargin)),

    // ---- Kuiper's two-sample V = D⁺ + D⁻: both one-sided EDF
    // ---- extremes from the exact integer cross-product cuma·nb −
    // ---- cumb·na — sensitive to shifts anywhere in the distribution
    // ---- (cyclic-robust companion of q152's KS). -------------------
    Q("q390_kuiper",
      (s, dir) => {
        val byval = cohortByValue(s, dir)
        val tot = byval.agg(sum(col("ca")).as("na"),
          sum(col("cb")).as("nb"))
        withCums(byval)
          .crossJoin(broadcast(tot))
          .select(col("na"), col("nb"),
            (col("cuma") * col("nb") - col("cumb") * col("na"))
              .as("num"))
          .groupBy("na", "nb")
          .agg(greatest(max(col("num")), lit(0L)).as("dplus2"),
            greatest(max(-col("num")), lit(0L)).as("dminus2"))
          .select(col("na").as("n_urgent"), col("nb").as("n_low"),
            round(col("dplus2").cast("double")
              / (col("na") * col("nb")).cast("double"), 6).as("d_plus"),
            round(col("dminus2").cast("double")
              / (col("na") * col("nb")).cast("double"), 6).as("d_minus"),
            round((col("dplus2") + col("dminus2")).cast("double")
              / (col("na") * col("nb")).cast("double"), 6).as("v_stat"),
            round(sqrt((col("na") * col("nb")).cast("double")
              / (col("na") + col("nb")).cast("double"))
              * (col("dplus2") + col("dminus2")).cast("double")
              / (col("na") * col("nb")).cast("double"), 6)
              .as("v_scaled"))
      },
      Some(s"""WITH $CohortSql, cum AS (
             |  SELECT
             |    CAST(SUM(ca) OVER (ORDER BY cents) AS BIGINT) AS cuma,
             |    CAST(SUM(cb) OVER (ORDER BY cents) AS BIGINT) AS cumb
             |  FROM byval
             |), agg AS (
             |  SELECT MAX(na) AS na, MAX(nb) AS nb,
             |    GREATEST(MAX(cuma * nb - cumb * na), 0) AS dplus2,
             |    GREATEST(MAX(cumb * na - cuma * nb), 0) AS dminus2
             |  FROM cum CROSS JOIN tot
             |)
             |SELECT na AS n_urgent, nb AS n_low,
             |  ROUND(CAST(dplus2 AS DOUBLE) / CAST(na * nb AS DOUBLE), 6)
             |    AS d_plus,
             |  ROUND(CAST(dminus2 AS DOUBLE) / CAST(na * nb AS DOUBLE),
             |    6) AS d_minus,
             |  ROUND(CAST(dplus2 + dminus2 AS DOUBLE)
             |    / CAST(na * nb AS DOUBLE), 6) AS v_stat,
             |  ROUND(sqrt(CAST(na * nb AS DOUBLE)
             |      / CAST(na + nb AS DOUBLE))
             |    * CAST(dplus2 + dminus2 AS DOUBLE)
             |    / CAST(na * nb AS DOUBLE), 6) AS v_scaled
             |FROM agg""".stripMargin)),
  )
}
