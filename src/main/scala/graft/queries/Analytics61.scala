package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Sixty-first analytics pack (round 6, session 9): the categorical-
  * association completions — Mantel-Haenszel common odds ratio with
  * the CMH test across segment strata, Cochran's Q over related
  * binary month×segment indicators, the Stuart-Maxwell marginal-
  * homogeneity test on 3-class priority transitions, quadratic-
  * weighted kappa on 5-class transitions, and Goodman-Kruskal lambda.
  *
  * Exactness discipline: every cell is an exact BIGINT; Cochran's Q,
  * weighted kappa, and lambda stay pure integer ratios until one
  * final division; per-stratum MH rationals ride the round-9 grid;
  * the Stuart-Maxwell 2×2 inverse is one identical double closed
  * form. Customer modal classes use row_number with full tie-breaks
  * so both engines pick identical modes. */
object Analytics61 {

  /** Modal priority class per customer per year (1995/1996), classes
    * pre-mapped by `mapSql`/`mapCol`; tie-break: higher count first,
    * then smaller class id. Only customers present in both years. */
  private def modalPairs(s: SparkSession, dir: String,
    mapCol: org.apache.spark.sql.Column): DataFrame = {
    val base = t(s, dir, "orders")
      .where(year(col("o_orderdate")).isin(1995, 1996))
      .select(col("o_custkey").as("ck"),
        year(col("o_orderdate")).as("yr"), mapCol.as("cls"))
      .groupBy("ck", "yr", "cls").agg(count(lit(1)).as("cnt"))
    val modal = base
      .withColumn("rn", row_number().over(Window.partitionBy("ck", "yr")
        .orderBy(col("cnt").desc, col("cls"))))
      .where(col("rn") === 1)
      .select(col("ck"), col("yr"), col("cls"))
    modal.where(col("yr") === 1995)
      .select(col("ck"), col("cls").as("ca"))
      .join(modal.where(col("yr") === 1996)
        .select(col("ck"), col("cls").as("cb")), Seq("ck"))
  }

  private def modalPairsSql(caseExpr: String): String =
    s"""base AS (
       |  SELECT o_custkey AS ck, YEAR(o_orderdate) AS yr,
       |    $caseExpr AS cls, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM orders WHERE YEAR(o_orderdate) IN (1995, 1996)
       |  GROUP BY 1, 2, 3
       |), modal AS (
       |  SELECT ck, yr, cls FROM (
       |    SELECT ck, yr, cls, ROW_NUMBER() OVER (
       |      PARTITION BY ck, yr ORDER BY cnt DESC, cls) AS rn
       |    FROM base) z
       |  WHERE rn = 1
       |), pairs AS (
       |  SELECT a.ck, a.cls AS ca, b.cls AS cb
       |  FROM modal a JOIN modal b ON a.ck = b.ck
       |  WHERE a.yr = 1995 AND b.yr = 1996
       |)""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- Mantel-Haenszel common odds ratio + CMH chi-square across
    // ---- the 5 segment strata: exposure = urgent vs low, outcome =
    // ---- above/below the pooled two-middle median (exact ties
    // ---- dropped); per-stratum rationals round-9 gridded. ----------
    Q("q411_mantel_haenszel",
      (s, dir) => {
        val coh = t(s, dir, "orders")
          .where(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
          .join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment").as("seg"))),
            col("o_custkey") === col("c_custkey"))
          .select(col("seg"),
            when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
              .as("e"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
        val byval = coh.groupBy("cents").agg(count(lit(1)).as("cnt"))
        val w = Window.orderBy("cents")
        val tot = byval.agg(sum(col("cnt")).as("nn"))
          .withColumn("rlo", expr("(nn + 1) div 2"))
          .withColumn("rhi", expr("nn div 2 + 1"))
        val med = byval.withColumn("cum", sum(col("cnt")).over(w))
          .crossJoin(broadcast(tot))
          .agg((min(when(col("cum") >= col("rlo"), col("cents")))
            + min(when(col("cum") >= col("rhi"), col("cents"))))
            .as("med2"))
        val cells = coh.crossJoin(broadcast(med))
          .where(lit(2L) * col("cents") =!= col("med2"))
          .groupBy("seg")
          .agg(
            sum(when(col("e") === 1L
              && lit(2L) * col("cents") > col("med2"), 1L)
              .otherwise(0L)).as("a"),
            sum(when(col("e") === 1L
              && lit(2L) * col("cents") < col("med2"), 1L)
              .otherwise(0L)).as("b"),
            sum(when(col("e") === 0L
              && lit(2L) * col("cents") > col("med2"), 1L)
              .otherwise(0L)).as("c"),
            sum(when(col("e") === 0L
              && lit(2L) * col("cents") < col("med2"), 1L)
              .otherwise(0L)).as("d"))
          .withColumn("n", col("a") + col("b") + col("c") + col("d"))
        cells
          .select(
            round((col("a") * col("d")).cast("double")
              / col("n").cast("double"), 9).cast(DecimalType(38, 9))
              .as("adn"),
            round((col("b") * col("c")).cast("double")
              / col("n").cast("double"), 9).cast(DecimalType(38, 9))
              .as("bcn"),
            col("a"),
            round((col("a") + col("b")).cast("double")
              * (col("a") + col("c")).cast("double")
              / col("n").cast("double"), 9).cast(DecimalType(38, 9))
              .as("ee"),
            round((col("a") + col("b")).cast("double")
              * (col("c") + col("d")).cast("double")
              * (col("a") + col("c")).cast("double")
              * (col("b") + col("d")).cast("double")
              / (col("n").cast("double") * col("n").cast("double")
                * (col("n") - 1L).cast("double")), 9)
              .cast(DecimalType(38, 9)).as("vv"))
          .agg(count(lit(1)).as("n_strata"),
            sum(col("adn")).cast("double").as("sad"),
            sum(col("bcn")).cast("double").as("sbc"),
            sum(col("a")).cast("double").as("sa"),
            sum(col("ee")).cast("double").as("se"),
            sum(col("vv")).cast("double").as("sv"))
          .select(col("n_strata"),
            round(col("sad") / col("sbc"), 6).as("or_mh"),
            round((col("sa") - col("se")) * (col("sa") - col("se"))
              / col("sv"), 6).as("cmh_chi2"))
      },
      Some("""WITH coh AS (
             |  SELECT c_mktsegment AS seg,
             |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0
             |      END AS e,
             |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
             |), byval AS (
             |  SELECT cents, CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM coh GROUP BY 1
             |), tot AS (
             |  SELECT CAST(SUM(cnt) AS BIGINT) AS nn FROM byval
             |), med AS (
             |  SELECT CAST(
             |      MIN(CASE WHEN cum >= (nn + 1) // 2 THEN cents END)
             |      + MIN(CASE WHEN cum >= nn // 2 + 1 THEN cents END)
             |      AS BIGINT) AS med2
             |  FROM (SELECT cents,
             |      CAST(SUM(cnt) OVER (ORDER BY cents) AS BIGINT) AS cum
             |    FROM byval) c
             |  CROSS JOIN tot
             |), cells AS (
             |  SELECT seg,
             |    CAST(SUM(CASE WHEN e = 1 AND 2 * cents > med2 THEN 1
             |      ELSE 0 END) AS BIGINT) AS a,
             |    CAST(SUM(CASE WHEN e = 1 AND 2 * cents < med2 THEN 1
             |      ELSE 0 END) AS BIGINT) AS b,
             |    CAST(SUM(CASE WHEN e = 0 AND 2 * cents > med2 THEN 1
             |      ELSE 0 END) AS BIGINT) AS c,
             |    CAST(SUM(CASE WHEN e = 0 AND 2 * cents < med2 THEN 1
             |      ELSE 0 END) AS BIGINT) AS d
             |  FROM coh CROSS JOIN med
             |  WHERE 2 * cents <> med2
             |  GROUP BY 1
             |), terms AS (
             |  SELECT a, a + b + c + d AS n,
             |    CAST(ROUND(CAST(a * d AS DOUBLE)
             |      / CAST(a + b + c + d AS DOUBLE), 9)
             |      AS DECIMAL(38, 9)) AS adn,
             |    CAST(ROUND(CAST(b * c AS DOUBLE)
             |      / CAST(a + b + c + d AS DOUBLE), 9)
             |      AS DECIMAL(38, 9)) AS bcn,
             |    CAST(ROUND(CAST(a + b AS DOUBLE) * CAST(a + c AS DOUBLE)
             |      / CAST(a + b + c + d AS DOUBLE), 9)
             |      AS DECIMAL(38, 9)) AS ee,
             |    CAST(ROUND(CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
             |      * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)
             |      / (CAST(a + b + c + d AS DOUBLE)
             |        * CAST(a + b + c + d AS DOUBLE)
             |        * CAST(a + b + c + d - 1 AS DOUBLE)), 9)
             |      AS DECIMAL(38, 9)) AS vv
             |  FROM cells
             |)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
             |  ROUND(CAST(SUM(adn) AS DOUBLE)
             |    / CAST(SUM(bcn) AS DOUBLE), 6) AS or_mh,
             |  ROUND((CAST(SUM(a) AS DOUBLE) - CAST(SUM(ee) AS DOUBLE))
             |    * (CAST(SUM(a) AS DOUBLE) - CAST(SUM(ee) AS DOUBLE))
             |    / CAST(SUM(vv) AS DOUBLE), 6) AS cmh_chi2
             |FROM terms""".stripMargin)),

    // ---- Cochran's Q over related binaries: y_ij = segment j beat
    // ---- its own mean calendar-month revenue in month i (integer
    // ---- compare 12·x > total); Q = (k−1)(k·ΣC² − N²)/(kN − ΣR²)
    // ---- stays a pure integer ratio. -------------------------------
    Q("q412_cochrans_q",
      (s, dir) => {
        val cell = t(s, dir, "orders")
          .join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment").as("seg"))),
            col("o_custkey") === col("c_custkey"))
          .groupBy(month(col("o_orderdate")).as("moi"), col("seg"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long"))
            .as("x"))
        val withTot = cell
          .withColumn("segtot", sum(col("x")).over(
            Window.partitionBy("seg")))
          .withColumn("y",
            when(lit(12L) * col("x") > col("segtot"), 1L).otherwise(0L))
        val colTot = withTot.groupBy("seg").agg(sum(col("y")).as("cj"))
          .agg(count(lit(1)).as("k"), sum(col("cj")).as("nsucc"),
            sum(col("cj") * col("cj")).as("scj2"))
        val rowTot = withTot.groupBy("moi").agg(sum(col("y")).as("ri"))
          .agg(sum(col("ri")).as("nchk"),
            sum(col("ri") * col("ri")).as("sri2"))
        colTot.crossJoin(broadcast(rowTot))
          .select(col("k").as("k_treatments"),
            col("nsucc").as("n_successes"),
            round((col("k") - 1L).cast("double")
              * (col("k") * col("scj2") - col("nsucc") * col("nsucc"))
                .cast("double")
              / (col("k") * col("nsucc") - col("sri2")).cast("double"),
              6).as("q_cochran"))
      },
      Some("""WITH cell AS (
             |  SELECT MONTH(o_orderdate) AS moi, c_mktsegment AS seg,
             |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
             |      AS BIGINT) AS x
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  GROUP BY 1, 2
             |), y AS (
             |  SELECT moi, seg,
             |    CASE WHEN 12 * x > SUM(x) OVER (PARTITION BY seg)
             |      THEN 1 ELSE 0 END AS y
             |  FROM cell
             |), ct AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
             |    CAST(SUM(cj) AS BIGINT) AS nsucc,
             |    CAST(SUM(cj * cj) AS BIGINT) AS scj2
             |  FROM (SELECT seg, CAST(SUM(y) AS BIGINT) AS cj
             |        FROM y GROUP BY 1) z
             |), rt AS (
             |  SELECT CAST(SUM(ri * ri) AS BIGINT) AS sri2
             |  FROM (SELECT moi, CAST(SUM(y) AS BIGINT) AS ri
             |        FROM y GROUP BY 1) z
             |)
             |SELECT k AS k_treatments, nsucc AS n_successes,
             |  ROUND(CAST(k - 1 AS DOUBLE)
             |    * CAST(k * scj2 - nsucc * nsucc AS DOUBLE)
             |    / CAST(k * nsucc - sri2 AS DOUBLE), 6) AS q_cochran
             |FROM ct CROSS JOIN rt""".stripMargin)),

    // ---- Stuart-Maxwell marginal homogeneity on the 3-class modal
    // ---- priority transition (1995 → 1996): χ² = d'·S⁻¹·d with the
    // ---- exact-integer 2×2 covariance inverse closed form. ---------
    Q("q413_stuart_maxwell",
      (s, dir) => {
        val cls = when(col("o_orderpriority") === "1-URGENT", 1L)
          .when(col("o_orderpriority") === "2-HIGH", 2L).otherwise(3L)
        val pairs = modalPairs(s, dir, cls)
        val counts = pairs.agg(count(lit(1)).as("n"),
          sum(when(col("ca") === 1L && col("cb") === 1L, 1L)
            .otherwise(0L)).as("n11"),
          sum(when(col("ca") === 1L && col("cb") === 2L, 1L)
            .otherwise(0L)).as("n12"),
          sum(when(col("ca") === 2L && col("cb") === 1L, 1L)
            .otherwise(0L)).as("n21"),
          sum(when(col("ca") === 2L && col("cb") === 2L, 1L)
            .otherwise(0L)).as("n22"),
          sum(when(col("ca") === 1L, 1L).otherwise(0L)).as("r1"),
          sum(when(col("ca") === 2L, 1L).otherwise(0L)).as("r2"),
          sum(when(col("cb") === 1L, 1L).otherwise(0L)).as("c1"),
          sum(when(col("cb") === 2L, 1L).otherwise(0L)).as("c2"))
        counts.select(col("n").as("n_customers"),
          (col("r1") - col("c1")).as("d1"),
          (col("r2") - col("c2")).as("d2"),
          (col("r1") + col("c1") - lit(2L) * col("n11")).as("s11"),
          (col("r2") + col("c2") - lit(2L) * col("n22")).as("s22"),
          (lit(0L) - col("n12") - col("n21")).as("s12"))
          .select(col("n_customers"), col("d1"), col("d2"),
            round((col("s22").cast("double") * col("d1").cast("double")
              * col("d1").cast("double")
              - lit(2.0) * col("s12").cast("double")
                * col("d1").cast("double") * col("d2").cast("double")
              + col("s11").cast("double") * col("d2").cast("double")
                * col("d2").cast("double"))
              / (col("s11").cast("double") * col("s22").cast("double")
                - col("s12").cast("double") * col("s12").cast("double")),
              6).as("chi2"))
      },
      Some(s"""WITH ${modalPairsSql(
        "CASE o_orderpriority WHEN '1-URGENT' THEN 1 " +
          "WHEN '2-HIGH' THEN 2 ELSE 3 END")}, counts AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(CASE WHEN ca = 1 AND cb = 1 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n11,
             |    CAST(SUM(CASE WHEN ca = 1 AND cb = 2 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n12,
             |    CAST(SUM(CASE WHEN ca = 2 AND cb = 1 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n21,
             |    CAST(SUM(CASE WHEN ca = 2 AND cb = 2 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n22,
             |    CAST(SUM(CASE WHEN ca = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS r1,
             |    CAST(SUM(CASE WHEN ca = 2 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS r2,
             |    CAST(SUM(CASE WHEN cb = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS c1,
             |    CAST(SUM(CASE WHEN cb = 2 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS c2
             |  FROM pairs
             |), sm AS (
             |  SELECT n, r1 - c1 AS d1, r2 - c2 AS d2,
             |    r1 + c1 - 2 * n11 AS s11,
             |    r2 + c2 - 2 * n22 AS s22,
             |    0 - n12 - n21 AS s12
             |  FROM counts
             |)
             |SELECT n AS n_customers, d1, d2,
             |  ROUND((CAST(s22 AS DOUBLE) * CAST(d1 AS DOUBLE)
             |      * CAST(d1 AS DOUBLE)
             |    - 2.0 * CAST(s12 AS DOUBLE) * CAST(d1 AS DOUBLE)
             |      * CAST(d2 AS DOUBLE)
             |    + CAST(s11 AS DOUBLE) * CAST(d2 AS DOUBLE)
             |      * CAST(d2 AS DOUBLE))
             |    / (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE)
             |      - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE)), 6)
             |    AS chi2
             |FROM sm""".stripMargin)),

    // ---- quadratic-weighted kappa on the 5-class modal transition:
    // ---- κ_w = 1 − N·Σ(i−j)²·n_ij / Σ(i−j)²·r_i·c_j — both the
    // ---- observed and chance disagreement masses are exact integer
    // ---- cross-products. -------------------------------------------
    Q("q414_weighted_kappa",
      (s, dir) => {
        val cls = when(col("o_orderpriority") === "1-URGENT", 1L)
          .when(col("o_orderpriority") === "2-HIGH", 2L)
          .when(col("o_orderpriority") === "3-MEDIUM", 3L)
          .when(col("o_orderpriority") === "4-NOT SPECIFIED", 4L)
          .otherwise(5L)
        val pairs = modalPairs(s, dir, cls)
        val obs = pairs.agg(count(lit(1)).as("n"),
          sum((col("ca") - col("cb")) * (col("ca") - col("cb")))
            .as("wobs"))
        // ≤5 marginal rows per side: broadcast so the grid cross plans
        // as BroadcastNestedLoop, never a CartesianProduct
        val marg = pairs.groupBy("ca").agg(count(lit(1)).as("ri"))
          .crossJoin(broadcast(pairs.groupBy("cb").agg(count(lit(1)).as("cj"))
            .withColumnRenamed("cb", "cbj")))
          .agg(sum((col("ca") - col("cbj")) * (col("ca") - col("cbj"))
            * col("ri") * col("cj")).as("wexp"))
        obs.crossJoin(broadcast(marg))
          .select(col("n").as("n_customers"),
            round(lit(1.0) - col("n").cast("double")
              * col("wobs").cast("double")
              / col("wexp").cast("double"), 6).as("kappa_w"))
      },
      Some(s"""WITH ${modalPairsSql(
        "CASE o_orderpriority WHEN '1-URGENT' THEN 1 " +
          "WHEN '2-HIGH' THEN 2 WHEN '3-MEDIUM' THEN 3 " +
          "WHEN '4-NOT SPECIFIED' THEN 4 ELSE 5 END")}, obs AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM((ca - cb) * (ca - cb)) AS BIGINT) AS wobs
             |  FROM pairs
             |), marg AS (
             |  SELECT CAST(SUM((r.ca - c.cbj) * (r.ca - c.cbj)
             |    * r.ri * c.cj) AS BIGINT) AS wexp
             |  FROM (SELECT ca, CAST(COUNT(*) AS BIGINT) AS ri
             |        FROM pairs GROUP BY 1) r
             |  CROSS JOIN (SELECT cb AS cbj, CAST(COUNT(*) AS BIGINT)
             |        AS cj FROM pairs GROUP BY 1) c
             |)
             |SELECT n AS n_customers,
             |  ROUND(1.0 - CAST(n AS DOUBLE) * CAST(wobs AS DOUBLE)
             |    / CAST(wexp AS DOUBLE), 6) AS kappa_w
             |FROM obs CROSS JOIN marg""".stripMargin)),

    // ---- Goodman-Kruskal lambda (predict the 5-class modal 1996
    // ---- priority from the market segment): λ = (Σ_s max_c n_sc −
    // ---- max_c n_·c) / (N − max_c n_·c), all exact integers. -------
    Q("q415_goodman_kruskal_lambda",
      (s, dir) => {
        val cls = when(col("o_orderpriority") === "1-URGENT", 1L)
          .when(col("o_orderpriority") === "2-HIGH", 2L)
          .when(col("o_orderpriority") === "3-MEDIUM", 3L)
          .when(col("o_orderpriority") === "4-NOT SPECIFIED", 4L)
          .otherwise(5L)
        val lat = t(s, dir, "orders")
          .where(year(col("o_orderdate")) === 1996)
          .join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment").as("seg"))),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("seg"), cls.as("cls"))
          .agg(count(lit(1)).as("n"))
        val rows = lat.groupBy("seg").agg(max(col("n")).as("mx"))
          .agg(sum(col("mx")).as("smx"))
        val colsm = lat.groupBy("cls").agg(sum(col("n")).as("nc"))
          .agg(max(col("nc")).as("mc"))
        val tot = lat.agg(sum(col("n")).as("nn"))
        rows.crossJoin(broadcast(colsm)).crossJoin(broadcast(tot))
          .select(col("nn").as("n_orders"),
            col("smx").as("sum_row_modes"),
            col("mc").as("global_mode"),
            round((col("smx") - col("mc")).cast("double")
              / (col("nn") - col("mc")).cast("double"), 6).as("lambda"))
      },
      Some("""WITH lat AS (
             |  SELECT c_mktsegment AS seg,
             |    CASE o_orderpriority WHEN '1-URGENT' THEN 1
             |      WHEN '2-HIGH' THEN 2 WHEN '3-MEDIUM' THEN 3
             |      WHEN '4-NOT SPECIFIED' THEN 4 ELSE 5 END AS cls,
             |    CAST(COUNT(*) AS BIGINT) AS n
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  WHERE YEAR(o_orderdate) = 1996
             |  GROUP BY 1, 2
             |), rws AS (
             |  SELECT CAST(SUM(mx) AS BIGINT) AS smx
             |  FROM (SELECT seg, CAST(MAX(n) AS BIGINT) AS mx
             |        FROM lat GROUP BY 1) z
             |), cls AS (
             |  SELECT CAST(MAX(nc) AS BIGINT) AS mc
             |  FROM (SELECT cls, CAST(SUM(n) AS BIGINT) AS nc
             |        FROM lat GROUP BY 1) z
             |), tot AS (
             |  SELECT CAST(SUM(n) AS BIGINT) AS nn FROM lat
             |)
             |SELECT nn AS n_orders, smx AS sum_row_modes,
             |  mc AS global_mode,
             |  ROUND(CAST(smx - mc AS DOUBLE)
             |    / CAST(nn - mc AS DOUBLE), 6) AS lambda
             |FROM rws CROSS JOIN cls CROSS JOIN tot""".stripMargin)),
  )
}
