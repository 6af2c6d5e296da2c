package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Seventy-second analytics pack (round 6, session 9): psychometric
  * reliability of the month×segment revenue panel — the five market
  * segments play the role of scale items observed over calendar
  * months: Cronbach's alpha, the split-half Spearman-Brown estimate,
  * the 10 inter-item correlations, item-total correlations, and the
  * standard error of measurement.
  *
  * Exactness discipline: the month×segment cells are exact cents
  * pivoted by the five known segment names; all variances and
  * covariances are DECIMAL(38,0) cross-products of exact BIGINTs
  * divided once inside one identical double expression. */
object Analytics72 {

  private val Segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")

  /** Wide month panel: (mon, s1..s5 cents, tot cents). */
  private def panel(s: SparkSession, dir: String): DataFrame = {
    val cell = t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("seg"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("mon"))
      .agg(
        Segs.zipWithIndex.map { case (sg, i) =>
          sum(when(col("seg") === sg,
            round(col("o_totalprice") * 100).cast("long"))
            .otherwise(0L)).as(s"s${i + 1}")
        }.head,
        Segs.zipWithIndex.map { case (sg, i) =>
          sum(when(col("seg") === sg,
            round(col("o_totalprice") * 100).cast("long"))
            .otherwise(0L)).as(s"s${i + 1}")
        }.tail: _*)
    cell.withColumn("tot",
      col("s1") + col("s2") + col("s3") + col("s4") + col("s5"))
  }

  private val PanelSql = {
    val cols = Segs.zipWithIndex.map { case (sg, i) =>
      s"""    CAST(SUM(CASE WHEN c_mktsegment = '$sg'
         |      THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
         |      ELSE 0 END) AS BIGINT) AS s${i + 1}""".stripMargin
    }.mkString(",\n")
    s"""panel AS MATERIALIZED (
       |  SELECT mon, s1, s2, s3, s4, s5,
       |    s1 + s2 + s3 + s4 + s5 AS tot
       |  FROM (
       |    SELECT strftime(o_orderdate, '%Y-%m') AS mon,
       |$cols
       |    FROM orders JOIN customer ON o_custkey = c_custkey
       |    GROUP BY 1) z
       |)""".stripMargin
  }

  /** Population variance of column c over the panel, as one double
    * expression from exact sums (Spark side). */
  private def varCol(df: DataFrame, cs: Seq[String]): DataFrame = {
    val exprs = count(lit(1)).as("n") +:
      cs.flatMap(c => Seq(sum(col(c)).as(s"sum_$c"),
        sum(col(c).cast(DecimalType(38, 0)) * col(c)).as(s"ss_$c")))
    df.agg(exprs.head, exprs.tail: _*)
  }

  val all: Seq[Q] = Seq(

    // ---- Cronbach's alpha: α = k/(k−1)·(1 − Σ var_item/var_total)
    // ---- with population variances from exact cent moments. --------
    Q("q466_cronbach_alpha",
      (s, dir) => {
        val p = panel(s, dir)
        val m = varCol(p, Seq("s1", "s2", "s3", "s4", "s5", "tot"))
        def v(c: String) = (col(s"ss_$c").cast("double")
          / col("n").cast("double")
          - (col(s"sum_$c").cast("double") / col("n").cast("double"))
            * (col(s"sum_$c").cast("double") / col("n").cast("double")))
        m.select(col("n").as("n_months"), lit(5L).as("k_items"),
          round(lit(5.0) / 4.0 * (lit(1.0)
            - (v("s1") + v("s2") + v("s3") + v("s4") + v("s5"))
              / v("tot")), 6).as("alpha"))
      },
      Some(s"""WITH $PanelSql, m AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(s1) AS BIGINT) AS u1,
             |    SUM(CAST(s1 AS DECIMAL(38, 0)) * s1) AS q1,
             |    CAST(SUM(s2) AS BIGINT) AS u2,
             |    SUM(CAST(s2 AS DECIMAL(38, 0)) * s2) AS q2,
             |    CAST(SUM(s3) AS BIGINT) AS u3,
             |    SUM(CAST(s3 AS DECIMAL(38, 0)) * s3) AS q3,
             |    CAST(SUM(s4) AS BIGINT) AS u4,
             |    SUM(CAST(s4 AS DECIMAL(38, 0)) * s4) AS q4,
             |    CAST(SUM(s5) AS BIGINT) AS u5,
             |    SUM(CAST(s5 AS DECIMAL(38, 0)) * s5) AS q5,
             |    CAST(SUM(tot) AS BIGINT) AS ut,
             |    SUM(CAST(tot AS DECIMAL(38, 0)) * tot) AS qt
             |  FROM panel
             |)
             |SELECT n AS n_months, CAST(5 AS BIGINT) AS k_items,
             |  ROUND(5.0 / 4.0 * (1.0 -
             |    ((CAST(q1 AS DOUBLE) / n - (CAST(u1 AS DOUBLE) / n)
             |        * (CAST(u1 AS DOUBLE) / n))
             |     + (CAST(q2 AS DOUBLE) / n - (CAST(u2 AS DOUBLE) / n)
             |        * (CAST(u2 AS DOUBLE) / n))
             |     + (CAST(q3 AS DOUBLE) / n - (CAST(u3 AS DOUBLE) / n)
             |        * (CAST(u3 AS DOUBLE) / n))
             |     + (CAST(q4 AS DOUBLE) / n - (CAST(u4 AS DOUBLE) / n)
             |        * (CAST(u4 AS DOUBLE) / n))
             |     + (CAST(q5 AS DOUBLE) / n - (CAST(u5 AS DOUBLE) / n)
             |        * (CAST(u5 AS DOUBLE) / n)))
             |    / (CAST(qt AS DOUBLE) / n - (CAST(ut AS DOUBLE) / n)
             |       * (CAST(ut AS DOUBLE) / n))), 6) AS alpha
             |FROM m""".stripMargin)),

    // ---- split-half reliability: halves A = s1+s3+s5, B = s2+s4;
    // ---- Pearson r between half scores over months, Spearman-Brown
    // ---- SB = 2r/(1+r). --------------------------------------------
    Q("q467_split_half",
      (s, dir) => {
        val p = panel(s, dir)
          .select((col("s1") + col("s3") + col("s5")).as("a"),
            (col("s2") + col("s4")).as("b"))
        p.agg(count(lit(1)).as("n"), sum(col("a")).as("sa"),
          sum(col("b")).as("sb"),
          sum(col("a").cast(DecimalType(38, 0)) * col("b")).as("sab"),
          sum(col("a").cast(DecimalType(38, 0)) * col("a")).as("saa"),
          sum(col("b").cast(DecimalType(38, 0)) * col("b")).as("sbb"))
          .select(col("n").as("n_months"),
            round((col("n").cast("double") * col("sab").cast("double")
              - col("sa").cast("double") * col("sb").cast("double"))
              / sqrt((col("n").cast("double") * col("saa").cast("double")
                - col("sa").cast("double") * col("sa").cast("double"))
                * (col("n").cast("double") * col("sbb").cast("double")
                  - col("sb").cast("double")
                    * col("sb").cast("double"))), 6).as("half_r"))
          .select(col("n_months"), col("half_r"),
            round(lit(2.0) * col("half_r") / (lit(1.0) + col("half_r")),
              6).as("spearman_brown"))
      },
      Some(s"""WITH $PanelSql, hs AS (
             |  SELECT s1 + s3 + s5 AS a, s2 + s4 AS b FROM panel
             |), m AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(a) AS BIGINT) AS sa,
             |    CAST(SUM(b) AS BIGINT) AS sb,
             |    SUM(CAST(a AS DECIMAL(38, 0)) * b) AS sab,
             |    SUM(CAST(a AS DECIMAL(38, 0)) * a) AS saa,
             |    SUM(CAST(b AS DECIMAL(38, 0)) * b) AS sbb
             |  FROM hs
             |), r AS (
             |  SELECT n,
             |    (CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
             |      - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
             |    / sqrt((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
             |        - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
             |      * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
             |        - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))
             |      AS half_r
             |  FROM m
             |)
             |SELECT n AS n_months, ROUND(half_r, 6) AS half_r,
             |  ROUND(2.0 * ROUND(half_r, 6) / (1.0 + ROUND(half_r, 6)),
             |    6) AS spearman_brown
             |FROM r""".stripMargin)),

    // ---- the 10 inter-item correlations over months (long-form
    // ---- pairwise Pearson from exact cross-moments). ---------------
    Q("q468_interitem_correlations",
      (s, dir) => {
        val long = panel(s, dir).select(col("mon") +:
          (1 to 5).map(i => col(s"s$i")): _*)
        val melted = (1 to 5).map { i =>
          long.select(col("mon"), lit(i.toLong).as("item"),
            col(s"s$i").as("v"))
        }.reduce(_ unionByName _)
        val pairs = melted.as("a").join(melted.as("b"),
          col("a.mon") === col("b.mon")
            && col("a.item") < col("b.item"))
          .groupBy(col("a.item").as("item_a"),
            col("b.item").as("item_b"))
          .agg(count(lit(1)).as("n"), sum(col("a.v")).as("sa"),
            sum(col("b.v")).as("sb"),
            sum(col("a.v").cast(DecimalType(38, 0)) * col("b.v"))
              .as("sab"),
            sum(col("a.v").cast(DecimalType(38, 0)) * col("a.v"))
              .as("saa"),
            sum(col("b.v").cast(DecimalType(38, 0)) * col("b.v"))
              .as("sbb"))
        pairs.select(col("item_a"), col("item_b"),
          round((col("n").cast("double") * col("sab").cast("double")
            - col("sa").cast("double") * col("sb").cast("double"))
            / sqrt((col("n").cast("double") * col("saa").cast("double")
              - col("sa").cast("double") * col("sa").cast("double"))
              * (col("n").cast("double") * col("sbb").cast("double")
                - col("sb").cast("double") * col("sb").cast("double"))),
            6).as("r"))
      },
      Some(s"""WITH $PanelSql, melted AS (
             |  SELECT mon, 1 AS item, s1 AS v FROM panel
             |  UNION ALL SELECT mon, 2, s2 FROM panel
             |  UNION ALL SELECT mon, 3, s3 FROM panel
             |  UNION ALL SELECT mon, 4, s4 FROM panel
             |  UNION ALL SELECT mon, 5, s5 FROM panel
             |), pairs AS (
             |  SELECT CAST(a.item AS BIGINT) AS item_a,
             |    CAST(b.item AS BIGINT) AS item_b,
             |    CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(a.v) AS BIGINT) AS sa,
             |    CAST(SUM(b.v) AS BIGINT) AS sb,
             |    SUM(CAST(a.v AS DECIMAL(38, 0)) * b.v) AS sab,
             |    SUM(CAST(a.v AS DECIMAL(38, 0)) * a.v) AS saa,
             |    SUM(CAST(b.v AS DECIMAL(38, 0)) * b.v) AS sbb
             |  FROM melted a JOIN melted b
             |    ON a.mon = b.mon AND a.item < b.item
             |  GROUP BY 1, 2
             |)
             |SELECT item_a, item_b,
             |  ROUND((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
             |    - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
             |    / sqrt((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
             |      - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
             |      * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
             |        - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 6)
             |    AS r
             |FROM pairs""".stripMargin)),

    // ---- item-total correlations: each segment vs the rest-of-total
    // ---- (corrected item-total, the scale-construction staple). ----
    Q("q469_item_total",
      (s, dir) => {
        val p = panel(s, dir)
        val rows = (1 to 5).map { i =>
          p.select(lit(i.toLong).as("item"), col(s"s$i").as("v"),
            (col("tot") - col(s"s$i")).as("rest"))
        }.reduce(_ unionByName _)
        rows.groupBy("item")
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sa"),
            sum(col("rest")).as("sb"),
            sum(col("v").cast(DecimalType(38, 0)) * col("rest"))
              .as("sab"),
            sum(col("v").cast(DecimalType(38, 0)) * col("v")).as("saa"),
            sum(col("rest").cast(DecimalType(38, 0)) * col("rest"))
              .as("sbb"))
          .select(col("item"),
            round((col("n").cast("double") * col("sab").cast("double")
              - col("sa").cast("double") * col("sb").cast("double"))
              / sqrt((col("n").cast("double")
                * col("saa").cast("double")
                - col("sa").cast("double") * col("sa").cast("double"))
                * (col("n").cast("double") * col("sbb").cast("double")
                  - col("sb").cast("double")
                    * col("sb").cast("double"))), 6)
              .as("item_total_r"))
      },
      Some(s"""WITH $PanelSql, rows_ AS (
             |  SELECT 1 AS item, s1 AS v, tot - s1 AS rest FROM panel
             |  UNION ALL SELECT 2, s2, tot - s2 FROM panel
             |  UNION ALL SELECT 3, s3, tot - s3 FROM panel
             |  UNION ALL SELECT 4, s4, tot - s4 FROM panel
             |  UNION ALL SELECT 5, s5, tot - s5 FROM panel
             |), m AS (
             |  SELECT CAST(item AS BIGINT) AS item,
             |    CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(v) AS BIGINT) AS sa,
             |    CAST(SUM(rest) AS BIGINT) AS sb,
             |    SUM(CAST(v AS DECIMAL(38, 0)) * rest) AS sab,
             |    SUM(CAST(v AS DECIMAL(38, 0)) * v) AS saa,
             |    SUM(CAST(rest AS DECIMAL(38, 0)) * rest) AS sbb
             |  FROM rows_ GROUP BY 1
             |)
             |SELECT item,
             |  ROUND((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
             |    - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
             |    / sqrt((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
             |      - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
             |      * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
             |        - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 6)
             |    AS item_total_r
             |FROM m""".stripMargin)),

    // ---- standard error of measurement: SEM = sd_total·√(1−α) in
    // ---- dollars, with α recomputed from the same exact moments. ---
    Q("q470_sem",
      (s, dir) => {
        val p = panel(s, dir)
        val m = varCol(p, Seq("s1", "s2", "s3", "s4", "s5", "tot"))
        def v(c: String) = (col(s"ss_$c").cast("double")
          / col("n").cast("double")
          - (col(s"sum_$c").cast("double") / col("n").cast("double"))
            * (col(s"sum_$c").cast("double") / col("n").cast("double")))
        m.select(col("n").as("n_months"),
          round(sqrt(v("tot")) / 100.0, 2).as("sd_total_dollars"),
          round(lit(5.0) / 4.0 * (lit(1.0)
            - (v("s1") + v("s2") + v("s3") + v("s4") + v("s5"))
              / v("tot")), 6).as("alpha"))
          .select(col("n_months"), col("sd_total_dollars"), col("alpha"),
            round(col("sd_total_dollars")
              * sqrt(greatest(lit(0.0), lit(1.0) - col("alpha"))), 2)
              .as("sem_dollars"))
      },
      Some(s"""WITH $PanelSql, m AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(s1) AS BIGINT) AS u1,
             |    SUM(CAST(s1 AS DECIMAL(38, 0)) * s1) AS q1,
             |    CAST(SUM(s2) AS BIGINT) AS u2,
             |    SUM(CAST(s2 AS DECIMAL(38, 0)) * s2) AS q2,
             |    CAST(SUM(s3) AS BIGINT) AS u3,
             |    SUM(CAST(s3 AS DECIMAL(38, 0)) * s3) AS q3,
             |    CAST(SUM(s4) AS BIGINT) AS u4,
             |    SUM(CAST(s4 AS DECIMAL(38, 0)) * s4) AS q4,
             |    CAST(SUM(s5) AS BIGINT) AS u5,
             |    SUM(CAST(s5 AS DECIMAL(38, 0)) * s5) AS q5,
             |    CAST(SUM(tot) AS BIGINT) AS ut,
             |    SUM(CAST(tot AS DECIMAL(38, 0)) * tot) AS qt
             |  FROM panel
             |), av AS (
             |  SELECT n,
             |    ROUND(sqrt(CAST(qt AS DOUBLE) / n
             |      - (CAST(ut AS DOUBLE) / n) * (CAST(ut AS DOUBLE) / n))
             |      / 100.0, 2) AS sd_total_dollars,
             |    ROUND(5.0 / 4.0 * (1.0 -
             |      ((CAST(q1 AS DOUBLE) / n - (CAST(u1 AS DOUBLE) / n)
             |          * (CAST(u1 AS DOUBLE) / n))
             |       + (CAST(q2 AS DOUBLE) / n - (CAST(u2 AS DOUBLE) / n)
             |          * (CAST(u2 AS DOUBLE) / n))
             |       + (CAST(q3 AS DOUBLE) / n - (CAST(u3 AS DOUBLE) / n)
             |          * (CAST(u3 AS DOUBLE) / n))
             |       + (CAST(q4 AS DOUBLE) / n - (CAST(u4 AS DOUBLE) / n)
             |          * (CAST(u4 AS DOUBLE) / n))
             |       + (CAST(q5 AS DOUBLE) / n - (CAST(u5 AS DOUBLE) / n)
             |          * (CAST(u5 AS DOUBLE) / n)))
             |      / (CAST(qt AS DOUBLE) / n - (CAST(ut AS DOUBLE) / n)
             |         * (CAST(ut AS DOUBLE) / n))), 6) AS alpha
             |  FROM m
             |)
             |SELECT n AS n_months, sd_total_dollars, alpha,
             |  ROUND(sd_total_dollars
             |    * sqrt(GREATEST(0.0, 1.0 - alpha)), 2) AS sem_dollars
             |FROM av""".stripMargin)),
  )
}
