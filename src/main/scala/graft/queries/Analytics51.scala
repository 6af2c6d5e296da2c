package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Fifty-first analytics pack (round 6, session 9): the k-sample /
  * two-sample nonparametric tests the suite still lacked — the
  * Friedman rank test over complete month×priority blocks, the
  * Jonckheere-Terpstra ordered-alternative trend test, the
  * Brown-Forsythe (median-centered Levene) variance-homogeneity F,
  * the exact two-sample energy distance, and Mood's median test.
  *
  * Exactness discipline (same as packs 39-50): ranks ride the doubled
  * integer r2 = 2·(rank−1)+ties+1 so average ranks stay BIGINTs;
  * pairwise |x−y| sums come from sorted cumulative cross-products
  * (never an n² pair join); per-group double terms are round-9
  * DECIMAL(38,9) gridded before any cross-row sum so partial-agg
  * order can never perturb the result. */
object Analytics51 {

  /** Urgent-vs-low order totals keyed by exact cent value — the
    * two-cohort by-value table shared by q364/q365 (same shape as the
    * q359/q360 cohort; per-value counts bound every window by the
    * distinct-price support, not the row count). */
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

  val all: Seq[Q] = Seq(

    // ---- Friedman rank test: blocks = calendar months, treatments =
    // ---- the 5 order priorities, cell = exact cent revenue. Only
    // ---- complete blocks (all 5 priorities present) enter; within-
    // ---- block ranks ride the doubled-rank r2 so tied cells stay
    // ---- exact; Q = 3·Σw2²/(n·k·(k+1)) − 3·n·(k+1) follows from
    // ---- R_j = w2_j/2 plugged into the classical statistic. --------
    Q("q361_friedman_test",
      (s, dir) => {
        val cell = t(s, dir, "orders")
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("blk"),
            col("o_orderpriority").as("pri"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long"))
            .as("cents"))
        val complete = cell
          .withColumn("kcnt", count(lit(1)).over(Window.partitionBy("blk")))
          .where(col("kcnt") === 5L)
        val ranked = complete.withColumn("r2",
          lit(2L) * (rank().over(
            Window.partitionBy("blk").orderBy("cents")).cast("long") - 1L)
            + count(lit(1)).over(Window.partitionBy("blk", "cents"))
              .cast("long") + 1L)
        ranked.groupBy("pri")
          .agg(sum(col("r2")).as("w2"), count(lit(1)).as("nb"))
          .agg(max(col("nb")).as("n_blocks"),
            sum(col("w2") * col("w2")).as("sw2"))
          .select(col("n_blocks"), lit(5L).as("k"),
            round(lit(3.0) * col("sw2").cast("double")
              / (col("n_blocks").cast("double") * 5.0 * 6.0)
              - lit(3.0) * col("n_blocks").cast("double") * 6.0, 6)
              .as("q_friedman"))
      },
      Some("""WITH cell AS (
             |  SELECT strftime(o_orderdate, '%Y-%m') AS blk,
             |    o_orderpriority AS pri,
             |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
             |      AS BIGINT) AS cents
             |  FROM orders GROUP BY 1, 2
             |), complete AS (
             |  SELECT * FROM (
             |    SELECT cell.*, COUNT(*) OVER (PARTITION BY blk) AS kcnt
             |    FROM cell) x
             |  WHERE kcnt = 5
             |), ranked AS (
             |  SELECT pri,
             |    2 * (CAST(RANK() OVER (PARTITION BY blk ORDER BY cents)
             |      AS BIGINT) - 1)
             |    + CAST(COUNT(*) OVER (PARTITION BY blk, cents) AS BIGINT)
             |    + 1 AS r2
             |  FROM complete
             |), per AS (
             |  SELECT pri, CAST(SUM(r2) AS BIGINT) AS w2,
             |    CAST(COUNT(*) AS BIGINT) AS nb
             |  FROM ranked GROUP BY 1
             |)
             |SELECT MAX(nb) AS n_blocks, CAST(5 AS BIGINT) AS k,
             |  ROUND(3.0 * CAST(SUM(w2 * w2) AS DOUBLE)
             |      / (CAST(MAX(nb) AS DOUBLE) * 5.0 * 6.0)
             |    - 3.0 * CAST(MAX(nb) AS DOUBLE) * 6.0, 6) AS q_friedman
             |FROM per""".stripMargin)),

    // ---- Jonckheere-Terpstra ordered trend across priorities
    // ---- 1-URGENT < 2-HIGH < 3-MEDIUM: the doubled statistic
    // ---- JT2 = Σ_v Σ_{i<j} (2·c_j·cumlt_i + c_i·c_j) comes from the
    // ---- per-value pivot + lagged cumulatives — O(distinct values),
    // ---- never a pair join. Null moments use the tie-free formula
    // ---- (cent totals are effectively tie-free); identical DOUBLE
    // ---- expressions on both engines keep the z bit-equal. ---------
    Q("q362_jonckheere_terpstra",
      (s, dir) => {
        val byval = t(s, dir, "orders")
          .where(col("o_orderpriority")
            .isin("1-URGENT", "2-HIGH", "3-MEDIUM"))
          .select(
            when(col("o_orderpriority") === "1-URGENT", 1)
              .when(col("o_orderpriority") === "2-HIGH", 2)
              .otherwise(3).as("g"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
          .groupBy("cents")
          .agg(sum(when(col("g") === 1, 1L).otherwise(0L)).as("c1"),
            sum(when(col("g") === 2, 1L).otherwise(0L)).as("c2"),
            sum(when(col("g") === 3, 1L).otherwise(0L)).as("c3"))
        val w = Window.orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, -1)
        val agg = byval
          .withColumn("l1", coalesce(sum(col("c1")).over(w), lit(0L)))
          .withColumn("l2", coalesce(sum(col("c2")).over(w), lit(0L)))
          .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
            sum(col("c3")).as("n3"),
            sum((lit(2L) * col("c2") * col("l1") + col("c1") * col("c2")
              + lit(2L) * col("c3") * col("l1") + col("c1") * col("c3")
              + lit(2L) * col("c3") * col("l2") + col("c2") * col("c3"))
              .cast(DecimalType(38, 0))).as("jt2"))
        agg
          .withColumn("n", col("n1") + col("n2") + col("n3"))
          .select(col("n1"), col("n2"), col("n3"),
            (col("jt2").cast("double") / 2.0).as("jt"),
            ((col("n").cast("double") * col("n").cast("double")
              - col("n1").cast("double") * col("n1").cast("double")
              - col("n2").cast("double") * col("n2").cast("double")
              - col("n3").cast("double") * col("n3").cast("double"))
              / 4.0).as("e_jt"),
            round((col("jt2").cast("double") / 2.0
              - (col("n").cast("double") * col("n").cast("double")
                - col("n1").cast("double") * col("n1").cast("double")
                - col("n2").cast("double") * col("n2").cast("double")
                - col("n3").cast("double") * col("n3").cast("double"))
                / 4.0)
              / sqrt((col("n").cast("double") * col("n").cast("double")
                * (lit(2.0) * col("n").cast("double") + 3.0)
                - col("n1").cast("double") * col("n1").cast("double")
                  * (lit(2.0) * col("n1").cast("double") + 3.0)
                - col("n2").cast("double") * col("n2").cast("double")
                  * (lit(2.0) * col("n2").cast("double") + 3.0)
                - col("n3").cast("double") * col("n3").cast("double")
                  * (lit(2.0) * col("n3").cast("double") + 3.0)) / 72.0),
              6).as("z"))
      },
      Some("""WITH base AS (
             |  SELECT CASE o_orderpriority WHEN '1-URGENT' THEN 1
             |      WHEN '2-HIGH' THEN 2 ELSE 3 END AS g,
             |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders
             |  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
             |), byval AS (
             |  SELECT cents,
             |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS c1,
             |    CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS c2,
             |    CAST(SUM(CASE WHEN g = 3 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS c3
             |  FROM base GROUP BY 1
             |), cum AS (
             |  SELECT c1, c2, c3,
             |    COALESCE(CAST(SUM(c1) OVER (ORDER BY cents
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS BIGINT), 0) AS l1,
             |    COALESCE(CAST(SUM(c2) OVER (ORDER BY cents
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS BIGINT), 0) AS l2
             |  FROM byval
             |), agg AS (
             |  SELECT CAST(SUM(c1) AS BIGINT) AS n1,
             |    CAST(SUM(c2) AS BIGINT) AS n2,
             |    CAST(SUM(c3) AS BIGINT) AS n3,
             |    SUM(CAST(2 * c2 * l1 + c1 * c2 + 2 * c3 * l1 + c1 * c3
             |      + 2 * c3 * l2 + c2 * c3 AS DECIMAL(38, 0))) AS jt2
             |  FROM cum
             |), ev AS (
             |  SELECT n1, n2, n3, jt2, n1 + n2 + n3 AS n FROM agg
             |)
             |SELECT n1, n2, n3,
             |  CAST(jt2 AS DOUBLE) / 2.0 AS jt,
             |  (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
             |    - CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)
             |    - CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE)
             |    - CAST(n3 AS DOUBLE) * CAST(n3 AS DOUBLE)) / 4.0 AS e_jt,
             |  ROUND((CAST(jt2 AS DOUBLE) / 2.0
             |    - (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
             |      - CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)
             |      - CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE)
             |      - CAST(n3 AS DOUBLE) * CAST(n3 AS DOUBLE)) / 4.0)
             |    / sqrt((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
             |        * (2.0 * CAST(n AS DOUBLE) + 3.0)
             |      - CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)
             |        * (2.0 * CAST(n1 AS DOUBLE) + 3.0)
             |      - CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE)
             |        * (2.0 * CAST(n2 AS DOUBLE) + 3.0)
             |      - CAST(n3 AS DOUBLE) * CAST(n3 AS DOUBLE)
             |        * (2.0 * CAST(n3 AS DOUBLE) + 3.0)) / 72.0), 6) AS z
             |FROM ev""".stripMargin)),

    // ---- Brown-Forsythe variance homogeneity across the 5 market
    // ---- segments: deviations from the exact two-middle doubled
    // ---- group median (z2 = |2x − med2| — the doubling cancels in
    // ---- F), per-group sums exact (SS as DECIMAL(38,0)), and each
    // ---- group's numerator/denominator double term round-9 gridded
    // ---- before the cross-group sum. ------------------------------
    Q("q363_brown_forsythe",
      (s, dir) => {
        // NOTE r12: loadParallel was tried here and measured +3% (base
        // is referenced twice, so the round-robin exchange is paid
        // twice). Plain scan kept.
        val base = t(s, dir, "orders")
          .join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment").as("seg"))),
            col("o_custkey") === col("c_custkey"))
          .select(col("seg"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
        // 5 segments over order grain: the per-segment median must not
        // ride a partitionBy(seg) rank window (~n/5 rows in one task
        // at 100 TB). The median is positional in the sorted multiset,
        // so it reads off the (seg, cents) VALUE census instead: a
        // Ranks prefix-sum over census rows locates the runs holding
        // positions (n+1)÷2 and n÷2+1 — tie-invariant by construction.
        val census = base.groupBy("seg", "cents")
          .agg(count(lit(1)).as("tc"))
        val cum = graft.operators.Ranks.withPrefixSum(census,
          Seq(col("seg")), Seq(col("cents")), col("tc"), "cw", "n")
        val med = cum
          .withColumn("p1", expr("(n + 1) div 2"))
          .withColumn("p2", expr("n div 2 + 1"))
          .groupBy("seg")
          .agg((sum(when(col("cw") - col("tc") < col("p1")
              && col("p1") <= col("cw"), col("cents")).otherwise(0L))
            + sum(when(col("cw") - col("tc") < col("p2")
              && col("p2") <= col("cw"), col("cents")).otherwise(0L)))
            .as("med2"))
        val per = base.join(broadcast(med), Seq("seg"))
          .select(col("seg"),
            abs(lit(2L) * col("cents") - col("med2")).as("z2"))
          .groupBy("seg")
          .agg(count(lit(1)).as("nj"), sum(col("z2")).as("sj"),
            sum(col("z2").cast(DecimalType(38, 0)) * col("z2")).as("ssj"))
        val tot = per.agg(sum(col("nj")).as("n"), sum(col("sj")).as("s"),
          count(lit(1)).as("k"))
        per.crossJoin(broadcast(tot))
          .select(col("k"), col("n"),
            round(col("nj").cast("double")
              * (col("sj").cast("double") / col("nj").cast("double")
                - col("s").cast("double") / col("n").cast("double"))
              * (col("sj").cast("double") / col("nj").cast("double")
                - col("s").cast("double") / col("n").cast("double")), 9)
              .cast(DecimalType(38, 9)).as("numt"),
            round(col("ssj").cast("double")
              - col("sj").cast("double") * col("sj").cast("double")
                / col("nj").cast("double"), 9)
              .cast(DecimalType(38, 9)).as("dent"))
          .groupBy("k", "n")
          .agg(sum(col("numt")).as("num"), sum(col("dent")).as("den"))
          .select(col("k").as("k_groups"), col("n").as("n_total"),
            round((col("n") - col("k")).cast("double")
              / (col("k") - lit(1L)).cast("double")
              * (col("num").cast("double") / col("den").cast("double")),
              6).as("f_bf"))
      },
      Some("""WITH base AS (
             |  SELECT c_mktsegment AS seg,
             |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |), rn AS (
             |  SELECT seg, cents,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY seg ORDER BY cents)
             |      AS BIGINT) AS rn,
             |    CAST(COUNT(*) OVER (PARTITION BY seg) AS BIGINT) AS n
             |  FROM base
             |), med AS (
             |  SELECT seg,
             |    CAST(SUM(CASE WHEN rn = (n + 1) // 2 THEN cents ELSE 0
             |        END)
             |      + SUM(CASE WHEN rn = n // 2 + 1 THEN cents ELSE 0 END)
             |      AS BIGINT) AS med2
             |  FROM rn GROUP BY 1
             |), z AS (
             |  SELECT b.seg, ABS(2 * b.cents - m.med2) AS z2
             |  FROM base b JOIN med m ON b.seg = m.seg
             |), per AS (
             |  SELECT seg, CAST(COUNT(*) AS BIGINT) AS nj,
             |    CAST(SUM(z2) AS BIGINT) AS sj,
             |    SUM(CAST(z2 AS DECIMAL(38, 0)) * z2) AS ssj
             |  FROM z GROUP BY 1
             |), tot AS (
             |  SELECT CAST(SUM(nj) AS BIGINT) AS n,
             |    CAST(SUM(sj) AS BIGINT) AS s,
             |    CAST(COUNT(*) AS BIGINT) AS k
             |  FROM per
             |), terms AS (
             |  SELECT k, n,
             |    CAST(ROUND(CAST(nj AS DOUBLE)
             |      * (CAST(sj AS DOUBLE) / CAST(nj AS DOUBLE)
             |        - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             |      * (CAST(sj AS DOUBLE) / CAST(nj AS DOUBLE)
             |        - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 9)
             |      AS DECIMAL(38, 9)) AS numt,
             |    CAST(ROUND(CAST(ssj AS DOUBLE)
             |      - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE)
             |        / CAST(nj AS DOUBLE), 9) AS DECIMAL(38, 9)) AS dent
             |  FROM per CROSS JOIN tot
             |)
             |SELECT k AS k_groups, n AS n_total,
             |  ROUND((CAST(MAX(n) - MAX(k) AS DOUBLE)
             |      / CAST(MAX(k) - 1 AS DOUBLE))
             |    * (CAST(SUM(numt) AS DOUBLE)
             |      / CAST(SUM(dent) AS DOUBLE)), 6) AS f_bf
             |FROM terms GROUP BY k, n""".stripMargin)),

    // ---- exact two-sample energy distance between urgent and low
    // ---- order totals: within/cross pairwise |x−y| masses from the
    // ---- sorted per-value cumulatives (Σ gap·cum·(n−cum) — the
    // ---- O(distinct) identity, never an n² join); the V-statistic
    // ---- form D² = 2C/(na·nb) − 2A/na² − 2B/nb² and the Székely
    // ---- test weight na·nb/(na+nb) applied once at the end. --------
    Q("q364_energy_distance",
      (s, dir) => {
        val byval = cohortByValue(s, dir)
        val tot = byval.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
        val w = Window.orderBy("cents")
        val pieces = byval
          .withColumn("cuma", sum(col("ca")).over(w))
          .withColumn("cumb", sum(col("cb")).over(w))
          .withColumn("gap", lead(col("cents"), 1).over(w) - col("cents"))
          .where(col("gap").isNotNull)
          .crossJoin(broadcast(tot))
        val agg = pieces
          .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
            sum((col("gap") * col("cuma")).cast(DecimalType(38, 0))
              * (col("na") - col("cuma"))).as("aa"),
            sum((col("gap") * col("cumb")).cast(DecimalType(38, 0))
              * (col("nb") - col("cumb"))).as("bb"),
            sum(col("gap").cast(DecimalType(38, 0))
              * (col("cuma") * (col("nb") - col("cumb"))
                + col("cumb") * (col("na") - col("cuma")))).as("cc"))
        agg.select(col("na").as("n_urgent"), col("nb").as("n_low"),
          round(col("cc").cast("double")
            / (col("na") * col("nb")).cast("double") / 100.0, 6)
            .as("mean_cross_dollars"),
          round((lit(2.0) * col("cc").cast("double")
            / (col("na") * col("nb")).cast("double")
            - lit(2.0) * col("aa").cast("double")
              / (col("na") * col("na")).cast("double")
            - lit(2.0) * col("bb").cast("double")
              / (col("nb") * col("nb")).cast("double")) / 100.0, 6)
            .as("energy_dist_dollars"),
          round((col("na") * col("nb")).cast("double")
            / (col("na") + col("nb")).cast("double")
            * (lit(2.0) * col("cc").cast("double")
              / (col("na") * col("nb")).cast("double")
              - lit(2.0) * col("aa").cast("double")
                / (col("na") * col("na")).cast("double")
              - lit(2.0) * col("bb").cast("double")
                / (col("nb") * col("nb")).cast("double")) / 100.0, 6)
            .as("t_stat"))
      },
      Some(s"""WITH $CohortSql, cum AS (
             |  SELECT cents,
             |    CAST(SUM(ca) OVER (ORDER BY cents) AS BIGINT) AS cuma,
             |    CAST(SUM(cb) OVER (ORDER BY cents) AS BIGINT) AS cumb,
             |    LEAD(cents) OVER (ORDER BY cents) - cents AS gap
             |  FROM byval
             |), agg AS (
             |  SELECT
             |    SUM(CAST(gap * cuma AS DECIMAL(38, 0)) * (na - cuma))
             |      AS aa,
             |    SUM(CAST(gap * cumb AS DECIMAL(38, 0)) * (nb - cumb))
             |      AS bb,
             |    SUM(CAST(gap AS DECIMAL(38, 0))
             |      * (cuma * (nb - cumb) + cumb * (na - cuma))) AS cc,
             |    MAX(na) AS na, MAX(nb) AS nb
             |  FROM cum CROSS JOIN tot
             |  WHERE gap IS NOT NULL
             |)
             |SELECT na AS n_urgent, nb AS n_low,
             |  ROUND(CAST(cc AS DOUBLE) / CAST(na * nb AS DOUBLE) / 100.0,
             |    6) AS mean_cross_dollars,
             |  ROUND((2.0 * CAST(cc AS DOUBLE) / CAST(na * nb AS DOUBLE)
             |    - 2.0 * CAST(aa AS DOUBLE) / CAST(na * na AS DOUBLE)
             |    - 2.0 * CAST(bb AS DOUBLE) / CAST(nb * nb AS DOUBLE))
             |    / 100.0, 6) AS energy_dist_dollars,
             |  ROUND(CAST(na * nb AS DOUBLE) / CAST(na + nb AS DOUBLE)
             |    * (2.0 * CAST(cc AS DOUBLE) / CAST(na * nb AS DOUBLE)
             |      - 2.0 * CAST(aa AS DOUBLE) / CAST(na * na AS DOUBLE)
             |      - 2.0 * CAST(bb AS DOUBLE) / CAST(nb * nb AS DOUBLE))
             |    / 100.0, 6) AS t_stat
             |FROM agg""".stripMargin)),

    // ---- Mood's median test on the same cohorts: grand two-middle
    // ---- doubled median over the pooled sample, per-cohort
    // ---- above/below counts (exact-median ties dropped, counted),
    // ---- 2×2 chi-square from exact BIGINT cells. -------------------
    Q("q365_moods_median",
      (s, dir) => {
        val byval = cohortByValue(s, dir)
        val w = Window.orderBy("cents")
        val cum = byval
          .withColumn("cumn", sum(col("ca") + col("cb")).over(w))
        val tot = byval.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
          .withColumn("rlo", expr("(na + nb + 1) div 2"))
          .withColumn("rhi", expr("(na + nb) div 2 + 1"))
        val med = cum.crossJoin(broadcast(tot))
          .agg((min(when(col("cumn") >= col("rlo"), col("cents")))
            + min(when(col("cumn") >= col("rhi"), col("cents"))))
            .as("med2"))
        byval.crossJoin(broadcast(med))
          .agg(
            sum(when(lit(2L) * col("cents") > col("med2"), col("ca"))
              .otherwise(0L)).as("a"),
            sum(when(lit(2L) * col("cents") < col("med2"), col("ca"))
              .otherwise(0L)).as("b"),
            sum(when(lit(2L) * col("cents") > col("med2"), col("cb"))
              .otherwise(0L)).as("c"),
            sum(when(lit(2L) * col("cents") < col("med2"), col("cb"))
              .otherwise(0L)).as("d"),
            sum(when(lit(2L) * col("cents") === col("med2"),
              col("ca") + col("cb")).otherwise(0L)).as("ties_dropped"))
          .select(col("a"), col("b"), col("c"), col("d"),
            col("ties_dropped"),
            round((col("a") + col("b") + col("c") + col("d"))
              .cast("double")
              * (col("a").cast("double") * col("d").cast("double")
                - col("b").cast("double") * col("c").cast("double"))
              * (col("a").cast("double") * col("d").cast("double")
                - col("b").cast("double") * col("c").cast("double"))
              / ((col("a") + col("b")).cast("double")
                * (col("c") + col("d")).cast("double")
                * (col("a") + col("c")).cast("double")
                * (col("b") + col("d")).cast("double")), 6)
              .as("chi2"))
      },
      Some(s"""WITH $CohortSql, cum AS (
             |  SELECT cents,
             |    CAST(SUM(ca + cb) OVER (ORDER BY cents) AS BIGINT)
             |      AS cumn
             |  FROM byval
             |), med AS (
             |  SELECT CAST(
             |      MIN(CASE WHEN cumn >= (na + nb + 1) // 2 THEN cents
             |        END)
             |      + MIN(CASE WHEN cumn >= (na + nb) // 2 + 1 THEN cents
             |        END) AS BIGINT) AS med2
             |  FROM cum CROSS JOIN tot
             |), cells AS (
             |  SELECT
             |    CAST(SUM(CASE WHEN 2 * cents > med2 THEN ca ELSE 0 END)
             |      AS BIGINT) AS a,
             |    CAST(SUM(CASE WHEN 2 * cents < med2 THEN ca ELSE 0 END)
             |      AS BIGINT) AS b,
             |    CAST(SUM(CASE WHEN 2 * cents > med2 THEN cb ELSE 0 END)
             |      AS BIGINT) AS c,
             |    CAST(SUM(CASE WHEN 2 * cents < med2 THEN cb ELSE 0 END)
             |      AS BIGINT) AS d,
             |    CAST(SUM(CASE WHEN 2 * cents = med2 THEN ca + cb ELSE 0
             |      END) AS BIGINT) AS ties_dropped
             |  FROM byval CROSS JOIN med
             |)
             |SELECT a, b, c, d, ties_dropped,
             |  ROUND(CAST(a + b + c + d AS DOUBLE)
             |    * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
             |      - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
             |    * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
             |      - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
             |    / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
             |      * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)), 6)
             |    AS chi2
             |FROM cells""".stripMargin)),
  )
}
