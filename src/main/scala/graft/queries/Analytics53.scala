package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Fifty-third analytics pack (round 6, session 9): ordinal
  * association and the remaining rank-test family — Goodman-Kruskal
  * gamma / Somers' D / Kendall tau-c over the priority×price lattice,
  * the Nelson-Aalen cumulative-hazard estimator (same signup→purchase
  * survival construct as q150/q314), the Siegel-Tukey dispersion test,
  * the Quade weighted-rank block test, and Page's ordered trend test.
  *
  * Exactness discipline: concordance masses from the per-value pivot +
  * lagged cumulatives (O(distinct), never a pair join); Siegel-Tukey
  * outside-in ranks by closed form on the pooled row number; Quade's F
  * as a pure integer ratio (the doubled-rank factors cancel); hazard
  * increments round-9 gridded before the cumulative sum. */
object Analytics53 {

  /** Complete month×priority blocks with doubled within-block ranks —
    * shared by q374/q375 (same construct as q361). */
  private val BlockRankSql =
    """cell AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS blk,
      |    o_orderpriority AS pri,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1, 2
      |), complete AS (
      |  SELECT * FROM (
      |    SELECT cell.*, COUNT(*) OVER (PARTITION BY blk) AS kcnt
      |    FROM cell) x
      |  WHERE kcnt = 5
      |), ranked AS (
      |  SELECT blk, pri, cents,
      |    2 * (CAST(RANK() OVER (PARTITION BY blk ORDER BY cents)
      |      AS BIGINT) - 1)
      |    + CAST(COUNT(*) OVER (PARTITION BY blk, cents) AS BIGINT)
      |    + 1 AS r2
      |  FROM complete
      |)""".stripMargin

  private def blockRanks(s: SparkSession, dir: String): DataFrame = {
    val cell = t(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("blk"),
        col("o_orderpriority").as("pri"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    cell
      .withColumn("kcnt", count(lit(1)).over(Window.partitionBy("blk")))
      .where(col("kcnt") === 5L)
      .withColumn("r2",
        lit(2L) * (rank().over(
          Window.partitionBy("blk").orderBy("cents")).cast("long") - 1L)
          + count(lit(1)).over(Window.partitionBy("blk", "cents"))
            .cast("long") + 1L)
      .select("blk", "pri", "cents", "r2")
  }

  val all: Seq[Q] = Seq(

    // ---- ordinal association between priority (1-URGENT < 2-HIGH <
    // ---- 3-MEDIUM) and order total: concordant/discordant/Y-tied
    // ---- masses from the per-value pivot + lagged cumulatives, then
    // ---- Goodman-Kruskal gamma, Somers' D(Y|X) and Kendall tau-c
    // ---- (m = 3) as exact integer ratios divided once. -------------
    Q("q371_ordinal_association",
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
        byval
          .withColumn("l1", coalesce(sum(col("c1")).over(w), lit(0L)))
          .withColumn("l2", coalesce(sum(col("c2")).over(w), lit(0L)))
          .withColumn("l3", coalesce(sum(col("c3")).over(w), lit(0L)))
          .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
            sum(col("c3")).as("n3"),
            sum((col("c2") * col("l1") + col("c3") * col("l1")
              + col("c3") * col("l2")).cast(DecimalType(38, 0))).as("p"),
            sum((col("c1") * col("l2") + col("c1") * col("l3")
              + col("c2") * col("l3")).cast(DecimalType(38, 0))).as("q"),
            sum((col("c1") * col("c2") + col("c1") * col("c3")
              + col("c2") * col("c3")).cast(DecimalType(38, 0))).as("ty"))
          .select(
            col("p").cast("long").as("concordant"),
            col("q").cast("long").as("discordant"),
            col("ty").cast("long").as("ties_y"),
            round((col("p") - col("q")).cast("double")
              / (col("p") + col("q")).cast("double"), 6).as("gamma"),
            round((col("p") - col("q")).cast("double")
              / (col("p") + col("q") + col("ty")).cast("double"), 6)
              .as("somers_d_yx"),
            round(lit(6.0) * (col("p") - col("q")).cast("double")
              / ((col("n1") + col("n2") + col("n3")).cast("double")
                * (col("n1") + col("n2") + col("n3")).cast("double")
                * 2.0), 6).as("tau_c"))
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
             |      AS BIGINT), 0) AS l2,
             |    COALESCE(CAST(SUM(c3) OVER (ORDER BY cents
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS BIGINT), 0) AS l3
             |  FROM byval
             |), agg AS (
             |  SELECT CAST(SUM(c1) AS BIGINT) AS n1,
             |    CAST(SUM(c2) AS BIGINT) AS n2,
             |    CAST(SUM(c3) AS BIGINT) AS n3,
             |    SUM(CAST(c2 * l1 + c3 * l1 + c3 * l2 AS DECIMAL(38, 0)))
             |      AS p,
             |    SUM(CAST(c1 * l2 + c1 * l3 + c2 * l3 AS DECIMAL(38, 0)))
             |      AS q,
             |    SUM(CAST(c1 * c2 + c1 * c3 + c2 * c3 AS DECIMAL(38, 0)))
             |      AS ty
             |  FROM cum
             |)
             |SELECT CAST(p AS BIGINT) AS concordant,
             |  CAST(q AS BIGINT) AS discordant,
             |  CAST(ty AS BIGINT) AS ties_y,
             |  ROUND(CAST(p - q AS DOUBLE) / CAST(p + q AS DOUBLE), 6)
             |    AS gamma,
             |  ROUND(CAST(p - q AS DOUBLE) / CAST(p + q + ty AS DOUBLE),
             |    6) AS somers_d_yx,
             |  ROUND(6.0 * CAST(p - q AS DOUBLE)
             |    / (CAST(n1 + n2 + n3 AS DOUBLE)
             |      * CAST(n1 + n2 + n3 AS DOUBLE) * 2.0), 6) AS tau_c
             |FROM agg""".stripMargin)),

    // ---- Nelson-Aalen cumulative hazard on the q150 survival
    // ---- construct (signup→purchase, right-censored at the horizon):
    // ---- H(t) = Σ_{t_i ≤ t} d_i/n_i with the at-risk count from the
    // ---- lagged cumulative of deaths+censorings; each increment and
    // ---- its variance term d/n² round-9 gridded before the
    // ---- cumulative sum. ------------------------------------------
    Q("q372_nelson_aalen",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val horizon = ev.agg(max(to_date(col("ts"))).as("maxday"))
        val perUser = ev
          .groupBy("user_id")
          .agg(min(when(col("event_type") === "signup",
            to_date(col("ts")))).as("sday"),
            min(when(col("event_type") === "purchase",
              to_date(col("ts")))).as("pday"))
          .where(col("sday").isNotNull)
          .crossJoin(broadcast(horizon))
          .select(
            when(col("pday") >= col("sday"),
              datediff(col("pday"), col("sday"))).as("tev"),
            col("sday"), col("maxday"))
          .select(coalesce(col("tev"),
            datediff(col("maxday"), col("sday"))).as("t"),
            col("tev").isNotNull.as("observed"))
        val steps = perUser.groupBy("t").agg(
          sum(when(col("observed"), 1L).otherwise(0L)).as("d"),
          count(lit(1)).as("tot"))
        val wPrev = Window.orderBy("t")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wAll = Window.orderBy("t")
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)
        val wCum = Window.orderBy("t")
          .rowsBetween(Window.unboundedPreceding, 0)
        steps
          .withColumn("n",
            sum(col("tot")).over(wAll)
              - coalesce(sum(col("tot")).over(wPrev), lit(0L)))
          .withColumn("inc",
            round(col("d").cast("double") / col("n").cast("double"), 9)
              .cast(DecimalType(38, 9)))
          .withColumn("vinc",
            round(col("d").cast("double")
              / (col("n") * col("n")).cast("double"), 9)
              .cast(DecimalType(38, 9)))
          .withColumn("h", sum(col("inc")).over(wCum))
          .withColumn("v", sum(col("vinc")).over(wCum))
          .where(col("d") > 0L)
          .select(col("t").cast("long").as("t_days"), col("d"),
            col("n").as("n_at_risk"),
            round(col("h").cast("double"), 6).as("cum_hazard"),
            round(col("v").cast("double"), 6).as("hazard_var"))
      },
      Some("""WITH horizon AS (
             |  SELECT MAX(CAST(ts AS DATE)) AS maxday FROM events
             |), per_user AS (
             |  SELECT
             |    MIN(CASE WHEN event_type = 'signup'
             |      THEN CAST(ts AS DATE) END) AS sday,
             |    MIN(CASE WHEN event_type = 'purchase'
             |      THEN CAST(ts AS DATE) END) AS pday
             |  FROM events GROUP BY user_id
             |), durs AS (
             |  SELECT
             |    COALESCE(CASE WHEN pday >= sday
             |        THEN DATEDIFF('day', sday, pday) END,
             |      DATEDIFF('day', sday, maxday)) AS t,
             |    (CASE WHEN pday >= sday THEN DATEDIFF('day', sday, pday)
             |      END) IS NOT NULL AS observed
             |  FROM per_user CROSS JOIN horizon
             |  WHERE sday IS NOT NULL
             |), steps AS (
             |  SELECT t,
             |    CAST(SUM(CASE WHEN observed THEN 1 ELSE 0 END)
             |      AS BIGINT) AS d,
             |    CAST(COUNT(*) AS BIGINT) AS tot
             |  FROM durs GROUP BY 1
             |), atrisk AS (
             |  SELECT t, d,
             |    CAST(SUM(tot) OVER () AS BIGINT)
             |      - COALESCE(CAST(SUM(tot) OVER (ORDER BY t
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |        AS BIGINT), 0) AS n
             |  FROM steps
             |), gridded AS (
             |  SELECT t, d, n,
             |    CAST(ROUND(CAST(d AS DOUBLE) / CAST(n AS DOUBLE), 9)
             |      AS DECIMAL(38, 9)) AS inc,
             |    CAST(ROUND(CAST(d AS DOUBLE) / CAST(n * n AS DOUBLE), 9)
             |      AS DECIMAL(38, 9)) AS vinc
             |  FROM atrisk
             |)
             |, curve AS (
             |  SELECT CAST(t AS BIGINT) AS t_days, d, n AS n_at_risk,
             |    ROUND(CAST(SUM(inc) OVER (ORDER BY t
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS DOUBLE), 6) AS cum_hazard,
             |    ROUND(CAST(SUM(vinc) OVER (ORDER BY t
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS DOUBLE), 6) AS hazard_var
             |  FROM gridded
             |)
             |SELECT * FROM curve WHERE d > 0""".stripMargin)),

    // ---- Siegel-Tukey dispersion test between urgent and low order
    // ---- totals: outside-in ranks by closed form on the pooled
    // ---- (cents, orderkey) row number — left side i gets 2i−1 (odd)
    // ---- / 2i (even), right side j = N+1−i gets 2j (odd) / 2j−1
    // ---- (even), the odd-N middle gets N — then the Wilcoxon
    // ---- rank-sum z on the urgent side's exact rank sum. -----------
    Q("q373_siegel_tukey",
      (s, dir) => {
        val pooled = t(s, dir, "orders")
          .where(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
          .select(
            when(col("o_orderpriority") === "1-URGENT", "a")
              .otherwise("b").as("g"),
            round(col("o_totalprice") * 100).cast("long").as("cents"),
            col("o_orderkey").as("okey"))
        // pooled positions via distributed rank (orders-grain)
        val ranked = graft.operators.Ranks
          .withGlobalRank(pooled, Seq(col("cents"), col("okey")), "i")
          .crossJoin(broadcast(
            pooled.agg(count(lit(1)).cast("long").as("n"))))
          .withColumn("st",
            when(lit(2L) * col("i") === col("n") + 1L, col("n"))
              .when(lit(2L) * col("i") <= col("n") + 1L,
                when(col("i") % 2L === 1L, lit(2L) * col("i") - 1L)
                  .otherwise(lit(2L) * col("i")))
              .otherwise(
                when((col("n") + 1L - col("i")) % 2L === 1L,
                  lit(2L) * (col("n") + 1L - col("i")))
                  .otherwise(lit(2L) * (col("n") + 1L - col("i")) - 1L)))
        ranked
          .agg(sum(when(col("g") === "a", 1L).otherwise(0L)).as("na"),
            sum(when(col("g") === "b", 1L).otherwise(0L)).as("nb"),
            sum(when(col("g") === "a", col("st")).otherwise(0L))
              .as("w_urgent"))
          .select(col("na").as("n_urgent"), col("nb").as("n_low"),
            col("w_urgent"),
            round((col("w_urgent").cast("double")
              - col("na").cast("double")
                * (col("na") + col("nb") + 1L).cast("double") / 2.0)
              / sqrt(col("na").cast("double") * col("nb").cast("double")
                * (col("na") + col("nb") + 1L).cast("double") / 12.0), 6)
              .as("z"))
      },
      Some("""WITH pooled AS (
             |  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'a'
             |      ELSE 'b' END AS g,
             |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             |    o_orderkey AS okey
             |  FROM orders
             |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
             |), ranked AS (
             |  SELECT g,
             |    CASE WHEN 2 * i = n + 1 THEN n
             |      WHEN 2 * i <= n + 1 THEN
             |        CASE WHEN i % 2 = 1 THEN 2 * i - 1 ELSE 2 * i END
             |      ELSE
             |        CASE WHEN (n + 1 - i) % 2 = 1 THEN 2 * (n + 1 - i)
             |          ELSE 2 * (n + 1 - i) - 1 END
             |    END AS st
             |  FROM (
             |    SELECT g,
             |      CAST(ROW_NUMBER() OVER (ORDER BY cents, okey)
             |        AS BIGINT) AS i,
             |      CAST(COUNT(*) OVER () AS BIGINT) AS n
             |    FROM pooled) x
             |), agg AS (
             |  SELECT
             |    CAST(SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS BIGINT)
             |      AS na,
             |    CAST(SUM(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS BIGINT)
             |      AS nb,
             |    CAST(SUM(CASE WHEN g = 'a' THEN st ELSE 0 END)
             |      AS BIGINT) AS w_urgent
             |  FROM ranked
             |)
             |SELECT na AS n_urgent, nb AS n_low, w_urgent,
             |  ROUND((CAST(w_urgent AS DOUBLE)
             |    - CAST(na AS DOUBLE) * CAST(na + nb + 1 AS DOUBLE) / 2.0)
             |    / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
             |      * CAST(na + nb + 1 AS DOUBLE) / 12.0), 6) AS z
             |FROM agg""".stripMargin)),

    // ---- Quade weighted-rank block test over complete month blocks:
    // ---- block weights are the doubled rank of the block's cell
    // ---- range, scores S2 = q2·(r2 − 6); the doubled factors cancel
    // ---- in F = (n−1)·ΣT_j² / (n·ΣS2² − ΣT_j²), which stays a pure
    // ---- integer ratio until one final division. -------------------
    Q("q374_quade_test",
      (s, dir) => {
        val ranked = blockRanks(s, dir)
        val ranges = ranked.groupBy("blk")
          .agg((max(col("cents")) - min(col("cents"))).as("rng"))
        val weighted = ranges
          .withColumn("q2",
            lit(2L) * (rank().over(Window.orderBy("rng")).cast("long")
              - 1L)
              + count(lit(1)).over(Window.partitionBy("rng"))
                .cast("long") + 1L)
        val scores = ranked.join(weighted, Seq("blk"))
          .select(col("pri"),
            (col("q2") * (col("r2") - lit(6L))).as("s2"))
        val perPri = scores.groupBy("pri")
          .agg(sum(col("s2")).as("t2"), count(lit(1)).as("nb"))
        val a2 = scores.agg(sum(col("s2") * col("s2")).as("a2s"))
        perPri
          .agg(max(col("nb")).as("n_blocks"),
            sum(col("t2") * col("t2")).as("b2s"))
          .crossJoin(broadcast(a2))
          .select(col("n_blocks"),
            round((col("n_blocks") - 1L).cast("double")
              * col("b2s").cast("double")
              / (col("n_blocks").cast("double")
                * col("a2s").cast("double")
                - col("b2s").cast("double")), 6).as("f_quade"))
      },
      Some(s"""WITH $BlockRankSql, ranges AS (
             |  SELECT blk, MAX(cents) - MIN(cents) AS rng
             |  FROM ranked GROUP BY 1
             |), weighted AS (
             |  SELECT blk,
             |    2 * (CAST(RANK() OVER (ORDER BY rng) AS BIGINT) - 1)
             |    + CAST(COUNT(*) OVER (PARTITION BY rng) AS BIGINT) + 1
             |      AS q2
             |  FROM ranges
             |), scores AS (
             |  SELECT r.pri, w.q2 * (r.r2 - 6) AS s2
             |  FROM ranked r JOIN weighted w ON r.blk = w.blk
             |), per AS (
             |  SELECT pri, CAST(SUM(s2) AS BIGINT) AS t2,
             |    CAST(COUNT(*) AS BIGINT) AS nb
             |  FROM scores GROUP BY 1
             |), a2 AS (
             |  SELECT CAST(SUM(s2 * s2) AS BIGINT) AS a2s FROM scores
             |)
             |SELECT MAX(nb) AS n_blocks,
             |  ROUND(CAST(MAX(nb) - 1 AS DOUBLE)
             |    * CAST(SUM(t2 * t2) AS DOUBLE)
             |    / (CAST(MAX(nb) AS DOUBLE) * CAST(MAX(a2s) AS DOUBLE)
             |      - CAST(SUM(t2 * t2) AS DOUBLE)), 6) AS f_quade
             |FROM per CROSS JOIN a2""".stripMargin)),

    // ---- Page's ordered trend test: L = Σ_j j·R_j with treatments
    // ---- ordered by urgency; with doubled ranks L = L2/2, and the
    // ---- exact k=5 null moments E[L] = 45n, Var[L] = 25n (tie-free
    // ---- variance — monthly cent totals are effectively unique). ---
    Q("q375_page_trend",
      (s, dir) => {
        val ranked = blockRanks(s, dir)
          .withColumn("j",
            when(col("pri") === "1-URGENT", 1L)
              .when(col("pri") === "2-HIGH", 2L)
              .when(col("pri") === "3-MEDIUM", 3L)
              .when(col("pri") === "4-NOT SPECIFIED", 4L)
              .otherwise(5L))
        ranked
          .agg((count(lit(1)) / lit(5L)).cast("long").as("n_blocks"),
            sum(col("j") * col("r2")).as("l2"))
          .select(col("n_blocks"),
            (col("l2").cast("double") / 2.0).as("l_stat"),
            round((col("l2").cast("double") / 2.0
              - lit(45.0) * col("n_blocks").cast("double"))
              / sqrt(lit(25.0) * col("n_blocks").cast("double")), 6)
              .as("z"))
      },
      Some(s"""WITH $BlockRankSql, j AS (
             |  SELECT r2,
             |    CASE pri WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
             |      WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 4
             |      ELSE 5 END AS j
             |  FROM ranked
             |), agg AS (
             |  SELECT CAST(COUNT(*) // 5 AS BIGINT) AS n_blocks,
             |    CAST(SUM(j * r2) AS BIGINT) AS l2
             |  FROM j
             |)
             |SELECT n_blocks,
             |  CAST(l2 AS DOUBLE) / 2.0 AS l_stat,
             |  ROUND((CAST(l2 AS DOUBLE) / 2.0
             |    - 45.0 * CAST(n_blocks AS DOUBLE))
             |    / sqrt(25.0 * CAST(n_blocks AS DOUBLE)), 6) AS z
             |FROM agg""".stripMargin)),
  )
}
