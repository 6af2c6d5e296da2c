package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Thirty-ninth analytics pack (round 6, session 8): robust quantile
  * shape statistics (Bowley skewness, Moors kurtosis), month-over-
  * month leaderboard turnover, Herfindahl–Hirschman market
  * concentration, per-term burstiness, and seasonal variance
  * explained.
  *
  * Exactness discipline unchanged: octiles are exact order statistics
  * with id tie-breaks, revenue shares square in whole-dollar BIGINTs,
  * and the month-effect ANOVA runs on n²-scaled integer deviations. */
object Analytics39 {

  /** q302 leaderboard size. */
  private val TopN = 10

  /** q304 vocabulary: words of ≥ 4 chars among the top by document
    * frequency. */
  private val BurstTopW = 20

  val all: Seq[Q] = Seq(

    // ---- quantile shape statistics per market segment: Bowley
    // ---- skewness (Q3 + Q1 − 2·Q2)/(Q3 − Q1) and Moors kurtosis
    // ---- ((E7−E5)+(E3−E1))/(E6−E2) over the customers' order
    // ---- values — outlier-proof shape diagnostics from exact octile
    // ---- order statistics (rank k·n div 8, orderkey tie-break). ----
    Q("q301_quantile_shape",
      (s, dir) => {
        val v = t(s, dir, "orders")
          .join(t(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("segment"), col("o_totalprice")
            .as("x"), col("o_orderkey"))
        // 5 market segments over order grain: partitionBy(segment) is
        // single-task in all but name — one Ranks.withPrefixSums pass
        // gives the within-segment rank and group size distributively.
        val ranked = graft.operators.Ranks.withPrefixSums(v,
          Seq(col("segment")), Seq(col("x"), col("o_orderkey")),
          Seq((lit(1L), "rn", "n")))
        val oct = ranked
          .crossJoin(broadcast(s.range(1, 8).select(col("id").as("k"))))
          .where(col("rn") === expr("k * n div 8"))
          .groupBy("segment")
          .pivot("k", (1 to 7).map(k => Long.box(k.toLong)))
          .agg(first(col("x")))
        val e = (k: Int) => col(k.toString)
        oct.select(col("segment"), e(2).as("q1"), e(4).as("median"),
            e(6).as("q3"),
            round((e(6) + e(2) - lit(2.0) * e(4)) / (e(6) - e(2)), 6)
              .as("bowley_skew"),
            round(((e(7) - e(5)) + (e(3) - e(1))) / (e(6) - e(2)), 6)
              .as("moors_kurtosis"))
          .orderBy("segment")
      },
      Some("""WITH v AS (
             |  SELECT c_mktsegment AS segment, o_totalprice AS x,
             |    o_orderkey
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |), ranked AS (
             |  SELECT segment, x,
             |    ROW_NUMBER() OVER (PARTITION BY segment
             |      ORDER BY x, o_orderkey) AS rn,
             |    COUNT(*) OVER (PARTITION BY segment) AS n
             |  FROM v
             |), oct AS (
             |  SELECT segment,
             |    MAX(CASE WHEN rn = 1 * n // 8 THEN x END) AS e1,
             |    MAX(CASE WHEN rn = 2 * n // 8 THEN x END) AS e2,
             |    MAX(CASE WHEN rn = 3 * n // 8 THEN x END) AS e3,
             |    MAX(CASE WHEN rn = 4 * n // 8 THEN x END) AS e4,
             |    MAX(CASE WHEN rn = 5 * n // 8 THEN x END) AS e5,
             |    MAX(CASE WHEN rn = 6 * n // 8 THEN x END) AS e6,
             |    MAX(CASE WHEN rn = 7 * n // 8 THEN x END) AS e7
             |  FROM ranked
             |  GROUP BY segment
             |)
             |SELECT segment, e2 AS q1, e4 AS median, e6 AS q3,
             |  ROUND((e6 + e2 - 2.0 * e4) / (e6 - e2), 6) AS bowley_skew,
             |  ROUND(((e7 - e5) + (e3 - e1)) / (e6 - e2), 6)
             |    AS moors_kurtosis
             |FROM oct
             |ORDER BY segment""".stripMargin)),

    // ---- leaderboard turnover: the month-over-month overlap of each
    // ---- month's top-10 revenue parts — how stable is the "best
    // ---- sellers" board? Consecutive boards meet in an equi-join on
    // ---- the month index; Jaccard over the two 10-sets. ------------
    Q("q302_rank_turnover",
      (s, dir) => {
        // loadParallel: the heavy (mon, pk) partial aggregate otherwise
        // runs inside the single-task row-group scan (guide §2.5 input
        // skew) — measured 1.29 s → 0.54 s on this stage chain at sf0.1
        val monthly = Tables.loadParallel(s, dir, "lineitem")
          .join(t(s, dir, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("mon"),
            col("l_partkey").as("pk"))
          .agg(sum(dec("l_extendedprice")).as("rev"))
        // per-month top-N via the bounded top-k aggregate: partial-
        // aggregable (each task reduces to N rows pre-shuffle), where a
        // month-partitioned rank window caps parallelism at ~84 tasks
        // and sorts every month's whole part set in one task. Revenue
        // is cent-exact decimal ≪ 2^53, so the double score ranks
        // identically to the oracle's decimal; ties break to smaller
        // part id in both forms.
        val top = monthly
          .groupBy("mon")
          .agg(graft.functions.TopKAgg.topKBy(col("rev").cast("double"),
            col("pk"), TopN).as("topk"))
          .select(col("mon"), explode(col("topk")).as("nb"))
          .select(col("mon"), col("nb.id").as("pk"))
          .localCheckpoint(true)
        val mons = top.select("mon").distinct()
          .withColumn("mi", row_number().over(Window.orderBy("mon"))
            .cast("long"))
        val tm = top.join(broadcast(mons), Seq("mon"))
        val common = tm.select(col("mi"), col("pk"))
          .join(tm.select((col("mi") + 1L).as("mi"), col("pk"),
            col("mon").as("prev_mon")), Seq("mi", "pk"))
          .groupBy("mi").agg(count(lit(1)).as("n_common"))
        mons.where(col("mi") > 1)
          .join(common, Seq("mi"), "left")
          .select(col("mon"),
            coalesce(col("n_common"), lit(0L)).as("n_common"),
            round(coalesce(col("n_common"), lit(0L)).cast("double") /
              lit(2.0 * TopN) / (lit(1.0) -
                coalesce(col("n_common"), lit(0L)).cast("double") /
                  lit(2.0 * TopN)), 6).as("jaccard"),
            (lit(TopN.toLong) - coalesce(col("n_common"), lit(0L)))
              .as("n_new"))
          .orderBy("mon")
      },
      Some(s"""WITH monthly AS (
             |  SELECT strftime(o_orderdate, '%Y-%m') AS mon,
             |    l_partkey AS pk,
             |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS rev
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  GROUP BY 1, 2
             |), top AS MATERIALIZED (
             |  SELECT mon, pk FROM (
             |    SELECT mon, pk, ROW_NUMBER() OVER (PARTITION BY mon
             |      ORDER BY rev DESC, pk) AS rk
             |    FROM monthly)
             |  WHERE rk <= $TopN
             |), mons AS MATERIALIZED (
             |  SELECT mon, ROW_NUMBER() OVER (ORDER BY mon) AS mi
             |  FROM (SELECT DISTINCT mon FROM top)
             |), tm AS (
             |  SELECT t.pk, m.mi, m.mon FROM top t JOIN mons m USING (mon)
             |), common AS (
             |  SELECT b.mi, CAST(COUNT(*) AS BIGINT) AS n_common
             |  FROM tm a JOIN tm b ON b.mi = a.mi + 1 AND a.pk = b.pk
             |  GROUP BY b.mi
             |)
             |SELECT m.mon, COALESCE(c.n_common, 0) AS n_common,
             |  ROUND(CAST(COALESCE(c.n_common, 0) AS DOUBLE)
             |    / ${2 * TopN}.0 / (1.0 - CAST(COALESCE(c.n_common, 0)
             |      AS DOUBLE) / ${2 * TopN}.0), 6) AS jaccard,
             |  $TopN - COALESCE(c.n_common, 0) AS n_new
             |FROM mons m
             |LEFT JOIN common c ON c.mi = m.mi
             |WHERE m.mi > 1
             |ORDER BY m.mon""".stripMargin)),

    // ---- Herfindahl–Hirschman concentration of supplier revenue
    // ---- inside each nation's market (standard 0-10000 scale): the
    // ---- antitrust-grade concentration gauge (q153's Gini measures
    // ---- inequality; HHI weights the head). Whole-dollar BIGINT
    // ---- shares keep Σs² exact. ------------------------------------
    Q("q303_hhi",
      (s, dir) => {
        val rev = t(s, dir, "lineitem")
          .join(t(s, dir, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .join(t(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").as("nation"),
            col("l_suppkey").as("supp"))
          .agg(round(sum(dec("l_extendedprice")).cast("double"))
            .cast("long").as("si"))
        rev.groupBy("nation")
          .agg(count(lit(1)).as("n_suppliers"),
            sum(col("si")).as("tot"), sum(col("si") * col("si")).as("s2"),
            max(col("si")).as("mx"))
          .select(col("nation"), col("n_suppliers"),
            round(lit(10000.0) * col("s2").cast("double") /
              (col("tot").cast("double") * col("tot").cast("double")), 6)
              .as("hhi"),
            round(col("mx").cast("double") / col("tot").cast("double"), 6)
              .as("top_share"))
          .orderBy("nation")
      },
      Some("""WITH rev AS (
             |  SELECT c_nationkey AS nation, l_suppkey AS supp,
             |    CAST(ROUND(CAST(SUM(CAST(l_extendedprice
             |      AS DECIMAL(12,2))) AS DOUBLE)) AS BIGINT) AS si
             |  FROM lineitem
             |  JOIN orders ON l_orderkey = o_orderkey
             |  JOIN customer ON o_custkey = c_custkey
             |  GROUP BY 1, 2
             |)
             |SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
             |  ROUND(10000.0 * CAST(SUM(si * si) AS DOUBLE)
             |    / (CAST(SUM(si) AS DOUBLE) * CAST(SUM(si) AS DOUBLE)), 6)
             |    AS hhi,
             |  ROUND(CAST(MAX(si) AS DOUBLE) / CAST(SUM(si) AS DOUBLE), 6)
             |    AS top_share
             |FROM rev
             |GROUP BY nation
             |ORDER BY nation""".stripMargin)),

    // ---- term burstiness (Church & Gale): for the 20 highest-df
    // ---- words, mean within-document frequency among CONTAINING
    // ---- docs and the adaptation probability P(k ≥ 2 | k ≥ 1) — a
    // ---- bursty term repeats where it appears at all; a function
    // ---- word spreads thin. Exact integer counts end to end. -------
    Q("q304_term_burstiness",
      (s, dir) => {
        val occ = t(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .where(length(col("w")) >= 4)
          .groupBy("w", "doc_id").agg(count(lit(1)).as("k"))
        val per = occ.groupBy("w")
          .agg(count(lit(1)).as("df"), sum(col("k")).as("total_occ"),
            sum(when(col("k") >= 2, 1L).otherwise(0L)).as("df2"))
        // top-W head of the term census WITHOUT ranking the full
        // vocabulary in one task: orderBy+limit under the topK
        // fallback threshold plans as TakeOrderedAndProject — a
        // per-partition bounded heap with exact (df DESC, w ASC)
        // tie-break, so the vocabulary (data-scaled under Heaps' law)
        // is never single-task sorted.
        per
          .orderBy(desc("df"), asc("w"))
          .limit(BurstTopW)
          .select(col("w").as("word"), col("df"), col("total_occ"),
            round(col("total_occ").cast("double") / col("df").cast("double"),
              6).as("mean_tf"),
            round(col("df2").cast("double") / col("df").cast("double"), 6)
              .as("p_repeat"))
          .orderBy(desc("df"), asc("word"))
      },
      Some(s"""WITH occ AS (
             |  SELECT w, doc_id, CAST(COUNT(*) AS BIGINT) AS k FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
             |    FROM documents)
             |  WHERE len(w) >= 4
             |  GROUP BY 1, 2
             |), per AS (
             |  SELECT w, CAST(COUNT(*) AS BIGINT) AS df,
             |    CAST(SUM(k) AS BIGINT) AS total_occ,
             |    CAST(SUM(CASE WHEN k >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS df2
             |  FROM occ GROUP BY w
             |)
             |SELECT w AS word, df, total_occ,
             |  ROUND(CAST(total_occ AS DOUBLE) / CAST(df AS DOUBLE), 6)
             |    AS mean_tf,
             |  ROUND(CAST(df2 AS DOUBLE) / CAST(df AS DOUBLE), 6)
             |    AS p_repeat
             |FROM (
             |  SELECT *, ROW_NUMBER() OVER (ORDER BY df DESC, w) AS rk
             |  FROM per)
             |WHERE rk <= $BurstTopW
             |ORDER BY df DESC, word""".stripMargin)),

    // ---- seasonal variance explained: the month-effects ANOVA R² of
    // ---- monthly revenue — Var(month means)/Var(total) on the
    // ---- n²-scaled integer deviation identity, so every sum is
    // ---- BIGINT-exact. The one-number "is this series seasonal"
    // ---- gauge that decides whether q219/q284 models apply. --------
    Q("q305_seasonal_strength",
      (s, dir) => {
        // thousand-dollar grid: monthly dollar totals reach 3.3e9 at
        // sf0.1, whose square overflows BIGINT — the div-1000 rescale
        // keeps every product exact through sf10 (R² is unchanged up
        // to the shared truncation, identical in both engines)
        val monthly = t(s, dir, "orders")
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("mon"),
            month(col("o_orderdate")).as("moy"))
          .agg(round(sum(dec("o_totalprice")).cast("double")).cast("long")
            .as("xd"))
          .select(col("mon"), col("moy"), expr("xd div 1000").as("x"))
          .localCheckpoint(true)
        val g = monthly.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
        // Σ sm²/nm floors to BIGINT per month (positive operands, so
        // div == //): the 12-term sum stays exact instead of an
        // order-dependent double accumulation
        val within = monthly.groupBy("moy")
          .agg(count(lit(1)).as("nm"), sum(col("x")).as("sm"))
          .agg(sum(expr("(sm * sm) div nm")).as("ssb_u"))
        g.crossJoin(broadcast(within))
          .select(col("n"),
            round((col("ssb_u").cast("double") -
              col("sx").cast("double") * col("sx").cast("double") /
                col("n").cast("double")) /
              (col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double") /
                  col("n").cast("double")), 6).as("seasonal_r2"))
      },
      Some("""WITH monthly AS (
             |  SELECT mon, moy, xd // 1000 AS x FROM (
             |    SELECT strftime(o_orderdate, '%Y-%m') AS mon,
             |      CAST(EXTRACT(month FROM o_orderdate) AS INT) AS moy,
             |      CAST(ROUND(CAST(SUM(CAST(o_totalprice
             |        AS DECIMAL(12,2))) AS DOUBLE)) AS BIGINT) AS xd
             |    FROM orders GROUP BY 1, 2) d
             |), g AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(x) AS BIGINT) AS sx,
             |    CAST(SUM(x * x) AS BIGINT) AS sxx
             |  FROM monthly
             |), w AS (
             |  SELECT CAST(SUM((sm * sm) // nm) AS BIGINT) AS ssb_u
             |  FROM (SELECT moy, CAST(COUNT(*) AS BIGINT) AS nm,
             |          CAST(SUM(x) AS BIGINT) AS sm
             |        FROM monthly GROUP BY moy)
             |)
             |SELECT n,
             |  ROUND((CAST(ssb_u AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
             |      / CAST(n AS DOUBLE))
             |    / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
             |      * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 6)
             |    AS seasonal_r2
             |FROM g CROSS JOIN w""".stripMargin))
  )
}
