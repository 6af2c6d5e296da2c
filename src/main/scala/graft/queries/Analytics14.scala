package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Fourteenth analytics pack (round 6, session 5): corpus-statistics
  * estimators — power-law exponent MLE, discounted LTV, burstiness,
  * Pareto concentration curve, and Dunning G² keyness. */
object Analytics14 {

  /** q177 weekly discount factor. */
  private val LtvGamma = 0.95

  val all: Seq[Q] = Seq(

    // ---- power-law exponent MLE (Clauset 2009 continuous form, the
    // ---- heavy-tail verifier for corpus length distributions):
    // ---- alpha = 1 + n / sum ln(x / xmin) per source; one ln per row
    // ---- at the 9-dp decimal grain, xmin broadcast from a 1-row agg -
    Q("q176_powerlaw_alpha",
      (s, dir) => {
        val d = t(s, dir, "documents").where(col("n_chars") > 0)
        val xmin = d.groupBy("source").agg(min(col("n_chars")).as("xmin"))
        d.join(broadcast(xmin), Seq("source"))
          .where(col("n_chars") > col("xmin"))
          .groupBy("source")
          .agg(count(lit(1)).as("n"), max(col("xmin")).as("xmin"),
            sum(round(log(col("n_chars").cast("double") /
              col("xmin").cast("double")), 9).cast(DecimalType(38, 9)))
              .cast("double").as("lnsum"))
          .where(col("lnsum") > 0)
          .select(col("source"), col("n"), col("xmin"),
            round(lit(1.0) + col("n").cast("double") / col("lnsum"), 6)
              .as("alpha"))
          .orderBy("source")
      },
      Some("""WITH d AS (
             |  SELECT source, n_chars FROM documents WHERE n_chars > 0
             |), xmin AS (
             |  SELECT source, MIN(n_chars) AS xmin FROM d GROUP BY source
             |), agg AS (
             |  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n,
             |    MAX(xmin) AS xmin,
             |    CAST(SUM(CAST(ROUND(ln(CAST(n_chars AS DOUBLE)
             |      / CAST(xmin AS DOUBLE)), 9) AS DECIMAL(38,9))) AS DOUBLE)
             |      AS lnsum
             |  FROM d JOIN xmin USING (source)
             |  WHERE n_chars > xmin
             |  GROUP BY d.source
             |)
             |SELECT source, n, xmin,
             |  ROUND(1.0 + CAST(n AS DOUBLE) / lnsum, 6) AS alpha
             |FROM agg
             |WHERE lnsum > 0
             |ORDER BY source""".stripMargin)),

    // ---- discounted LTV per signup cohort: sum over week offsets of
    // ---- revenue * gamma^offset. Each term is (decimal revenue as
    // ---- double) * power(gamma, offset) rounded to 6 dp then decimal-
    // ---- accumulated; offsets are integers so power() agrees --------
    Q("q177_discounted_ltv",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val uw = ev.select(col("user_id"),
            to_date(date_trunc("week", col("ts"))).as("week")).distinct()
        val cohort = uw.groupBy("user_id").agg(min(col("week")).as("cohort"))
        val weekly = ev.where(col("event_type") === "purchase")
          .select(col("user_id"),
            to_date(date_trunc("week", col("ts"))).as("week"),
            col("value"))
          .join(cohort, Seq("user_id"))
          .groupBy(col("cohort"),
            (datediff(col("week"), col("cohort")) / lit(7)).cast("int")
              .as("offset_w"))
          .agg(sum(round(col("value"), 2).cast(DecimalType(18, 2)))
            .cast("double").as("rev"))
        weekly
          .select(col("cohort"), col("offset_w"),
            round(col("rev") * pow(lit(LtvGamma), col("offset_w")), 6)
              .as("term"))
          .groupBy("cohort")
          .agg(sum(col("term").cast(DecimalType(38, 6))).cast("double")
            .as("ltvraw"))
          .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
            round(col("ltvraw"), 4).as("discounted_ltv"))
          .orderBy("cohort")
      },
      Some(s"""WITH uw AS (
             |  SELECT DISTINCT user_id,
             |    CAST(date_trunc('week', ts) AS DATE) AS week
             |  FROM events
             |), cohort AS (
             |  SELECT user_id, MIN(week) AS cohort FROM uw GROUP BY user_id
             |), weekly AS (
             |  SELECT cohort,
             |    CAST((CAST(date_trunc('week', ts) AS DATE) - cohort) / 7
             |      AS INT) AS offset_w,
             |    CAST(SUM(CAST(ROUND(value, 2) AS DECIMAL(18,2))) AS DOUBLE)
             |      AS rev
             |  FROM events JOIN cohort USING (user_id)
             |  WHERE event_type = 'purchase'
             |  GROUP BY 1, 2
             |)
             |SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
             |  ROUND(CAST(SUM(CAST(ROUND(rev * power($LtvGamma, offset_w), 6)
             |    AS DECIMAL(38,6))) AS DOUBLE), 4) AS discounted_ltv
             |FROM weekly
             |GROUP BY cohort
             |ORDER BY cohort""".stripMargin)),

    // ---- burstiness index (Goh & Barabási 2008): per user over daily
    // ---- event counts, B = (sigma - mu) / (sigma + mu) from INTEGER
    // ---- sufficient statistics (sum, sum of squares) — the only
    // ---- doubles are the final identical chain ----------------------
    Q("q178_burstiness",
      (s, dir) => {
        val daily = t(s, dir, "events")
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("c"))
        val stats = daily.groupBy("user_id").agg(
          count(lit(1)).as("n"), sum(col("c")).as("s"),
          sum(col("c") * col("c")).as("ss"))
        val mu = col("s").cast("double") / col("n").cast("double")
        val variance = col("ss").cast("double") / col("n").cast("double") -
          mu * mu
        val sigma = sqrt(variance)
        stats.where(col("n") >= 5)
          .select(col("user_id"), col("n").as("active_days"),
            round(mu, 6).as("mean_daily"),
            round((sigma - mu) / (sigma + mu), 6).as("burstiness"))
          .orderBy("user_id")
      },
      Some("""WITH daily AS (
             |  SELECT user_id, CAST(ts AS DATE) AS day,
             |    CAST(COUNT(*) AS BIGINT) AS c
             |  FROM events GROUP BY 1, 2
             |), stats AS (
             |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(c) AS BIGINT) AS s,
             |    CAST(SUM(c * c) AS BIGINT) AS ss
             |  FROM daily GROUP BY user_id
             |)
             |SELECT user_id, n AS active_days,
             |  ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_daily,
             |  ROUND((sqrt(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
             |      - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             |        * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
             |    - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             |  / (sqrt(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
             |      - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             |        * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
             |    + CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS burstiness
             |FROM stats
             |WHERE n >= 5
             |ORDER BY user_id""".stripMargin)),

    // ---- Pareto concentration curve (the q153 Gini's pointwise
    // ---- partner): customers ranked by spend descending, cumulative
    // ---- revenue share at each decile boundary — decimal cumsums over
    // ---- the ranked set, 10-row output ------------------------------
    Q("q179_pareto_curve",
      (s, dir) => {
        val spend = t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(sum(col("o_totalprice").cast(DecimalType(12, 2)))
            .cast(DecimalType(18, 2)).as("sp"))
        // customer grain scales with the data — the global row_number
        // + count() windows become ONE Ranks.withPrefixSums pass over
        // the (sp desc, key) total order; the rank weight's group
        // total doubles as the customer census nc. The decile lattice
        // windows below stay: 10 rows is aggregate grain.
        val ranked = graft.operators.Ranks.withPrefixSums(spend,
            Seq.empty, Seq(-col("sp"), col("o_custkey")),
            Seq((lit(1L), "rk", "nc")))
          .withColumn("decile",
            least(floor((col("rk") - 1) * 10 / col("nc")), lit(9L)).cast("int"))
        val byDecile = ranked.groupBy("decile")
          .agg(sum(col("sp")).cast(DecimalType(28, 2)).as("drev"),
            count(lit(1)).as("n_cust"))
        val wCum = Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        byDecile
          .select(col("decile"), col("n_cust"),
            round(sum(col("drev")).over(wCum).cast("double") /
              sum(col("drev")).over(wAll).cast("double"), 6)
              .as("cum_revenue_share"))
          .orderBy("decile")
      },
      Some("""WITH spend AS (
             |  SELECT o_custkey,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
             |      AS sp
             |  FROM orders GROUP BY o_custkey
             |), ranked AS (
             |  SELECT sp,
             |    ROW_NUMBER() OVER (ORDER BY sp DESC, o_custkey) AS rk,
             |    COUNT(*) OVER () AS nc
             |  FROM spend
             |), bydec AS (
             |  SELECT CAST(LEAST(FLOOR((rk - 1) * 10 / nc), 9) AS INT) AS decile,
             |    CAST(SUM(sp) AS DECIMAL(28,2)) AS drev,
             |    CAST(COUNT(*) AS BIGINT) AS n_cust
             |  FROM ranked GROUP BY 1
             |)
             |SELECT decile, n_cust,
             |  ROUND(CAST(SUM(drev) OVER (ORDER BY decile ROWS BETWEEN
             |      UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             |    / CAST(SUM(drev) OVER (ORDER BY decile ROWS BETWEEN
             |      UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS DOUBLE), 6)
             |    AS cum_revenue_share
             |FROM bydec
             |ORDER BY decile""".stripMargin)),

    // ---- Dunning G² keyness (log-likelihood keyword extraction
    // ---- between two sub-corpora): G² = 2 sum O ln(O/E) over the
    // ---- 2x2 term table, lang='en' docs vs the rest; per-term ln at
    // ---- the 9-dp grain, expected counts from integer marginals.
    // ---- One token shuffle + a broadcast totals join -----------------
    Q("q180_keyness",
      (s, dir) => {
        val toks = Tables.loadParallel(s, dir, "documents")
          .select((col("lang") === "en").cast("int").as("side"),
            explode(split(col("text"), " ")).as("term"))
        // r13 (guide §2.4 share one materialization): the totals
        // aggregate AND the G² projection both consume the term-count
        // table, and the two consumers' differing projections defeat
        // ReuseExchange — the before-plan re-ran the full token explode
        // + term shuffle on the broadcast side (plan nodes 10–19 in
        // plans/r13/q180_keyness_before.txt). One lazy localCheckpoint
        // of the vocabulary-grain counts makes the token pass run once;
        // at scale that halves the query's dominant cost (the corpus
        // explode), locally it drops one of the two Generate stages.
        val tc = toks.groupBy("term").agg(
          sum(when(col("side") === 1, 1L).otherwise(0L)).as("a"),
          sum(when(col("side") === 0, 1L).otherwise(0L)).as("b"))
          .localCheckpoint(false)
        val tot = tc.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"))
        val ea = (col("a") + col("b")).cast("double") * col("ta") /
          (col("ta") + col("tb")).cast("double")
        val eb = (col("a") + col("b")).cast("double") * col("tb") /
          (col("ta") + col("tb")).cast("double")
        def term(o: org.apache.spark.sql.Column,
                 e: org.apache.spark.sql.Column) =
          when(o > 0, round(o.cast("double") * log(o.cast("double") / e), 9))
            .otherwise(lit(0.0))
        tc.crossJoin(broadcast(tot))
          .where(col("a") + col("b") >= 20)
          .select(col("term"), col("a"), col("b"),
            round(lit(2.0) * (term(col("a"), ea).cast(DecimalType(38, 9)) +
              term(col("b"), eb).cast(DecimalType(38, 9))).cast("double"), 4)
              .as("g2"))
          .orderBy(desc("g2"), asc("term"))
          .limit(50)
      },
      Some("""WITH toks AS (
             |  SELECT CAST(lang = 'en' AS INT) AS side,
             |    unnest(string_split(text, ' ')) AS term
             |  FROM documents
             |), tc AS (
             |  SELECT term,
             |    CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
             |    CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b
             |  FROM toks GROUP BY term
             |), tot AS (
             |  SELECT CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(b) AS BIGINT) AS tb
             |  FROM tc
             |)
             |SELECT term, a, b,
             |  ROUND(2.0 * CAST(
             |    CAST(CASE WHEN a > 0 THEN ROUND(CAST(a AS DOUBLE)
             |      * ln(CAST(a AS DOUBLE) / (CAST(a + b AS DOUBLE) * ta
             |        / CAST(ta + tb AS DOUBLE))), 9) ELSE 0.0 END
             |      AS DECIMAL(38,9))
             |    + CAST(CASE WHEN b > 0 THEN ROUND(CAST(b AS DOUBLE)
             |      * ln(CAST(b AS DOUBLE) / (CAST(a + b AS DOUBLE) * tb
             |        / CAST(ta + tb AS DOUBLE))), 9) ELSE 0.0 END
             |      AS DECIMAL(38,9)) AS DOUBLE), 4) AS g2
             |FROM tc CROSS JOIN tot
             |WHERE a + b >= 20
             |ORDER BY g2 DESC, term
             |LIMIT 50""".stripMargin)))
}
