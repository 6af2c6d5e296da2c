package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Ninth analytics pack (round 6, session 5): statistical monitoring —
  * Benford first-digit audit, two-sample Kolmogorov-Smirnov, Gini
  * concentration, Markov transition matrix, CUSUM changepoint. These
  * are the distribution-shift / data-forensics gauges a corpus
  * pipeline runs per ingest batch. Determinism: counts integral,
  * money decimal, every double chain the identical expression in both
  * engines, running sums decimal-accumulated before any double cast. */
object Analytics9 {

  val all: Seq[Q] = Seq(

    // ---- Benford first-digit audit (fraud/forgery detection on
    // ---- numeric fields): observed first-digit counts vs n*log10(1 +
    // ---- 1/d); map-side digit extraction, 9-row output. Expected and
    // ---- contribution derive per digit from the INTEGER total -------
    Q("q151_benford_audit",
      (s, dir) => {
        val digits = t(s, dir, "lineitem")
          .where(col("l_extendedprice") > 0)
          .select(substring(floor(col("l_extendedprice")).cast("long")
            .cast("string"), 1, 1).cast("int").as("digit"))
        val n = digits.agg(count(lit(1)).as("n"))
        val e = col("n").cast("double") *
          log10(lit(1.0) + lit(1.0) / col("digit"))
        digits.groupBy("digit").agg(count(lit(1)).as("o"))
          .crossJoin(broadcast(n))
          .select(col("digit"), col("o"),
            round(e, 4).as("expected"),
            round((col("o") - e) * (col("o") - e) / e, 6).as("contrib"))
          .orderBy("digit")
      },
      Some("""WITH digits AS (
             |  SELECT CAST(substr(CAST(CAST(FLOOR(l_extendedprice) AS BIGINT)
             |    AS VARCHAR), 1, 1) AS INT) AS digit
             |  FROM lineitem WHERE l_extendedprice > 0
             |), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM digits)
             |SELECT digit, CAST(COUNT(*) AS BIGINT) AS o,
             |  ROUND(CAST(MAX(n.n) AS DOUBLE) * log10(1.0 + 1.0 / digit), 4)
             |    AS expected,
             |  ROUND((CAST(COUNT(*) AS BIGINT)
             |      - CAST(MAX(n.n) AS DOUBLE) * log10(1.0 + 1.0 / digit))
             |    * (CAST(COUNT(*) AS BIGINT)
             |      - CAST(MAX(n.n) AS DOUBLE) * log10(1.0 + 1.0 / digit))
             |    / (CAST(MAX(n.n) AS DOUBLE) * log10(1.0 + 1.0 / digit)), 6)
             |    AS contrib
             |FROM digits CROSS JOIN n
             |GROUP BY digit
             |ORDER BY digit""".stripMargin)),

    // ---- two-sample Kolmogorov-Smirnov (distribution shift between
    // ---- the F and O order populations): group to distinct values
    // ---- first (one shuffle), then the ECDF gap rides one bounded
    // ---- ordered pass; the scalar D + location is the argmax with an
    // ---- id tie-break. At 100 TB the value-grouping is the scale
    // ---- step — the ordered scan runs on distinct values only -------
    Q("q152_ks_test",
      (s, dir) => {
        val pts = t(s, dir, "orders")
          .where(col("o_orderstatus").isin("F", "O"))
          .groupBy(col("o_totalprice").as("price"))
          .agg(sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("c1"),
            sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("c2"))
        val wCum = Window.orderBy("price")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.orderBy("price")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val d = abs(
          sum(col("c1")).over(wCum).cast("double") /
            sum(col("c1")).over(wAll).cast("double") -
          sum(col("c2")).over(wCum).cast("double") /
            sum(col("c2")).over(wAll).cast("double"))
        pts.select(col("price"), d.as("d"),
            sum(col("c1")).over(wAll).as("n1"),
            sum(col("c2")).over(wAll).as("n2"))
          .orderBy(desc("d"), asc("price")).limit(1)
          .select(round(col("d"), 6).as("d_stat"), col("price").as("at_price"),
            col("n1"), col("n2"))
      },
      Some("""WITH pts AS (
             |  SELECT o_totalprice AS price,
             |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS c1,
             |    CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS c2
             |  FROM orders WHERE o_orderstatus IN ('F', 'O')
             |  GROUP BY o_totalprice
             |), ecdf AS (
             |  SELECT price,
             |    ABS(CAST(SUM(c1) OVER (ORDER BY price ROWS BETWEEN UNBOUNDED
             |        PRECEDING AND CURRENT ROW) AS DOUBLE)
             |      / CAST(SUM(c1) OVER (ORDER BY price ROWS BETWEEN UNBOUNDED
             |        PRECEDING AND UNBOUNDED FOLLOWING) AS DOUBLE)
             |      - CAST(SUM(c2) OVER (ORDER BY price ROWS BETWEEN UNBOUNDED
             |        PRECEDING AND CURRENT ROW) AS DOUBLE)
             |      / CAST(SUM(c2) OVER (ORDER BY price ROWS BETWEEN UNBOUNDED
             |        PRECEDING AND UNBOUNDED FOLLOWING) AS DOUBLE)) AS d,
             |    CAST(SUM(c1) OVER (ORDER BY price ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS n1,
             |    CAST(SUM(c2) OVER (ORDER BY price ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS n2
             |  FROM pts
             |)
             |SELECT ROUND(d, 6) AS d_stat, price AS at_price, n1, n2
             |FROM ecdf
             |QUALIFY ROW_NUMBER() OVER (ORDER BY d DESC, price) = 1""".stripMargin)),

    // ---- Gini concentration of customer spend within each nation
    // ---- (corpus analog: source-domain concentration before mixing):
    // ---- G = sum((2i - n - 1) x_(i)) / (n sum x). Spend and the
    // ---- weighted numerator accumulate as DECIMAL (exact, order-
    // ---- free); the rank window runs per nation on its own keys -----
    Q("q153_gini_concentration",
      (s, dir) => {
        val spend = t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(sum(col("o_totalprice").cast(DecimalType(12, 2)))
            .cast(DecimalType(18, 2)).as("sp"))
        val c = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"))
        // 25 nations over customer grain: partitionBy(nation) is
        // single-task in all but name (each task sorts ~n/25 rows at
        // 100 TB). One Ranks.withPrefixSums pass (grp = nation) gives
        // the within-nation rank i and group size nn distributively.
        val ranked = graft.operators.Ranks.withPrefixSums(
            spend.join(broadcast(c), spend("o_custkey") === c("c_custkey")),
            Seq(col("c_nationkey")), Seq(col("sp"), col("o_custkey")),
            Seq((lit(1L), "i", "nn")))
          .withColumn("wt",
            // DECIMAL(10,0) holds |2i - n - 1| for any group the rank
            // window itself could survive (the q153-fix width rule:
            // size the decimal so overflow is impossible, not merely
            // unlikely — a silent null here would corrupt the sum)
            (lit(2) * col("i") - col("nn") - 1).cast(DecimalType(10, 0)))
        ranked.groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_cust"),
            sum(col("wt") * col("sp")).as("num"),
            sum(col("sp")).as("den"))
          .select(col("c_nationkey"), col("n_cust"),
            round(col("num").cast("double") /
              (col("n_cust").cast("double") * col("den").cast("double")), 6)
              .as("gini"))
          .orderBy("c_nationkey")
      },
      Some("""WITH spend AS (
             |  SELECT o_custkey,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
             |      AS sp
             |  FROM orders GROUP BY o_custkey
             |), ranked AS (
             |  SELECT c_nationkey, sp,
             |    ROW_NUMBER() OVER (PARTITION BY c_nationkey
             |      ORDER BY sp, o_custkey) AS i,
             |    COUNT(*) OVER (PARTITION BY c_nationkey) AS n
             |  FROM spend JOIN customer ON o_custkey = c_custkey
             |)
             |SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust,
             |  ROUND(CAST(SUM(CAST(2 * i - n - 1 AS DECIMAL(10,0)) * sp) AS DOUBLE)
             |    / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(sp) AS DOUBLE)), 6)
             |    AS gini
             |FROM ranked
             |GROUP BY c_nationkey
             |ORDER BY c_nationkey""".stripMargin)),

    // ---- first-order Markov transition matrix over per-user event
    // ---- sequences (behavioral model / session simulator input):
    // ---- lead() inside the (user, time) sort gives the bigram stream
    // ---- map-side after one shuffle; probabilities normalize against
    // ---- broadcast row totals -----------------------------------------
    Q("q154_markov_transitions",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val pairs = t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type").as("from_type"))
          .withColumn("to_type", lead(col("from_type"), 1).over(w))
          .where(col("to_type").isNotNull)
          .groupBy("from_type", "to_type").agg(count(lit(1)).as("c"))
        val totals = pairs.groupBy("from_type").agg(sum(col("c")).as("tot"))
        pairs.join(broadcast(totals), Seq("from_type"))
          .select(col("from_type"), col("to_type"), col("c"),
            round(col("c").cast("double") / col("tot").cast("double"), 6)
              .as("prob"))
          .orderBy("from_type", "to_type")
      },
      Some("""WITH seq AS (
             |  SELECT event_type AS from_type,
             |    LEAD(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS to_type
             |  FROM events
             |), pairs AS (
             |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM seq WHERE to_type IS NOT NULL
             |  GROUP BY from_type, to_type
             |), totals AS (
             |  SELECT from_type, CAST(SUM(c) AS BIGINT) AS tot
             |  FROM pairs GROUP BY from_type
             |)
             |SELECT from_type, to_type, c,
             |  ROUND(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS prob
             |FROM pairs JOIN totals USING (from_type)
             |ORDER BY from_type, to_type""".stripMargin)),

    // ---- CUSUM changepoint scan over the monthly revenue series:
    // ---- cusum_t = runsum_t - t*mean, with the running sum DECIMAL
    // ---- (exact) and only the final subtraction in doubles — so the
    // ---- peak flag is engine-portable. The ordered pass runs on the
    // ---- bounded month grid, not raw rows ---------------------------
    Q("q155_cusum_changepoint",
      (s, dir) => {
        val monthly = monthlyRevenue(t(s, dir, "orders"), byStatus = false)
        val wCum = Window.orderBy("mon")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.orderBy("mon")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val mean = sum(col("rev")).over(wAll).cast("double") /
          count(lit(1)).over(wAll).cast("double")
        val cusum = sum(col("rev")).over(wCum).cast("double") -
          row_number().over(Window.orderBy("mon")).cast("double") * mean
        val flagged = monthly.select(col("mon"), col("rev"), cusum.as("cusum"))
          .withColumn("is_cp",
            (abs(col("cusum")) === max(abs(col("cusum"))).over(
              Window.rowsBetween(Window.unboundedPreceding,
                Window.unboundedFollowing))).cast("int"))
        flagged.select(date_format(col("mon"), "yyyy-MM").as("mon"),
            col("rev").cast("double").as("rev"),
            round(col("cusum"), 4).as("cusum"), col("is_cp"))
          .orderBy("mon")
      },
      Some("""WITH monthly AS (
             |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
             |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
             |  FROM orders GROUP BY 1
             |), c AS (
             |  SELECT mon, rev,
             |    CAST(SUM(rev) OVER (ORDER BY mon ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND CURRENT ROW) AS DOUBLE)
             |    - CAST(ROW_NUMBER() OVER (ORDER BY mon) AS DOUBLE)
             |      * (CAST(SUM(rev) OVER (ORDER BY mon ROWS BETWEEN UNBOUNDED
             |          PRECEDING AND UNBOUNDED FOLLOWING) AS DOUBLE)
             |        / CAST(COUNT(*) OVER (ORDER BY mon ROWS BETWEEN UNBOUNDED
             |          PRECEDING AND UNBOUNDED FOLLOWING) AS DOUBLE)) AS cusum
             |  FROM monthly
             |)
             |SELECT strftime(mon, '%Y-%m') AS mon, CAST(rev AS DOUBLE) AS rev,
             |  ROUND(cusum, 4) AS cusum,
             |  CAST(ABS(cusum) = MAX(ABS(cusum)) OVER () AS INT) AS is_cp
             |FROM c
             |ORDER BY mon""".stripMargin)))
}
