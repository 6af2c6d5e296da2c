package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Twenty-second analytics pack (round 6, session 6): join-key skew
  * diagnostics (the report that decides when `SkewJoin.saltedJoin` /
  * AQE skew handling is needed) and a seasonal-residual anomaly
  * detector composing the q159 seasonal-index and q143 robust-scaling
  * disciplines into a flag per month. */
object Analytics22 {

  /** Per-key-distribution skew report for one keyed relation: the
    * numbers that predict shuffle-partition blowup at 100 TB (top-1
    * key share, max/median ratio). One groupBy per relation, then a
    * single-row aggregate over the bounded per-key count table. */
  private def skewReport(df: DataFrame, rel: String, key: String): DataFrame = {
    val counts = df.groupBy(col(key).as("k")).agg(count(lit(1)).as("c"))
    counts.agg(
        sum(col("c")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        max(col("c")).as("max_per_key"),
        expr("percentile(c, 0.5)").as("p50"),
        expr("percentile(c, 0.99)").as("p99"))
      .select(lit(rel).as("relation"), lit(key).as("key"),
        col("n_rows"), col("n_keys"), col("max_per_key"),
        round(col("max_per_key").cast("double") /
          col("n_rows").cast("double"), 6).as("top1_share"),
        round(col("p50"), 4).as("p50_per_key"),
        round(col("p99"), 4).as("p99_per_key"),
        round(col("max_per_key").cast("double") / col("p50"), 4)
          .as("skew_ratio"))
  }

  /** SQL mirror of [[skewReport]]. */
  private def skewReportSql(rel: String, key: String): String =
    s"""SELECT '$rel' AS relation, '$key' AS key,
       |  CAST(SUM(c) AS BIGINT) AS n_rows,
       |  CAST(COUNT(*) AS BIGINT) AS n_keys,
       |  CAST(MAX(c) AS BIGINT) AS max_per_key,
       |  ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
       |    AS top1_share,
       |  ROUND(quantile_cont(c, 0.5), 4) AS p50_per_key,
       |  ROUND(quantile_cont(c, 0.99), 4) AS p99_per_key,
       |  ROUND(CAST(MAX(c) AS DOUBLE) / quantile_cont(c, 0.5), 4)
       |    AS skew_ratio
       |FROM (SELECT $key AS k, CAST(COUNT(*) AS BIGINT) AS c
       |      FROM $rel GROUP BY 1)""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- join-key skew report across the relations that shuffle in
    // ---- the star joins (the observability input to salting / AQE
    // ---- skew decisions): per key, row and key counts, the top-1 key's
    // ---- share, and the max/median per-key ratio --------------------
    Q("q211_key_skew_report",
      (s, dir) =>
        skewReport(t(s, dir, "lineitem"), "lineitem", "l_orderkey")
          .unionByName(skewReport(t(s, dir, "orders"), "orders", "o_custkey"))
          .unionByName(skewReport(t(s, dir, "events"), "events", "user_id"))
          .orderBy("relation"),
      Some(Seq(
        skewReportSql("lineitem", "l_orderkey"),
        skewReportSql("orders", "o_custkey"),
        skewReportSql("events", "user_id"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY relation"))),

    // ---- seasonal-residual anomaly months: divide each month's
    // ---- revenue by its month-of-year seasonal index (q159 shape),
    // ---- then flag |robust z| > 2.5 over the adjusted series (q143's
    // ---- median/MAD scaling, medians as explicit two-middle averages
    // ---- — never engine quantile interpolation). Everything reduces
    // ---- over the bounded month grid --------------------------------
    Q("q212_seasonal_anomaly",
      (s, dir) => {
        // month lattice (orders span 1995-2001 → ≤ 84 rows); bounded
        // checkpoint: the agg runs once, not once per downstream branch
        // (mu/muM/adj/med/mad all re-read), and the window sorts below
        // are certified lattice-grain, not data-grain
        val monthly = graft.operators.Lattice.checkpointBounded(
          // loadParallel: the month partial aggregate otherwise runs
          // inside the single-task row-group scan (guide §2.5)
          Tables.loadParallel(s, dir, "orders")
            .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("mon"),
              month(col("o_orderdate")).as("moy"))
            .agg(sum(dec("o_totalprice")).cast("double").as("rev")),
          1000, "q212 yyyy-MM month grid")
        def meanOf(df: DataFrame, keys: Seq[String]): DataFrame = {
          val g = if (keys.isEmpty) df.groupBy() else df.groupBy(keys.head, keys.tail: _*)
          g.agg((sum(col("rev").cast(DecimalType(28, 2))).cast("double") /
            count(lit(1)).cast("double")).as(if (keys.isEmpty) "mu" else "mu_m"))
        }
        val mu = meanOf(monthly, Nil)
        val muM = meanOf(monthly, Seq("moy"))
        val adj = monthly.join(broadcast(muM), Seq("moy"))
          .crossJoin(broadcast(mu))
          .select(col("mon"), col("rev"),
            (col("rev") / (col("mu_m") / col("mu"))).as("adj"))
        val wOrd = Window.orderBy(col("adj"), col("mon"))
        val wAll = Window.partitionBy()
        val ranked = adj.select(col("mon"), col("rev"), col("adj"),
          row_number().over(wOrd).as("rn"),
          count(lit(1)).over(wAll).as("nm"))
        val med = ranked
          .where(col("rn") === floor((col("nm") + 1) / 2) ||
            col("rn") === floor(col("nm") / 2) + 1)
          .agg(avg(col("adj")).as("med"))
        val devs = adj.crossJoin(broadcast(med))
          .select(col("mon"), col("rev"), col("adj"), col("med"),
            abs(col("adj") - col("med")).as("dev"))
        val wDev = Window.orderBy(col("dev"), col("mon"))
        val mad = devs.select(col("dev"),
            row_number().over(wDev).as("rn"),
            count(lit(1)).over(wAll).as("nm"))
          .where(col("rn") === floor((col("nm") + 1) / 2) ||
            col("rn") === floor(col("nm") / 2) + 1)
          .agg(avg(col("dev")).as("mad"))
        val z = lit(0.6745) * (col("adj") - col("med")) / col("mad")
        devs.crossJoin(broadcast(mad))
          .select(col("mon"), round(col("rev"), 2).as("rev"),
            round(col("adj"), 4).as("adj"),
            when(col("mad") > 0.0, round(z, 4)).as("z"),
            (col("mad") > 0.0 && abs(z) > 2.5).as("is_anomaly"))
          .orderBy("mon")
      },
      Some("""WITH monthly AS (
             |  SELECT strftime(o_orderdate, '%Y-%m') AS mon,
             |    CAST(EXTRACT(month FROM o_orderdate) AS INT) AS moy,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS rev
             |  FROM orders GROUP BY 1, 2
             |), mu AS (
             |  SELECT CAST(SUM(CAST(rev AS DECIMAL(28,2))) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE) AS mu FROM monthly
             |), mum AS (
             |  SELECT moy, CAST(SUM(CAST(rev AS DECIMAL(28,2))) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE) AS mu_m FROM monthly GROUP BY moy
             |), adj AS (
             |  SELECT mon, rev, rev / (mu_m / mu) AS adj
             |  FROM monthly JOIN mum USING (moy) CROSS JOIN mu
             |), ranked AS (
             |  SELECT mon, adj,
             |    ROW_NUMBER() OVER (ORDER BY adj, mon) AS rn,
             |    COUNT(*) OVER () AS nm
             |  FROM adj
             |), med AS (
             |  SELECT AVG(adj) AS med FROM ranked
             |  WHERE rn = (nm + 1) // 2 OR rn = nm // 2 + 1
             |), devs AS (
             |  SELECT mon, rev, adj, med, ABS(adj - med) AS dev
             |  FROM adj CROSS JOIN med
             |), dranked AS (
             |  SELECT dev, ROW_NUMBER() OVER (ORDER BY dev, mon) AS rn,
             |    COUNT(*) OVER () AS nm
             |  FROM devs
             |), mad AS (
             |  SELECT AVG(dev) AS mad FROM dranked
             |  WHERE rn = (nm + 1) // 2 OR rn = nm // 2 + 1
             |)
             |SELECT mon, ROUND(rev, 2) AS rev, ROUND(adj, 4) AS adj,
             |  CASE WHEN mad > 0.0
             |    THEN ROUND(0.6745 * (adj - med) / mad, 4) END AS z,
             |  (mad > 0.0 AND ABS(0.6745 * (adj - med) / mad) > 2.5)
             |    AS is_anomaly
             |FROM devs CROSS JOIN mad
             |ORDER BY mon""".stripMargin))
  )
}
