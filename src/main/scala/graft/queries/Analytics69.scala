package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Sixty-ninth analytics pack (round 6, session 9): shrinkage and
  * empirical Bayes — the James-Stein estimator over segment means,
  * beta-binomial method-of-moments shrinkage of per-customer urgent
  * rates, a Stein-paradox holdout validation (md5 split: shrunken
  * beats raw in held-out MSE), the leaderboard rank movement that
  * shrinkage induces, and the Bühlmann credibility factor.
  *
  * Exactness discipline: all counts/cents exact; every mean,
  * variance piece and shrink factor is computed from exact integer
  * sums with round-9 gridded per-group terms before cross-group
  * sums; md5 splits are engine-identical. */
object Analytics69 {

  /** Per-customer (n orders, x urgent) counts. */
  private def urgentCounts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_custkey").as("ck"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1L)
          .otherwise(0L)).as("x"))

  private val UrgentSql =
    """uc AS (
      |  SELECT o_custkey AS ck, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1
      |      ELSE 0 END) AS BIGINT) AS x
      |  FROM orders GROUP BY 1
      |)""".stripMargin

  /** Beta MoM (alpha, beta) from the per-customer rate moments. */
  private val BetaMomSql =
    """mom AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS nc,
      |    CAST(SUM(CAST(ROUND(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 9)
      |      AS DECIMAL(38, 9))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(ROUND((CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
      |      * (CAST(x AS DOUBLE) / CAST(n AS DOUBLE)), 9)
      |      AS DECIMAL(38, 9))) AS DOUBLE) AS s2
      |  FROM uc
      |), ab AS (
      |  SELECT nc,
      |    (s1 / nc) * ((s1 / nc) * (1.0 - s1 / nc)
      |      / (s2 / nc - (s1 / nc) * (s1 / nc)) - 1.0) AS alpha,
      |    (1.0 - s1 / nc) * ((s1 / nc) * (1.0 - s1 / nc)
      |      / (s2 / nc - (s1 / nc) * (s1 / nc)) - 1.0) AS beta
      |  FROM mom
      |)""".stripMargin

  private def betaMom(uc: DataFrame): DataFrame = {
    val mom = uc.agg(count(lit(1)).as("nc"),
      sum(round(col("x").cast("double") / col("n").cast("double"), 9)
        .cast(DecimalType(38, 9))).cast("double").as("s1"),
      sum(round((col("x").cast("double") / col("n").cast("double"))
        * (col("x").cast("double") / col("n").cast("double")), 9)
        .cast(DecimalType(38, 9))).cast("double").as("s2"))
    mom.select(col("nc"),
      ((col("s1") / col("nc")) * ((col("s1") / col("nc"))
        * (lit(1.0) - col("s1") / col("nc"))
        / (col("s2") / col("nc")
          - (col("s1") / col("nc")) * (col("s1") / col("nc")))
        - lit(1.0))).as("alpha"),
      ((lit(1.0) - col("s1") / col("nc")) * ((col("s1") / col("nc"))
        * (lit(1.0) - col("s1") / col("nc"))
        / (col("s2") / col("nc")
          - (col("s1") / col("nc")) * (col("s1") / col("nc")))
        - lit(1.0))).as("beta"))
  }

  val all: Seq[Q] = Seq(

    // ---- James-Stein shrinkage of the five segment mean order
    // ---- values toward the grand mean: c = max(0, 1 − (k−3)·v̄/S)
    // ---- with v̄ the average sampling variance of the group means
    // ---- and S the spread of means — the positive-part JS panel. ---
    Q("q451_james_stein",
      (s, dir) => {
        val per = t(s, dir, "orders")
          .join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment").as("seg"))),
            col("o_custkey") === col("c_custkey"))
          .groupBy("seg")
          .agg(count(lit(1)).as("nj"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("sj"),
            sum(col("o_totalprice").cast(DecimalType(38, 6))
              * col("o_totalprice")).cast("double").as("ssj_d"))
        val withm = per
          .select(col("seg"), col("nj"), col("sj"),
            (col("sj").cast("double") / col("nj").cast("double"))
              .as("mj"),
            round((col("ssj_d") * 1e4
              - (col("sj").cast("double") * col("sj").cast("double"))
                / col("nj").cast("double"))
              / (col("nj") - 1L).cast("double")
              / col("nj").cast("double"), 6)
              .cast(DecimalType(38, 6)).as("vj"))
        val g = withm.agg(count(lit(1)).as("k"),
          sum(round(col("mj"), 6).cast(DecimalType(38, 6)))
            .cast("double").as("sm"),
          sum(round(col("mj") * col("mj"), 6).cast(DecimalType(38, 6)))
            .cast("double").as("smm"),
          sum(col("vj")).cast("double").as("sv"))
          .select(col("k"), (col("sm") / col("k")).as("gm"),
            (col("sv") / col("k")).as("vbar"),
            (col("smm") - col("sm") * col("sm") / col("k")).as("spread"))
        withm.crossJoin(broadcast(g))
          .select(col("seg"),
            round(col("mj") / 100.0, 2).as("raw_mean_dollars"),
            round(greatest(lit(0.0), lit(1.0)
              - (col("k") - 3L).cast("double") * col("vbar")
                / col("spread")), 6).as("shrink_c"),
            round((col("gm") + greatest(lit(0.0), lit(1.0)
              - (col("k") - 3L).cast("double") * col("vbar")
                / col("spread")) * (col("mj") - col("gm"))) / 100.0, 2)
              .as("js_mean_dollars"))
      },
      Some("""WITH per AS (
             |  SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT)
             |      AS nj,
             |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
             |      AS BIGINT) AS sj,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(38, 6))
             |      * o_totalprice) AS DOUBLE) AS ssj_d
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  GROUP BY 1
             |), withm AS (
             |  SELECT seg, nj, sj,
             |    CAST(sj AS DOUBLE) / CAST(nj AS DOUBLE) AS mj,
             |    CAST(ROUND((ssj_d * 1e4
             |      - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE)
             |        / CAST(nj AS DOUBLE))
             |      / CAST(nj - 1 AS DOUBLE) / CAST(nj AS DOUBLE), 6)
             |      AS DECIMAL(38, 6)) AS vj
             |  FROM per
             |), g AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
             |    CAST(SUM(CAST(ROUND(mj, 6) AS DECIMAL(38, 6)))
             |      AS DOUBLE) / COUNT(*) AS gm,
             |    CAST(SUM(vj) AS DOUBLE) / COUNT(*) AS vbar,
             |    CAST(SUM(CAST(ROUND(mj * mj, 6) AS DECIMAL(38, 6)))
             |      AS DOUBLE)
             |    - CAST(SUM(CAST(ROUND(mj, 6) AS DECIMAL(38, 6)))
             |      AS DOUBLE)
             |      * CAST(SUM(CAST(ROUND(mj, 6) AS DECIMAL(38, 6)))
             |        AS DOUBLE) / COUNT(*) AS spread
             |  FROM withm
             |)
             |SELECT seg,
             |  ROUND(mj / 100.0, 2) AS raw_mean_dollars,
             |  ROUND(GREATEST(0.0, 1.0 - CAST(k - 3 AS DOUBLE) * vbar
             |    / spread), 6) AS shrink_c,
             |  ROUND((gm + GREATEST(0.0, 1.0 - CAST(k - 3 AS DOUBLE)
             |    * vbar / spread) * (mj - gm)) / 100.0, 2)
             |    AS js_mean_dollars
             |FROM withm CROSS JOIN g""".stripMargin)),

    // ---- beta-binomial empirical Bayes for per-customer urgent
    // ---- rates: MoM (α, β) from the gridded rate moments, and the
    // ---- spread compression raw → shrunken. ------------------------
    Q("q452_eb_beta_binomial",
      (s, dir) => {
        val uc = urgentCounts(s, dir).localCheckpoint(true)
        val ab = betaMom(uc)
        val shr = uc.crossJoin(broadcast(ab))
          .select(
            round(col("x").cast("double") / col("n").cast("double"), 9)
              .as("raw"),
            round((col("x").cast("double") + col("alpha"))
              / (col("n").cast("double") + col("alpha") + col("beta")),
              9).as("shrunk"))
        shr.agg(count(lit(1)).as("n_customers"),
          sum(col("raw").cast(DecimalType(38, 9))).cast("double")
            .as("sr"),
          sum(round(col("raw") * col("raw"), 9)
            .cast(DecimalType(38, 9))).cast("double").as("srr"),
          sum(col("shrunk").cast(DecimalType(38, 9))).cast("double")
            .as("ss"),
          sum(round(col("shrunk") * col("shrunk"), 9)
            .cast(DecimalType(38, 9))).cast("double").as("sss"))
          .crossJoin(broadcast(ab))
          .select(col("n_customers"),
            round(col("alpha"), 6).as("alpha"),
            round(col("beta"), 6).as("beta"),
            round(sqrt(col("srr") / col("n_customers")
              - (col("sr") / col("n_customers"))
                * (col("sr") / col("n_customers"))), 6).as("sd_raw"),
            round(sqrt(col("sss") / col("n_customers")
              - (col("ss") / col("n_customers"))
                * (col("ss") / col("n_customers"))), 6).as("sd_shrunk"))
      },
      Some(s"""WITH $UrgentSql, $BetaMomSql, shr AS (
             |  SELECT
             |    ROUND(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 9) AS raw,
             |    ROUND((CAST(x AS DOUBLE) + alpha)
             |      / (CAST(n AS DOUBLE) + alpha + beta), 9) AS shrunk
             |  FROM uc CROSS JOIN ab
             |), agg AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
             |    CAST(SUM(CAST(raw AS DECIMAL(38, 9))) AS DOUBLE) AS sr,
             |    CAST(SUM(CAST(ROUND(raw * raw, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS srr,
             |    CAST(SUM(CAST(shrunk AS DECIMAL(38, 9))) AS DOUBLE)
             |      AS ss,
             |    CAST(SUM(CAST(ROUND(shrunk * shrunk, 9)
             |      AS DECIMAL(38, 9))) AS DOUBLE) AS sss
             |  FROM shr
             |)
             |SELECT n_customers,
             |  ROUND(alpha, 6) AS alpha,
             |  ROUND(beta, 6) AS beta,
             |  ROUND(sqrt(srr / n_customers
             |    - (sr / n_customers) * (sr / n_customers)), 6)
             |    AS sd_raw,
             |  ROUND(sqrt(sss / n_customers
             |    - (ss / n_customers) * (ss / n_customers)), 6)
             |    AS sd_shrunk
             |FROM agg CROSS JOIN ab""".stripMargin)),

    // ---- Stein-paradox holdout validation: md5-even orders estimate
    // ---- per-segment means (raw and JS-shrunken), md5-odd orders are
    // ---- the held-out truth; shrinkage must not lose in total
    // ---- squared error. --------------------------------------------
    Q("q453_stein_holdout",
      (s, dir) => {
        val tagged = t(s, dir, "orders")
          .join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment").as("seg"))),
            col("o_custkey") === col("c_custkey"))
          .select(col("seg"),
            round(col("o_totalprice") * 100).cast("long").as("cents"),
            (conv(substring(md5(col("o_orderkey").cast("string")), 1, 6),
              16, 10).cast("long") % 2L).as("half"))
        val a = tagged.where(col("half") === 0L).groupBy("seg")
          .agg(count(lit(1)).as("nj"), sum(col("cents")).as("sj"),
            sum(col("cents").cast(DecimalType(38, 0)) * col("cents"))
              .cast("double").as("ssj"))
          .select(col("seg"), col("nj"),
            (col("sj").cast("double") / col("nj").cast("double"))
              .as("mj"),
            round((col("ssj")
              - col("sj").cast("double") * col("sj").cast("double")
                / col("nj").cast("double"))
              / (col("nj") - 1L).cast("double")
              / col("nj").cast("double"), 6)
              .cast(DecimalType(38, 6)).as("vj"))
        val g = a.agg(count(lit(1)).as("k"),
          sum(round(col("mj"), 6).cast(DecimalType(38, 6)))
            .cast("double").as("sm"),
          sum(round(col("mj") * col("mj"), 6).cast(DecimalType(38, 6)))
            .cast("double").as("smm"),
          sum(col("vj")).cast("double").as("sv"))
          .select(col("k"), (col("sm") / col("k")).as("gm"),
            (col("sv") / col("k")).as("vbar"),
            (col("smm") - col("sm") * col("sm") / col("k")).as("spread"))
        val b = tagged.where(col("half") === 1L).groupBy("seg")
          .agg((sum(col("cents")).cast("double")
            / count(lit(1)).cast("double")).as("truth"))
        a.crossJoin(broadcast(g)).join(b, Seq("seg"))
          .select(
            round((col("mj") - col("truth")) * (col("mj") - col("truth"))
              / 1e4, 6).cast(DecimalType(38, 6)).as("se_raw"),
            round(((col("gm") + greatest(lit(0.0), lit(1.0)
              - (col("k") - 3L).cast("double") * col("vbar")
                / col("spread")) * (col("mj") - col("gm")))
              - col("truth"))
              * ((col("gm") + greatest(lit(0.0), lit(1.0)
                - (col("k") - 3L).cast("double") * col("vbar")
                  / col("spread")) * (col("mj") - col("gm")))
                - col("truth")) / 1e4, 6).cast(DecimalType(38, 6))
              .as("se_js"))
          .agg(count(lit(1)).as("k_segments"),
            round(sum(col("se_raw")).cast("double"), 2)
              .as("sse_raw_dollars2"),
            round(sum(col("se_js")).cast("double"), 2)
              .as("sse_js_dollars2"))
      },
      Some("""WITH tagged AS (
             |  SELECT c_mktsegment AS seg,
             |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             |    ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 6))
             |      ::BIGINT % 2 AS half
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |), a AS (
             |  SELECT seg, CAST(COUNT(*) AS BIGINT) AS nj,
             |    CAST(SUM(cents) AS DOUBLE) / COUNT(*) AS mj,
             |    CAST(ROUND((CAST(SUM(CAST(cents AS DECIMAL(38, 0))
             |        * cents) AS DOUBLE)
             |      - CAST(SUM(cents) AS DOUBLE) * CAST(SUM(cents)
             |        AS DOUBLE) / COUNT(*))
             |      / CAST(COUNT(*) - 1 AS DOUBLE)
             |      / CAST(COUNT(*) AS DOUBLE), 6) AS DECIMAL(38, 6))
             |      AS vj
             |  FROM tagged WHERE half = 0 GROUP BY 1
             |), g AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
             |    CAST(SUM(CAST(ROUND(mj, 6) AS DECIMAL(38, 6)))
             |      AS DOUBLE) / COUNT(*) AS gm,
             |    CAST(SUM(vj) AS DOUBLE) / COUNT(*) AS vbar,
             |    CAST(SUM(CAST(ROUND(mj * mj, 6) AS DECIMAL(38, 6)))
             |      AS DOUBLE)
             |    - CAST(SUM(CAST(ROUND(mj, 6) AS DECIMAL(38, 6)))
             |      AS DOUBLE)
             |      * CAST(SUM(CAST(ROUND(mj, 6) AS DECIMAL(38, 6)))
             |        AS DOUBLE) / COUNT(*) AS spread
             |  FROM a
             |), b AS (
             |  SELECT seg, CAST(SUM(cents) AS DOUBLE) / COUNT(*)
             |    AS truth
             |  FROM tagged WHERE half = 1 GROUP BY 1
             |), ses AS (
             |  SELECT
             |    CAST(ROUND((mj - truth) * (mj - truth) / 1e4, 6)
             |      AS DECIMAL(38, 6)) AS se_raw,
             |    CAST(ROUND(((gm + GREATEST(0.0, 1.0
             |      - CAST(k - 3 AS DOUBLE) * vbar / spread)
             |      * (mj - gm)) - truth)
             |      * ((gm + GREATEST(0.0, 1.0
             |        - CAST(k - 3 AS DOUBLE) * vbar / spread)
             |        * (mj - gm)) - truth) / 1e4, 6)
             |      AS DECIMAL(38, 6)) AS se_js
             |  FROM a CROSS JOIN g JOIN b USING (seg)
             |)
             |SELECT CAST(COUNT(*) AS BIGINT) AS k_segments,
             |  ROUND(CAST(SUM(se_raw) AS DOUBLE), 2)
             |    AS sse_raw_dollars2,
             |  ROUND(CAST(SUM(se_js) AS DOUBLE), 2)
             |    AS sse_js_dollars2
             |FROM ses""".stripMargin)),

    // ---- shrinkage rank movement: the 10 customers whose urgent-rate
    // ---- leaderboard position moves most between raw and EB-shrunken
    // ---- ranking (small-sample extremes deflate). ------------------
    Q("q454_shrinkage_rank_moves",
      (s, dir) => {
        val uc = urgentCounts(s, dir).localCheckpoint(true)
        val ab = betaMom(uc)
        val scored = uc.crossJoin(broadcast(ab))
          .select(col("ck"), col("n"), col("x"),
            round(col("x").cast("double") / col("n").cast("double"), 9)
              .as("raw"),
            round((col("x").cast("double") + col("alpha"))
              / (col("n").cast("double") + col("alpha") + col("beta")),
              9).as("shrunk"))
        // both leaderboards via distributed rank (customer grain)
        import graft.operators.Ranks
        val ranked = Ranks.withGlobalRank(
            Ranks.withGlobalRank(scored,
              Seq(col("raw").desc, col("ck")), "r_raw"),
            Seq(col("shrunk").desc, col("ck")), "r_shr")
          .select(col("ck"), col("n"), col("x"), col("r_raw"),
            col("r_shr"),
            abs(col("r_raw") - col("r_shr")).as("move"))
        ranked.orderBy(col("move").desc, col("ck")).limit(10)
      },
      Some(s"""WITH $UrgentSql, $BetaMomSql, scored AS (
             |  SELECT ck, n, x,
             |    ROUND(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 9) AS raw,
             |    ROUND((CAST(x AS DOUBLE) + alpha)
             |      / (CAST(n AS DOUBLE) + alpha + beta), 9) AS shrunk
             |  FROM uc CROSS JOIN ab
             |), ranked AS (
             |  SELECT ck, n, x,
             |    CAST(ROW_NUMBER() OVER (ORDER BY raw DESC, ck)
             |      AS BIGINT) AS r_raw,
             |    CAST(ROW_NUMBER() OVER (ORDER BY shrunk DESC, ck)
             |      AS BIGINT) AS r_shr
             |  FROM scored
             |)
             |SELECT ck, n, x, r_raw, r_shr,
             |  ABS(r_raw - r_shr) AS move
             |FROM ranked
             |ORDER BY move DESC, ck LIMIT 10""".stripMargin)),

    // ---- Bühlmann credibility: EPV from within-customer variance,
    // ---- VHM from the between-means spread with the EPV correction,
    // ---- K = EPV/VHM and the credibility profile Z(n). -------------
    Q("q455_buhlmann_credibility",
      (s, dir) => {
        val per = t(s, dir, "orders")
          .groupBy(col("o_custkey").as("ck"))
          .agg(count(lit(1)).as("ni"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("si"),
            sum(col("o_totalprice").cast(DecimalType(38, 6))
              * col("o_totalprice")).cast("double").as("ssd"))
          .where(col("ni") > 1L)
        val pieces = per.select(col("ni"), col("si"),
          round(col("ssd") * 1e4
            - col("si").cast("double") * col("si").cast("double")
              / col("ni").cast("double"), 6).cast(DecimalType(38, 6))
            .as("wss"),
          (col("si").cast("double") / col("ni").cast("double"))
            .as("mi"))
        val agg = pieces.agg(count(lit(1)).as("ii"),
          sum(col("ni")).as("nn"),
          sum(col("ni") * col("ni")).as("nn2"),
          sum(col("wss")).cast("double").as("sw"),
          sum(col("si")).as("stot"),
          sum(round(col("ni").cast("double") * col("mi") * col("mi"), 6)
            .cast(DecimalType(38, 6))).cast("double").as("snm2"))
        agg.select(col("ii").as("n_customers"),
          ((col("sw"))
            / (col("nn") - col("ii")).cast("double")).as("epv"),
          ((col("snm2") - col("stot").cast("double")
            * col("stot").cast("double") / col("nn").cast("double")
            - (col("ii") - 1L).cast("double")
              * (col("sw") / (col("nn") - col("ii")).cast("double")))
            / (col("nn").cast("double")
              - col("nn2").cast("double") / col("nn").cast("double")))
            .as("vhm"))
          .select(col("n_customers"),
            round(col("epv") / col("vhm"), 3).as("k_credibility"),
            round(lit(1.0) / (lit(1.0) + col("epv") / col("vhm")), 6)
              .as("z_at_1"),
            round(lit(10.0) / (lit(10.0) + col("epv") / col("vhm")), 6)
              .as("z_at_10"))
      },
      Some("""WITH per AS (
             |  SELECT o_custkey AS ck, CAST(COUNT(*) AS BIGINT) AS ni,
             |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
             |      AS BIGINT) AS si,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(38, 6))
             |      * o_totalprice) AS DOUBLE) AS ssd
             |  FROM orders GROUP BY 1
             |  HAVING COUNT(*) > 1
             |), pieces AS (
             |  SELECT ni, si,
             |    CAST(ROUND(ssd * 1e4
             |      - CAST(si AS DOUBLE) * CAST(si AS DOUBLE)
             |        / CAST(ni AS DOUBLE), 6) AS DECIMAL(38, 6)) AS wss,
             |    CAST(si AS DOUBLE) / CAST(ni AS DOUBLE) AS mi
             |  FROM per
             |), agg AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS ii,
             |    CAST(SUM(ni) AS BIGINT) AS nn,
             |    CAST(SUM(ni * ni) AS BIGINT) AS nn2,
             |    CAST(SUM(wss) AS DOUBLE) AS sw,
             |    CAST(SUM(si) AS BIGINT) AS stot,
             |    CAST(SUM(CAST(ROUND(CAST(ni AS DOUBLE) * mi * mi, 6)
             |      AS DECIMAL(38, 6))) AS DOUBLE) AS snm2
             |  FROM pieces
             |), kv AS (
             |  SELECT ii,
             |    sw / CAST(nn - ii AS DOUBLE) AS epv,
             |    (snm2 - CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE)
             |      / CAST(nn AS DOUBLE)
             |      - CAST(ii - 1 AS DOUBLE)
             |        * (sw / CAST(nn - ii AS DOUBLE)))
             |    / (CAST(nn AS DOUBLE)
             |      - CAST(nn2 AS DOUBLE) / CAST(nn AS DOUBLE)) AS vhm
             |  FROM agg
             |)
             |SELECT ii AS n_customers,
             |  ROUND(epv / vhm, 3) AS k_credibility,
             |  ROUND(1.0 / (1.0 + epv / vhm), 6) AS z_at_1,
             |  ROUND(10.0 / (10.0 + epv / vhm), 6) AS z_at_10
             |FROM kv""".stripMargin)),
  )
}
