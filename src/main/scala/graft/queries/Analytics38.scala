package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Thirty-eighth analytics pack (round 6, session 8): partial
  * autocorrelation (Durbin–Levinson), a fixed-frequency periodogram,
  * the index of dispersion, closed-form isotonic regression (the
  * minimax identity, no sequential PAVA), and a one-row corpus health
  * card.
  *
  * Exactness discipline unchanged: autocovariances are the exact
  * integers n²·c_h = Σ(n·x_t − S)(n·x_{t+h} − S); the DL recursion
  * and the isotonic minimax run on FIXED expression trees over those
  * integers; periodogram trig terms quantize to the 1e-9 grid before
  * the sums (the ln-precedent applied to cos/sin). */
object Analytics38 {

  /** q296 PACF depth. */
  private val PacfLags = 5

  /** q297 candidate periods (days). */
  private val Periods = Seq(7, 14, 30, 91, 365)

  val all: Seq[Q] = Seq(

    // ---- partial autocorrelation at lags 1..5 by the Durbin–Levinson
    // ---- recursion over EXACT integer autocovariances of the daily
    // ---- kilodollar series (n²·c_h stays BIGINT); the recursion is a
    // ---- fixed scalar tree, so the driver-side replay and the
    // ---- unrolled SQL produce bit-identical doubles. The lag
    // ---- products are bounded-offset equi-joins off one checkpointed
    // ---- series. ---------------------------------------------------
    Q("q296_pacf",
      (s, dir) => {
        val base = Analytics35.dailyDollars(s, dir)
          .select(col("day"), expr("x div 1000").as("xk"))
          .withColumn("rn", row_number().over(Window.orderBy("day"))
            .cast("long"))
          .localCheckpoint(true)
        val ns = base.agg(count(lit(1)).as("n"), sum(col("xk")).as("sx"))
          .collect()(0)
        val n = ns.getLong(0); val sx = ns.getLong(1)
        val covs = (0 to PacfLags).map { h =>
          base.select(col("rn"), (lit(n) * col("xk") - sx).as("d1"))
            .join(base.select((col("rn") - h).as("rn"),
              (lit(n) * col("xk") - sx).as("d2")), Seq("rn"))
            .agg(sum(col("d1") * col("d2"))).collect()(0).getLong(0)
        }
        val r = (0 to PacfLags)
          .map(h => covs(h).toDouble / covs(0).toDouble)
        // Durbin-Levinson
        val phi = Array.ofDim[Double](PacfLags + 1, PacfLags + 1)
        val pacf = Array.ofDim[Double](PacfLags + 1)
        phi(1)(1) = r(1); pacf(1) = r(1)
        for (k <- 2 to PacfLags) {
          val num = r(k) - (1 until k).map(j => phi(k - 1)(j) * r(k - j)).sum
          val den = 1.0 - (1 until k).map(j => phi(k - 1)(j) * r(j)).sum
          phi(k)(k) = num / den
          for (j <- 1 until k)
            phi(k)(j) = phi(k - 1)(j) - phi(k)(k) * phi(k - 1)(k - j)
          pacf(k) = phi(k)(k)
        }
        import s.implicits._
        (1 to PacfLags).map(h => (h, r(h), pacf(h))).toSeq
          .toDF("lag", "acf_raw", "pacf_raw")
          .select(col("lag"), round(col("acf_raw"), 6).as("acf"),
            round(col("pacf_raw"), 6).as("pacf"))
          .orderBy("lag")
      },
      Some {
        // scalar-CTE DL unroll: ck = exact integer covariances, rk =
        // ck/c0; phi columns per level
        val covSel = (0 to PacfLags).map { h =>
          s"""(SELECT CAST(SUM(a.d * b.d) AS BIGINT)
             |   FROM devs a JOIN devs b ON b.rn = a.rn + $h) AS c$h"""
            .stripMargin.replace("\n", "")
        }.mkString(",\n  ")
        val rSel = (1 to PacfLags).map(h =>
          s"CAST(c$h AS DOUBLE) / CAST(c0 AS DOUBLE) AS r$h")
          .mkString(",\n  ")
        // unrolled recursion as chained one-row CTEs
        val levels = (2 to PacfLags).map { k =>
          val num = (1 until k).map(j => s"p${k - 1}_$j * r${k - j}")
            .mkString(" - (", " + ", ")")
          val den = (1 until k).map(j => s"p${k - 1}_$j * r$j")
            .mkString("1.0 - (", " + ", ")")
          val upd = (1 until k).map(j =>
            s"p${k - 1}_$j - ((r$k $num) / ($den)) * p${k - 1}_${k - j} " +
              s"AS p${k}_$j").mkString(",\n    ")
          s"""l$k AS (
             |  SELECT *, (r$k $num) / ($den) AS p${k}_$k,
             |    $upd
             |  FROM l${k - 1}
             |)""".stripMargin
        }.mkString(",\n")
        val out = (1 to PacfLags).map(k =>
          s"SELECT $k AS lag, ROUND(r$k, 6) AS acf, " +
            s"ROUND(p${k}_$k, 6) AS pacf FROM l$PacfLags")
          .mkString("\nUNION ALL ")
        s"""WITH base AS MATERIALIZED (
           |  SELECT x // 1000 AS xk, ROW_NUMBER() OVER (ORDER BY day) AS rn
           |  FROM (${Analytics35.DailyDollarsSql.replace("\n", "\n  ")})
           |), nn AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |    CAST(SUM(xk) AS BIGINT) AS sx
           |  FROM base
           |), devs AS MATERIALIZED (
           |  SELECT rn, (SELECT n FROM nn) * xk - (SELECT sx FROM nn) AS d
           |  FROM base
           |), cv AS MATERIALIZED (
           |  SELECT
           |  $covSel
           |), l1 AS (
           |  SELECT $rSel,
           |    CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE) AS p1_1
           |  FROM cv
           |),
           |$levels
           |$out
           |ORDER BY lag""".stripMargin
      }),

    // ---- periodogram at the business periods (week, fortnight,
    // ---- month, quarter, year): spectral power of the daily series
    // ---- at frequency 1/P, with the cos/sin terms quantized to the
    // ---- 1e-9 grid per row so the projection sums are exact BIGINT.
    Q("q297_periodogram",
      (s, dir) => {
        val base = Analytics35.dailyDollars(s, dir)
          .select(col("day"), expr("x div 1000").as("xk"))
          .withColumn("rn", (row_number().over(Window.orderBy("day")) - 1)
            .cast("long"))
          .localCheckpoint(false) // lazy: materialized by the count
        val n = base.count()
        // exact-rational power: the projection sums pass 2^53 at sf1.0
        // and the engines' (hugeint|decimal)->double conversions then
        // differ by one ulp before the ROUND. Square and divide on the
        // integer grid instead — quotient + half-up-rounded micro-
        // fraction via div/mod (the q389 canon), double only at the end
        // where the scaled value is < 2^53 and exact in both engines.
        val rows = Periods.map { pd =>
          val ang = lit(2.0 * math.Pi) *
            (col("rn") % pd).cast("double") / lit(pd.toDouble)
          base.select(
              (col("xk") * round(cos(ang) * 1e9).cast("long")).as("pc"),
              (col("xk") * round(sin(ang) * 1e9).cast("long")).as("ps"))
            .agg(sum(col("pc").cast(DecimalType(38, 0))).as("sc"),
              sum(col("ps").cast(DecimalType(38, 0))).as("ss"))
            .select(lit(pd).as("period"),
              (col("sc") * col("sc") + col("ss") * col("ss")).as("s2"),
              expr(s"CAST($n AS DECIMAL(38,0)) " +
                "* CAST(1000000000000000000 AS DECIMAL(38,0))").as("d"))
            .select(col("period"),
              ((expr("s2 div d") * 1000000L) +
                expr("(2 * (s2 % d) * 1000000 + d) div (2 * d)"))
                .cast("double").divide(lit(1e6)).as("power"))
        }
        rows.reduce(_ unionByName _).orderBy("period")
      },
      Some {
        val per = Periods.map { pd =>
          s"""SELECT $pd AS period,
             |  CAST(s2 // d * 1000000
             |    + (2 * (s2 % d) * 1000000 + d) // (2 * d) AS DOUBLE)
             |    / 1e6 AS power
             |FROM (
             |SELECT CAST(SUM(xk * cq) AS HUGEINT)
             |      * CAST(SUM(xk * cq) AS HUGEINT)
             |    + CAST(SUM(xk * sq) AS HUGEINT)
             |      * CAST(SUM(xk * sq) AS HUGEINT) AS s2,
             |  (SELECT CAST(n AS HUGEINT) FROM nn)
             |    * CAST(1000000000000000000 AS HUGEINT) AS d
             |FROM (
             |  SELECT xk,
             |    CAST(ROUND(cos(2.0 * pi() * CAST(rn % $pd AS DOUBLE)
             |      / $pd.0) * 1e9) AS BIGINT) AS cq,
             |    CAST(ROUND(sin(2.0 * pi() * CAST(rn % $pd AS DOUBLE)
             |      / $pd.0) * 1e9) AS BIGINT) AS sq
             |  FROM base))""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH base AS MATERIALIZED (
           |  SELECT x // 1000 AS xk,
           |    ROW_NUMBER() OVER (ORDER BY day) - 1 AS rn
           |  FROM (${Analytics35.DailyDollarsSql.replace("\n", "\n  ")})
           |), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base)
           |$per
           |ORDER BY period""".stripMargin
      }),

    // ---- index of dispersion (variance-to-mean ratio) of per-user
    // ---- event counts by type — the over/under-dispersion gauge that
    // ---- separates Poisson-like from bursty behavior. Zero counts
    // ---- participate (users × types frame); the ratio is the exact
    // ---- integer form (n·Σk² − (Σk)²) / (n·Σk). --------------------
    Q("q298_dispersion_index",
      (s, dir) => {
        val ev = t(s, dir, "events")
        // zero counts contribute nothing to Σk or Σk² and n_users is
        // the global distinct-user count — so the dense users×types
        // frame is unnecessary; aggregate the sparse (user, type)
        // counts and broadcast the one global scalar
        val nUsers = ev.select(col("user_id")).distinct().count()
        ev.groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("k"))
          .groupBy("event_type")
          .agg(lit(nUsers).as("n_users"), sum(col("k")).as("sk"),
            sum(col("k") * col("k")).as("sk2"))
          .select(col("event_type"), col("n_users"),
            round(col("sk").cast("double") / col("n_users").cast("double"),
              6).as("mean_count"),
            round((col("n_users") * col("sk2") - col("sk") * col("sk"))
              .cast("double") /
              (col("n_users") * col("sk")).cast("double"), 6)
              .as("dispersion"))
          .orderBy("event_type")
      },
      Some("""WITH users AS (SELECT DISTINCT user_id FROM events),
             |types AS (SELECT DISTINCT event_type FROM events),
             |counts AS (
             |  SELECT t.event_type, COALESCE(k.k, 0) AS k
             |  FROM users u
             |  CROSS JOIN types t
             |  LEFT JOIN (
             |    SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS k
             |    FROM events GROUP BY 1, 2
             |  ) k ON k.user_id = u.user_id AND k.event_type = t.event_type
             |)
             |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
             |  ROUND(CAST(SUM(k) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             |    AS mean_count,
             |  ROUND(CAST(COUNT(*) * SUM(k * k) - SUM(k) * SUM(k) AS DOUBLE)
             |    / CAST(COUNT(*) * SUM(k) AS DOUBLE), 6) AS dispersion
             |FROM counts
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // ---- isotonic regression of the urgent rate on price deciles by
    // ---- the MINIMAX IDENTITY fit(i) = max_{j≤i} min_{k≥i}
    // ---- avg(y[j..k]) — the closed form equal to sequential PAVA,
    // ---- and fully relational: a (j, i, k) triple join over the
    // ---- 10-row bin table with exact integer prefix sums. ----------
    Q("q299_isotonic_regression",
      (s, dir) => {
        // deciles via distributed rank (orders-grain: no single-task
        // ntile sort); the resulting 10-row bin lattice is a bounded
        // checkpoint, certifying the cumulative windows below
        val lab = t(s, dir, "orders")
          .select(col("o_totalprice"), col("o_orderkey"),
            col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
              .as("urgent"))
        val nAll = lab.agg(count(lit(1)).as("n_all"))
        val bins = graft.operators.Lattice.checkpointBounded(
          graft.operators.Ranks
            .withGlobalRank(lab, Seq(col("o_totalprice"), col("o_orderkey")), "rn")
            .crossJoin(broadcast(nAll))
            .select(graft.operators.Ranks
                .ntileFromRank(col("rn"), col("n_all"), 10).as("bin"),
              col("urgent"))
            .groupBy("bin")
            .agg(count(lit(1)).as("n"), sum(col("urgent")).as("u")),
          10, "q299 decile bins")
        val pre = bins
          .withColumn("cu", sum(col("u")).over(Window.orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("cn", sum(col("n")).over(Window.orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0)))
          .select(col("bin"), col("cu"), col("cn"))
        val withZero = pre.unionByName(
          bins.sparkSession.range(1).select(lit(0).as("bin"),
            lit(0L).as("cu"), lit(0L).as("cn")))
        val spans = withZero.as("j").join(pre.as("k"),
            col("j.bin") < col("k.bin"))
          .select((col("j.bin") + 1).as("jb"), col("k.bin").as("kb"),
            ((col("k.cu") - col("j.cu")).cast("double") /
              (col("k.cn") - col("j.cn")).cast("double")).as("avgr"))
        val fit = bins.select(col("bin"))
          .join(spans, col("jb") <= col("bin") && col("bin") <= col("kb"))
          .groupBy(col("bin"), col("jb"))
          .agg(min(col("avgr")).as("mn"))
          .groupBy("bin").agg(round(max(col("mn")), 6).as("isotonic_fit"))
        bins.join(fit, Seq("bin"))
          .select(col("bin"), col("n"), col("u"),
            round(col("u").cast("double") / col("n").cast("double"), 6)
              .as("rate"), col("isotonic_fit"))
          .orderBy("bin")
      },
      Some("""WITH bins AS MATERIALIZED (
             |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(urgent) AS BIGINT) AS u
             |  FROM (
             |    SELECT CAST(NTILE(10) OVER (ORDER BY o_totalprice,
             |        o_orderkey) AS INTEGER) AS bin,
             |      CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |        THEN 1 ELSE 0 END AS urgent
             |    FROM orders)
             |  GROUP BY bin
             |), pre AS MATERIALIZED (
             |  SELECT bin,
             |    SUM(u) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cu,
             |    SUM(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cn
             |  FROM bins
             |), prez AS (
             |  SELECT * FROM pre
             |  UNION ALL SELECT 0, 0, 0
             |), spans AS MATERIALIZED (
             |  SELECT j.bin + 1 AS jb, k.bin AS kb,
             |    CAST(k.cu - j.cu AS DOUBLE) / CAST(k.cn - j.cn AS DOUBLE)
             |      AS avgr
             |  FROM prez j JOIN pre k ON j.bin < k.bin
             |), fit AS (
             |  SELECT bin, ROUND(MAX(mn), 6) AS isotonic_fit FROM (
             |    SELECT b.bin, s.jb, MIN(s.avgr) AS mn
             |    FROM bins b
             |    JOIN spans s ON s.jb <= b.bin AND b.bin <= s.kb
             |    GROUP BY b.bin, s.jb)
             |  GROUP BY bin
             |)
             |SELECT b.bin, b.n, b.u,
             |  ROUND(CAST(b.u AS DOUBLE) / CAST(b.n AS DOUBLE), 6) AS rate,
             |  f.isotonic_fit
             |FROM bins b JOIN fit f ON b.bin = f.bin
             |ORDER BY b.bin""".stripMargin)),

    // ---- the corpus health card: the one-row report a curation
    // ---- pipeline lands after every ingest — volume, exact-dup rate,
    // ---- token mass, language balance entropy (micro-unit grid ln),
    // ---- and the short-document share. One scan plus one distinct.
    Q("q300_corpus_health",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val langEnt = d.groupBy("lang").agg(count(lit(1)).as("c"))
          .crossJoin(broadcast(d.agg(count(lit(1)).as("nd"))))
          .select(((col("c") * round(log(col("nd").cast("double") /
            col("c").cast("double")) * 1e6).cast("long"))).as("term"),
            col("nd"))
          .agg((sum(col("term")) / first(col("nd"))).cast("long")
            .as("ent_units"))
        d.agg(count(lit(1)).as("n_docs"),
            countDistinct(md5(col("text"))).as("n_distinct"),
            sum(size(split(col("text"), " ")).cast("long"))
              .as("total_tokens"),
            sum(when(col("n_chars") < 100, 1L).otherwise(0L))
              .as("n_short"))
          .crossJoin(broadcast(langEnt))
          .select(col("n_docs"),
            round(lit(1.0) - col("n_distinct").cast("double") /
              col("n_docs").cast("double"), 6).as("dup_rate"),
            col("total_tokens"),
            round(col("total_tokens").cast("double") /
              col("n_docs").cast("double"), 6).as("mean_tokens"),
            round(col("ent_units").cast("double") / 1e6, 6)
              .as("lang_entropy"),
            round(col("n_short").cast("double") /
              col("n_docs").cast("double"), 6).as("short_share"))
      },
      Some("""WITH ent AS (
             |  SELECT CAST(SUM(term) // ANY_VALUE(nd) AS BIGINT)
             |      AS ent_units
             |  FROM (
             |    SELECT c * CAST(ROUND(ln(CAST(nd AS DOUBLE)
             |        / CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS term, nd
             |    FROM (SELECT lang, CAST(COUNT(*) AS BIGINT) AS c
             |          FROM documents GROUP BY lang)
             |    CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS nd
             |                FROM documents)
             |  )
             |)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  ROUND(1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate,
             |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
             |    AS total_tokens,
             |  ROUND(CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE), 6) AS mean_tokens,
             |  ROUND(CAST(ANY_VALUE(ent_units) AS DOUBLE) / 1e6, 6)
             |    AS lang_entropy,
             |  ROUND(CAST(SUM(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END)
             |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS short_share
             |FROM documents CROSS JOIN ent""".stripMargin))
  )
}
