package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Sixty-second analytics pack (round 6, session 9): distribution
  * fitting — Weibull shape/scale by grouped median-rank regression on
  * fulfillment latencies, the Hoaglin Poissonness-plot slope for
  * per-user daily event counts, Juilland's D dispersion of top terms
  * across source shards, the weekday-effect ANOVA on daily revenue,
  * and a geometric fit with chi-square GOF of per-customer order
  * counts.
  *
  * Exactness discipline: latencies/counts are exact integers; ln and
  * pow terms ride the round-9 grid of exact inputs with identical
  * expressions; k! stays an exact BIGINT (k ≤ 20); weekday indices
  * are aligned across engines (Spark weekday() = isodow − 1). */
object Analytics62 {

  val all: Seq[Q] = Seq(

    // ---- Weibull grouped median-rank regression on order→ship
    // ---- latency days: per distinct latency t (count-weighted,
    // ---- right-edge cumulative rank), x = ln t, y = ln(−ln(1−F̂))
    // ---- with F̂ = (cum − 0.3)/(n + 0.4); weighted OLS slope = shape
    // ---- k, scale = exp(x̄ − ȳ/k)... emitted as exp(−b₀/k). --------
    Q("q416_weibull_latency",
      (s, dir) => {
        val lat = t(s, dir, "lineitem")
          .join(t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          .select((datediff(col("l_shipdate"), col("o_orderdate"))
            + lit(1)).cast("long").as("t"))
          .where(col("t") >= 1L)
          .groupBy("t").agg(count(lit(1)).as("cnt"))
        val w = Window.orderBy("t")
        val tot = lat.agg(sum(col("cnt")).as("n"))
        val pts = lat.withColumn("cum", sum(col("cnt")).over(w))
          .crossJoin(broadcast(tot))
          .select(col("cnt"),
            round(log(col("t").cast("double")), 9).as("x"),
            round(log(lit(-1.0) * log(lit(1.0)
              - (col("cum").cast("double") - 0.3)
              / (col("n").cast("double") + 0.4))), 9).as("y"))
        pts.agg(sum(col("cnt")).as("n_lines"),
          sum(round(col("cnt").cast("double") * col("x"), 9)
            .cast(DecimalType(38, 9))).cast("double").as("sx"),
          sum(round(col("cnt").cast("double") * col("y"), 9)
            .cast(DecimalType(38, 9))).cast("double").as("sy"),
          sum(round(col("cnt").cast("double") * col("x") * col("y"), 9)
            .cast(DecimalType(38, 9))).cast("double").as("sxy"),
          sum(round(col("cnt").cast("double") * col("x") * col("x"), 9)
            .cast(DecimalType(38, 9))).cast("double").as("sxx"))
          .select(col("n_lines"),
            round((col("sxy") - col("sx") * col("sy")
              / col("n_lines").cast("double"))
              / (col("sxx") - col("sx") * col("sx")
                / col("n_lines").cast("double")), 6).as("shape_k"),
            round(exp(lit(-1.0)
              * ((col("sy") / col("n_lines").cast("double"))
                - ((col("sxy") - col("sx") * col("sy")
                  / col("n_lines").cast("double"))
                  / (col("sxx") - col("sx") * col("sx")
                    / col("n_lines").cast("double")))
                  * (col("sx") / col("n_lines").cast("double")))
              / ((col("sxy") - col("sx") * col("sy")
                / col("n_lines").cast("double"))
                / (col("sxx") - col("sx") * col("sx")
                  / col("n_lines").cast("double")))), 6)
              .as("scale_days"))
      },
      Some("""WITH lat AS (
             |  SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
             |    SELECT CAST(DATEDIFF('day', o_orderdate, l_shipdate)
             |      + 1 AS BIGINT) AS t
             |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
             |    z
             |  WHERE t >= 1 GROUP BY 1
             |), tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM lat),
             |pts AS (
             |  SELECT cnt,
             |    ROUND(ln(CAST(t AS DOUBLE)), 9) AS x,
             |    ROUND(ln(-ln(1.0 - (CAST(cum AS DOUBLE) - 0.3)
             |      / (CAST(n AS DOUBLE) + 0.4))), 9) AS y
             |  FROM (SELECT t, cnt,
             |      CAST(SUM(cnt) OVER (ORDER BY t) AS BIGINT) AS cum
             |    FROM lat) c
             |  CROSS JOIN tot
             |), agg AS (
             |  SELECT CAST(SUM(cnt) AS BIGINT) AS n_lines,
             |    CAST(SUM(CAST(ROUND(CAST(cnt AS DOUBLE) * x, 9)
             |      AS DECIMAL(38, 9))) AS DOUBLE) AS sx,
             |    CAST(SUM(CAST(ROUND(CAST(cnt AS DOUBLE) * y, 9)
             |      AS DECIMAL(38, 9))) AS DOUBLE) AS sy,
             |    CAST(SUM(CAST(ROUND(CAST(cnt AS DOUBLE) * x * y, 9)
             |      AS DECIMAL(38, 9))) AS DOUBLE) AS sxy,
             |    CAST(SUM(CAST(ROUND(CAST(cnt AS DOUBLE) * x * x, 9)
             |      AS DECIMAL(38, 9))) AS DOUBLE) AS sxx
             |  FROM pts
             |)
             |SELECT n_lines,
             |  ROUND((sxy - sx * sy / CAST(n_lines AS DOUBLE))
             |    / (sxx - sx * sx / CAST(n_lines AS DOUBLE)), 6)
             |    AS shape_k,
             |  ROUND(exp(-((sy / CAST(n_lines AS DOUBLE))
             |      - ((sxy - sx * sy / CAST(n_lines AS DOUBLE))
             |        / (sxx - sx * sx / CAST(n_lines AS DOUBLE)))
             |        * (sx / CAST(n_lines AS DOUBLE)))
             |    / ((sxy - sx * sy / CAST(n_lines AS DOUBLE))
             |      / (sxx - sx * sx / CAST(n_lines AS DOUBLE)))), 6)
             |    AS scale_days
             |FROM agg""".stripMargin)),

    // ---- Hoaglin Poissonness plot for per-user daily event counts
    // ---- (k ≥ 1 truncated): φ(k) = ln(k!·n_k/N) should be linear in
    // ---- k with slope ln λ; k! exact BIGINT, slope/R² from gridded
    // ---- sums over levels with n_k ≥ 5. ----------------------------
    Q("q417_poissonness_plot",
      (s, dir) => {
        val counts = t(s, dir, "events")
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("k"))
          .groupBy("k").agg(count(lit(1)).as("nk"))
          .where(col("nk") >= 5L && col("k") <= 20L)
        val tot = counts.agg(sum(col("nk")).as("nn"))
        // ln k! as a gridded sum over the 1..k lateral range join
        val phi = counts.join(
          counts.select(col("k").as("kk")).distinct()
            .crossJoin(s.range(1, 21).select(col("id").as("j")))
            .where(col("j") <= col("kk"))
            .groupBy(col("kk"))
            .agg(sum(round(log(col("j").cast("double")), 9)
              .cast(DecimalType(38, 9))).cast("double").as("lnfact")),
          col("k") === col("kk"))
          .crossJoin(broadcast(tot))
          .select(col("k").cast("double").as("x"),
            round(col("lnfact")
              + log(col("nk").cast("double") / col("nn").cast("double")),
              9).as("y"))
        phi.agg(count(lit(1)).as("n_levels"),
          sum(round(col("x"), 9).cast(DecimalType(38, 9)))
            .cast("double").as("sx"),
          sum(round(col("y"), 9).cast(DecimalType(38, 9)))
            .cast("double").as("sy"),
          sum(round(col("x") * col("y"), 9).cast(DecimalType(38, 9)))
            .cast("double").as("sxy"),
          sum(round(col("x") * col("x"), 9).cast(DecimalType(38, 9)))
            .cast("double").as("sxx"),
          sum(round(col("y") * col("y"), 9).cast(DecimalType(38, 9)))
            .cast("double").as("syy"))
          .select(col("n_levels"),
            round(exp((col("sxy") - col("sx") * col("sy")
              / col("n_levels").cast("double"))
              / (col("sxx") - col("sx") * col("sx")
                / col("n_levels").cast("double"))), 6).as("lambda_hat"),
            round((col("sxy") - col("sx") * col("sy")
              / col("n_levels").cast("double"))
              * (col("sxy") - col("sx") * col("sy")
                / col("n_levels").cast("double"))
              / ((col("sxx") - col("sx") * col("sx")
                / col("n_levels").cast("double"))
                * (col("syy") - col("sy") * col("sy")
                  / col("n_levels").cast("double"))), 6).as("r2"))
      },
      Some("""WITH counts AS (
             |  SELECT k, CAST(COUNT(*) AS BIGINT) AS nk FROM (
             |    SELECT user_id, CAST(ts AS DATE) AS day,
             |      CAST(COUNT(*) AS BIGINT) AS k
             |    FROM events GROUP BY 1, 2) z
             |  GROUP BY 1 HAVING COUNT(*) >= 5 AND k <= 20
             |), tot AS (SELECT CAST(SUM(nk) AS BIGINT) AS nn
             |           FROM counts),
             |lnf AS (
             |  SELECT c.k AS kk,
             |    CAST(SUM(CAST(ROUND(ln(CAST(j.j AS DOUBLE)), 9)
             |      AS DECIMAL(38, 9))) AS DOUBLE) AS lnfact
             |  FROM (SELECT DISTINCT k FROM counts) c
             |  JOIN (SELECT CAST(range AS BIGINT) AS j
             |        FROM range(1, 21)) j ON j.j <= c.k
             |  GROUP BY 1
             |), phi AS (
             |  SELECT CAST(k AS DOUBLE) AS x,
             |    ROUND(lnfact + ln(CAST(nk AS DOUBLE)
             |      / CAST(nn AS DOUBLE)), 9) AS y
             |  FROM counts JOIN lnf ON k = kk CROSS JOIN tot
             |), agg AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_levels,
             |    CAST(SUM(CAST(ROUND(x, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS sx,
             |    CAST(SUM(CAST(ROUND(y, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS sy,
             |    CAST(SUM(CAST(ROUND(x * y, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS sxy,
             |    CAST(SUM(CAST(ROUND(x * x, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS sxx,
             |    CAST(SUM(CAST(ROUND(y * y, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS syy
             |  FROM phi
             |)
             |SELECT n_levels,
             |  ROUND(exp((sxy - sx * sy / CAST(n_levels AS DOUBLE))
             |    / (sxx - sx * sx / CAST(n_levels AS DOUBLE))), 6)
             |    AS lambda_hat,
             |  ROUND((sxy - sx * sy / CAST(n_levels AS DOUBLE))
             |    * (sxy - sx * sy / CAST(n_levels AS DOUBLE))
             |    / ((sxx - sx * sx / CAST(n_levels AS DOUBLE))
             |      * (syy - sy * sy / CAST(n_levels AS DOUBLE))), 6)
             |    AS r2
             |FROM agg""".stripMargin)),

    // ---- Juilland's D dispersion of the top-10 corpus terms (words
    // ---- ≥4 chars) across the 20 source shards: D = 1 − CV/√(p−1)
    // ---- with CV over per-shard relative frequencies, all on the
    // ---- round-9 grid. ---------------------------------------------
    Q("q418_juilland_dispersion",
      (s, dir) => {
        // NOTE r12: loadParallel (and loadParallel + eager checkpoint)
        // were tried here and measured +23..51% — the inline
        // single-task explodes are cheaper than any extra exchange at
        // this corpus size. Plain scan kept.
        val occ = t(s, dir, "documents")
          .select(col("source"),
            explode(split(col("text"), " ")).as("w"))
          .where(length(col("w")) >= 4)
        val shardTot = occ.groupBy("source").agg(count(lit(1)).as("st"))
        val top = occ.groupBy("w").agg(count(lit(1)).as("gc"))
          .orderBy(col("gc").desc, col("w")).limit(10)
        val cells = occ.join(broadcast(top.select("w")), Seq("w"))
          .groupBy("w", "source").agg(count(lit(1)).as("c"))
          .join(broadcast(shardTot), Seq("source"))
          .select(col("w"),
            round(col("c").cast("double") / col("st").cast("double"), 9)
              .as("f"))
        val p = shardTot.count().toDouble
        cells.groupBy("w")
          .agg(count(lit(1)).as("np"),
            sum(col("f").cast(DecimalType(38, 9))).cast("double")
              .as("sf"),
            sum(round(col("f") * col("f"), 9).cast(DecimalType(38, 9)))
              .cast("double").as("sff"))
          .select(col("w").as("term"),
            round(lit(1.0)
              - sqrt(col("sff") / lit(p)
                - (col("sf") / lit(p)) * (col("sf") / lit(p)))
              / (col("sf") / lit(p)) / sqrt(lit(p - 1.0)), 6)
              .as("juilland_d"))
      },
      Some("""WITH occ AS MATERIALIZED (
             |  SELECT source, w FROM (
             |    SELECT source, UNNEST(string_split(text, ' ')) AS w
             |    FROM documents) z
             |  WHERE LENGTH(w) >= 4
             |), shard_tot AS (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS st
             |  FROM occ GROUP BY 1
             |), top AS (
             |  SELECT w FROM (
             |    SELECT w, COUNT(*) AS gc FROM occ GROUP BY 1
             |    ORDER BY gc DESC, w LIMIT 10) z
             |), cells AS (
             |  SELECT o.w,
             |    ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(MIN(t.st)
             |      AS DOUBLE), 9) AS f
             |  FROM occ o JOIN top ON o.w = top.w
             |  JOIN shard_tot t ON o.source = t.source
             |  GROUP BY o.w, o.source
             |), pcount AS (
             |  SELECT CAST(COUNT(*) AS DOUBLE) AS p FROM shard_tot
             |)
             |SELECT w AS term,
             |  ROUND(1.0
             |    - sqrt(CAST(SUM(CAST(ROUND(f * f, 9)
             |        AS DECIMAL(38, 9))) AS DOUBLE) / p
             |      - (CAST(SUM(CAST(f AS DECIMAL(38, 9))) AS DOUBLE) / p)
             |        * (CAST(SUM(CAST(f AS DECIMAL(38, 9))) AS DOUBLE)
             |          / p))
             |    / (CAST(SUM(CAST(f AS DECIMAL(38, 9))) AS DOUBLE) / p)
             |    / sqrt(p - 1.0), 6) AS juilland_d
             |FROM cells CROSS JOIN pcount
             |GROUP BY w, p""".stripMargin)),

    // ---- weekday-effect ANOVA on daily revenue: one-way F across
    // ---- the 7 ISO weekdays (Spark weekday() = isodow − 1), group
    // ---- pieces round-9 gridded, plus the max/min weekday-mean
    // ---- ratio. ----------------------------------------------------
    Q("q419_weekday_anova",
      (s, dir) => {
        val daily = Analytics35.dailyDollars(s, dir)
          .select(col("x"),
            expr("weekday(date_add(to_date('1970-01-01'), " +
              "cast(day as int)))").cast("long").as("dow"))
        val per = daily.groupBy("dow")
          .agg(count(lit(1)).as("nj"), sum(col("x")).as("sj"),
            sum(col("x").cast(DecimalType(38, 0)) * col("x")).as("ssj"))
        val tot = per.agg(sum(col("nj")).as("n"), sum(col("sj")).as("s"),
          count(lit(1)).as("k"))
        val pieces = per.crossJoin(broadcast(tot))
          .select(col("k"), col("n"),
            round(col("nj").cast("double")
              * (col("sj").cast("double") / col("nj").cast("double")
                - col("s").cast("double") / col("n").cast("double"))
              * (col("sj").cast("double") / col("nj").cast("double")
                - col("s").cast("double") / col("n").cast("double")), 9)
              .cast(DecimalType(38, 9)).as("ssb"),
            round(col("ssj").cast("double")
              - col("sj").cast("double") * col("sj").cast("double")
                / col("nj").cast("double"), 9).cast(DecimalType(38, 9))
              .as("ssw"),
            (col("sj").cast("double") / col("nj").cast("double"))
              .as("mj"))
        pieces.groupBy("k", "n")
          .agg(sum(col("ssb")).cast("double").as("ssb"),
            sum(col("ssw")).cast("double").as("ssw"),
            max(col("mj")).as("mmax"), min(col("mj")).as("mmin"))
          .select(col("n").as("n_days"),
            round((col("ssb") / (col("k") - 1L).cast("double"))
              / (col("ssw") / (col("n") - col("k")).cast("double")), 6)
              .as("f_stat"),
            round(col("mmax") / col("mmin"), 6).as("max_min_ratio"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(date_diff('day', DATE '1970-01-01',
             |      CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
             |    CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
             |      AS DOUBLE)) AS BIGINT) AS x
             |  FROM orders GROUP BY 1
             |), tagged AS (
             |  SELECT x, CAST(isodow(DATE '1970-01-01'
             |    + CAST(day AS INT)) - 1 AS BIGINT) AS dow
             |  FROM daily
             |), per AS (
             |  SELECT dow, CAST(COUNT(*) AS BIGINT) AS nj,
             |    CAST(SUM(x) AS BIGINT) AS sj,
             |    SUM(CAST(x AS DECIMAL(38, 0)) * x) AS ssj
             |  FROM tagged GROUP BY 1
             |), tot AS (
             |  SELECT CAST(SUM(nj) AS BIGINT) AS n,
             |    CAST(SUM(sj) AS BIGINT) AS s,
             |    CAST(COUNT(*) AS BIGINT) AS k
             |  FROM per
             |), pieces AS (
             |  SELECT k, n,
             |    CAST(ROUND(CAST(nj AS DOUBLE)
             |      * (CAST(sj AS DOUBLE) / CAST(nj AS DOUBLE)
             |        - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             |      * (CAST(sj AS DOUBLE) / CAST(nj AS DOUBLE)
             |        - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 9)
             |      AS DECIMAL(38, 9)) AS ssb,
             |    CAST(ROUND(CAST(ssj AS DOUBLE)
             |      - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE)
             |        / CAST(nj AS DOUBLE), 9) AS DECIMAL(38, 9)) AS ssw,
             |    CAST(sj AS DOUBLE) / CAST(nj AS DOUBLE) AS mj
             |  FROM per CROSS JOIN tot
             |)
             |SELECT n AS n_days,
             |  ROUND((CAST(SUM(ssb) AS DOUBLE) / CAST(k - 1 AS DOUBLE))
             |    / (CAST(SUM(ssw) AS DOUBLE)
             |      / CAST(n - k AS DOUBLE)), 6) AS f_stat,
             |  ROUND(MAX(mj) / MIN(mj), 6) AS max_min_ratio
             |FROM pieces GROUP BY k, n""".stripMargin)),

    // ---- geometric fit of per-customer order counts: MoM p̂ = n/Σk,
    // ---- expected cells N·p̂·(1−p̂)^(k−1) for k = 1..15 plus the
    // ---- (1−p̂)^15 tail, chi-square from exact observed counts. ----
    Q("q420_geometric_fit",
      (s, dir) => {
        val counts = t(s, dir, "orders")
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("k"))
        val tot = counts.agg(count(lit(1)).as("n"), sum(col("k")).as("sk"))
        val obs = counts
          .select(least(col("k"), lit(16L)).as("kb"))
          .groupBy("kb").agg(count(lit(1)).as("o"))
        val cells = s.range(1, 17).select(col("id").as("kb"))
          .join(obs, Seq("kb"), "left")
          .select(col("kb"), coalesce(col("o"), lit(0L)).as("o"))
          .crossJoin(broadcast(tot))
          .select(col("kb"), col("o"), col("n"),
            round(when(col("kb") < 16L,
              col("n").cast("double")
                * (col("n").cast("double") / col("sk").cast("double"))
                * pow(lit(1.0) - col("n").cast("double")
                  / col("sk").cast("double"),
                  (col("kb") - 1L).cast("double")))
              .otherwise(col("n").cast("double")
                * pow(lit(1.0) - col("n").cast("double")
                  / col("sk").cast("double"), 15.0)), 9).as("e"))
        cells
          .select(col("n"),
            round(when(col("e") > 0.0,
              (col("o").cast("double") - col("e"))
                * (col("o").cast("double") - col("e")) / col("e"))
              .otherwise(0.0), 9).cast(DecimalType(38, 9)).as("term"))
          .groupBy("n")
          .agg(count(lit(1)).as("n_cells"),
            sum(col("term")).cast("double").as("chi2"))
          .select(col("n").as("n_customers"), col("n_cells"),
            round(col("chi2"), 6).as("chi2"))
      },
      Some("""WITH counts AS (
             |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS k
             |  FROM orders GROUP BY 1
             |), tot AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(k) AS BIGINT) AS sk
             |  FROM counts
             |), obs AS (
             |  SELECT LEAST(k, 16) AS kb, CAST(COUNT(*) AS BIGINT) AS o
             |  FROM counts GROUP BY 1
             |), cells AS (
             |  SELECT g.kb, COALESCE(obs.o, 0) AS o, n,
             |    ROUND(CASE WHEN g.kb < 16
             |      THEN CAST(n AS DOUBLE)
             |        * (CAST(n AS DOUBLE) / CAST(sk AS DOUBLE))
             |        * pow(1.0 - CAST(n AS DOUBLE) / CAST(sk AS DOUBLE),
             |          CAST(g.kb - 1 AS DOUBLE))
             |      ELSE CAST(n AS DOUBLE)
             |        * pow(1.0 - CAST(n AS DOUBLE) / CAST(sk AS DOUBLE),
             |          15.0) END, 9) AS e
             |  FROM (SELECT CAST(range AS BIGINT) AS kb
             |        FROM range(1, 17)) g
             |  LEFT JOIN obs ON g.kb = obs.kb
             |  CROSS JOIN tot
             |)
             |SELECT n AS n_customers,
             |  CAST(COUNT(*) AS BIGINT) AS n_cells,
             |  ROUND(CAST(SUM(CAST(ROUND(CASE WHEN e > 0.0
             |    THEN (CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e)
             |      / e ELSE 0.0 END, 9) AS DECIMAL(38, 9))) AS DOUBLE),
             |    6) AS chi2
             |FROM cells GROUP BY n""".stripMargin)),
  )
}
