package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Forty-third analytics pack (round 6, session 9): game-theoretic
  * attribution and robust-fit operators — exact 3-channel Shapley
  * values, a Little's-law throughput audit, the Cochran-Armitage
  * trend test, a Gumbel block-maxima fit, and deterministic RANSAC
  * over the monthly revenue series.
  *
  * The heavy lifting (journey masks, session sweep-lines, decile
  * counts, block maxima) is one shuffle each; the lattice / trial
  * tables the statistics run on are metadata-sized (≤64 rows), so the
  * driver never loops over data. Exactness discipline unchanged:
  * integer masks, µs durations, and cent moments; one double tree per
  * statistic. */
object Analytics43 {

  /** q325: deterministic trial count (two md5-drawn points each). */
  private val RansacTrials = 16

  /** Euler–Mascheroni, for the Gumbel moment fit (the Scala double
    * round-trips to the same literal in the oracle SQL). */
  private val EulerGamma = 0.5772156649015329

  val all: Seq[Q] = Seq(

    // ---- exact Shapley attribution over the 3 pre-purchase channels
    // ---- (click=1, view=2, error=4): coalition value v(S) = converted
    // ---- journeys whose channel set ⊆ S, so the whole lattice is 8
    // ---- rows aggregated from one journey scan. φ·6 stays an exact
    // ---- BIGINT (3-player weights are sixths); efficiency
    // ---- Σφ = v(N) − v(∅) is spec-pinned. The cooperative-game
    // ---- partner of q236's heuristic position credits. --------------
    Q("q321_shapley_attribution",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val perUser = ev.groupBy("user_id")
          .agg(min(when(col("event_type") === "purchase", col("ts")))
            .as("firstp"))
        val masks = ev.join(perUser, "user_id")
          .where(col("event_type").isin("click", "view", "error") &&
            (col("firstp").isNull || col("ts") < col("firstp")))
          .groupBy("user_id", "firstp")
          .agg(max(when(col("event_type") === "click", 1L).otherwise(0L))
              .as("hc"),
            max(when(col("event_type") === "view", 2L).otherwise(0L))
              .as("hv"),
            max(when(col("event_type") === "error", 4L).otherwise(0L))
              .as("he"))
          .select((col("hc") + col("hv") + col("he")).as("m"),
            col("firstp").isNotNull.cast("long").as("conv"))
          // journeys with no pre-purchase channel events fall out of the
          // join-filter above; they are exactly the v(∅) mass
          .unionByName(ev.join(perUser, "user_id")
            .groupBy("user_id", "firstp")
            .agg(max(when(col("event_type").isin("click", "view", "error") &&
              (col("firstp").isNull || col("ts") < col("firstp")), 1L)
              .otherwise(0L)).as("any"))
            .where(col("any") === 0L)
            .select(lit(0L).as("m"),
              col("firstp").isNotNull.cast("long").as("conv")))
        val byMask = masks.groupBy("m").agg(sum(col("conv")).as("cv"))
          .localCheckpoint(true)
        val lattice = byMask.sparkSession.range(8).toDF("s")
        val vtab = lattice.join(byMask,
            expr("cast(s as int) & cast(m as int)") === col("m").cast("int"),
            "left")
          .groupBy("s").agg(coalesce(sum(col("cv")), lit(0L)).as("v"))
        val channels = byMask.sparkSession
          .createDataFrame(Seq((1L, "click"), (2L, "view"), (4L, "error")))
          .toDF("bit", "channel")
        val pairs = channels.crossJoin(vtab.select(col("s"), col("v")))
          .where(expr("cast(s as int) & cast(bit as int)") === 0)
          .join(vtab.select(col("s").as("si"), col("v").as("vi")),
            col("si") === col("s") + col("bit"))
          .select(col("channel"),
            (when(expr("bit_count(cast(s as int))") === 0, 2L)
              .when(expr("bit_count(cast(s as int))") === 1, 1L)
              .otherwise(2L) * (col("vi") - col("v"))).as("term"))
        val phi = pairs.groupBy("channel").agg(sum(col("term")).as("phi6"))
        val tot = phi.agg(sum(col("phi6")).as("t6"))
        phi.crossJoin(broadcast(tot))
          .select(col("channel"), col("phi6"),
            round(col("phi6").cast("double") / 6.0, 6).as("phi"),
            round(col("phi6").cast("double") / col("t6").cast("double"), 6)
              .as("share"))
          .orderBy("channel")
      },
      Some("""WITH per_user AS (
             |  SELECT user_id,
             |    MIN(CASE WHEN event_type = 'purchase' THEN ts END)
             |      AS firstp
             |  FROM events GROUP BY user_id
             |), touched AS (
             |  SELECT e.user_id, p.firstp,
             |    MAX(CASE WHEN e.event_type = 'click' THEN 1 ELSE 0 END)
             |      AS hc,
             |    MAX(CASE WHEN e.event_type = 'view' THEN 2 ELSE 0 END)
             |      AS hv,
             |    MAX(CASE WHEN e.event_type = 'error' THEN 4 ELSE 0 END)
             |      AS he
             |  FROM events e JOIN per_user p ON e.user_id = p.user_id
             |  WHERE e.event_type IN ('click', 'view', 'error')
             |    AND (p.firstp IS NULL OR e.ts < p.firstp)
             |  GROUP BY 1, 2
             |), empty AS (
             |  SELECT e.user_id, p.firstp
             |  FROM events e JOIN per_user p ON e.user_id = p.user_id
             |  GROUP BY 1, 2
             |  HAVING MAX(CASE WHEN e.event_type IN ('click', 'view',
             |    'error') AND (p.firstp IS NULL OR e.ts < p.firstp)
             |    THEN 1 ELSE 0 END) = 0
             |), journeys AS (
             |  SELECT hc + hv + he AS m,
             |    CASE WHEN firstp IS NOT NULL THEN 1 ELSE 0 END AS conv
             |  FROM touched
             |  UNION ALL
             |  SELECT 0 AS m,
             |    CASE WHEN firstp IS NOT NULL THEN 1 ELSE 0 END AS conv
             |  FROM empty
             |), by_mask AS MATERIALIZED (
             |  SELECT m, CAST(SUM(conv) AS BIGINT) AS cv
             |  FROM journeys GROUP BY m
             |), vtab AS (
             |  SELECT s, CAST(COALESCE(SUM(cv), 0) AS BIGINT) AS v
             |  FROM (SELECT UNNEST(range(0, 8)) AS s) lat
             |  LEFT JOIN by_mask ON (s::INT & m::INT) = m::INT
             |  GROUP BY s
             |), channels AS (
             |  SELECT * FROM (VALUES (1, 'click'), (2, 'view'),
             |    (4, 'error')) AS c(bit, channel)
             |), phi AS (
             |  SELECT channel,
             |    CAST(SUM((CASE WHEN bit_count(a.s::INT) IN (0, 2) THEN 2
             |      ELSE 1 END) * (b.v - a.v)) AS BIGINT) AS phi6
             |  FROM channels
             |  JOIN vtab a ON (a.s::INT & bit::INT) = 0
             |  JOIN vtab b ON b.s = a.s + bit
             |  GROUP BY channel
             |)
             |SELECT channel, phi6,
             |  ROUND(CAST(phi6 AS DOUBLE) / 6.0, 6) AS phi,
             |  ROUND(CAST(phi6 AS DOUBLE)
             |    / CAST((SELECT SUM(phi6) FROM phi) AS DOUBLE), 6) AS share
             |FROM phi
             |ORDER BY channel""".stripMargin)),

    // ---- Little's-law audit: L = λ·W on the 30-minute session system
    // ---- (q308's sweep-line). L from the exact level integral over
    // ---- the observation span, λ and W from exact session counts and
    // ---- µs durations — the ratio is identically 1, which is the
    // ---- audit: any pipeline drift between the two measurement paths
    // ---- breaks it. -------------------------------------------------
    Q("q322_littles_law",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_id"))
        val w = Window.partitionBy("user_id").orderBy(col("us"),
          col("event_id"))
        val gap = 1800000000L
        val sess = ev
          .withColumn("prev", lag(col("us"), 1).over(w))
          .withColumn("brk",
            when(col("prev").isNull || col("us") - col("prev") > gap, 1L)
              .otherwise(0L))
          .withColumn("sid", sum(col("brk")).over(
            Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
              .rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "sid")
          .agg(min(col("us")).as("st"), (max(col("us")) + gap).as("en"))
          .localCheckpoint(true)
        val span = sess.agg(min(col("st")).as("t0"), max(col("en")).as("t1"))
        val deltas = sess.select(col("st").as("ts"), lit(1L).as("d"))
          .unionByName(sess.select(col("en").as("ts"), lit(-1L).as("d")))
          .groupBy("ts").agg(sum(col("d")).as("d"))
        val lInt = deltas
          .withColumn("level", sum(col("d")).over(Window.orderBy("ts")
            .rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("nxt", lead(col("ts"), 1).over(Window.orderBy("ts")))
          .where(col("nxt").isNotNull)
          .agg(sum(col("level") * (col("nxt") - col("ts"))).as("integral"))
        val sides = sess.agg(count(lit(1)).as("n_sessions"),
            sum(col("en") - col("st")).as("total_dur"))
          .crossJoin(broadcast(span)).crossJoin(broadcast(lInt))
        sides.select(col("n_sessions"),
            round(col("n_sessions").cast("double") /
              ((col("t1") - col("t0")).cast("double") / 3.6e9), 6)
              .as("lambda_per_hr"),
            round(col("total_dur").cast("double") /
              col("n_sessions").cast("double") / 6e7, 6).as("w_mean_min"),
            round(col("integral").cast("double") /
              (col("t1") - col("t0")).cast("double"), 6).as("l_avg"),
            round(col("integral").cast("double") /
              col("total_dur").cast("double"), 6).as("ratio"))
      },
      Some("""WITH ev AS (
             |  SELECT user_id, epoch_us(ts) AS us, event_id FROM events
             |), sess AS MATERIALIZED (
             |  SELECT user_id, sid, MIN(us) AS st,
             |    MAX(us) + 1800000000 AS en
             |  FROM (
             |    SELECT user_id, us,
             |      SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
             |        ROWS UNBOUNDED PRECEDING) AS sid
             |    FROM (
             |      SELECT user_id, us, event_id,
             |        CASE WHEN lag(us) OVER (PARTITION BY user_id
             |            ORDER BY us, event_id) IS NULL
             |          OR us - lag(us) OVER (PARTITION BY user_id
             |            ORDER BY us, event_id) > 1800000000
             |          THEN 1 ELSE 0 END AS brk
             |      FROM ev))
             |  GROUP BY user_id, sid
             |), span AS (
             |  SELECT MIN(st) AS t0, MAX(en) AS t1 FROM sess
             |), deltas AS (
             |  SELECT ts, CAST(SUM(d) AS BIGINT) AS d FROM (
             |    SELECT st AS ts, 1 AS d FROM sess
             |    UNION ALL SELECT en, -1 FROM sess)
             |  GROUP BY ts
             |), lint AS (
             |  SELECT CAST(SUM(level * dur) AS BIGINT) AS integral FROM (
             |    SELECT SUM(d) OVER (ORDER BY ts ROWS UNBOUNDED PRECEDING)
             |        AS level,
             |      lead(ts) OVER (ORDER BY ts) - ts AS dur
             |    FROM deltas)
             |  WHERE dur IS NOT NULL
             |), sides AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
             |    CAST(SUM(en - st) AS BIGINT) AS total_dur
             |  FROM sess
             |)
             |SELECT n_sessions,
             |  ROUND(CAST(n_sessions AS DOUBLE)
             |    / (CAST(t1 - t0 AS DOUBLE) / 3.6e9), 6) AS lambda_per_hr,
             |  ROUND(CAST(total_dur AS DOUBLE)
             |    / CAST(n_sessions AS DOUBLE) / 6e7, 6) AS w_mean_min,
             |  ROUND(CAST(integral AS DOUBLE) / CAST(t1 - t0 AS DOUBLE), 6)
             |    AS l_avg,
             |  ROUND(CAST(integral AS DOUBLE) / CAST(total_dur AS DOUBLE), 6)
             |    AS ratio
             |FROM sides CROSS JOIN span CROSS JOIN lint""".stripMargin)),

    // ---- Cochran-Armitage trend test: does the urgent rate trend
    // ---- monotonically across price deciles? Scores 1..10; the
    // ---- statistic's numerator A = N·Σtr − R·Σtn and denominator
    // ---- pieces stay exact BIGINTs; z is signed (positive = richer
    // ---- deciles more urgent). The ordered-dose partner of q144's
    // ---- unordered chi-square. --------------------------------------
    Q("q323_cochran_armitage",
      (s, dir) => {
        // dose deciles via distributed rank (orders-grain)
        val lab = t(s, dir, "orders")
          .select(col("o_totalprice"), col("o_orderkey"),
            col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
              .as("y"))
        val nAll = lab.agg(count(lit(1)).as("n_all"))
        val deciles = graft.operators.Ranks
          .withGlobalRank(lab,
            Seq(asc("o_totalprice"), asc("o_orderkey")), "rn")
          .crossJoin(broadcast(nAll))
          .select(graft.operators.Ranks
              .ntileFromRank(col("rn"), col("n_all"), 10).cast("long").as("t"),
            col("y"))
          .groupBy("t")
          .agg(count(lit(1)).as("n_i"), sum(col("y")).as("r_i"))
        deciles.agg(sum(col("n_i")).as("n"), sum(col("r_i")).as("r"),
            sum(col("t") * col("n_i")).as("tn"),
            sum(col("t") * col("r_i")).as("tr"),
            sum(col("t") * col("t") * col("n_i")).as("ttn"))
          .select(col("n"), col("r"),
            (col("n") * col("tr") - col("r") * col("tn")).as("a"),
            (col("r") * (col("n") - col("r"))).as("rr"),
            (col("n") * col("ttn") - col("tn") * col("tn")).as("c"))
          .select(col("n"), col("r"),
            round(col("a").cast("double") /
              sqrt(col("rr").cast("double") * col("c").cast("double") /
                col("n").cast("double")), 6).as("z"),
            round(col("a").cast("double") * col("a").cast("double") *
              col("n").cast("double") /
              (col("rr").cast("double") * col("c").cast("double")), 6)
              .as("chi2_trend"))
      },
      Some("""WITH deciles AS (
             |  SELECT t, CAST(COUNT(*) AS BIGINT) AS n_i,
             |    CAST(SUM(y) AS BIGINT) AS r_i
             |  FROM (
             |    SELECT CAST(NTILE(10) OVER (ORDER BY o_totalprice,
             |      o_orderkey) AS BIGINT) AS t,
             |      CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |        THEN 1 ELSE 0 END AS y
             |    FROM orders)
             |  GROUP BY t
             |), m AS (
             |  SELECT CAST(SUM(n_i) AS BIGINT) AS n,
             |    CAST(SUM(r_i) AS BIGINT) AS r,
             |    CAST(SUM(t * n_i) AS BIGINT) AS tn,
             |    CAST(SUM(t * r_i) AS BIGINT) AS tr,
             |    CAST(SUM(t * t * n_i) AS BIGINT) AS ttn
             |  FROM deciles
             |), pieces AS (
             |  SELECT n, r, n * tr - r * tn AS a, r * (n - r) AS rr,
             |    n * ttn - tn * tn AS c
             |  FROM m
             |)
             |SELECT n, r,
             |  ROUND(CAST(a AS DOUBLE) / sqrt(CAST(rr AS DOUBLE)
             |    * CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS z,
             |  ROUND(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)
             |    * CAST(n AS DOUBLE)
             |    / (CAST(rr AS DOUBLE) * CAST(c AS DOUBLE)), 6)
             |    AS chi2_trend
             |FROM pieces""".stripMargin)),

    // ---- Gumbel block-maxima fit: monthly maximum order value as the
    // ---- block series; method-of-moments β̂ = s√6/π, μ̂ = m − γβ̂, and
    // ---- the implied 99th-percentile return level vs the empirical
    // ---- maximum. Exact cent moments over ~80 block rows; the
    // ---- distribution-fitting partner of q282's peaks-over-threshold
    // ---- Hill tail. -------------------------------------------------
    Q("q324_gumbel_maxima",
      (s, dir) => {
        val blocks = t(s, dir, "orders")
          .groupBy((year(col("o_orderdate")) * 100 +
            month(col("o_orderdate"))).as("ym"))
          .agg(max(round(col("o_totalprice") * 100).cast("long")).as("mx"))
        blocks.agg(count(lit(1)).as("n_blocks"),
            sum(col("mx").cast(DecimalType(38, 0))).cast("double").as("s"),
            sum((col("mx") * col("mx")).cast(DecimalType(38, 0)))
              .cast("double").as("sq"),
            max(col("mx")).as("emp_max"))
          .select(col("n_blocks"), col("emp_max"),
            (col("s") / col("n_blocks")).as("m"),
            sqrt((col("sq") - col("s") * col("s") / col("n_blocks")) /
              (col("n_blocks") - 1L)).as("sd"))
          .select(col("n_blocks"),
            round(col("emp_max") / lit(100.0), 2).as("empirical_max"),
            round((col("m") - lit(EulerGamma) * col("sd") *
              sqrt(lit(6.0)) / lit(math.Pi)) / lit(100.0), 2).as("mu"),
            round(col("sd") * sqrt(lit(6.0)) / lit(math.Pi) / lit(100.0), 2)
              .as("beta"),
            round((col("m") - lit(EulerGamma) * col("sd") * sqrt(lit(6.0)) /
              lit(math.Pi) - col("sd") * sqrt(lit(6.0)) / lit(math.Pi) *
              log(-log(lit(0.99)))) / lit(100.0), 2).as("return_level_99"))
      },
      Some(s"""WITH blocks AS (
             |  SELECT YEAR(o_orderdate) * 100 + MONTH(o_orderdate) AS ym,
             |    MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS mx
             |  FROM orders GROUP BY 1
             |), m AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
             |    CAST(SUM(CAST(mx AS DECIMAL(38, 0))) AS DOUBLE) AS s,
             |    CAST(SUM(CAST(mx * mx AS DECIMAL(38, 0))) AS DOUBLE) AS sq,
             |    CAST(MAX(mx) AS BIGINT) AS emp_max
             |  FROM blocks
             |), base AS (
             |  SELECT n_blocks, emp_max, s / n_blocks AS mean,
             |    sqrt((sq - s * s / n_blocks) / (n_blocks - 1)) AS sd
             |  FROM m
             |)
             |SELECT n_blocks,
             |  ROUND(emp_max / 100.0, 2) AS empirical_max,
             |  ROUND((mean - $EulerGamma * sd * sqrt(6.0) / pi()) / 100.0,
             |    2) AS mu,
             |  ROUND(sd * sqrt(6.0) / pi() / 100.0, 2) AS beta,
             |  ROUND((mean - $EulerGamma * sd * sqrt(6.0) / pi()
             |    - sd * sqrt(6.0) / pi() * ln(-ln(0.99))) / 100.0, 2)
             |    AS return_level_99
             |FROM base""".stripMargin)),

    // ---- deterministic RANSAC on the monthly revenue trend: 16
    // ---- trials, each fitting the line through the two months drawn
    // ---- by md5 order (arg-min / arg-max of the trial-salted hash),
    // ---- scoring inliers at 5% relative residual, keeping the
    // ---- best-consensus trial. One scan builds the series; trials
    // ---- are a broadcast 16-row table — the robust alternative to
    // ---- q128's least-squares on anomaly-contaminated series. -------
    Q("q325_ransac_trend",
      (s, dir) => {
        val monthly = t(s, dir, "orders")
          .groupBy((year(col("o_orderdate")) * 100 +
            month(col("o_orderdate"))).as("ym"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev"))
          .withColumn("x", row_number().over(Window.orderBy("ym"))
            .cast("long"))
          .localCheckpoint(true)
        val trials = monthly.crossJoin(
            monthly.sparkSession.range(1, RansacTrials + 1).toDF("k"))
          .select(col("k"), col("x"), col("rev"),
            md5(concat_ws("|", col("k"), col("ym"))).as("h"),
            (col("x") * lit(1000000000000000L) + col("rev")).as("packed"))
        val lines = trials.groupBy("k")
          .agg(min_by(col("packed"), col("h")).as("p1"),
            max_by(col("packed"), col("h")).as("p2"))
          .select(col("k"),
            // integer div: packed exceeds 2^53, double division would
            // corrupt the unpack
            expr("p1 div 1000000000000000").as("x1"),
            (col("p1") % lit(1000000000000000L)).as("y1"),
            expr("p2 div 1000000000000000").as("x2"),
            (col("p2") % lit(1000000000000000L)).as("y2"))
          .where(col("x1") =!= col("x2"))
          .select(col("k"),
            ((col("y2") - col("y1")).cast("double") /
              (col("x2") - col("x1")).cast("double")).as("slope"),
            (col("y1").cast("double") - (col("y2") - col("y1")).cast("double")
              / (col("x2") - col("x1")).cast("double") *
              col("x1").cast("double")).as("icept"))
        val scored = monthly.crossJoin(broadcast(lines))
          .select(col("k"), col("slope"), col("icept"),
            (abs(col("rev").cast("double") -
              (col("icept") + col("slope") * col("x").cast("double"))) *
              lit(20.0) <=
              abs(col("icept") + col("slope") * col("x").cast("double")))
              .cast("long").as("inlier"))
          .groupBy("k", "slope", "icept")
          .agg(sum(col("inlier")).as("inliers"), count(lit(1)).as("n"))
        scored.orderBy(desc("inliers"), asc("k")).limit(1)
          .select(col("k").as("best_trial"), col("inliers"), col("n"),
            round(col("slope") / lit(100.0), 4).as("slope"),
            round(col("icept") / lit(100.0), 2).as("intercept"),
            round(col("inliers").cast("double") / col("n").cast("double"),
              6).as("consensus"))
      },
      Some(s"""WITH monthly AS MATERIALIZED (
             |  SELECT ym, rev,
             |    CAST(ROW_NUMBER() OVER (ORDER BY ym) AS BIGINT) AS x
             |  FROM (
             |    SELECT YEAR(o_orderdate) * 100 + MONTH(o_orderdate) AS ym,
             |      CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
             |        AS BIGINT) AS rev
             |    FROM orders GROUP BY 1)
             |), trials AS (
             |  SELECT k, x, rev, md5(k || '|' || ym) AS h,
             |    x * 1000000000000000 + rev AS packed
             |  FROM monthly
             |  CROSS JOIN (SELECT UNNEST(range(1, ${RansacTrials + 1}))
             |    AS k)
             |), lines AS (
             |  SELECT k, x1, y1, x2, y2,
             |    CAST(y2 - y1 AS DOUBLE) / CAST(x2 - x1 AS DOUBLE) AS slope,
             |    CAST(y1 AS DOUBLE) - CAST(y2 - y1 AS DOUBLE)
             |      / CAST(x2 - x1 AS DOUBLE) * CAST(x1 AS DOUBLE) AS icept
             |  FROM (
             |    SELECT k,
             |      CAST(arg_min(packed, h) // 1000000000000000 AS BIGINT)
             |        AS x1,
             |      CAST(arg_min(packed, h) % 1000000000000000 AS BIGINT)
             |        AS y1,
             |      CAST(arg_max(packed, h) // 1000000000000000 AS BIGINT)
             |        AS x2,
             |      CAST(arg_max(packed, h) % 1000000000000000 AS BIGINT)
             |        AS y2
             |    FROM trials GROUP BY k)
             |  WHERE x1 <> x2
             |), scored AS (
             |  SELECT k, slope, icept,
             |    CAST(SUM(CASE WHEN ABS(CAST(rev AS DOUBLE)
             |        - (icept + slope * CAST(x AS DOUBLE))) * 20.0
             |        <= ABS(icept + slope * CAST(x AS DOUBLE))
             |      THEN 1 ELSE 0 END) AS BIGINT) AS inliers,
             |    CAST(COUNT(*) AS BIGINT) AS n
             |  FROM monthly CROSS JOIN lines
             |  GROUP BY 1, 2, 3
             |)
             |SELECT k AS best_trial, inliers, n,
             |  ROUND(slope / 100.0, 4) AS slope,
             |  ROUND(icept / 100.0, 2) AS intercept,
             |  ROUND(CAST(inliers AS DOUBLE) / CAST(n AS DOUBLE), 6)
             |    AS consensus
             |FROM scored
             |ORDER BY inliers DESC, k LIMIT 1""".stripMargin))
  )
}
