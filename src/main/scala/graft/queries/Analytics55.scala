package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Fifty-fifth analytics pack (round 6, session 9): survey estimation
  * and sampling theory — the Horvitz-Thompson estimator under unequal
  * power-of-two inclusion probabilities, delete-one-month jackknife
  * variance of a ratio estimator, the Kish effective sample size /
  * design effect, the stationary distribution of the event-type
  * Markov chain (micro-unit power iteration, q291's unrolled-CTE
  * oracle pattern), and an exponentiality check of event
  * inter-arrivals (moment CV + one-sample KS distance).
  *
  * Exactness discipline: inclusion weights are powers of two so every
  * HT term is an exact integer; jackknife replicates ride the round-9
  * grid; the power iteration runs in integer micro-units with
  * truncating division replicated verbatim in both engines. */
object Analytics55 {

  /** Power iteration steps for q384 (kept modest: the chain mixes
    * fast and every extra step is k² work in both engines). */
  private val PiSteps = 20

  val all: Seq[Q] = Seq(

    // ---- Horvitz-Thompson population-total estimator: inclusion
    // ---- probability 1/w per priority with w ∈ {1,2,4,8,16}, the
    // ---- Bernoulli draw is md5(okey) mod w = 0 (16^6 divides evenly,
    // ---- so probabilities are exact); HT = Σ w·y over the sample is
    // ---- an exact cent sum compared against the true total. --------
    Q("q381_horvitz_thompson",
      (s, dir) => {
        val base = t(s, dir, "orders")
          .select(col("o_orderkey").as("okey"),
            round(col("o_totalprice") * 100).cast("long").as("cents"),
            when(col("o_orderpriority") === "1-URGENT", 1L)
              .when(col("o_orderpriority") === "2-HIGH", 2L)
              .when(col("o_orderpriority") === "3-MEDIUM", 4L)
              .when(col("o_orderpriority") === "4-NOT SPECIFIED", 8L)
              .otherwise(16L).as("w"))
          .withColumn("h",
            conv(substring(md5(col("okey").cast("string")), 1, 6),
              16, 10).cast("long"))
        base.agg(count(lit(1)).as("n_population"),
          sum(when(col("h") % col("w") === 0L, 1L).otherwise(0L))
            .as("n_sampled"),
          sum(when(col("h") % col("w") === 0L, col("w") * col("cents"))
            .otherwise(0L)).as("ht"),
          sum(col("cents")).as("tru"))
          .select(col("n_population"), col("n_sampled"),
            round(col("ht").cast("double") / 100.0, 2)
              .as("ht_total_dollars"),
            round(col("tru").cast("double") / 100.0, 2)
              .as("true_total_dollars"),
            round((col("ht") - col("tru")).cast("double")
              / col("tru").cast("double"), 6).as("rel_err"))
      },
      Some("""WITH base AS (
             |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             |    CASE o_orderpriority WHEN '1-URGENT' THEN 1
             |      WHEN '2-HIGH' THEN 2 WHEN '3-MEDIUM' THEN 4
             |      WHEN '4-NOT SPECIFIED' THEN 8 ELSE 16 END AS w,
             |    ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 6))
             |      ::BIGINT AS h
             |  FROM orders
             |), agg AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_population,
             |    CAST(SUM(CASE WHEN h % w = 0 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_sampled,
             |    CAST(SUM(CASE WHEN h % w = 0 THEN w * cents ELSE 0 END)
             |      AS BIGINT) AS ht,
             |    CAST(SUM(cents) AS BIGINT) AS tru
             |  FROM base
             |)
             |SELECT n_population, n_sampled,
             |  ROUND(CAST(ht AS DOUBLE) / 100.0, 2) AS ht_total_dollars,
             |  ROUND(CAST(tru AS DOUBLE) / 100.0, 2)
             |    AS true_total_dollars,
             |  ROUND(CAST(ht - tru AS DOUBLE) / CAST(tru AS DOUBLE), 6)
             |    AS rel_err
             |FROM agg""".stripMargin)),

    // ---- delete-one-month jackknife variance of the ratio estimator
    // ---- R = Σ price / Σ quantity over lineitem: replicates from the
    // ---- exact totals minus each month's exact cell, each replicate
    // ---- round-9 gridded, SE from the exact decimal ΣR / ΣR². ------
    Q("q382_jackknife_ratio",
      (s, dir) => {
        val cells = t(s, dir, "lineitem")
          .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("mon"))
          .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
            .as("p"),
            sum(round(col("l_quantity") * 100).cast("long")).as("q"))
        val tot = cells.agg(sum(col("p")).as("sp"), sum(col("q")).as("sq"))
        val reps = cells.crossJoin(broadcast(tot))
          .select(round((col("sp") - col("p")).cast("double")
            / (col("sq") - col("q")).cast("double"), 9).as("r"))
        reps
          .agg(count(lit(1)).as("m"),
            sum(col("r").cast(DecimalType(38, 9))).as("s1"),
            // grid r^2 itself: decimal(38,9)^2 promotion differs
            // between engines, a round-9 product does not
            sum(round(col("r") * col("r"), 9).cast(DecimalType(38, 9)))
              .as("s2"))
          .crossJoin(broadcast(tot))
          .select(col("m").as("m_months"),
            round(col("sp").cast("double") / col("sq").cast("double"), 6)
              .as("r_hat"),
            round(sqrt((col("m") - 1L).cast("double")
              / col("m").cast("double")
              * (col("s2").cast("double")
                - col("s1").cast("double") * col("s1").cast("double")
                  / col("m").cast("double"))), 6).as("jack_se"))
      },
      Some("""WITH cells AS (
             |  SELECT strftime(l_shipdate, '%Y-%m') AS mon,
             |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
             |      AS BIGINT) AS p,
             |    CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT))
             |      AS BIGINT) AS q
             |  FROM lineitem GROUP BY 1
             |), tot AS (
             |  SELECT CAST(SUM(p) AS BIGINT) AS sp,
             |    CAST(SUM(q) AS BIGINT) AS sq
             |  FROM cells
             |), reps AS (
             |  SELECT ROUND(CAST(sp - p AS DOUBLE)
             |    / CAST(sq - q AS DOUBLE), 9) AS r
             |  FROM cells CROSS JOIN tot
             |), agg AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS m,
             |    SUM(CAST(r AS DECIMAL(38, 9))) AS s1,
             |    SUM(CAST(ROUND(r * r, 9) AS DECIMAL(38, 9))) AS s2
             |  FROM reps
             |)
             |SELECT m AS m_months,
             |  ROUND(CAST(sp AS DOUBLE) / CAST(sq AS DOUBLE), 6)
             |    AS r_hat,
             |  ROUND(sqrt(CAST(m - 1 AS DOUBLE) / CAST(m AS DOUBLE)
             |    * (CAST(s2 AS DOUBLE)
             |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
             |        / CAST(m AS DOUBLE))), 6) AS jack_se
             |FROM agg CROSS JOIN tot""".stripMargin)),

    // ---- Kish effective sample size and design effect for the
    // ---- quantity-weighted lineitem sample: n_eff = (Σw)²/Σw²,
    // ---- deff = n·Σw²/(Σw)² from exact integer weight moments. -----
    Q("q383_kish_design_effect",
      (s, dir) => {
        t(s, dir, "lineitem")
          .select(round(col("l_quantity") * 100).cast("long").as("w"))
          .agg(count(lit(1)).as("n"), sum(col("w")).as("sw"),
            sum(col("w").cast(DecimalType(38, 0)) * col("w")).as("sw2"))
          .select(col("n"),
            round(col("sw").cast("double") * col("sw").cast("double")
              / col("sw2").cast("double"), 3).as("n_eff"),
            round(col("n").cast("double") * col("sw2").cast("double")
              / (col("sw").cast("double") * col("sw").cast("double")), 6)
              .as("deff"))
      },
      Some("""WITH w AS (
             |  SELECT CAST(ROUND(l_quantity * 100) AS BIGINT) AS w
             |  FROM lineitem
             |), agg AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(w) AS BIGINT) AS sw,
             |    SUM(CAST(w AS DECIMAL(38, 0)) * w) AS sw2
             |  FROM w
             |)
             |SELECT n,
             |  ROUND(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
             |    / CAST(sw2 AS DOUBLE), 3) AS n_eff,
             |  ROUND(CAST(n AS DOUBLE) * CAST(sw2 AS DOUBLE)
             |    / (CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)), 6) AS deff
             |FROM agg""".stripMargin)),

    // ---- stationary distribution of the event-type Markov chain:
    // ---- transition counts from consecutive per-user events, then 20
    // ---- power-iteration steps in integer micro-units (1e9 grid,
    // ---- truncating division replicated verbatim in the unrolled-CTE
    // ---- oracle — q291's pattern). Metadata-sized k×k collect. -----
    Q("q384_markov_stationary",
      (s, dir) => {
        val seq0 = t(s, dir, "events")
          .select(col("user_id"), col("event_type"),
            row_number().over(Window.partitionBy("user_id")
              .orderBy(col("ts"), col("event_id"))).as("rn"))
        val trans0 = seq0.as("a").join(seq0.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("b.rn") === col("a.rn") + 1)
          .groupBy(col("a.event_type").as("cur"),
            col("b.event_type").as("nxt"))
          .agg(count(lit(1)).as("c"))
        // event-type × event-type transition lattice (≤ |types|²) —
        // bounded driver collect, fails fast on cardinality surprise
        val trans = graft.operators.Lattice.collectBounded(trans0,
            10000, "q384 event-type transition matrix")
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        val states = trans.flatMap(tr => Seq(tr._1, tr._2))
          .distinct.sorted
        val k = states.length.toLong
        val outDeg = trans.groupBy(_._1)
          .map { case (st, v) => st -> v.map(_._3).sum }
        val byTarget = trans.groupBy(_._2)
        var v: Map[String, Long] =
          states.map(st => st -> 1000000000L / k).toMap
        for (_ <- 1 to PiSteps) {
          v = states.map { st =>
            val num = byTarget.getOrElse(st, Array.empty[(String,
              String, Long)])
              .map { case (i, _, c) => v(i) * c / outDeg(i) }.sum
            st -> num
          }.toMap
        }
        import s.implicits._
        states.map(st => (st, v(st))).toSeq
          .toDF("event_type", "p_units")
          .select(col("event_type"), col("p_units"),
            round(col("p_units").cast("double") / 1e9, 6)
              .as("stationary"))
          .orderBy("event_type")
      },
      Some {
        val steps = (1 to PiSteps).map { k =>
          s"""p$k AS MATERIALIZED (
             |  SELECT s.st,
             |    COALESCE((
             |      SELECT CAST(SUM((pp.pu * t.c) // d.d) AS BIGINT)
             |      FROM trans t
             |      JOIN p${k - 1} pp ON pp.st = t.cur
             |      JOIN deg d ON d.cur = t.cur
             |      WHERE t.nxt = s.st), 0) AS pu
             |  FROM states s
             |)""".stripMargin
        }.mkString(",\n")
        s"""WITH seq AS MATERIALIZED (
           |  SELECT user_id, event_type,
           |    ROW_NUMBER() OVER (PARTITION BY user_id
           |      ORDER BY ts, event_id) AS rn
           |  FROM events
           |), trans AS MATERIALIZED (
           |  SELECT a.event_type AS cur, b.event_type AS nxt,
           |    CAST(COUNT(*) AS BIGINT) AS c
           |  FROM seq a JOIN seq b
           |    ON a.user_id = b.user_id AND b.rn = a.rn + 1
           |  GROUP BY 1, 2
           |), states AS MATERIALIZED (
           |  SELECT DISTINCT st FROM (
           |    SELECT cur AS st FROM trans
           |    UNION SELECT nxt FROM trans) z
           |), deg AS MATERIALIZED (
           |  SELECT cur, CAST(SUM(c) AS BIGINT) AS d
           |  FROM trans GROUP BY 1
           |), p0 AS MATERIALIZED (
           |  SELECT st, CAST(1000000000 //
           |    (SELECT COUNT(*) FROM states) AS BIGINT) AS pu
           |  FROM states
           |),
           |$steps
           |SELECT st AS event_type, pu AS p_units,
           |  ROUND(CAST(pu AS DOUBLE) / 1e9, 6) AS stationary
           |FROM p$PiSteps
           |ORDER BY event_type""".stripMargin
      }),

    // ---- exponentiality check of per-user event inter-arrivals:
    // ---- moment CV from exact second-gap sums (CV = 1 under a
    // ---- Poisson process) and the one-sample KS distance against
    // ---- Exp(1/mean), evaluated on the distinct-gap ECDF ladder. ---
    Q("q385_interarrival_expcheck",
      (s, dir) => {
        val gaps = t(s, dir, "events")
          .select(col("user_id"),
            unix_micros(col("ts")).as("us"), col("event_id"))
          .withColumn("prev", lag(col("us"), 1).over(
            Window.partitionBy("user_id")
              .orderBy(col("us"), col("event_id"))))
          .where(col("prev").isNotNull)
          .select((col("us") - col("prev")).as("g"))
          .where(col("g") >= 1L)
        val byval = gaps.groupBy("g").agg(count(lit(1)).as("cnt"))
        val tot = byval.agg(sum(col("cnt")).as("n"),
          sum(col("g") * col("cnt")).as("sg"),
          sum(col("g").cast(DecimalType(38, 0)) * col("g")
            * col("cnt")).as("sg2"))
        val w = Window.orderBy("g")
        byval
          .withColumn("cum", sum(col("cnt")).over(w))
          .crossJoin(broadcast(tot))
          .select(col("n"), col("sg"), col("sg2"),
            round(greatest(
              abs(col("cum").cast("double") / col("n").cast("double")
                - (lit(1.0) - exp(lit(-1.0) * col("g").cast("double")
                  * col("n").cast("double") / col("sg").cast("double")))),
              abs((col("cum") - col("cnt")).cast("double")
                / col("n").cast("double")
                - (lit(1.0) - exp(lit(-1.0) * col("g").cast("double")
                  * col("n").cast("double") / col("sg").cast("double"))))),
              9).as("dev"))
          .groupBy("n", "sg", "sg2")
          .agg(max(col("dev")).as("ks"))
          .select(col("n").as("n_gaps"),
            round(col("sg").cast("double") / col("n").cast("double")
              / 1e6, 3).as("mean_gap_s"),
            round(sqrt(col("sg2").cast("double")
              / col("n").cast("double")
              - (col("sg").cast("double") / col("n").cast("double"))
                * (col("sg").cast("double") / col("n").cast("double")))
              / (col("sg").cast("double") / col("n").cast("double")), 6)
              .as("cv"),
            round(col("ks"), 6).as("ks_d"))
      },
      Some("""WITH gaps AS (
             |  SELECT g FROM (
             |    SELECT epoch_us(ts)
             |      - LAG(epoch_us(ts)) OVER (
             |        PARTITION BY user_id
             |        ORDER BY epoch_us(ts), event_id) AS g
             |    FROM events) z
             |  WHERE g >= 1
             |), byval AS (
             |  SELECT g, CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM gaps GROUP BY 1
             |), tot AS (
             |  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
             |    CAST(SUM(g * cnt) AS BIGINT) AS sg,
             |    SUM(CAST(g AS DECIMAL(38, 0)) * g * cnt) AS sg2
             |  FROM byval
             |), devs AS (
             |  SELECT n, sg, sg2,
             |    ROUND(GREATEST(
             |      ABS(CAST(cum AS DOUBLE) / CAST(n AS DOUBLE)
             |        - (1.0 - exp(-1.0 * CAST(g AS DOUBLE)
             |          * CAST(n AS DOUBLE) / CAST(sg AS DOUBLE)))),
             |      ABS(CAST(cum - cnt AS DOUBLE) / CAST(n AS DOUBLE)
             |        - (1.0 - exp(-1.0 * CAST(g AS DOUBLE)
             |          * CAST(n AS DOUBLE) / CAST(sg AS DOUBLE))))), 9)
             |      AS dev
             |  FROM (
             |    SELECT g, cnt,
             |      CAST(SUM(cnt) OVER (ORDER BY g) AS BIGINT) AS cum
             |    FROM byval) c
             |  CROSS JOIN tot
             |)
             |SELECT n AS n_gaps,
             |  ROUND(CAST(sg AS DOUBLE) / CAST(n AS DOUBLE) / 1e6, 3)
             |    AS mean_gap_s,
             |  ROUND(sqrt(CAST(sg2 AS DOUBLE) / CAST(n AS DOUBLE)
             |    - (CAST(sg AS DOUBLE) / CAST(n AS DOUBLE))
             |      * (CAST(sg AS DOUBLE) / CAST(n AS DOUBLE)))
             |    / (CAST(sg AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS cv,
             |  ROUND(MAX(dev), 6) AS ks_d
             |FROM devs GROUP BY n, sg, sg2""".stripMargin)),
  )
}
