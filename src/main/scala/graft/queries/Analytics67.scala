package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Sixty-seventh analytics pack (round 6, session 9): trade-flow
  * analytics over the customer-nation × supplier-nation revenue
  * matrix — a log-log gravity model (closed-form two-regressor OLS),
  * net trade positions, partner diversification (effective partner
  * count), the intra- vs inter-region trade split with a mass
  * independence chi-square, and year-over-year market-share
  * stability.
  *
  * Exactness discipline: the 25×25 flow matrix is exact cents; ln
  * masses ride the round-9 grid; the gravity normal equations and
  * every share are one identical double expression; share deltas are
  * integer cross-products scaled once. */
object Analytics67 {

  /** (cnat, snat, cents): customer-nation × supplier-nation flows. */
  private def flows(s: SparkSession, dir: String): DataFrame =
    // NOTE r12: loadParallel was tried here and measured +29..50% —
    // the (cnat, snat) aggregate collapses to a ≤625-row lattice, so
    // the round-robin exchange costs more than the single-task probe
    // it parallelizes. Plain scan kept.
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey")), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer").select(col("c_custkey"),
        col("c_nationkey").as("cnat"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "supplier").select(col("s_suppkey"),
        col("s_nationkey").as("snat"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("cnat", "snat")
      .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
        .as("cents"))

  /** The flow matrix as a shared ingest-time artifact (r13, guide §2.4
    * share-one-materialization — the q446–450 edge-artifact pattern):
    * q441–q444 each rebuilt the 4-table join + aggregate per rep, and
    * three of them eagerly localCheckpointed the identical ≤625-row
    * lattice on top. One IndexCache build per (session, dir) —
    * MEMORY_AND_DISK + eager count, first consumer pays the build
    * inside its timed region; nothing persists across runs. */
  private def flowsCached(s: SparkSession, dir: String): DataFrame =
    graft.sim.IndexCache.getOrBuild(s, s"trade-flows:$dir")(flows(s, dir))

  private val FlowsSql =
    """flows AS MATERIALIZED (
      |  SELECT c_nationkey AS cnat, s_nationkey AS snat,
      |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY 1, 2
      |)""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- log-log gravity model: ln(flow) on ln(customer mass) and
    // ---- ln(supplier mass), closed-form two-regressor OLS from
    // ---- round-9 gridded centered moments (q339's solve shape). ----
    Q("q441_trade_gravity",
      (s, dir) => {
        val f = flowsCached(s, dir)
        val cm = f.groupBy("cnat").agg(sum(col("cents")).as("cmass"))
        val sm = f.groupBy("snat").agg(sum(col("cents")).as("smass"))
        val pts = f.join(broadcast(cm), Seq("cnat"))
          .join(broadcast(sm), Seq("snat"))
          .select(round(log(col("cents").cast("double")), 9).as("y"),
            round(log(col("cmass").cast("double")), 9).as("x1"),
            round(log(col("smass").cast("double")), 9).as("x2"))
        val m = pts.agg(count(lit(1)).as("n"),
          sum(col("y").cast(DecimalType(38, 9))).cast("double").as("sy"),
          sum(col("x1").cast(DecimalType(38, 9))).cast("double")
            .as("s1"),
          sum(col("x2").cast(DecimalType(38, 9))).cast("double")
            .as("s2"),
          sum(round(col("x1") * col("y"), 9).cast(DecimalType(38, 9)))
            .cast("double").as("s1y"),
          sum(round(col("x2") * col("y"), 9).cast(DecimalType(38, 9)))
            .cast("double").as("s2y"),
          sum(round(col("x1") * col("x1"), 9).cast(DecimalType(38, 9)))
            .cast("double").as("s11"),
          sum(round(col("x2") * col("x2"), 9).cast(DecimalType(38, 9)))
            .cast("double").as("s22"),
          sum(round(col("x1") * col("x2"), 9).cast(DecimalType(38, 9)))
            .cast("double").as("s12"),
          sum(round(col("y") * col("y"), 9).cast(DecimalType(38, 9)))
            .cast("double").as("syy"))
        m.select(col("n").as("n_flows"),
          round(((col("s22") - col("s2") * col("s2")
            / col("n").cast("double"))
            * (col("s1y") - col("s1") * col("sy")
              / col("n").cast("double"))
            - (col("s12") - col("s1") * col("s2")
              / col("n").cast("double"))
              * (col("s2y") - col("s2") * col("sy")
                / col("n").cast("double")))
            / ((col("s11") - col("s1") * col("s1")
              / col("n").cast("double"))
              * (col("s22") - col("s2") * col("s2")
                / col("n").cast("double"))
              - (col("s12") - col("s1") * col("s2")
                / col("n").cast("double"))
                * (col("s12") - col("s1") * col("s2")
                  / col("n").cast("double"))), 6).as("beta_customer"),
          round(((col("s11") - col("s1") * col("s1")
            / col("n").cast("double"))
            * (col("s2y") - col("s2") * col("sy")
              / col("n").cast("double"))
            - (col("s12") - col("s1") * col("s2")
              / col("n").cast("double"))
              * (col("s1y") - col("s1") * col("sy")
                / col("n").cast("double")))
            / ((col("s11") - col("s1") * col("s1")
              / col("n").cast("double"))
              * (col("s22") - col("s2") * col("s2")
                / col("n").cast("double"))
              - (col("s12") - col("s1") * col("s2")
                / col("n").cast("double"))
                * (col("s12") - col("s1") * col("s2")
                  / col("n").cast("double"))), 6).as("beta_supplier"))
      },
      Some(s"""WITH $FlowsSql, cm AS (
             |  SELECT cnat, CAST(SUM(cents) AS BIGINT) AS cmass
             |  FROM flows GROUP BY 1
             |), sm AS (
             |  SELECT snat, CAST(SUM(cents) AS BIGINT) AS smass
             |  FROM flows GROUP BY 1
             |), pts AS (
             |  SELECT ROUND(ln(CAST(cents AS DOUBLE)), 9) AS y,
             |    ROUND(ln(CAST(cmass AS DOUBLE)), 9) AS x1,
             |    ROUND(ln(CAST(smass AS DOUBLE)), 9) AS x2
             |  FROM flows JOIN cm USING (cnat) JOIN sm USING (snat)
             |), m AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(CAST(y AS DECIMAL(38, 9))) AS DOUBLE) AS sy,
             |    CAST(SUM(CAST(x1 AS DECIMAL(38, 9))) AS DOUBLE) AS s1,
             |    CAST(SUM(CAST(x2 AS DECIMAL(38, 9))) AS DOUBLE) AS s2,
             |    CAST(SUM(CAST(ROUND(x1 * y, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS s1y,
             |    CAST(SUM(CAST(ROUND(x2 * y, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS s2y,
             |    CAST(SUM(CAST(ROUND(x1 * x1, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS s11,
             |    CAST(SUM(CAST(ROUND(x2 * x2, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS s22,
             |    CAST(SUM(CAST(ROUND(x1 * x2, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS s12,
             |    CAST(SUM(CAST(ROUND(y * y, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS syy
             |  FROM pts
             |)
             |SELECT n AS n_flows,
             |  ROUND(((s22 - s2 * s2 / CAST(n AS DOUBLE))
             |    * (s1y - s1 * sy / CAST(n AS DOUBLE))
             |    - (s12 - s1 * s2 / CAST(n AS DOUBLE))
             |      * (s2y - s2 * sy / CAST(n AS DOUBLE)))
             |    / ((s11 - s1 * s1 / CAST(n AS DOUBLE))
             |      * (s22 - s2 * s2 / CAST(n AS DOUBLE))
             |      - (s12 - s1 * s2 / CAST(n AS DOUBLE))
             |        * (s12 - s1 * s2 / CAST(n AS DOUBLE))), 6)
             |    AS beta_customer,
             |  ROUND(((s11 - s1 * s1 / CAST(n AS DOUBLE))
             |    * (s2y - s2 * sy / CAST(n AS DOUBLE))
             |    - (s12 - s1 * s2 / CAST(n AS DOUBLE))
             |      * (s1y - s1 * sy / CAST(n AS DOUBLE)))
             |    / ((s11 - s1 * s1 / CAST(n AS DOUBLE))
             |      * (s22 - s2 * s2 / CAST(n AS DOUBLE))
             |      - (s12 - s1 * s2 / CAST(n AS DOUBLE))
             |        * (s12 - s1 * s2 / CAST(n AS DOUBLE))), 6)
             |    AS beta_supplier
             |FROM m""".stripMargin)),

    // ---- net trade positions: per nation, supplier-side vs
    // ---- customer-side revenue and the net balance in dollars. -----
    Q("q442_trade_balance",
      (s, dir) => {
        val f = flowsCached(s, dir)
        val asSupp = f.groupBy(col("snat").as("nk"))
          .agg(sum(col("cents")).as("exports"))
        val asCust = f.groupBy(col("cnat").as("nk"))
          .agg(sum(col("cents")).as("imports"))
        asSupp.join(asCust, Seq("nk"), "full_outer")
          .join(broadcast(t(s, dir, "nation")
            .select(col("n_nationkey").as("nk"), col("n_name"))),
            Seq("nk"))
          .select(col("n_name").as("nation"),
            round(coalesce(col("exports"), lit(0L)).cast("double")
              / 100.0, 2).as("exports_dollars"),
            round(coalesce(col("imports"), lit(0L)).cast("double")
              / 100.0, 2).as("imports_dollars"),
            round((coalesce(col("exports"), lit(0L))
              - coalesce(col("imports"), lit(0L))).cast("double")
              / 100.0, 2).as("net_dollars"))
      },
      Some(s"""WITH $FlowsSql, a AS (
             |  SELECT snat AS nk, CAST(SUM(cents) AS BIGINT) AS exports
             |  FROM flows GROUP BY 1
             |), b AS (
             |  SELECT cnat AS nk, CAST(SUM(cents) AS BIGINT) AS imports
             |  FROM flows GROUP BY 1
             |)
             |SELECT n_name AS nation,
             |  ROUND(CAST(COALESCE(exports, 0) AS DOUBLE) / 100.0, 2)
             |    AS exports_dollars,
             |  ROUND(CAST(COALESCE(imports, 0) AS DOUBLE) / 100.0, 2)
             |    AS imports_dollars,
             |  ROUND(CAST(COALESCE(exports, 0) - COALESCE(imports, 0)
             |    AS DOUBLE) / 100.0, 2) AS net_dollars
             |FROM a FULL OUTER JOIN b USING (nk)
             |JOIN nation ON nk = n_nationkey""".stripMargin)),

    // ---- partner diversification: per customer nation, the entropy
    // ---- of supplier-nation shares → effective partner count
    // ---- exp(H), round-9 ln-grid terms. ----------------------------
    Q("q443_partner_diversification",
      (s, dir) => {
        val f = flowsCached(s, dir)
        // r13: per-cnat totals via aggregate + broadcast join-back, not
        // a window — over the cached artifact the window planned a
        // 25-partition exchange + sort (and the audit's two-scale probe
        // cannot see the lattice bound through the InMemoryRelation
        // leaf); the agg form is exchange-free on the 625-row input and
        // the q304/q430 conversion pattern at any scale. Same rows:
        // tot is keyed on cnat either way.
        val withTot = f.join(broadcast(
          f.groupBy("cnat").agg(sum(col("cents")).as("tot"))), Seq("cnat"))
        withTot
          .select(col("cnat"),
            round(lit(-1.0)
              * (col("cents").cast("double") / col("tot").cast("double"))
              * log(col("cents").cast("double")
                / col("tot").cast("double")), 9)
              .cast(DecimalType(38, 9)).as("term"))
          .groupBy("cnat")
          .agg(count(lit(1)).as("n_partners"),
            sum(col("term")).cast("double").as("h"))
          .join(broadcast(t(s, dir, "nation")
            .select(col("n_nationkey").as("cnat"), col("n_name"))),
            Seq("cnat"))
          .select(col("n_name").as("nation"), col("n_partners"),
            round(col("h"), 6).as("entropy"),
            round(exp(col("h")), 6).as("effective_partners"))
      },
      Some(s"""WITH $FlowsSql, shares AS (
             |  SELECT cnat,
             |    CAST(ROUND(-(CAST(cents AS DOUBLE)
             |      / CAST(tot AS DOUBLE))
             |      * ln(CAST(cents AS DOUBLE) / CAST(tot AS DOUBLE)), 9)
             |      AS DECIMAL(38, 9)) AS term
             |  FROM (SELECT cnat, cents,
             |      CAST(SUM(cents) OVER (PARTITION BY cnat) AS BIGINT)
             |        AS tot
             |    FROM flows) z
             |), agg AS (
             |  SELECT cnat, CAST(COUNT(*) AS BIGINT) AS n_partners,
             |    CAST(SUM(term) AS DOUBLE) AS h
             |  FROM shares GROUP BY 1
             |)
             |SELECT n_name AS nation, n_partners,
             |  ROUND(h, 6) AS entropy,
             |  ROUND(exp(h), 6) AS effective_partners
             |FROM agg JOIN nation ON cnat = n_nationkey"""
        .stripMargin)),

    // ---- regionalization: intra- vs inter-region trade mass and the
    // ---- 5×5 mass-independence chi-square (expected = row·col/total
    // ---- on the round-6 grid). -------------------------------------
    Q("q444_regionalization",
      (s, dir) => {
        val nat = t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_regionkey"))
        // rf derives from the cached flow artifact: a 625-row input
        // makes the eager per-rep localCheckpoint of the 25-cell
        // lattice pure job overhead — its consumers re-aggregate the
        // cached artifact instead (r13).
        val rf = flowsCached(s, dir)
          .join(broadcast(nat.select(col("n_nationkey").as("cnat"),
            col("n_regionkey").as("creg"))), Seq("cnat"))
          .join(broadcast(nat.select(col("n_nationkey").as("snat"),
            col("n_regionkey").as("sreg"))), Seq("snat"))
          .groupBy("creg", "sreg")
          .agg(sum(col("cents")).as("m"))
          .localCheckpoint(true)
        val tot = rf.agg(sum(col("m")).as("tt"))
        val rows = rf.groupBy("creg").agg(sum(col("m")).as("rm"))
        val cols = rf.groupBy("sreg").agg(sum(col("m")).as("cm"))
        rf.join(broadcast(rows), Seq("creg"))
          .join(broadcast(cols), Seq("sreg"))
          .crossJoin(broadcast(tot))
          .select(col("creg"), col("sreg"), col("m"), col("tt"),
            round(col("rm").cast("double") * col("cm").cast("double")
              / col("tt").cast("double"), 6).as("e"))
          .agg(max(col("tt")).as("tt"),
            sum(when(col("creg") === col("sreg"), col("m"))
              .otherwise(0L)).as("intra"),
            sum(round((col("m").cast("double") - col("e"))
              * (col("m").cast("double") - col("e")) / col("e"), 6)
              .cast(DecimalType(38, 6))).cast("double").as("chi2"))
          .select(
            round(col("intra").cast("double") / col("tt").cast("double"),
              6).as("intra_region_share"),
            round(col("chi2") / col("tt").cast("double"), 6)
              .as("chi2_per_cent"))
      },
      Some(s"""WITH $FlowsSql, rf AS MATERIALIZED (
             |  SELECT c.n_regionkey AS creg, sn.n_regionkey AS sreg,
             |    CAST(SUM(cents) AS BIGINT) AS m
             |  FROM flows
             |  JOIN nation c ON cnat = c.n_nationkey
             |  JOIN nation sn ON snat = sn.n_nationkey
             |  GROUP BY 1, 2
             |), tot AS (SELECT CAST(SUM(m) AS BIGINT) AS tt FROM rf),
             |rws AS (
             |  SELECT creg, CAST(SUM(m) AS BIGINT) AS rm
             |  FROM rf GROUP BY 1
             |), cls AS (
             |  SELECT sreg, CAST(SUM(m) AS BIGINT) AS cm
             |  FROM rf GROUP BY 1
             |), cells AS (
             |  SELECT creg, sreg, m, tt,
             |    ROUND(CAST(rm AS DOUBLE) * CAST(cm AS DOUBLE)
             |      / CAST(tt AS DOUBLE), 6) AS e
             |  FROM rf JOIN rws USING (creg) JOIN cls USING (sreg)
             |  CROSS JOIN tot
             |)
             |SELECT
             |  ROUND(CAST(SUM(CASE WHEN creg = sreg THEN m ELSE 0 END)
             |      AS DOUBLE) / CAST(MAX(tt) AS DOUBLE), 6)
             |    AS intra_region_share,
             |  ROUND(CAST(SUM(CAST(ROUND((CAST(m AS DOUBLE) - e)
             |      * (CAST(m AS DOUBLE) - e) / e, 6)
             |      AS DECIMAL(38, 6))) AS DOUBLE)
             |    / CAST(MAX(tt) AS DOUBLE), 6) AS chi2_per_cent
             |FROM cells""".stripMargin)),

    // ---- market-share stability: per supplier nation, the mean
    // ---- absolute year-over-year change of its revenue share, exact
    // ---- shares on the round-9 grid. -------------------------------
    Q("q445_share_stability",
      (s, dir) => {
        val cell = t(s, dir, "lineitem")
          .join(broadcast(t(s, dir, "supplier").select(col("s_suppkey"),
            col("s_nationkey").as("snat"))),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("snat"), year(col("l_shipdate")).as("yr"))
          .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
            .as("cents"))
        val shares = cell
          .withColumn("ytot", sum(col("cents")).over(
            Window.partitionBy("yr")))
          .select(col("snat"), col("yr"),
            round(col("cents").cast("double")
              / col("ytot").cast("double"), 9).as("share"))
        val deltas = shares
          .withColumn("prev", lag(col("share"), 1).over(
            Window.partitionBy("snat").orderBy("yr")))
          .where(col("prev").isNotNull)
          .groupBy("snat")
          .agg(count(lit(1)).as("n_years"),
            round(sum(round(abs(col("share") - col("prev")), 9)
              .cast(DecimalType(38, 9))).cast("double")
              / count(lit(1)), 6).as("mean_abs_share_change"))
        deltas.join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("snat"), col("n_name"))),
          Seq("snat"))
          .select(col("n_name").as("nation"), col("n_years"),
            col("mean_abs_share_change"))
      },
      Some("""WITH cell AS (
             |  SELECT s_nationkey AS snat,
             |    YEAR(l_shipdate) AS yr,
             |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
             |      AS BIGINT) AS cents
             |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             |  GROUP BY 1, 2
             |), shares AS (
             |  SELECT snat, yr,
             |    ROUND(CAST(cents AS DOUBLE) / CAST(ytot AS DOUBLE), 9)
             |      AS share
             |  FROM (SELECT snat, yr, cents,
             |      CAST(SUM(cents) OVER (PARTITION BY yr) AS BIGINT)
             |        AS ytot
             |    FROM cell) z
             |), deltas AS (
             |  SELECT snat, CAST(COUNT(*) AS BIGINT) AS n_years,
             |    ROUND(CAST(SUM(CAST(ROUND(ABS(share - prev), 9)
             |      AS DECIMAL(38, 9))) AS DOUBLE) / COUNT(*), 6)
             |      AS mean_abs_share_change
             |  FROM (SELECT snat, yr, share,
             |      LAG(share) OVER (PARTITION BY snat ORDER BY yr)
             |        AS prev
             |    FROM shares) z
             |  WHERE prev IS NOT NULL
             |  GROUP BY 1
             |)
             |SELECT n_name AS nation, n_years, mean_abs_share_change
             |FROM deltas JOIN nation ON snat = n_nationkey"""
        .stripMargin)),
  )
}
