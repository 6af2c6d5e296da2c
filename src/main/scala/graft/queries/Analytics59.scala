package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Fifty-ninth analytics pack (round 6, session 9): pricing and
  * marketing econometrics — a within-part fixed-effects log-log price
  * elasticity, RFM quintile segmentation, the discount lift panel,
  * price-dispersion variance decomposition, and per-part supplier
  * concentration ratios.
  *
  * Exactness discipline: log terms ride the round-9 ln grid of exact
  * integer cents/quantities; every per-part regression or variance
  * piece is round-9 gridded before its cross-part sum; NTILE runs
  * over fully tie-broken (metric, custkey) orders so both engines
  * assign identical quintiles. */
object Analytics59 {

  /** Per-line gridded (ln qty, ln unit price) with the part key. */
  private def logLines(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_partkey").as("pk"),
        round(col("l_extendedprice") * 100).cast("long").as("extc"),
        col("l_quantity").cast("long").as("q"))
      .select(col("pk"),
        round(log(col("q").cast("double")), 9).as("y"),
        round(log(col("extc").cast("double") / col("q").cast("double")),
          9).as("x"))

  private val LogLinesSql =
    """ll AS MATERIALIZED (
      |  SELECT pk,
      |    ROUND(ln(CAST(q AS DOUBLE)), 9) AS y,
      |    ROUND(ln(CAST(extc AS DOUBLE) / CAST(q AS DOUBLE)), 9) AS x
      |  FROM (
      |    SELECT l_partkey AS pk,
      |      CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS extc,
      |      CAST(l_quantity AS BIGINT) AS q
      |    FROM lineitem) z
      |)""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- within-part fixed-effects log-log elasticity of quantity on
    // ---- unit price: per-part demeaned OLS pieces (Sxy − SxSy/n,
    // ---- Sxx − Sx²/n, Syy − Sy²/n) round-9 gridded, pooled into
    // ---- β_FE = Σnum/Σden and the within R². --------------------------
    Q("q401_fe_price_elasticity",
      (s, dir) => {
        val per = logLines(s, dir).groupBy("pk")
          .agg(count(lit(1)).as("n"),
            sum(col("x").cast(DecimalType(38, 9))).cast("double")
              .as("sx"),
            sum(col("y").cast(DecimalType(38, 9))).cast("double")
              .as("sy"),
            sum(round(col("x") * col("y"), 9).cast(DecimalType(38, 9)))
              .cast("double").as("sxy"),
            sum(round(col("x") * col("x"), 9).cast(DecimalType(38, 9)))
              .cast("double").as("sxx"),
            sum(round(col("y") * col("y"), 9).cast(DecimalType(38, 9)))
              .cast("double").as("syy"))
          .where(col("n") > 1L)
          .select(col("n"),
            round(col("sxy") - col("sx") * col("sy")
              / col("n").cast("double"), 9).cast(DecimalType(38, 9))
              .as("num"),
            round(col("sxx") - col("sx") * col("sx")
              / col("n").cast("double"), 9).cast(DecimalType(38, 9))
              .as("denx"),
            round(col("syy") - col("sy") * col("sy")
              / col("n").cast("double"), 9).cast(DecimalType(38, 9))
              .as("deny"))
        per.agg(count(lit(1)).as("n_parts"), sum(col("n")).as("n_lines"),
          sum(col("num")).cast("double").as("snum"),
          sum(col("denx")).cast("double").as("sdenx"),
          sum(col("deny")).cast("double").as("sdeny"))
          .select(col("n_lines"), col("n_parts"),
            round(col("snum") / col("sdenx"), 6).as("elasticity"),
            round(col("snum") * col("snum")
              / (col("sdenx") * col("sdeny")), 6).as("r2_within"))
      },
      Some(s"""WITH $LogLinesSql, per AS (
             |  SELECT n,
             |    CAST(ROUND(sxy - sx * sy / CAST(n AS DOUBLE), 9)
             |      AS DECIMAL(38, 9)) AS num,
             |    CAST(ROUND(sxx - sx * sx / CAST(n AS DOUBLE), 9)
             |      AS DECIMAL(38, 9)) AS denx,
             |    CAST(ROUND(syy - sy * sy / CAST(n AS DOUBLE), 9)
             |      AS DECIMAL(38, 9)) AS deny
             |  FROM (
             |    SELECT pk, CAST(COUNT(*) AS BIGINT) AS n,
             |      CAST(SUM(CAST(x AS DECIMAL(38, 9))) AS DOUBLE) AS sx,
             |      CAST(SUM(CAST(y AS DECIMAL(38, 9))) AS DOUBLE) AS sy,
             |      CAST(SUM(CAST(ROUND(x * y, 9) AS DECIMAL(38, 9)))
             |        AS DOUBLE) AS sxy,
             |      CAST(SUM(CAST(ROUND(x * x, 9) AS DECIMAL(38, 9)))
             |        AS DOUBLE) AS sxx,
             |      CAST(SUM(CAST(ROUND(y * y, 9) AS DECIMAL(38, 9)))
             |        AS DOUBLE) AS syy
             |    FROM ll GROUP BY 1) z
             |  WHERE n > 1
             |)
             |SELECT CAST(SUM(n) AS BIGINT) AS n_lines,
             |  CAST(COUNT(*) AS BIGINT) AS n_parts,
             |  ROUND(CAST(SUM(num) AS DOUBLE)
             |    / CAST(SUM(denx) AS DOUBLE), 6) AS elasticity,
             |  ROUND(CAST(SUM(num) AS DOUBLE) * CAST(SUM(num) AS DOUBLE)
             |    / (CAST(SUM(denx) AS DOUBLE)
             |      * CAST(SUM(deny) AS DOUBLE)), 6) AS r2_within
             |FROM per""".stripMargin)),

    // ---- RFM quintile segmentation: recency (days to horizon),
    // ---- frequency, exact cent monetary per customer; NTILE(5) over
    // ---- fully tie-broken orders, then the (R, F) cell panel with
    // ---- mean monetary value. --------------------------------------
    Q("q402_rfm_segmentation",
      (s, dir) => {
        val horizon = t(s, dir, "orders")
          .agg(max(col("o_orderdate")).as("maxd"))
        val rfm = t(s, dir, "orders")
          .groupBy(col("o_custkey").as("ck"))
          .agg(max(col("o_orderdate")).as("lastd"),
            count(lit(1)).as("f"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("m"))
          .crossJoin(broadcast(horizon))
          .select(col("ck"), col("f"), col("m"),
            datediff(col("maxd"), col("lastd")).cast("long").as("rdays"))
        // customer grain scales with the data — NTILE(5) must not be
        // an unpartitioned window (single-task sort of every customer
        // at 100 TB). q160's melted shape: each customer becomes one
        // (dim, sort-key) row per dimension, ONE Ranks.withPrefixSums
        // pass ranks both dims (descending recency negates the exact
        // integer key), and the group total doubles as n_cust for the
        // exact NTILE formula.
        val melted = rfm.select(col("ck"), col("m"), explode(array(
            struct(lit("r").as("dim"), (-col("rdays")).as("sk")),
            struct(lit("f").as("dim"), col("f").cast("long").as("sk"))))
            .as("e"))
          .select(col("ck"), col("m"), col("e.dim").as("dim"),
            col("e.sk").as("sk"))
        val ranked = graft.operators.Ranks.withPrefixSums(melted,
          Seq(col("dim")), Seq(col("sk"), col("ck")),
          Seq((lit(1L), "rn", "nc")))
        val quint = graft.operators.Ranks
          .ntileFromRank(col("rn"), col("nc"), 5).cast("long")
        val scored = ranked.groupBy("ck")
          .agg(max(when(col("dim") === "r", quint)).as("r_score"),
            max(when(col("dim") === "f", quint)).as("f_score"),
            max(col("m")).as("m"))
        scored.groupBy(col("r_score"), col("f_score"))
          .agg(count(lit(1)).as("n_customers"),
            round(sum(col("m")).cast("double")
              / count(lit(1)).cast("double") / 100.0, 2)
              .as("avg_monetary_dollars"))
      },
      Some("""WITH horizon AS (
             |  SELECT MAX(o_orderdate) AS maxd FROM orders
             |), rfm AS (
             |  SELECT o_custkey AS ck,
             |    CAST(COUNT(*) AS BIGINT) AS f,
             |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
             |      AS BIGINT) AS m,
             |    CAST(DATEDIFF('day', MAX(o_orderdate),
             |      (SELECT maxd FROM horizon)) AS BIGINT) AS rdays
             |  FROM orders GROUP BY 1
             |), scored AS (
             |  SELECT m,
             |    CAST(NTILE(5) OVER (ORDER BY rdays DESC, ck)
             |      AS BIGINT) AS r_score,
             |    CAST(NTILE(5) OVER (ORDER BY f ASC, ck) AS BIGINT)
             |      AS f_score
             |  FROM rfm
             |)
             |SELECT r_score, f_score,
             |  CAST(COUNT(*) AS BIGINT) AS n_customers,
             |  ROUND(CAST(SUM(m) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             |    / 100.0, 2) AS avg_monetary_dollars
             |FROM scored GROUP BY 1, 2""".stripMargin)),

    // ---- discount lift panel: per discount level (integer percent),
    // ---- line count, exact mean quantity and revenue — the direct
    // ---- read of how discounts move volume. ------------------------
    Q("q403_discount_lift",
      (s, dir) => {
        t(s, dir, "lineitem")
          .groupBy(round(col("l_discount") * 100).cast("long")
            .as("discount_pct"))
          .agg(count(lit(1)).as("n_lines"),
            round(sum(col("l_quantity").cast("long")).cast("double")
              / count(lit(1)).cast("double"), 6).as("mean_qty"),
            round(sum(round(col("l_extendedprice") * 100).cast("long"))
              .cast("double") / count(lit(1)).cast("double") / 100.0, 2)
              .as("mean_rev_dollars"))
      },
      Some("""SELECT
             |  CAST(ROUND(l_discount * 100) AS BIGINT) AS discount_pct,
             |  CAST(COUNT(*) AS BIGINT) AS n_lines,
             |  ROUND(CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE), 6) AS mean_qty,
             |  ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100)
             |      AS BIGINT)) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE) / 100.0, 2)
             |    AS mean_rev_dollars
             |FROM lineitem GROUP BY 1""".stripMargin)),

    // ---- price-dispersion decomposition: within-part vs between-part
    // ---- sum-of-squares of the gridded log unit price — how much of
    // ---- price variance is product mix vs per-product dispersion. --
    Q("q404_price_dispersion",
      (s, dir) => {
        val per = logLines(s, dir).groupBy("pk")
          .agg(count(lit(1)).as("n"),
            sum(col("x").cast(DecimalType(38, 9))).cast("double")
              .as("sx"),
            sum(round(col("x") * col("x"), 9).cast(DecimalType(38, 9)))
              .cast("double").as("sxx"))
        val tot = per.agg(sum(col("n")).as("nn"),
          sum(round(col("sx"), 9).cast(DecimalType(38, 9)))
            .cast("double").as("gx"))
        per.crossJoin(broadcast(tot))
          .select(col("n"), col("nn"),
            round(col("sxx") - col("sx") * col("sx")
              / col("n").cast("double"), 9).cast(DecimalType(38, 9))
              .as("ssw"),
            round(col("n").cast("double")
              * (col("sx") / col("n").cast("double")
                - col("gx") / col("nn").cast("double"))
              * (col("sx") / col("n").cast("double")
                - col("gx") / col("nn").cast("double")), 9)
              .cast(DecimalType(38, 9)).as("ssb"))
          .groupBy("nn")
          .agg(count(lit(1)).as("n_parts"),
            sum(col("ssw")).cast("double").as("ssw"),
            sum(col("ssb")).cast("double").as("ssb"))
          .select(col("nn").as("n_lines"), col("n_parts"),
            round(col("ssw") / (col("ssw") + col("ssb")), 6)
              .as("within_share"),
            round(col("ssb") / (col("ssw") + col("ssb")), 6)
              .as("between_share"))
      },
      Some(s"""WITH $LogLinesSql, per AS (
             |  SELECT pk, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(CAST(x AS DECIMAL(38, 9))) AS DOUBLE) AS sx,
             |    CAST(SUM(CAST(ROUND(x * x, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS sxx
             |  FROM ll GROUP BY 1
             |), tot AS (
             |  SELECT CAST(SUM(n) AS BIGINT) AS nn,
             |    CAST(SUM(CAST(ROUND(sx, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS gx
             |  FROM per
             |), pieces AS (
             |  SELECT nn,
             |    CAST(ROUND(sxx - sx * sx / CAST(n AS DOUBLE), 9)
             |      AS DECIMAL(38, 9)) AS ssw,
             |    CAST(ROUND(CAST(n AS DOUBLE)
             |      * (sx / CAST(n AS DOUBLE) - gx / CAST(nn AS DOUBLE))
             |      * (sx / CAST(n AS DOUBLE) - gx / CAST(nn AS DOUBLE)),
             |      9) AS DECIMAL(38, 9)) AS ssb
             |  FROM per CROSS JOIN tot
             |)
             |SELECT nn AS n_lines, CAST(COUNT(*) AS BIGINT) AS n_parts,
             |  ROUND(CAST(SUM(ssw) AS DOUBLE)
             |    / (CAST(SUM(ssw) AS DOUBLE) + CAST(SUM(ssb) AS DOUBLE)),
             |    6) AS within_share,
             |  ROUND(CAST(SUM(ssb) AS DOUBLE)
             |    / (CAST(SUM(ssw) AS DOUBLE) + CAST(SUM(ssb) AS DOUBLE)),
             |    6) AS between_share
             |FROM pieces GROUP BY nn""".stripMargin)),

    // ---- supplier concentration per part: CR1/CR2 revenue shares and
    // ---- the per-part HHI (round-9 share squares), averaged over
    // ---- parts with the monopoly fraction. -------------------------
    Q("q405_supplier_concentration",
      (s, dir) => {
        val cell = t(s, dir, "lineitem")
          .groupBy(col("l_partkey").as("pk"),
            col("l_suppkey").as("sk"))
          .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
            .as("rev"))
        val w = Window.partitionBy("pk")
          .orderBy(col("rev").desc, col("sk"))
        val per = cell
          .withColumn("rk", row_number().over(w))
          .groupBy("pk")
          .agg(sum(col("rev")).as("tot"),
            sum(when(col("rk") === 1, col("rev")).otherwise(0L))
              .as("top1"),
            sum(when(col("rk") <= 2, col("rev")).otherwise(0L))
              .as("top2"),
            sum(col("rev").cast(DecimalType(38, 0)) * col("rev"))
              .as("sq"))
          .select(
            round(col("top1").cast("double") / col("tot").cast("double"),
              9).as("cr1"),
            round(col("top2").cast("double") / col("tot").cast("double"),
              9).as("cr2"),
            round(col("sq").cast("double")
              / (col("tot").cast("double") * col("tot").cast("double")),
              9).as("hhi"))
        per.agg(count(lit(1)).as("n_parts"),
          round(sum(col("cr1").cast(DecimalType(38, 9))).cast("double")
            / count(lit(1)), 6).as("mean_cr1"),
          round(sum(col("cr2").cast(DecimalType(38, 9))).cast("double")
            / count(lit(1)), 6).as("mean_cr2"),
          round(sum(col("hhi").cast(DecimalType(38, 9))).cast("double")
            / count(lit(1)), 6).as("mean_hhi"),
          round(sum(when(col("cr1") >= 1.0, 1L).otherwise(0L))
            .cast("double") / count(lit(1)), 6).as("frac_monopoly"))
      },
      Some("""WITH cell AS (
             |  SELECT l_partkey AS pk, l_suppkey AS sk,
             |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
             |      AS BIGINT) AS rev
             |  FROM lineitem GROUP BY 1, 2
             |), per AS (
             |  SELECT
             |    ROUND(CAST(top1 AS DOUBLE) / CAST(tot AS DOUBLE), 9)
             |      AS cr1,
             |    ROUND(CAST(top2 AS DOUBLE) / CAST(tot AS DOUBLE), 9)
             |      AS cr2,
             |    ROUND(CAST(sq AS DOUBLE)
             |      / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)), 9)
             |      AS hhi
             |  FROM (
             |    SELECT pk, CAST(SUM(rev) AS BIGINT) AS tot,
             |      CAST(SUM(CASE WHEN rk = 1 THEN rev ELSE 0 END)
             |        AS BIGINT) AS top1,
             |      CAST(SUM(CASE WHEN rk <= 2 THEN rev ELSE 0 END)
             |        AS BIGINT) AS top2,
             |      SUM(CAST(rev AS DECIMAL(38, 0)) * rev) AS sq
             |    FROM (
             |      SELECT pk, rev,
             |        ROW_NUMBER() OVER (PARTITION BY pk
             |          ORDER BY rev DESC, sk) AS rk
             |      FROM cell) z
             |    GROUP BY 1) g
             |)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
             |  ROUND(CAST(SUM(CAST(cr1 AS DECIMAL(38, 9))) AS DOUBLE)
             |    / COUNT(*), 6) AS mean_cr1,
             |  ROUND(CAST(SUM(CAST(cr2 AS DECIMAL(38, 9))) AS DOUBLE)
             |    / COUNT(*), 6) AS mean_cr2,
             |  ROUND(CAST(SUM(CAST(hhi AS DECIMAL(38, 9))) AS DOUBLE)
             |    / COUNT(*), 6) AS mean_hhi,
             |  ROUND(CAST(SUM(CASE WHEN cr1 >= 1.0 THEN 1 ELSE 0 END)
             |    AS DOUBLE) / COUNT(*), 6) AS frac_monopoly
             |FROM per""".stripMargin)),
  )
}
