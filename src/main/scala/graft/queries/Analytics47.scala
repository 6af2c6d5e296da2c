package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Forty-seventh analytics pack (round 6, session 9): the classifier
  * evaluation suite around q311/q313's urgency classifiers — Cohen's
  * kappa agreement, the full binary confusion panel, the KS
  * separation statistic, PSI score drift between years, and the
  * Hosmer-Lemeshow calibration test.
  *
  * Exactness discipline: every confusion/bucket count is an exact
  * BIGINT; the KS argmax compares integer cross-products (never
  * ratios); share×ln terms ride the round-9 DECIMAL grid. */
object Analytics47 {

  /** The q311 classifier pair: A = price above the corpus floor-mean,
    * B = at least four line items; y = urgent/high priority. */
  private def classifiers(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .join(t(s, dir, "lineitem").groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("nl")),
        col("o_orderkey") === col("l_orderkey"), "left")
      .select(round(col("o_totalprice") * 100).cast("long").as("cents"),
        coalesce(col("nl"), lit(0L)).as("nl"),
        col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
          .as("y"))
    val thr = o.agg(expr("sum(cents) div count(1)").as("thr"))
    o.crossJoin(broadcast(thr))
      .select((col("cents") > col("thr")).cast("long").as("pa"),
        (col("nl") >= 4L).cast("long").as("pb"), col("y"))
  }

  private val ClassifierSql =
    """o AS (
      |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
      |    COALESCE(nl, 0) AS nl,
      |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |      THEN 1 ELSE 0 END AS y
      |  FROM orders
      |  LEFT JOIN (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS nl
      |             FROM lineitem GROUP BY 1) li ON l_orderkey = o_orderkey
      |), thr AS (SELECT SUM(cents) // COUNT(*) AS thr FROM o),
      |cls AS (
      |  SELECT CASE WHEN cents > thr THEN 1 ELSE 0 END AS pa,
      |    CASE WHEN nl >= 4 THEN 1 ELSE 0 END AS pb, y
      |  FROM o CROSS JOIN thr
      |)""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- Cohen's kappa between the two classifiers (chance-corrected
    // ---- agreement on labels, truth not consulted): po and pe from
    // ---- exact marginal counts, κ = (po − pe)/(1 − pe). The
    // ---- agreement partner of q311's disagreement test. -------------
    Q("q341_cohens_kappa",
      (s, dir) => {
        val c = classifiers(s, dir)
        c.agg(count(lit(1)).as("n"),
            sum(col("pa") * col("pb")).as("n11"),
            sum((lit(1L) - col("pa")) * (lit(1L) - col("pb"))).as("n00"),
            sum(col("pa")).as("na1"), sum(col("pb")).as("nb1"))
          .select(col("n"),
            ((col("n11") + col("n00")).cast("double") /
              col("n").cast("double")).as("po"),
            ((col("na1").cast("double") * col("nb1").cast("double") +
              (col("n") - col("na1")).cast("double") *
              (col("n") - col("nb1")).cast("double")) /
              (col("n").cast("double") * col("n").cast("double")))
              .as("pe"))
          .select(col("n"),
            round(col("po"), 6).as("observed_agreement"),
            round(col("pe"), 6).as("expected_agreement"),
            round((col("po") - col("pe")) / (lit(1.0) - col("pe")), 6)
              .as("kappa"))
      },
      Some(s"""WITH $ClassifierSql, m AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(pa * pb) AS BIGINT) AS n11,
             |    CAST(SUM((1 - pa) * (1 - pb)) AS BIGINT) AS n00,
             |    CAST(SUM(pa) AS BIGINT) AS na1,
             |    CAST(SUM(pb) AS BIGINT) AS nb1
             |  FROM cls
             |), probs AS (
             |  SELECT n,
             |    CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS po,
             |    (CAST(na1 AS DOUBLE) * CAST(nb1 AS DOUBLE)
             |      + CAST(n - na1 AS DOUBLE) * CAST(n - nb1 AS DOUBLE))
             |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
             |  FROM m
             |)
             |SELECT n,
             |  ROUND(po, 6) AS observed_agreement,
             |  ROUND(pe, 6) AS expected_agreement,
             |  ROUND((po - pe) / (1.0 - pe), 6) AS kappa
             |FROM probs""".stripMargin)),

    // ---- the full binary confusion panel for classifier A vs truth:
    // ---- precision, recall, specificity, F1, balanced accuracy, and
    // ---- MCC, all one double tree over the four exact cells. --------
    Q("q342_confusion_panel",
      (s, dir) => {
        val c = classifiers(s, dir)
        c.agg(sum(col("pa") * col("y")).as("tp"),
            sum(col("pa") * (lit(1L) - col("y"))).as("fp"),
            sum((lit(1L) - col("pa")) * col("y")).as("fn"),
            sum((lit(1L) - col("pa")) * (lit(1L) - col("y"))).as("tn"))
          .select(col("tp"), col("fp"), col("fn"), col("tn"),
            round(col("tp").cast("double") /
              (col("tp") + col("fp")).cast("double"), 6).as("precision"),
            round(col("tp").cast("double") /
              (col("tp") + col("fn")).cast("double"), 6).as("recall"),
            round(col("tn").cast("double") /
              (col("tn") + col("fp")).cast("double"), 6).as("specificity"),
            round(lit(2.0) * col("tp").cast("double") /
              (lit(2.0) * col("tp").cast("double") +
                col("fp").cast("double") + col("fn").cast("double")), 6)
              .as("f1"),
            round((col("tp").cast("double") /
              (col("tp") + col("fn")).cast("double") +
              col("tn").cast("double") /
                (col("tn") + col("fp")).cast("double")) / lit(2.0), 6)
              .as("balanced_acc"),
            round((col("tp").cast("double") * col("tn").cast("double") -
              col("fp").cast("double") * col("fn").cast("double")) /
              sqrt((col("tp") + col("fp")).cast("double") *
                (col("tp") + col("fn")).cast("double") *
                (col("tn") + col("fp")).cast("double") *
                (col("tn") + col("fn")).cast("double")), 6).as("mcc"))
      },
      Some(s"""WITH $ClassifierSql, cm AS (
             |  SELECT CAST(SUM(pa * y) AS BIGINT) AS tp,
             |    CAST(SUM(pa * (1 - y)) AS BIGINT) AS fp,
             |    CAST(SUM((1 - pa) * y) AS BIGINT) AS fn,
             |    CAST(SUM((1 - pa) * (1 - y)) AS BIGINT) AS tn
             |  FROM cls
             |)
             |SELECT tp, fp, fn, tn,
             |  ROUND(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6)
             |    AS precision,
             |  ROUND(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6)
             |    AS recall,
             |  ROUND(CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE), 6)
             |    AS specificity,
             |  ROUND(2.0 * CAST(tp AS DOUBLE) / (2.0 * CAST(tp AS DOUBLE)
             |    + CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE)), 6) AS f1,
             |  ROUND((CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
             |    + CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE)) / 2.0, 6)
             |    AS balanced_acc,
             |  ROUND((CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
             |    - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
             |    / sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
             |      * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)),
             |    6) AS mcc
             |FROM cm""".stripMargin)),

    // ---- KS separation of the price score: max |TPR − FPR| over the
    // ---- ranked prefix, with the argmax found on exact integer
    // ---- cross-products cum_pos·N − cum_neg·P (never a float
    // ---- comparison). The distribution-separation partner of q215's
    // ---- ROC-AUC. ---------------------------------------------------
    Q("q343_ks_separation",
      (s, dir) => {
        // rank + running positives in ONE distributed prefix-sum pass
        // (orders-grain: no single-task sort)
        val ranked = graft.operators.Ranks.withPrefixSums(
            // loadParallel: the range-shuffle sampling + write otherwise
            // run inside the single-task row-group scan (guide §2.5)
            Tables.loadParallel(s, dir, "orders")
              .select(round(col("o_totalprice") * 100).cast("long")
                  .as("cents"),
                col("o_orderpriority").isin("1-URGENT", "2-HIGH")
                  .cast("long").as("y"),
                col("o_totalprice"), col("o_orderkey")),
            Seq.empty, Seq(desc("o_totalprice"), asc("o_orderkey")),
            Seq((lit(1L), "rank", "_n"), (col("y"), "cum_pos", "_tp")))
          .withColumn("cum_neg", (col("rank") - col("cum_pos")))
        val tot = ranked.agg(max(col("cum_pos")).as("p"),
          max(col("cum_neg")).as("q"))
        ranked.crossJoin(broadcast(tot))
          .select(col("rank"), col("cents"),
            (col("cum_pos") * col("q") - col("cum_neg") * col("p"))
              .as("num"), col("p"), col("q"))
          .orderBy(desc("num"), asc("rank")).limit(1)
          .select(col("p").as("positives"), col("q").as("negatives"),
            col("rank").as("ks_rank"),
            round(col("cents") / lit(100.0), 2).as("threshold"),
            round(col("num").cast("double") /
              (col("p").cast("double") * col("q").cast("double")), 6)
              .as("ks_stat"))
      },
      Some("""WITH ranked AS (
             |  SELECT cents, y, rank,
             |    SUM(y) OVER (ORDER BY rank ROWS UNBOUNDED PRECEDING)
             |      AS cum_pos,
             |    rank - SUM(y) OVER (ORDER BY rank ROWS UNBOUNDED
             |      PRECEDING) AS cum_neg
             |  FROM (
             |    SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             |      CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |        THEN 1 ELSE 0 END AS y,
             |      CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice DESC,
             |        o_orderkey) AS BIGINT) AS rank
             |    FROM orders)
             |), tot AS (
             |  SELECT CAST(MAX(cum_pos) AS BIGINT) AS p,
             |    CAST(MAX(cum_neg) AS BIGINT) AS q
             |  FROM ranked
             |)
             |SELECT p AS positives, q AS negatives,
             |  rank AS ks_rank,
             |  ROUND(cents / 100.0, 2) AS threshold,
             |  ROUND(CAST(cum_pos * q - cum_neg * p AS DOUBLE)
             |    / (CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), 6) AS ks_stat
             |FROM ranked CROSS JOIN tot
             |ORDER BY cum_pos * q - cum_neg * p DESC, rank LIMIT 1""".stripMargin)),

    // ---- PSI drift of the order-value distribution, 1995 → 1996:
    // ---- decile boundaries are 1995's exact order statistics, 1996
    // ---- orders bucket by integer comparisons, PSI sums round-9
    // ---- (q−p)·ln(q/p) DECIMAL terms. The score-drift partner of
    // ---- q116's token drift. ----------------------------------------
    Q("q344_psi_drift",
      (s, dir) => {
        // loadParallel: the filter + rank shuffle write otherwise run
        // inside the single-task row-group scan (guide §2.5 input skew)
        val o = Tables.loadParallel(s, dir, "orders")
          .select(year(col("o_orderdate")).as("yr"),
            round(col("o_totalprice") * 100).cast("long").as("cents"),
            col("o_orderkey").as("key"))
        val base = o.where(col("yr") === 1995)
        val ks = base.sparkSession.range(1, 10).toDF("k")
        // baseline decile bounds via distributed rank (orders-grain).
        // r12: the rank pass's group total IS the baseline count, so
        // the separate nb aggregation job + crossJoin fold into the
        // same prefix-sum pass (the q160 pattern; guide §2.4) — and
        // with base referenced only once the eager checkpoint goes too.
        val bnds = graft.operators.Ranks
          .withPrefixSums(base, Seq.empty,
            Seq(asc("cents"), asc("key")), Seq((lit(1L), "rn", "nb")))
          .join(broadcast(ks), col("rn") === expr("(k * nb) div 10"))
          .select(col("k"), col("cents").as("bound"))
        val bucketed = o.where(col("yr").isin(1995, 1996))
          .crossJoin(broadcast(bnds.groupBy().agg(
            collect_list(struct(col("k"), col("bound"))).as("bs"))))
          .select(col("yr"),
            (lit(1) + size(filter(col("bs"),
              x => col("cents") > x.getField("bound")))).as("bucket"))
        val shares = bucketed.groupBy("bucket")
          .agg(sum((col("yr") === 1995).cast("long")).as("cb"),
            sum((col("yr") === 1996).cast("long")).as("ct"))
        val tots = shares.agg(sum(col("cb")).as("tb"), sum(col("ct"))
          .as("tt"))
        shares.crossJoin(broadcast(tots))
          .select(
            round((col("ct").cast("double") / col("tt").cast("double") -
              col("cb").cast("double") / col("tb").cast("double")) *
              log((col("ct").cast("double") / col("tt").cast("double")) /
                (col("cb").cast("double") / col("tb").cast("double"))), 9)
              .cast(DecimalType(38, 9)).as("term"))
          .agg(count(lit(1)).as("n_buckets"),
            round(sum(col("term")).cast("double"), 6).as("psi"))
      },
      Some("""WITH o AS (
             |  SELECT YEAR(o_orderdate) AS yr,
             |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             |    o_orderkey AS key
             |  FROM orders
             |), base AS MATERIALIZED (
             |  SELECT cents, key FROM o WHERE yr = 1995
             |), nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM base),
             |bnds AS (
             |  SELECT k, cents AS bound
             |  FROM (SELECT cents,
             |      CAST(ROW_NUMBER() OVER (ORDER BY cents, key) AS BIGINT)
             |        AS rn
             |    FROM base) r
             |  CROSS JOIN nb
             |  JOIN (SELECT UNNEST(range(1, 10)) AS k) ks
             |    ON rn = (k * nb) // 10
             |), bucketed AS (
             |  SELECT yr,
             |    1 + (SELECT COUNT(*) FROM bnds WHERE cents > bound)
             |      AS bucket
             |  FROM o WHERE yr IN (1995, 1996)
             |), shares AS (
             |  SELECT bucket,
             |    CAST(SUM(CASE WHEN yr = 1995 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS cb,
             |    CAST(SUM(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS ct
             |  FROM bucketed GROUP BY bucket
             |), tots AS (
             |  SELECT CAST(SUM(cb) AS BIGINT) AS tb,
             |    CAST(SUM(ct) AS BIGINT) AS tt
             |  FROM shares
             |)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
             |  ROUND(CAST(SUM(CAST(ROUND((CAST(ct AS DOUBLE)
             |      / CAST(tt AS DOUBLE) - CAST(cb AS DOUBLE)
             |      / CAST(tb AS DOUBLE))
             |    * ln((CAST(ct AS DOUBLE) / CAST(tt AS DOUBLE))
             |      / (CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE))), 9)
             |    AS DECIMAL(38, 9))) AS DOUBLE), 6) AS psi
             |FROM shares CROSS JOIN tots""".stripMargin)),

    // ---- Hosmer-Lemeshow calibration: the q313 segment-rate forecast
    // ---- grouped by its ≤5 distinct values, χ² = Σ (O−E)²/(E(1−p))
    // ---- from exact counts and the micro-grid p. The grouped-χ²
    // ---- partner of q216's reliability bins. ------------------------
    Q("q345_hosmer_lemeshow",
      (s, dir) => {
        val base = t(s, dir, "orders")
          .join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment").as("seg"))),
            col("o_custkey") === col("c_custkey"))
          .select(col("seg"),
            col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
              .as("y"),
            (col("o_orderkey") % 2 === 0).as("even"))
        val train = base.where(col("even")).groupBy("seg")
          .agg(expr("(1000000 * sum(y)) div count(1)").as("p_micro"))
        val grouped = base.where(!col("even"))
          .join(broadcast(train), "seg")
          .groupBy("p_micro")
          .agg(count(lit(1)).as("n_g"), sum(col("y")).as("o_g"))
        grouped
          .select(col("p_micro"), col("n_g"), col("o_g"),
            (col("n_g").cast("double") * col("p_micro").cast("double") /
              1e6).as("e_g"))
          .select(round((col("o_g").cast("double") - col("e_g")) *
              (col("o_g").cast("double") - col("e_g")) /
              (col("e_g") * (lit(1.0) - col("p_micro").cast("double") /
                1e6)), 9).cast(DecimalType(38, 9)).as("term"),
            col("n_g"))
          .agg(count(lit(1)).as("n_groups"), sum(col("n_g")).as("n"),
            round(sum(col("term")).cast("double"), 6).as("hl_stat"))
          .select(col("n_groups"), col("n"),
            (col("n_groups") - 2L).as("df"), col("hl_stat"))
      },
      Some("""WITH base AS (
             |  SELECT c_mktsegment AS seg,
             |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |      THEN 1 ELSE 0 END AS y,
             |    o_orderkey % 2 = 0 AS even
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |), train AS (
             |  SELECT seg, (1000000 * SUM(y)) // COUNT(*) AS p_micro
             |  FROM base WHERE even GROUP BY seg
             |), grouped AS (
             |  SELECT p_micro, CAST(COUNT(*) AS BIGINT) AS n_g,
             |    CAST(SUM(y) AS BIGINT) AS o_g
             |  FROM base JOIN train USING (seg)
             |  WHERE NOT even GROUP BY p_micro
             |), terms AS (
             |  SELECT n_g,
             |    CAST(ROUND((CAST(o_g AS DOUBLE) - CAST(n_g AS DOUBLE)
             |        * CAST(p_micro AS DOUBLE) / 1e6)
             |      * (CAST(o_g AS DOUBLE) - CAST(n_g AS DOUBLE)
             |        * CAST(p_micro AS DOUBLE) / 1e6)
             |      / ((CAST(n_g AS DOUBLE) * CAST(p_micro AS DOUBLE) / 1e6)
             |        * (1.0 - CAST(p_micro AS DOUBLE) / 1e6)), 9)
             |      AS DECIMAL(38, 9)) AS term
             |  FROM grouped
             |)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
             |  CAST(SUM(n_g) AS BIGINT) AS n,
             |  CAST(COUNT(*) - 2 AS BIGINT) AS df,
             |  ROUND(CAST(SUM(term) AS DOUBLE), 6) AS hl_stat
             |FROM terms""".stripMargin))
  )
}
