package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Fiftieth analytics pack (round 6, session 9): distribution-
  * comparison statistics the suite still lacked — the Wilcoxon
  * signed-rank paired test, mutual information / NMI between two
  * categorical columns, Jensen-Shannon divergence between language
  * vocabularies, the exact 1-D Wasserstein-1 (earth-mover) distance,
  * and Cliff's delta with the Vargha-Delaney A effect size.
  *
  * Exactness discipline: every count, rank sum, and CDF cross-product
  * is an exact BIGINT (average ranks carried as doubled integers; CDF
  * differences as c1·n2 − c2·n1 integer cross-products); share×ln
  * terms ride the round-9 DECIMAL grid. */
object Analytics50 {

  /** q359/q360 cohorts: urgent vs low order totals in exact cents. */
  private val CohortSql =
    """coh AS (
      |  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'a' ELSE 'b'
      |      END AS g,
      |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
      |), byval AS (
      |  SELECT cents,
      |    CAST(SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM coh GROUP BY 1
      |), tot AS (
      |  SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
      |  FROM byval
      |)""".stripMargin

  private def cohortByValue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .where(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(
        when(col("o_orderpriority") === "1-URGENT", "a").otherwise("b")
          .as("g"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy("cents")
      .agg(sum(when(col("g") === "a", 1L).otherwise(0L)).as("ca"),
        sum(when(col("g") === "b", 1L).otherwise(0L)).as("cb"))

  val all: Seq[Q] = Seq(

    // ---- Wilcoxon signed-rank on paired monthly revenue, 1995 vs
    // ---- 1996 (paired by calendar month): zero diffs dropped, ties
    // ---- carried as doubled average ranks r2 = 2·(rank−1)+t+1 so
    // ---- every rank sum stays an exact BIGINT; variance gets the
    // ---- standard Σ(t³−t)/48 tie correction. --------------------------
    Q("q356_wilcoxon_signed_rank",
      (s, dir) => {
        val m = t(s, dir, "orders")
          .where(year(col("o_orderdate")).isin(1995, 1996))
          .groupBy(month(col("o_orderdate")).as("mon"),
            year(col("o_orderdate")).as("yr"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long"))
            .as("cents"))
        val pairs = m.where(col("yr") === 1995).as("a")
          .join(m.where(col("yr") === 1996).as("b"), Seq("mon"))
          .select((col("b.cents") - col("a.cents")).as("d"))
          .where(col("d") =!= 0L)
          .select(col("d"), abs(col("d")).as("ad"))
        val ranked = pairs
          .withColumn("r2",
            lit(2L) * (rank().over(Window.orderBy("ad")).cast("long")
              - 1L)
              + count(lit(1)).over(Window.partitionBy("ad")).cast("long")
              + 1L)
        val ties = pairs.groupBy("ad").agg(count(lit(1)).as("tc"))
          .agg(coalesce(sum(col("tc") * col("tc") * col("tc") - col("tc")),
            lit(0L)).as("tsum"))
        ranked
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("d") > 0L, col("r2")).otherwise(0L)).as("w2"))
          .crossJoin(broadcast(ties))
          .select(col("n_pairs"),
            (col("w2").cast("double") / 2.0).as("w_plus"),
            round((col("w2").cast("double")
              - col("n_pairs").cast("double")
                * (col("n_pairs") + 1L).cast("double") / 2.0)
              / (lit(2.0) * sqrt(
                col("n_pairs").cast("double")
                  * (col("n_pairs") + 1L).cast("double")
                  * (lit(2L) * col("n_pairs") + 1L).cast("double") / 24.0
                  - col("tsum").cast("double") / 48.0)), 6).as("z"))
      },
      Some("""WITH m AS (
             |  SELECT MONTH(o_orderdate) AS mon, YEAR(o_orderdate) AS yr,
             |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
             |      AS BIGINT) AS cents
             |  FROM orders WHERE YEAR(o_orderdate) IN (1995, 1996)
             |  GROUP BY 1, 2
             |), pairs AS (
             |  SELECT b.cents - a.cents AS d, ABS(b.cents - a.cents) AS ad
             |  FROM m a JOIN m b ON a.mon = b.mon
             |  WHERE a.yr = 1995 AND b.yr = 1996 AND b.cents <> a.cents
             |), ranked AS (
             |  SELECT d,
             |    2 * (CAST(RANK() OVER (ORDER BY ad) AS BIGINT) - 1)
             |      + CAST(COUNT(*) OVER (PARTITION BY ad) AS BIGINT) + 1
             |      AS r2
             |  FROM pairs
             |), ties AS (
             |  SELECT COALESCE(SUM(tc * tc * tc - tc), 0) AS tsum
             |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS tc
             |        FROM pairs GROUP BY ad) g
             |), agg AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             |    CAST(SUM(CASE WHEN d > 0 THEN r2 ELSE 0 END) AS BIGINT)
             |      AS w2
             |  FROM ranked
             |)
             |SELECT n_pairs,
             |  CAST(w2 AS DOUBLE) / 2.0 AS w_plus,
             |  ROUND((CAST(w2 AS DOUBLE)
             |      - CAST(n_pairs AS DOUBLE) * (n_pairs + 1) / 2.0)
             |    / (2.0 * sqrt(CAST(n_pairs AS DOUBLE) * (n_pairs + 1)
             |        * (2 * n_pairs + 1) / 24.0
             |      - CAST(tsum AS DOUBLE) / 48.0)), 6) AS z
             |FROM agg CROSS JOIN ties""".stripMargin)),

    // ---- mutual information between order priority and customer
    // ---- market segment: MI = Σ (n_xy/n)·ln(n·n_xy/(n_x·n_y)) over
    // ---- the 5×5 lattice, marginal entropies the same way, NMI =
    // ---- MI/√(H_x·H_y). Counts exact; each ln term round-9 gridded. --
    Q("q357_mutual_information",
      (s, dir) => {
        // priority × segment contingency lattice (5×5): bounded
        // checkpoint certifies the marginal windows below
        val xy = graft.operators.Lattice.checkpointBounded(
          t(s, dir, "orders")
            .join(broadcast(t(s, dir, "customer")
              .select(col("c_custkey"), col("c_mktsegment").as("seg"))),
              col("o_custkey") === col("c_custkey"))
            .groupBy(col("o_orderpriority").as("pri"), col("seg"))
            .agg(count(lit(1)).as("nxy")),
          10000, "q357 priority x segment contingency")
        val withMarg = xy
          .withColumn("nx", sum(col("nxy")).over(Window.partitionBy("pri")))
          .withColumn("ny", sum(col("nxy")).over(Window.partitionBy("seg")))
          .withColumn("n", sum(col("nxy")).over(Window.partitionBy()))
        val mi = withMarg
          .select(round((col("nxy").cast("double") / col("n").cast("double"))
            * log(col("n").cast("double") * col("nxy").cast("double")
              / (col("nx").cast("double") * col("ny").cast("double"))), 9)
            .cast(DecimalType(38, 9)).as("term"),
            col("n"))
          .agg(max(col("n")).as("n"),
            sum(col("term")).cast("double").as("mi"))
        def ent(keyCol: String, out: String): DataFrame = xy
          .groupBy(col(keyCol)).agg(sum(col("nxy")).as("nk"))
          .withColumn("n", sum(col("nk")).over(Window.partitionBy()))
          .select(round(lit(-1.0)
            * (col("nk").cast("double") / col("n").cast("double"))
            * log(col("nk").cast("double") / col("n").cast("double")), 9)
            .cast(DecimalType(38, 9)).as("term"))
          .agg(sum(col("term")).cast("double").as(out))
        mi.crossJoin(broadcast(ent("pri", "hx")))
          .crossJoin(broadcast(ent("seg", "hy")))
          .select(col("n"),
            round(col("mi"), 6).as("mi_nats"),
            round(col("hx"), 6).as("h_priority"),
            round(col("hy"), 6).as("h_segment"),
            round(col("mi") / sqrt(col("hx") * col("hy")), 6).as("nmi"))
      },
      Some("""WITH xy AS (
             |  SELECT o_orderpriority AS pri, c_mktsegment AS seg,
             |    CAST(COUNT(*) AS BIGINT) AS nxy
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  GROUP BY 1, 2
             |), marg AS (
             |  SELECT nxy,
             |    CAST(SUM(nxy) OVER (PARTITION BY pri) AS BIGINT) AS nx,
             |    CAST(SUM(nxy) OVER (PARTITION BY seg) AS BIGINT) AS ny,
             |    CAST(SUM(nxy) OVER () AS BIGINT) AS n
             |  FROM xy
             |), mi AS (
             |  SELECT MAX(n) AS n,
             |    CAST(SUM(CAST(ROUND(
             |      (CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE))
             |      * ln(CAST(n AS DOUBLE) * CAST(nxy AS DOUBLE)
             |        / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))), 9)
             |      AS DECIMAL(38, 9))) AS DOUBLE) AS mi
             |  FROM marg
             |), hx AS (
             |  SELECT CAST(SUM(CAST(ROUND(
             |      -(CAST(nk AS DOUBLE) / CAST(n AS DOUBLE))
             |      * ln(CAST(nk AS DOUBLE) / CAST(n AS DOUBLE)), 9)
             |      AS DECIMAL(38, 9))) AS DOUBLE) AS hx
             |  FROM (SELECT CAST(SUM(nxy) AS BIGINT) AS nk,
             |      CAST(SUM(SUM(nxy)) OVER () AS BIGINT) AS n
             |    FROM xy GROUP BY pri) k
             |), hy AS (
             |  SELECT CAST(SUM(CAST(ROUND(
             |      -(CAST(nk AS DOUBLE) / CAST(n AS DOUBLE))
             |      * ln(CAST(nk AS DOUBLE) / CAST(n AS DOUBLE)), 9)
             |      AS DECIMAL(38, 9))) AS DOUBLE) AS hy
             |  FROM (SELECT CAST(SUM(nxy) AS BIGINT) AS nk,
             |      CAST(SUM(SUM(nxy)) OVER () AS BIGINT) AS n
             |    FROM xy GROUP BY seg) k
             |)
             |SELECT n,
             |  ROUND(mi, 6) AS mi_nats,
             |  ROUND(hx, 6) AS h_priority,
             |  ROUND(hy, 6) AS h_segment,
             |  ROUND(mi / sqrt(hx * hy), 6) AS nmi
             |FROM mi CROSS JOIN hx CROSS JOIN hy""".stripMargin)),

    // ---- Jensen-Shannon divergence between the en and de vocabulary
    // ---- distributions (words ≥3 chars): per-term p·ln(p/m) with the
    // ---- ratio p/m carried as the exact integer cross-product
    // ---- 2·ca·nb/(ca·nb + cb·na); round-9 grid terms; JS = half the
    // ---- two KL sums, bits = nats/ln 2. Bounded in [0, ln 2]. --------
    Q("q358_jensen_shannon",
      (s, dir) => {
        val occ = t(s, dir, "documents")
          .where(col("lang").isin("en", "de"))
          .select(col("lang"), explode(split(col("text"), " ")).as("w"))
          .where(length(col("w")) >= 3)
          .groupBy("w")
          .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ca"),
            sum(when(col("lang") === "de", 1L).otherwise(0L)).as("cb"))
          .localCheckpoint(true)
        val tots = occ.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
          sum(when(col("ca") > 0L, 1L).otherwise(0L)).as("vocab_en"),
          sum(when(col("cb") > 0L, 1L).otherwise(0L)).as("vocab_de"),
          count(lit(1)).as("vocab_union"))
        occ.crossJoin(broadcast(tots))
          .select(col("vocab_en"), col("vocab_de"), col("vocab_union"),
            when(col("ca") > 0L, round(
              (col("ca").cast("double") / col("na").cast("double"))
                * log(lit(2.0) * (col("ca") * col("nb")).cast("double")
                  / (col("ca") * col("nb") + col("cb") * col("na"))
                    .cast("double")), 9))
              .otherwise(lit(0.0)).cast(DecimalType(38, 9)).as("ta"),
            when(col("cb") > 0L, round(
              (col("cb").cast("double") / col("nb").cast("double"))
                * log(lit(2.0) * (col("cb") * col("na")).cast("double")
                  / (col("ca") * col("nb") + col("cb") * col("na"))
                    .cast("double")), 9))
              .otherwise(lit(0.0)).cast(DecimalType(38, 9)).as("tb"))
          .groupBy("vocab_en", "vocab_de", "vocab_union")
          .agg(((sum(col("ta")) + sum(col("tb"))).cast("double") / 2.0)
            .as("js"))
          .select(col("vocab_en"), col("vocab_de"), col("vocab_union"),
            round(col("js"), 6).as("js_nats"),
            round(col("js") / math.log(2.0), 6).as("js_bits"))
      },
      Some("""WITH occ AS (
             |  SELECT w,
             |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS ca,
             |    CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS cb
             |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
             |        FROM documents WHERE lang IN ('en', 'de')) x
             |  WHERE LENGTH(w) >= 3
             |  GROUP BY 1
             |), tots AS (
             |  SELECT CAST(SUM(ca) AS BIGINT) AS na,
             |    CAST(SUM(cb) AS BIGINT) AS nb,
             |    CAST(SUM(CASE WHEN ca > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS vocab_en,
             |    CAST(SUM(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS vocab_de,
             |    CAST(COUNT(*) AS BIGINT) AS vocab_union
             |  FROM occ
             |), terms AS (
             |  SELECT vocab_en, vocab_de, vocab_union,
             |    CASE WHEN ca > 0 THEN CAST(ROUND(
             |      (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
             |      * ln(2.0 * CAST(ca * nb AS DOUBLE)
             |        / CAST(ca * nb + cb * na AS DOUBLE)), 9)
             |      AS DECIMAL(38, 9)) ELSE CAST(0 AS DECIMAL(38, 9)) END
             |      AS ta,
             |    CASE WHEN cb > 0 THEN CAST(ROUND(
             |      (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
             |      * ln(2.0 * CAST(cb * na AS DOUBLE)
             |        / CAST(ca * nb + cb * na AS DOUBLE)), 9)
             |      AS DECIMAL(38, 9)) ELSE CAST(0 AS DECIMAL(38, 9)) END
             |      AS tb
             |  FROM occ CROSS JOIN tots
             |), agg AS (
             |  SELECT vocab_en, vocab_de, vocab_union,
             |    CAST(SUM(ta) + SUM(tb) AS DOUBLE) / 2.0 AS js
             |  FROM terms GROUP BY 1, 2, 3
             |)
             |SELECT vocab_en, vocab_de, vocab_union,
             |  ROUND(js, 6) AS js_nats,
             |  ROUND(js / ln(2.0), 6) AS js_bits
             |FROM agg""".stripMargin)),

    // ---- exact 1-D Wasserstein-1 between urgent and low order-total
    // ---- distributions: W1 = ∫|F_a−F_b| dx over the pooled sorted
    // ---- support, each |F_a−F_b| carried as the exact integer
    // ---- cross-product |cum_a·n_b − cum_b·n_a| times the cent gap to
    // ---- the next value — one BIGINT sum, divided once at the end. ---
    Q("q359_wasserstein_distance",
      (s, dir) => {
        val byval = cohortByValue(s, dir)
        val tot = byval.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
        val w = Window.orderBy("cents")
        byval
          .withColumn("cuma", sum(col("ca")).over(w))
          .withColumn("cumb", sum(col("cb")).over(w))
          .withColumn("gap", lead(col("cents"), 1).over(w) - col("cents"))
          .where(col("gap").isNotNull)
          .crossJoin(broadcast(tot))
          .select(col("na"), col("nb"),
            (abs(col("cuma") * col("nb") - col("cumb") * col("na"))
              .cast(DecimalType(38, 0)) * col("gap")).as("piece"))
          .groupBy("na", "nb")
          .agg(sum(col("piece")).as("area"))
          .select(col("na").as("n_urgent"), col("nb").as("n_low"),
            round((col("area") / (col("na") * col("nb")).cast("double")
              / 100.0).cast("double"), 6).as("w1_dollars"))
      },
      Some(s"""WITH $CohortSql, cum AS (
             |  SELECT cents,
             |    CAST(SUM(ca) OVER (ORDER BY cents) AS BIGINT) AS cuma,
             |    CAST(SUM(cb) OVER (ORDER BY cents) AS BIGINT) AS cumb,
             |    LEAD(cents) OVER (ORDER BY cents) - cents AS gap
             |  FROM byval
             |)
             |SELECT na AS n_urgent, nb AS n_low,
             |  ROUND(CAST(SUM(CAST(ABS(cuma * nb - cumb * na)
             |      AS DECIMAL(38, 0)) * gap)
             |    / CAST(na * nb AS DOUBLE) / 100.0 AS DOUBLE), 6)
             |    AS w1_dollars
             |FROM cum CROSS JOIN tot
             |WHERE gap IS NOT NULL
             |GROUP BY na, nb""".stripMargin)),

    // ---- Cliff's delta + Vargha-Delaney A between the same cohorts:
    // ---- greater/less/tie masses from per-value counts × the other
    // ---- cohort's cumulative-below count — O(distinct values), never
    // ---- the n_a×n_b pair join; A = (2·gt + ties)/(2·n_a·n_b) stays
    // ---- an exact integer ratio until the final division. ------------
    Q("q360_cliffs_delta",
      (s, dir) => {
        val byval = cohortByValue(s, dir)
        val w = Window.orderBy("cents")
        val masses = byval
          .withColumn("cumbLt",
            coalesce(sum(col("cb")).over(
              w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("cumaLt",
            coalesce(sum(col("ca")).over(
              w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
            sum((col("ca") * col("cumbLt")).cast(DecimalType(38, 0)))
              .as("gt"),
            sum((col("cb") * col("cumaLt")).cast(DecimalType(38, 0)))
              .as("lt"),
            sum((col("ca") * col("cb")).cast(DecimalType(38, 0)))
              .as("ties"))
        masses.select(col("na").as("n_urgent"), col("nb").as("n_low"),
          col("gt").cast("long").as("greater"),
          col("lt").cast("long").as("less"),
          col("ties").cast("long").as("ties"),
          round((col("gt") - col("lt")).cast("double")
            / (col("na") * col("nb")).cast("double"), 6).as("cliffs_delta"),
          round((lit(2L) * col("gt") + col("ties")).cast("double")
            / (lit(2L) * (col("na") * col("nb"))).cast("double"), 6)
            .as("vd_a"))
      },
      Some(s"""WITH $CohortSql, cum AS (
             |  SELECT ca, cb,
             |    COALESCE(CAST(SUM(cb) OVER (ORDER BY cents
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS BIGINT), 0) AS cumb_lt,
             |    COALESCE(CAST(SUM(ca) OVER (ORDER BY cents
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS BIGINT), 0) AS cuma_lt
             |  FROM byval
             |), masses AS (
             |  SELECT CAST(SUM(ca) AS BIGINT) AS na,
             |    CAST(SUM(cb) AS BIGINT) AS nb,
             |    SUM(CAST(ca * cumb_lt AS DECIMAL(38, 0))) AS gt,
             |    SUM(CAST(cb * cuma_lt AS DECIMAL(38, 0))) AS lt,
             |    SUM(CAST(ca * cb AS DECIMAL(38, 0))) AS ties
             |  FROM cum
             |)
             |SELECT na AS n_urgent, nb AS n_low,
             |  CAST(gt AS BIGINT) AS greater,
             |  CAST(lt AS BIGINT) AS less,
             |  CAST(ties AS BIGINT) AS ties,
             |  ROUND(CAST(gt - lt AS DOUBLE) / CAST(na * nb AS DOUBLE), 6)
             |    AS cliffs_delta,
             |  ROUND(CAST(2 * gt + ties AS DOUBLE)
             |    / CAST(2 * (na * nb) AS DOUBLE), 6) AS vd_a
             |FROM masses""".stripMargin)),
  )
}
