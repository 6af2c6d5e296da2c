package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Seventeenth analytics pack (round 6, session 6): rank statistics and
  * SQL-surface widening — Spearman rank correlation, Mann-Whitney U,
  * Theil-Sen robust slope, a window-function gallery
  * (ntile/percent_rank/cume_dist/lag/lead), and a pivot matrix.
  *
  * Determinism discipline (shared with q141-q190): every statistic is
  * reduced to EXACT integer/decimal aggregates first (tie-averaged
  * ranks are stored doubled so they stay integral; money stays
  * DECIMAL(12,2)); the only double arithmetic is a final closed-form
  * expression over those exact values, written with the identical
  * parse tree in Spark and in the DuckDB oracle, then round()ed.
  * IEEE 754 ops are correctly rounded, so equal exact inputs + equal
  * expression shape = bit-equal output in both engines.
  */
object Analytics17 {

  // Doubled average ranks (2·avgrank = 2·minrank + ties − 1, integral
  // under ties) come from Ranks.withMidrank2 — a census prefix-sum, not
  // a |sources|-task rank window. Scale-invariance of Pearson makes the
  // doubling drop out of Spearman's rho.

  val all: Seq[Q] = Seq(

    // ---- Spearman rank correlation per source between document
    // ---- length and vocabulary richness (distinct-token count):
    // ---- tie-averaged ranks doubled to integers, then the closed
    // ---- Pearson form over exact BIGINT rank sums. One window pass
    // ---- per variable, one tiny group-by — no per-pair work, scales
    // ---- as two sorts of the corpus --------------------------------
    Q("q191_spearman_rank",
      (s, dir) => {
        // NOTE r12: loadParallel (and loadParallel + eager checkpoint)
        // were tried here and measured +33..40% — the per-row
        // distinct-token count is cheaper than any extra exchange at
        // this corpus size. Plain scan kept.
        val docs = t(s, dir, "documents").select(
          col("source"), col("doc_id"), col("n_chars").as("x"),
          size(array_distinct(split(col("text"), " ")))
            .cast("long").as("y"))
        // both midranks in ONE fused pass: the x and y censuses union
        // into a single prefix-sum (one range shuffle, one offsets
        // aggregate) instead of two chained Ranks passes
        val ranked = graft.operators.Ranks.withMidrank2s(docs,
            Seq(col("source")), Seq((col("x"), "rx"), (col("y"), "ry")))
          .select(col("source"), col("rx"), col("ry"))
        val sums = ranked.groupBy("source").agg(
          count(lit(1)).as("n"),
          sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
          sum(col("rx") * col("rx")).as("sxx"),
          sum(col("ry") * col("ry")).as("syy"),
          sum(col("rx") * col("ry")).as("sxy"))
        val n = col("n").cast("double")
        def d(c: String) = col(c).cast("double")
        val num = n * d("sxy") - d("sx") * d("sy")
        val den = sqrt((n * d("sxx") - d("sx") * d("sx")) *
          (n * d("syy") - d("sy") * d("sy")))
        sums.select(col("source"), col("n"),
            when(den > 0.0, round(num / den, 6)).as("rho"))
          .orderBy("source")
      },
      Some("""WITH docs AS (
             |  SELECT source, doc_id, n_chars AS x,
             |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS y
             |  FROM documents
             |), ranked AS (
             |  SELECT source,
             |    CAST(2 * RANK() OVER (PARTITION BY source ORDER BY x)
             |      + COUNT(*) OVER (PARTITION BY source, x) - 1 AS BIGINT) AS rx,
             |    CAST(2 * RANK() OVER (PARTITION BY source ORDER BY y)
             |      + COUNT(*) OVER (PARTITION BY source, y) - 1 AS BIGINT) AS ry
             |  FROM docs
             |), sums AS (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(rx) AS BIGINT) AS sx, CAST(SUM(ry) AS BIGINT) AS sy,
             |    CAST(SUM(rx * rx) AS BIGINT) AS sxx,
             |    CAST(SUM(ry * ry) AS BIGINT) AS syy,
             |    CAST(SUM(rx * ry) AS BIGINT) AS sxy
             |  FROM ranked GROUP BY source
             |)
             |SELECT source, n,
             |  CASE WHEN sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
             |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) > 0.0
             |  THEN ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
             |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             |  END AS rho
             |FROM sums
             |ORDER BY source""".stripMargin)),

    // ---- Mann-Whitney U: is the n_chars distribution of each
    // ---- non-English lang shifted vs English? Normal approximation
    // ---- WITHOUT continuity correction, WITH the tie correction
    // ---- (sum t^3 - t over combined-sample tie groups). The English
    // ---- sample replicates once per comparison lang (bounded by
    // ---- #langs, not data) ------------------------------------------
    Q("q192_mann_whitney",
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("lang"), col("n_chars"))
        val langs = docs.filter(col("lang") =!= "en")
          .select(col("lang").as("pair_lang")).distinct()
        val en = docs.filter(col("lang") === "en")
          .crossJoin(broadcast(langs))
          .select(col("pair_lang"), col("n_chars"), lit(1L).as("is_en"))
        val other = docs.filter(col("lang") =!= "en")
          .select(col("lang").as("pair_lang"), col("n_chars"),
            lit(0L).as("is_en"))
        val combined = en.unionByName(other)
        val ranked = graft.operators.Ranks.withMidrank2(combined,
            Seq(col("pair_lang")), col("n_chars"), "r2")
          .select(col("pair_lang"), col("n_chars"), col("is_en"),
            col("r2"))
        // tie groups of the combined sample, per comparison
        val ties = ranked.groupBy("pair_lang", "n_chars")
          .agg(count(lit(1)).as("tc"))
          .groupBy("pair_lang")
          .agg(sum(col("tc") * col("tc") * col("tc") - col("tc")).as("tsum"))
        val sums = ranked.groupBy("pair_lang").agg(
          sum(col("is_en")).as("n1"),
          sum(lit(1L) - col("is_en")).as("n2"),
          sum(col("is_en") * col("r2")).as("r1x2"))
        def d(c: Column) = c.cast("double")
        val nn = col("n1") + col("n2")
        // 2·U1 = (2·R1) − n1(n1+1); ranks were stored doubled
        val u = d(col("r1x2") - col("n1") * (col("n1") + 1)) / 2.0
        val mu = d(col("n1") * col("n2")) / 2.0
        val sigma2 = (d(col("n1")) * d(col("n2")) / 12.0) *
          (d(nn + 1) - d(col("tsum")) / (d(nn) * d(nn - 1)))
        sums.join(ties, Seq("pair_lang"))
          .select(col("pair_lang").as("lang"), col("n1"), col("n2"),
            u.as("u"),
            when(sigma2 > 0.0, round((u - mu) / sqrt(sigma2), 6)).as("z"))
          .orderBy("lang")
      },
      Some("""WITH langs AS (
             |  SELECT DISTINCT lang AS pair_lang FROM documents WHERE lang <> 'en'
             |), combined AS (
             |  SELECT l.pair_lang, d.n_chars, CAST(1 AS BIGINT) AS is_en
             |  FROM documents d CROSS JOIN langs l WHERE d.lang = 'en'
             |  UNION ALL
             |  SELECT lang AS pair_lang, n_chars, CAST(0 AS BIGINT) AS is_en
             |  FROM documents WHERE lang <> 'en'
             |), ranked AS (
             |  SELECT pair_lang, n_chars, is_en,
             |    CAST(2 * RANK() OVER (PARTITION BY pair_lang ORDER BY n_chars)
             |      + COUNT(*) OVER (PARTITION BY pair_lang, n_chars) - 1
             |      AS BIGINT) AS r2
             |  FROM combined
             |), ties AS (
             |  SELECT pair_lang, CAST(SUM(tc * tc * tc - tc) AS BIGINT) AS tsum
             |  FROM (SELECT pair_lang, n_chars, CAST(COUNT(*) AS BIGINT) AS tc
             |        FROM ranked GROUP BY 1, 2)
             |  GROUP BY pair_lang
             |), sums AS (
             |  SELECT pair_lang, CAST(SUM(is_en) AS BIGINT) AS n1,
             |    CAST(SUM(1 - is_en) AS BIGINT) AS n2,
             |    CAST(SUM(is_en * r2) AS BIGINT) AS r1x2
             |  FROM ranked GROUP BY pair_lang
             |)
             |SELECT s.pair_lang AS lang, n1, n2,
             |  CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u,
             |  CASE WHEN (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)
             |      * (CAST(n1 + n2 + 1 AS DOUBLE) - CAST(tsum AS DOUBLE)
             |        / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE))) > 0.0
             |  THEN ROUND((CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0
             |      - CAST(n1 * n2 AS DOUBLE) / 2.0)
             |    / sqrt((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)
             |      * (CAST(n1 + n2 + 1 AS DOUBLE) - CAST(tsum AS DOUBLE)
             |        / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)))), 6)
             |  END AS z
             |FROM sums s JOIN ties t ON s.pair_lang = t.pair_lang
             |ORDER BY lang""".stripMargin)),

    // ---- Theil-Sen robust trend per order status: median of all
    // ---- pairwise slopes of the monthly-revenue series. Pairs are
    // ---- bounded by the calendar (#months choose 2 per status, never
    // ---- data volume). The median is the explicit average of the two
    // ---- middle order statistics — same closed form in both engines,
    // ---- no engine-specific quantile interpolation -------------------
    Q("q193_theil_sen",
      (s, dir) => {
        val monthly = monthlyRevenue(t(s, dir, "orders"), byStatus = true)
          .select(col("status"),
            (year(col("mon")) * 12 + month(col("mon"))).cast("long").as("mi"),
            col("rev").cast("double").as("rev"))
        val a = monthly.select(col("status"), col("mi").as("mi1"),
          col("rev").as("rev1"))
        val b = monthly.select(col("status"), col("mi").as("mi2"),
          col("rev").as("rev2"))
        val slopes = a.join(b, Seq("status"))
          .where(col("mi1") < col("mi2"))
          .select(col("status"),
            ((col("rev2") - col("rev1")) /
              (col("mi2") - col("mi1")).cast("double")).as("slope"))
        val w = Window.partitionBy("status").orderBy("slope")
        val ranked = slopes.select(col("status"), col("slope"),
          row_number().over(w).as("rn"),
          count(lit(1)).over(Window.partitionBy("status")).as("np"))
        ranked
          .where(col("rn") === floor((col("np") + 1) / 2) ||
            col("rn") === floor(col("np") / 2) + 1)
          .groupBy("status")
          .agg(max(col("np")).as("n_pairs"),
            round(avg(col("slope")), 4).as("sen_slope"))
          .orderBy("status")
      },
      Some("""WITH monthly AS (
             |  SELECT o_orderstatus AS status,
             |    CAST(EXTRACT(year FROM date_trunc('month', o_orderdate)) * 12
             |      + EXTRACT(month FROM date_trunc('month', o_orderdate))
             |      AS BIGINT) AS mi,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS rev
             |  FROM orders GROUP BY 1, 2
             |), slopes AS (
             |  SELECT a.status, (b.rev - a.rev) / CAST(b.mi - a.mi AS DOUBLE) AS slope
             |  FROM monthly a JOIN monthly b
             |    ON a.status = b.status AND a.mi < b.mi
             |), ranked AS (
             |  SELECT status, slope,
             |    ROW_NUMBER() OVER (PARTITION BY status ORDER BY slope) AS rn,
             |    COUNT(*) OVER (PARTITION BY status) AS np
             |  FROM slopes
             |)
             |SELECT status, CAST(MAX(np) AS BIGINT) AS n_pairs,
             |  ROUND(AVG(slope), 4) AS sen_slope
             |FROM ranked
             |WHERE rn = (np + 1) // 2 OR rn = np // 2 + 1
             |GROUP BY status
             |ORDER BY status""".stripMargin)),

    // ---- window-function gallery over a deterministic total order
    // ---- (price, key): quartile bucket, percent_rank, cume_dist,
    // ---- neighbor prices with defaults. The windows compute over the
    // ---- FULL partition; the key filter afterwards only thins the
    // ---- output (sampling must not change any window value) ---------
    Q("q194_window_gallery",
      (s, dir) => {
        // status has 3 values over base-grain orders: a partitionBy
        // on it is a single-task sort in all but name (each task
        // sorts ~n/3 rows at 100 TB). Rank machinery instead: ONE
        // Ranks.withPrefixSums pass (grp = status) yields the exact
        // 1-based position rn and group size n per status under the
        // total order (price, key); quartile / percent_rank /
        // cume_dist are pure arithmetic on (rn, n) — no ties, since
        // the order key is unique. Neighbor prices come from two
        // equi-joins on (status, rn±1) against the checkpointed
        // narrow rank frame — the probe side is the 1/199 sample
        // (sampling after ranking, so no window value changes).
        import graft.operators.Ranks
        val ranked = Ranks.withPrefixSums(
            t(s, dir, "orders").select(col("o_orderkey"),
              col("o_orderstatus").as("status"),
              col("o_totalprice").as("price")),
            Seq(col("status")), Seq(col("price"), col("o_orderkey")),
            Seq((lit(1L), "rn", "n")))
          .localCheckpoint(false)
        val nbr = ranked.select(col("status"), col("rn"), col("price"))
        ranked.where(col("o_orderkey") % 199 === 0)
          .join(nbr.select(col("status"), (col("rn") + 1L).as("rn"),
            col("price").as("pp")), Seq("status", "rn"), "left")
          .join(nbr.select(col("status"), (col("rn") - 1L).as("rn"),
            col("price").as("np")), Seq("status", "rn"), "left")
          .select(col("o_orderkey"), col("status"), col("price"),
            Ranks.ntileFromRank(col("rn"), col("n"), 4).as("quartile"),
            when(col("n") === 1L, lit(0.0)).otherwise(
              round((col("rn") - 1L).cast("double")
                / (col("n") - 1L).cast("double"), 6)).as("pct_rank"),
            round(col("rn").cast("double") / col("n").cast("double"), 6)
              .as("cume"),
            coalesce(col("pp"), lit(-1.0)).as("prev_price"),
            coalesce(col("np"), lit(-1.0)).as("next_price"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT * FROM (
             |  SELECT o_orderkey, o_orderstatus AS status,
             |    o_totalprice AS price,
             |    CAST(NTILE(4) OVER w AS INT) AS quartile,
             |    ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
             |    ROUND(CUME_DIST() OVER w, 6) AS cume,
             |    LAG(o_totalprice, 1, -1.0) OVER w AS prev_price,
             |    LEAD(o_totalprice, 1, -1.0) OVER w AS next_price
             |  FROM orders
             |  WINDOW w AS (PARTITION BY o_orderstatus
             |               ORDER BY o_totalprice, o_orderkey)
             |)
             |WHERE o_orderkey % 199 = 0
             |ORDER BY o_orderkey""".stripMargin)),

    // ---- pivot: month × status revenue matrix with explicit value
    // ---- columns (the reference's cross-tab reporting shape). Money
    // ---- stays decimal through the sums; the pivot is one partial-agg
    // ---- group-by — value columns are declared, so no extra pass to
    // ---- discover them ----------------------------------------------
    Q("q195_pivot_matrix",
      (s, dir) => statusRevenueWide(t(s, dir, "orders")).orderBy("mon"),
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS mon,
             |  CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F'
             |    THEN CAST(o_totalprice AS DECIMAL(12,2)) END), 0) AS DOUBLE) AS f_rev,
             |  CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O'
             |    THEN CAST(o_totalprice AS DECIMAL(12,2)) END), 0) AS DOUBLE) AS o_rev,
             |  CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P'
             |    THEN CAST(o_totalprice AS DECIMAL(12,2)) END), 0) AS DOUBLE) AS p_rev
             |FROM orders
             |GROUP BY 1
             |ORDER BY mon""".stripMargin))
  )
}
