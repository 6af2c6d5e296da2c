package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Eighteenth analytics pack (round 6, session 6): label-centroid
  * cosine matrix, Haar wavelet energy spectrum, Poisson-bootstrap
  * confidence intervals, cross-correlation of two event series, and a
  * Cramér's V association matrix.
  *
  * Exactness discipline: doubles are quantized onto an INTEGER grid
  * (`round(x · 10^k)` — the .5 comparison is exact in binary, so both
  * engines round identically) before any aggregation; sums then run in
  * BIGINT/decimal, and the only residual double math is a closed-form
  * final expression with the identical parse tree in both engines.
  */
object Analytics18 {

  /** Cumulative Poisson(1) CDF × 10^6, rounded — shared integer
    * thresholds for the bootstrap weight draw (same literals appear in
    * the SQL oracle, so the draw replays exactly). */
  private val PoissonCdf = Seq(367879L, 735759L, 919699L, 981012L,
    996340L, 999406L, 999917L)
  private val BootstrapB = 64

  /** χ²/Cramér's V for a set of categorical column pairs, computed off
    * ONE fact scan: each row explodes into a (pair, a, b) triple per
    * requested pair, and every downstream aggregate/join is keyed by
    * `pair` — the alternative (one plan chain per pair) scans the fact
    * table per pair and triples the stage count. Counts are exact;
    * each cell's χ² contribution is quantized to the 1e-9 grid and
    * summed as BIGINT, so the total is partition-order independent.
    * Grouping values are compared as strings (injective renderings),
    * which leaves every count unchanged. */
  private def cramersV(df: DataFrame,
                       pairs: Seq[(String, Column, Column)]): DataFrame = {
    val tagged = df.select(explode(array(pairs.map { case (name, a, b) =>
        struct(lit(name).as("pair"), a.cast("string").as("a"),
          b.cast("string").as("b"))
      }: _*)).as("t"))
      .select(col("t.pair").as("pair"), col("t.a").as("a"), col("t.b").as("b"))
    val cells = tagged.groupBy("pair", "a", "b").agg(count(lit(1)).as("o"))
      .persist() // Σ r×c-bounded; consumed by marginals, totals, join
    val rows = cells.groupBy("pair", "a").agg(sum(col("o")).as("rs"))
    val cols = cells.groupBy("pair", "b").agg(sum(col("o")).as("cs"))
    val tot = cells.groupBy("pair").agg(sum(col("o")).as("n"),
      countDistinct(col("a")).as("r"),
      countDistinct(col("b")).as("c"))
    val e = col("rs").cast("double") * col("cs").cast("double") /
      col("n").cast("double")
    val contrib = (col("o").cast("double") - e) *
      (col("o").cast("double") - e) / e
    cells.join(rows, Seq("pair", "a")).join(cols, Seq("pair", "b"))
      .join(broadcast(tot), Seq("pair"))
      .select(col("pair"), col("n"), col("r"), col("c"),
        round(contrib * 1e9).cast("long").as("cq"))
      .groupBy("pair", "n", "r", "c").agg(sum(col("cq")).as("chi2q"))
      .select(col("pair"), col("n"),
        ((col("r") - 1) * (col("c") - 1)).as("dof"),
        round(col("chi2q").cast("double") / 1e9, 6).as("chi2"),
        round(sqrt((col("chi2q").cast("double") / 1e9) /
          (col("n").cast("double") *
            least(col("r") - 1, col("c") - 1).cast("double"))), 6)
          .as("cramers_v"))
  }

  /** SQL mirror of [[cramersV]] (self-contained subqueries so three
    * instances can union without CTE-name collisions). */
  private def cramersVSql(aExpr: String, bExpr: String,
                          pairName: String): String = {
    val cells = s"""SELECT $aExpr AS a, $bExpr AS b,
                   |            CAST(COUNT(*) AS BIGINT) AS o
                   |          FROM orders GROUP BY 1, 2""".stripMargin
    s"""SELECT '$pairName' AS pair, n, (r - 1) * (c - 1) AS dof,
       |  ROUND(CAST(chi2q AS DOUBLE) / 1e9, 6) AS chi2,
       |  ROUND(sqrt((CAST(chi2q AS DOUBLE) / 1e9)
       |    / (CAST(n AS DOUBLE) * CAST(least(r - 1, c - 1) AS DOUBLE))), 6)
       |    AS cramers_v
       |FROM (
       |  SELECT MAX(t.n) AS n, MAX(t.r) AS r, MAX(t.c) AS c,
       |    CAST(SUM(CAST(ROUND(
       |      (CAST(ce.o AS DOUBLE) - CAST(rs.rs AS DOUBLE) * CAST(cs.cs AS DOUBLE) / CAST(t.n AS DOUBLE))
       |      * (CAST(ce.o AS DOUBLE) - CAST(rs.rs AS DOUBLE) * CAST(cs.cs AS DOUBLE) / CAST(t.n AS DOUBLE))
       |      / (CAST(rs.rs AS DOUBLE) * CAST(cs.cs AS DOUBLE) / CAST(t.n AS DOUBLE))
       |      * 1e9) AS BIGINT)) AS BIGINT) AS chi2q
       |  FROM ($cells) ce
       |  JOIN (SELECT a, CAST(SUM(o) AS BIGINT) AS rs
       |        FROM ($cells) GROUP BY a) rs ON ce.a = rs.a
       |  JOIN (SELECT b, CAST(SUM(o) AS BIGINT) AS cs
       |        FROM ($cells) GROUP BY b) cs ON ce.b = cs.b
       |  CROSS JOIN (SELECT CAST(SUM(o) AS BIGINT) AS n,
       |        CAST(COUNT(DISTINCT a) AS BIGINT) AS r,
       |        CAST(COUNT(DISTINCT b) AS BIGINT) AS c
       |        FROM ($cells)) t
       |)""".stripMargin
  }

  val all: Seq[Q] = Seq(

    // ---- label-centroid cosine matrix: per-class mean embedding,
    // ---- then all 45 pairwise cosines (cluster-geometry audit of the
    // ---- embedding space). Components are quantized to the 1e-4 grid
    // ---- BEFORE summing, so centroid sums are exact BIGINTs; cosine
    // ---- is scale-invariant, so the un-divided SUM vector stands in
    // ---- for the mean. One narrow pass + a 640-row self-join --------
    Q("q196_centroid_cosine",
      (s, dir) => {
        val cent = t(s, dir, "embeddings")
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "e")))
          .select(col("label"), col("pos"),
            round(col("e").cast("double") * 10000).cast("long").as("q"))
          .groupBy("label", "pos").agg(sum(col("q")).as("s"))
        val a = cent.select(col("label").as("label_a"), col("pos"),
          col("s").as("sa"))
        val b = cent.select(col("label").as("label_b"), col("pos"),
          col("s").as("sb"))
        a.join(b, Seq("pos"))
          .where(col("label_a") < col("label_b"))
          .groupBy("label_a", "label_b")
          .agg(sum(col("sa") * col("sb")).as("dot"),
            sum(col("sa") * col("sa")).as("na"),
            sum(col("sb") * col("sb")).as("nb"))
          .select(col("label_a"), col("label_b"),
            round(col("dot").cast("double") /
              sqrt(col("na").cast("double") * col("nb").cast("double")), 6)
              .as("cos"))
          .orderBy("label_a", "label_b")
      },
      Some("""WITH comp AS (
             |  SELECT label, unnest(range(len(embedding))) AS pos,
             |    unnest(embedding) AS e
             |  FROM embeddings
             |), cent AS (
             |  SELECT label, pos,
             |    CAST(SUM(CAST(ROUND(CAST(e AS DOUBLE) * 10000) AS BIGINT))
             |      AS BIGINT) AS s
             |  FROM comp GROUP BY label, pos
             |), pairs AS (
             |  SELECT a.label AS label_a, b.label AS label_b,
             |    CAST(SUM(a.s * b.s) AS BIGINT) AS dot,
             |    CAST(SUM(a.s * a.s) AS BIGINT) AS na,
             |    CAST(SUM(b.s * b.s) AS BIGINT) AS nb
             |  FROM cent a JOIN cent b
             |    ON a.pos = b.pos AND a.label < b.label
             |  GROUP BY 1, 2
             |)
             |SELECT label_a, label_b,
             |  ROUND(CAST(dot AS DOUBLE)
             |    / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS cos
             |FROM pairs
             |ORDER BY label_a, label_b""".stripMargin)),

    // ---- Haar wavelet energy spectrum of the daily 'view' series:
    // ---- unnormalized transform (approx = a+b, detail = a−b) keeps
    // ---- every coefficient an INTEGER, so per-level detail energies
    // ---- are exact BIGINTs end-to-end. One data pass builds the
    // ---- 32-slot daily spine; the 5 pyramid levels are driver-side
    // ---- trivia over ≤32 rows ---------------------------------------
    Q("q197_haar_energy",
      (s, dir) => {
        val spark = s
        val daily = t(s, dir, "events")
          .where(col("event_type") === "view")
          .groupBy((dayofmonth(col("ts")) - 1).cast("long").as("idx"))
          .agg(count(lit(1)).as("c"))
        val spine = spark.range(32).select(col("id").as("idx"))
          .join(daily, Seq("idx"), "left")
          .select(col("idx"), coalesce(col("c"), lit(0L)).as("c"))
        var level = spine
        var out: DataFrame = null
        for (l <- 1 to 5) {
          val paired = level
            .groupBy(floor(col("idx") / 2).as("pidx"))
            .agg(sum(when(col("idx") % 2 === 0, col("c")).otherwise(0L))
              .as("a"),
              sum(when(col("idx") % 2 === 1, col("c")).otherwise(0L))
                .as("b"))
          val next = paired.select(col("pidx").as("idx"),
            (col("a") + col("b")).as("c"))
          val energy = paired
            .select(((col("a") - col("b")) * (col("a") - col("b"))).as("d2"))
            .agg(sum(col("d2")).as("energy"), count(lit(1)).as("n_coeffs"))
            .select(lit(l).as("level"), col("n_coeffs"), col("energy"))
          out = if (out == null) energy else out.unionByName(energy)
          level = next
        }
        out.orderBy("level")
      },
      Some("""WITH daily AS (
             |  SELECT CAST(EXTRACT(day FROM ts) - 1 AS BIGINT) AS idx,
             |    CAST(COUNT(*) AS BIGINT) AS c
             |  FROM events WHERE event_type = 'view' GROUP BY 1
             |), l0 AS (
             |  SELECT r.range AS idx, COALESCE(d.c, 0) AS c
             |  FROM range(32) r LEFT JOIN daily d ON r.range = d.idx
             |), l1 AS (
             |  SELECT idx // 2 AS idx,
             |    SUM(CASE WHEN idx % 2 = 0 THEN c ELSE 0 END) AS a,
             |    SUM(CASE WHEN idx % 2 = 1 THEN c ELSE 0 END) AS b
             |  FROM l0 GROUP BY 1
             |), l2 AS (
             |  SELECT idx // 2 AS idx,
             |    SUM(CASE WHEN idx % 2 = 0 THEN a + b ELSE 0 END) AS a,
             |    SUM(CASE WHEN idx % 2 = 1 THEN a + b ELSE 0 END) AS b
             |  FROM l1 GROUP BY 1
             |), l3 AS (
             |  SELECT idx // 2 AS idx,
             |    SUM(CASE WHEN idx % 2 = 0 THEN a + b ELSE 0 END) AS a,
             |    SUM(CASE WHEN idx % 2 = 1 THEN a + b ELSE 0 END) AS b
             |  FROM l2 GROUP BY 1
             |), l4 AS (
             |  SELECT idx // 2 AS idx,
             |    SUM(CASE WHEN idx % 2 = 0 THEN a + b ELSE 0 END) AS a,
             |    SUM(CASE WHEN idx % 2 = 1 THEN a + b ELSE 0 END) AS b
             |  FROM l3 GROUP BY 1
             |), l5 AS (
             |  SELECT idx // 2 AS idx,
             |    SUM(CASE WHEN idx % 2 = 0 THEN a + b ELSE 0 END) AS a,
             |    SUM(CASE WHEN idx % 2 = 1 THEN a + b ELSE 0 END) AS b
             |  FROM l4 GROUP BY 1
             |)
             |SELECT 1 AS level, CAST(COUNT(*) AS BIGINT) AS n_coeffs,
             |  CAST(SUM((a - b) * (a - b)) AS BIGINT) AS energy FROM l1
             |UNION ALL SELECT 2, CAST(COUNT(*) AS BIGINT),
             |  CAST(SUM((a - b) * (a - b)) AS BIGINT) FROM l2
             |UNION ALL SELECT 3, CAST(COUNT(*) AS BIGINT),
             |  CAST(SUM((a - b) * (a - b)) AS BIGINT) FROM l3
             |UNION ALL SELECT 4, CAST(COUNT(*) AS BIGINT),
             |  CAST(SUM((a - b) * (a - b)) AS BIGINT) FROM l4
             |UNION ALL SELECT 5, CAST(COUNT(*) AS BIGINT),
             |  CAST(SUM((a - b) * (a - b)) AS BIGINT) FROM l5
             |ORDER BY level""".stripMargin)),

    // ---- Poisson bootstrap (Chamandy et al. 2012 — the resampling
    // ---- that works on partitioned data: each row draws an
    // ---- independent Poisson(1) replication count per replicate, no
    // ---- global n needed): 64 replicate means of n_chars per source,
    // ---- CI = explicit order statistics #2/#63. The draw is the
    // ---- portable hash mixer against integer CDF thresholds, so the
    // ---- oracle replays every weight exactly ------------------------
    Q("q198_bootstrap_ci",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("source"), col("doc_id"), col("n_chars"))
        val drawn = docs
          .select(col("source"), col("n_chars"),
            explode(sequence(lit(0), lit(BootstrapB - 1))).as("b"),
            col("doc_id"))
          .withColumn("u", graft.text.Corpus.hashBucket(
            col("doc_id") * BootstrapB + col("b"), 1000000))
          .withColumn("w",
            PoissonCdf.zipWithIndex.foldRight(lit(PoissonCdf.length): Column) {
              case ((thr, k), acc) => when(col("u") < thr, k.toLong).otherwise(acc)
            })
        val reps = drawn.groupBy("source", "b")
          .agg(sum(col("w")).as("nw"), sum(col("w") * col("n_chars")).as("sw"))
          .where(col("nw") > 0)
          .select(col("source"), col("b"),
            (col("sw").cast("double") / col("nw").cast("double")).as("m"))
        val wOrd = Window.partitionBy("source").orderBy(col("m"), col("b"))
        val ci = reps
          .select(col("source"), col("m"),
            row_number().over(wOrd).as("rn"),
            count(lit(1)).over(Window.partitionBy("source")).as("nb"))
          .where(col("rn") === 2 || col("rn") === col("nb") - 1)
          .groupBy("source")
          .agg(round(min(col("m")), 4).as("ci_lo"),
            round(max(col("m")), 4).as("ci_hi"))
        val point = docs.groupBy("source")
          .agg(count(lit(1)).as("n"),
            (sum(col("n_chars")).cast("double") /
              count(lit(1)).cast("double")).as("mean"))
          .select(col("source"), col("n"), round(col("mean"), 4).as("mean"))
        point.join(ci, Seq("source")).orderBy("source")
      },
      Some(s"""WITH drawn AS (
             |  SELECT source, n_chars, b.range AS b,
             |    ${graft.text.Corpus.hashBucketSql(
                    s"(doc_id * $BootstrapB + b.range)", 1000000)} AS u
             |  FROM documents CROSS JOIN range($BootstrapB) b
             |), weighted AS (
             |  SELECT source, b, n_chars,
             |    CASE ${PoissonCdf.zipWithIndex.map { case (thr, k) =>
                      s"WHEN u < $thr THEN $k" }.mkString(" ")}
             |      ELSE ${PoissonCdf.length} END AS w
             |  FROM drawn
             |), reps AS (
             |  SELECT source, b,
             |    CAST(SUM(w * n_chars) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS m
             |  FROM weighted GROUP BY source, b
             |  HAVING SUM(w) > 0
             |), ranked AS (
             |  SELECT source, m,
             |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY m, b) AS rn,
             |    COUNT(*) OVER (PARTITION BY source) AS nb
             |  FROM reps
             |), ci AS (
             |  SELECT source, ROUND(MIN(m), 4) AS ci_lo, ROUND(MAX(m), 4) AS ci_hi
             |  FROM ranked WHERE rn = 2 OR rn = nb - 1
             |  GROUP BY source
             |), point AS (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |    ROUND(CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4)
             |      AS mean
             |  FROM documents GROUP BY source
             |)
             |SELECT p.source, n, mean, ci_lo, ci_hi
             |FROM point p JOIN ci USING (source)
             |ORDER BY p.source""".stripMargin)),

    // ---- cross-correlation function between two event streams (does
    // ---- 'view' volume lead 'purchase' volume?): Pearson of the two
    // ---- daily count series at lags 0..5. Counts are exact integers;
    // ---- one conditional aggregation builds both series -------------
    Q("q199_cross_correlation",
      (s, dir) => {
        val daily = t(s, dir, "events")
          .where(col("event_type").isin("view", "purchase"))
          .groupBy(dayofmonth(col("ts")).cast("long").as("d"))
          .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("xv"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("yv"))
        val lags = s.range(6).select(col("id").as("lag"))
        val a = daily.select(col("d"), col("xv"))
        val b = daily.select(col("d").as("d2"), col("yv"))
        val sums = a.crossJoin(broadcast(lags))
          .join(b, col("d2") === col("d") + col("lag"))
          .groupBy("lag")
          .agg(count(lit(1)).as("n"),
            sum(col("xv")).as("sx"), sum(col("yv")).as("sy"),
            sum(col("xv") * col("xv")).as("sxx"),
            sum(col("yv") * col("yv")).as("syy"),
            sum(col("xv") * col("yv")).as("sxy"))
        val n = col("n").cast("double")
        def d(c: String) = col(c).cast("double")
        val num = n * d("sxy") - d("sx") * d("sy")
        val den = sqrt((n * d("sxx") - d("sx") * d("sx")) *
          (n * d("syy") - d("sy") * d("sy")))
        sums.select(col("lag"), col("n"),
            when(den > 0.0, round(num / den, 6)).as("ccf"))
          .orderBy("lag")
      },
      Some("""WITH daily AS (
             |  SELECT CAST(EXTRACT(day FROM ts) AS BIGINT) AS d,
             |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS xv,
             |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS yv
             |  FROM events WHERE event_type IN ('view', 'purchase')
             |  GROUP BY 1
             |), sums AS (
             |  SELECT l.range AS lag, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(a.xv) AS BIGINT) AS sx,
             |    CAST(SUM(b.yv) AS BIGINT) AS sy,
             |    CAST(SUM(a.xv * a.xv) AS BIGINT) AS sxx,
             |    CAST(SUM(b.yv * b.yv) AS BIGINT) AS syy,
             |    CAST(SUM(a.xv * b.yv) AS BIGINT) AS sxy
             |  FROM range(6) l
             |  JOIN daily a ON true
             |  JOIN daily b ON b.d = a.d + l.range
             |  GROUP BY 1
             |)
             |SELECT lag, n,
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
             |  END AS ccf
             |FROM sums
             |ORDER BY lag""".stripMargin)),

    // ---- Cramér's V association matrix across the categorical order
    // ---- dimensions (which attributes actually co-vary?): χ² from
    // ---- exact cell counts, per-cell contributions on the 1e-9 grid
    // ---- so the sum is partition-order independent -------------------
    Q("q200_cramers_v",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val mon = to_date(date_trunc("month", col("o_orderdate")))
        cramersV(o, Seq(
            ("status_x_priority", col("o_orderstatus"), col("o_orderpriority")),
            ("status_x_month", col("o_orderstatus"), mon),
            ("priority_x_month", col("o_orderpriority"), mon)))
          .orderBy("pair")
      },
      Some(Seq(
        cramersVSql("o_orderstatus", "o_orderpriority", "status_x_priority"),
        cramersVSql("o_orderstatus",
          "CAST(date_trunc('month', o_orderdate) AS DATE)", "status_x_month"),
        cramersVSql("o_orderpriority",
          "CAST(date_trunc('month', o_orderdate) AS DATE)", "priority_x_month"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY pair")))
  )
}
