package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.GraphRank
import graft.text.Corpus

/** Thirty-fourth analytics pack (round 6, session 8): SAX symbolic
  * series encoding, rolling 7-observation OLS, Burrows' Delta
  * stylometry, Louvain phase-1 move gains over the LPA communities,
  * and leakage-free group-aware cross-validation folds.
  *
  * Exactness discipline unchanged: frame sums accumulate in DECIMAL,
  * relative frequencies and z-scores quantize to integer grids BEFORE
  * any cross-row sum (so partial-aggregation order can't perturb
  * them), and breakpoints are exact order statistics. */
object Analytics34 {

  /** q276 PAA segment width (days per segment). */
  private val SaxSeg = 5

  /** q278 stylometric vocabulary size (most frequent words). */
  private val DeltaTopW = 30

  /** q280 fold count. */
  private val NFolds = 5

  val all: Seq[Q] = Seq(

    // ---- SAX symbolic encoding (Lin et al. 2003): the daily revenue
    // ---- series compressed to PAA segment means, then quantized
    // ---- against quartile breakpoints into an a-d alphabet — the
    // ---- shape-index that makes similarity search over time series
    // ---- cheap. Segment means are DECIMAL-exact; breakpoints are
    // ---- exact order statistics of the segment means (rank k·n div
    // ---- 4, segment-id tie-break) carried as broadcast scalars. ----
    Q("q276_sax_encoding",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .groupBy(datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("day"))
          .agg(sum(dec("o_totalprice")).cast("double").as("rev"))
        val seg = daily
          .withColumn("rn", row_number().over(Window.orderBy("day")))
          .groupBy(expr(s"(rn - 1) div $SaxSeg").as("segment"))
          .agg(count(lit(1)).as("n_days"),
            round(sum(col("rev").cast(DecimalType(28, 2))).cast("double") /
              count(lit(1)).cast("double"), 6).as("paa"))
        val ranked = seg
          .withColumn("pr", row_number().over(
            Window.orderBy(col("paa"), col("segment"))))
          .withColumn("np", count(lit(1)).over(Window.partitionBy(lit(0))))
        val bks = ranked.agg(
          max(when(col("pr") === expr("np div 4"), col("paa"))).as("b1"),
          max(when(col("pr") === expr("np div 2"), col("paa"))).as("b2"),
          max(when(col("pr") === expr("3 * np div 4"), col("paa"))).as("b3"))
        seg.crossJoin(broadcast(bks))
          .select(col("segment"), col("n_days"), col("paa"),
            when(col("paa") <= col("b1"), "a")
              .when(col("paa") <= col("b2"), "b")
              .when(col("paa") <= col("b3"), "c")
              .otherwise("d").as("symbol"))
          .orderBy("segment")
      },
      Some(s"""WITH daily AS (
             |  SELECT CAST(date_diff('day', DATE '1970-01-01',
             |      CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
             |      AS rev
             |  FROM orders GROUP BY 1
             |), seg AS (
             |  SELECT (rn - 1) // $SaxSeg AS segment,
             |    CAST(COUNT(*) AS BIGINT) AS n_days,
             |    ROUND(CAST(SUM(CAST(rev AS DECIMAL(28,2))) AS DOUBLE)
             |      / CAST(COUNT(*) AS DOUBLE), 6) AS paa
             |  FROM (SELECT day, rev,
             |          ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily)
             |  GROUP BY 1
             |), ranked AS (
             |  SELECT paa, ROW_NUMBER() OVER (ORDER BY paa, segment) AS pr,
             |    COUNT(*) OVER () AS np
             |  FROM seg
             |), bks AS (
             |  SELECT MAX(CASE WHEN pr = np // 4 THEN paa END) AS b1,
             |    MAX(CASE WHEN pr = np // 2 THEN paa END) AS b2,
             |    MAX(CASE WHEN pr = 3 * np // 4 THEN paa END) AS b3
             |  FROM ranked
             |)
             |SELECT segment, n_days, paa,
             |  CASE WHEN paa <= b1 THEN 'a'
             |       WHEN paa <= b2 THEN 'b'
             |       WHEN paa <= b3 THEN 'c'
             |       ELSE 'd' END AS symbol
             |FROM seg CROSS JOIN bks
             |ORDER BY segment""".stripMargin)),

    // ---- rolling OLS: the trend slope of daily revenue over the
    // ---- trailing 7 OBSERVATIONS (not calendar days — gaps close
    // ---- up), from windowed sufficient statistics. x/y products
    // ---- accumulate in DECIMAL inside the frame (window sums of
    // ---- doubles are tree-aggregated and order-unstable), and the
    // ---- slope is the classic closed form on a fixed double tree. --
    Q("q277_rolling_ols",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .groupBy(datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("day"))
          .agg(sum(dec("o_totalprice")).cast("double").as("rev"))
        val w = Window.orderBy("day").rowsBetween(-6, 0)
        val xy = daily
          .withColumn("n", count(lit(1)).over(w))
          .withColumn("sx", sum(col("day")).over(w))
          .withColumn("sxx", sum(col("day") * col("day")).over(w))
          .withColumn("sy",
            sum(col("rev").cast(DecimalType(28, 2))).over(w))
          .withColumn("sxy", sum((col("day") *
            col("rev").cast(DecimalType(28, 2))).cast(DecimalType(28, 2)))
            .over(w))
          .where(col("n") === 7)
        val num = lit(7.0) * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")
        val den = lit(7.0) * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")
        xy.select(col("day"), col("rev"), round(num / den, 6).as("slope"))
          .orderBy("day")
      },
      Some("""WITH daily AS (
             |  SELECT CAST(date_diff('day', DATE '1970-01-01',
             |      CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
             |      AS rev
             |  FROM orders GROUP BY 1
             |), xy AS (
             |  SELECT day, rev,
             |    COUNT(*) OVER w AS n,
             |    SUM(day) OVER w AS sx,
             |    SUM(day * day) OVER w AS sxx,
             |    SUM(CAST(rev AS DECIMAL(28,2))) OVER w AS sy,
             |    SUM(CAST(day * CAST(rev AS DECIMAL(28,2))
             |      AS DECIMAL(28,2))) OVER w AS sxy
             |  FROM daily
             |  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING
             |    AND CURRENT ROW)
             |)
             |SELECT day, rev,
             |  ROUND((7.0 * CAST(sxy AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |    / (7.0 * CAST(sxx AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope
             |FROM xy WHERE n = 7
             |ORDER BY day""".stripMargin)),

    // ---- Burrows' Delta (Burrows 2002): stylometric distance between
    // ---- sources — z-scores of the 30 most frequent words' relative
    // ---- frequencies, mean |z| difference per source pair. Relative
    // ---- frequencies quantize to the 1e6 integer grid and z-scores
    // ---- to 1e-6 micro-units BEFORE the cross-row sums, so every
    // ---- aggregate is an exact BIGINT no matter the partition
    // ---- order. ----------------------------------------------------
    Q("q278_burrows_delta",
      (s, dir) => {
        // NOTE r12: loadParallel (and loadParallel + eager checkpoint)
        // were tried here and measured +60% — the three inline
        // single-task explodes are cheaper than any extra exchange at
        // this corpus size. Plain scan kept.
        val toks = t(s, dir, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("w"))
          .where(length(col("w")) > 0)
        val top = toks.groupBy("w").agg(count(lit(1)).as("c"))
          .orderBy(desc("c"), asc("w")).limit(DeltaTopW)
          .select(col("w"))
        val tot = toks.groupBy("source").agg(count(lit(1)).as("tot"))
        val k = tot.count()
        val cnt = toks.join(broadcast(top), Seq("w"))
          .groupBy("source", "w").agg(count(lit(1)).as("c"))
        val fq = tot.crossJoin(broadcast(top))
          .join(cnt, Seq("source", "w"), "left")
          .select(col("source"), col("w"),
            round(lit(1e6) * coalesce(col("c"), lit(0L)).cast("double") /
              col("tot").cast("double")).cast("long").as("fq"))
        val stats = fq.groupBy("w")
          .agg(sum(col("fq")).as("sf"), sum(col("fq") * col("fq")).as("sf2"))
        val mu = col("sf").cast("double") / lit(k.toDouble)
        val sig = sqrt(col("sf2").cast("double") / lit(k.toDouble) - mu * mu)
        // zero-variance words (identical grid frequency everywhere)
        // contribute z = 0 — the integer guard keeps the division off
        // the NaN path in both engines
        val z = fq.join(broadcast(stats), Seq("w"))
          .select(col("source"), col("w"),
            when(col("sf2") * k === col("sf") * col("sf"), 0L)
              .otherwise(round(lit(1e6) * (col("fq").cast("double") - mu)
                / sig).cast("long")).as("zu"))
        z.as("a").join(z.as("b"),
            col("a.w") === col("b.w") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("source_a"),
            col("b.source").as("source_b"))
          .agg(sum(abs(col("a.zu") - col("b.zu"))).as("su"))
          .select(col("source_a"), col("source_b"),
            round(col("su").cast("double") /
              lit(DeltaTopW.toDouble * 1e6), 6).as("delta"))
          .orderBy("source_a", "source_b")
      },
      Some(s"""WITH toks AS MATERIALIZED (
             |  SELECT source, w FROM (
             |    SELECT source, unnest(string_split(text, ' ')) AS w
             |    FROM documents)
             |  WHERE len(w) > 0
             |), top AS MATERIALIZED (
             |  SELECT w FROM (
             |    SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w)
             |  ORDER BY c DESC, w ASC LIMIT $DeltaTopW
             |), tot AS (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS tot
             |  FROM toks GROUP BY source
             |), k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM tot),
             |cnt AS (
             |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM toks JOIN top USING (w)
             |  GROUP BY 1, 2
             |), fq AS MATERIALIZED (
             |  SELECT t.source, p.w,
             |    CAST(ROUND(1e6 * CAST(COALESCE(c.c, 0) AS DOUBLE)
             |      / CAST(t.tot AS DOUBLE)) AS BIGINT) AS fq
             |  FROM tot t
             |  CROSS JOIN top p
             |  LEFT JOIN cnt c ON c.source = t.source AND c.w = p.w
             |), stats AS (
             |  SELECT w, CAST(SUM(fq) AS BIGINT) AS sf,
             |    CAST(SUM(fq * fq) AS BIGINT) AS sf2
             |  FROM fq GROUP BY w
             |), z AS MATERIALIZED (
             |  SELECT f.source, f.w,
             |    CASE WHEN s.sf2 * (SELECT k FROM k) = s.sf * s.sf
             |      THEN CAST(0 AS BIGINT)
             |    ELSE CAST(ROUND(1e6 * (CAST(f.fq AS DOUBLE)
             |        - CAST(s.sf AS DOUBLE) / CAST((SELECT k FROM k) AS DOUBLE))
             |      / sqrt(CAST(s.sf2 AS DOUBLE) / CAST((SELECT k FROM k) AS DOUBLE)
             |        - (CAST(s.sf AS DOUBLE) / CAST((SELECT k FROM k) AS DOUBLE))
             |          * (CAST(s.sf AS DOUBLE) / CAST((SELECT k FROM k) AS DOUBLE))))
             |      AS BIGINT) END AS zu
             |  FROM fq f JOIN stats s USING (w)
             |)
             |SELECT a.source AS source_a, b.source AS source_b,
             |  ROUND(CAST(SUM(abs(a.zu - b.zu)) AS DOUBLE)
             |    / ($DeltaTopW.0 * 1e6), 6) AS delta
             |FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
             |GROUP BY 1, 2
             |ORDER BY source_a, source_b""".stripMargin)),

    // ---- Louvain phase-1 move gains (Blondel et al. 2008) over the
    // ---- q132 LPA communities: for every node and every NEIGHBOR
    // ---- community, the modularity change of moving there —
    // ---- ΔQ = (k_id − k_ic)/m − k_i·(Σ_d − Σ_c + k_i)/(2m²), all
    // ---- terms exact integer degree/link sums off the cached graph.
    // ---- The community refinement step every clustering pipeline
    // ---- runs after a cheap first pass. ----------------------------
    Q("q279_louvain_gains",
      (s, dir) => {
        val und = Analytics5.undEdgesCached(s, dir)
        // labels + degrees come from the cached cross-query artifacts
        // (q132/q183 share them); links feeds 2 joins — checkpoint it
        val lbl = Analytics5.lpaLabelsCached(s, dir)
        val deg = Analytics5.undDegCached(s, dir)
        val m = Analytics4.triEdgesCached(s, dir).agg(count(lit(1)).as("m"))
        // r13: sTot feeds TWO broadcast builds (the d- and c-side
        // lookups) whose differing projections defeat ReuseExchange —
        // each rebuilt the lbl⋈deg aggregate. One eager checkpoint of
        // the community-sized table; both broadcasts read it (§2.4).
        val sTot = lbl.join(deg, Seq("node"))
          .groupBy(col("community")).agg(sum(col("ki")).as("stot"))
          .localCheckpoint(true)
        val links = und
          .join(lbl.select(col("node").as("dst"),
            col("community").as("d")), Seq("dst"))
          .groupBy(col("src").as("node"), col("d"))
          .agg(count(lit(1)).as("kid")).localCheckpoint(true)
        val own = lbl.select(col("node"), col("community").as("c"))
        val base = links.join(own, Seq("node"))
          .join(deg, Seq("node"))
          .join(broadcast(sTot.select(col("community").as("d"),
            col("stot").as("sd"))), Seq("d"))
          .join(broadcast(sTot.select(col("community").as("c"),
            col("stot").as("sc"))), Seq("c"))
        val kic = links.select(col("node"), col("d").as("c"),
          col("kid").as("kic"))
        val gain = base
          .join(kic, Seq("node", "c"), "left")
          .where(col("d") =!= col("c"))
          .crossJoin(broadcast(m))
          .select(col("node"), col("c").as("from_community"),
            col("d").as("to_community"), col("kid"),
            round((col("kid") - coalesce(col("kic"), lit(0L))).cast("double")
                / col("m").cast("double")
              - col("ki").cast("double") *
                (col("sd") - col("sc") + col("ki")).cast("double") /
                (lit(2.0) * col("m").cast("double") * col("m").cast("double")),
              9).as("gain"))
        gain.orderBy(desc("gain"), asc("node"), asc("to_community"))
          .limit(20)
      },
      Some {
        val lpa = GraphRank.lpaSql(
          edgesCte = "SELECT x AS src, y AS dst FROM und", iters = 3)
          .replace("WITH edges AS", s"WITH ${Analytics15.PairsCte}, edges AS")
        s"""$lpa,
           |dg AS (
           |  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS ki
           |  FROM edges GROUP BY src
           |), mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pairs),
           |stot AS (
           |  SELECT lp.community, CAST(SUM(dg.ki) AS BIGINT) AS stot
           |  FROM lp JOIN dg ON lp.node = dg.node
           |  GROUP BY lp.community
           |), links AS (
           |  SELECT e.src AS node, l.community AS d,
           |    CAST(COUNT(*) AS BIGINT) AS kid
           |  FROM edges e JOIN lp l ON e.dst = l.node
           |  GROUP BY 1, 2
           |)
           |SELECT li.node, own.community AS from_community,
           |  li.d AS to_community, li.kid,
           |  ROUND(CAST(li.kid - COALESCE(kc.kid, 0) AS DOUBLE)
           |      / CAST(mm.m AS DOUBLE)
           |    - CAST(dg.ki AS DOUBLE)
           |      * CAST(sd.stot - sc.stot + dg.ki AS DOUBLE)
           |      / (2.0 * CAST(mm.m AS DOUBLE) * CAST(mm.m AS DOUBLE)), 9)
           |    AS gain
           |FROM links li
           |JOIN lp own ON own.node = li.node
           |JOIN dg ON dg.node = li.node
           |JOIN stot sd ON sd.community = li.d
           |JOIN stot sc ON sc.community = own.community
           |LEFT JOIN links kc ON kc.node = li.node
           |  AND kc.d = own.community
           |CROSS JOIN mm
           |WHERE li.d <> own.community
           |ORDER BY gain DESC, li.node, li.d
           |LIMIT 20""".stripMargin
      }),

    // ---- group-aware cross-validation folds: documents fold by the
    // ---- HASH OF THEIR NEAR-DUP CLUSTER (q52's cached components;
    // ---- singletons by their own id), so near-duplicates can never
    // ---- straddle a train/eval boundary — the split every training
    // ---- pipeline needs after dedup. split_clusters counts clusters
    // ---- spanning >1 fold: structurally zero, and the audit column
    // ---- proves it. ------------------------------------------------
    Q("q280_group_folds",
      (s, dir) => {
        val cl = TextQueries.neardupClustersCached(s, dir)
          .select(col("id").as("doc_id"), col("comp"))
        val folded = t(s, dir, "documents")
          .join(broadcast(cl), Seq("doc_id"), "left")
          .select(col("doc_id"), col("lang"),
            coalesce(col("comp"), col("doc_id")).as("cluster_id"))
          .withColumn("fold", Corpus.hashBucket(col("cluster_id"), NFolds))
        val split = folded.groupBy("cluster_id")
          .agg(countDistinct(col("fold")).as("nf"))
          .agg(sum(when(col("nf") > 1, 1L).otherwise(0L))
            .as("split_clusters"))
        folded.groupBy("fold")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("cluster_id")).as("n_clusters"),
            countDistinct(col("lang")).as("n_langs"))
          .crossJoin(broadcast(split))
          .orderBy("fold")
      },
      Some(TextQueries.neardupClusterCte + s""",
             |folded AS (
             |  SELECT d.doc_id, d.lang,
             |    COALESCE(cl.cluster_id, d.doc_id) AS cluster_id,
             |    ${Corpus.hashBucketSql(
                    "COALESCE(cl.cluster_id, d.doc_id)", NFolds)} AS fold
             |  FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
             |), split AS (
             |  SELECT CAST(SUM(CASE WHEN nf > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS split_clusters
             |  FROM (SELECT cluster_id, COUNT(DISTINCT fold) AS nf
             |        FROM folded GROUP BY cluster_id)
             |)
             |SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
             |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             |  split_clusters
             |FROM folded CROSS JOIN split
             |GROUP BY fold, split_clusters
             |ORDER BY fold""".stripMargin))
  )
}
