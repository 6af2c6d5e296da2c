package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.dedup.{Dedup, Portable}
import graft.functions.PortableHash

/** Twenty-fifth analytics pack (round 6, session 7): sparse TF-IDF
  * document similarity, Jensen-Shannon divergence between source
  * unigram distributions, inverse-propensity-weighted debiasing,
  * MoM/YoY growth, weighted sampling without replacement
  * (Efraimidis-Spirakis 2006), and an LSH recall audit against the
  * exact near-dup pass.
  *
  * Exactness discipline (as in packs 17-24): integer statistics stay
  * BIGINT; per-term float contributions are rounded onto a fixed
  * decimal grid before the order-free decimal sum; every ranking
  * tie-breaks on ids; hash draws ride the portable md5 60-bit value
  * both engines render identically. */
object Analytics25 {

  /** Portable 60-bit md5 value mod `m` (Spark side of DuckDB's
    * `('0x' || substr(md5(x), 1, 15))::BIGINT % m`). */
  private def md5Mod(sref: Column, m: Long): Column =
    pmod(conv(substring(md5(sref), 1, 15), 16, 10).cast("long"), lit(m))

  val all: Seq[Q] = Seq(

    // ---- sparse TF-IDF document similarity, top-3 neighbors per doc:
    // ---- the inverted-index join fans out only over shared terms with
    // ---- 2 <= df <= 50 (the df cap bounds per-term pair fan-out at
    // ---- df², the standard sparse-ANN discipline — stopword-frequency
    // ---- terms carry no signal and all the quadratic cost). Term
    // ---- products and squared weights are rounded onto a 1e-6 decimal
    // ---- grid so dot products and norms are order-free; cosines are
    // ---- then identical doubles in both engines and rank safely. ----
    Q("q225_tfidf_doc_sim",
      (s, dir) => {
        // NOTE r12: loadParallel was tried here and measured +76% — the
        // 500-doc slice is too small for the extra exchange to pay.
        // Plain scan kept.
        val d = t(s, dir, "documents").filter(col("doc_id") < 500)
        val tf = d.select(col("doc_id"),
            explode(split(col("text"), " ")).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
          .where(col("df").between(2, 50))
        val nd = d.agg(count(lit(1)).as("nd"))
        val w = tf.join(dft, Seq("term")).crossJoin(broadcast(nd))
          .select(col("doc_id"), col("term"),
            (col("tf").cast("double") *
              log(col("nd").cast("double") / col("df").cast("double")))
              .as("w"))
        val norms = w.groupBy("doc_id")
          .agg(sum(round(col("w") * col("w"), 6).cast(DecimalType(24, 6)))
            .as("s2"))
          .select(col("doc_id"), sqrt(col("s2").cast("double")).as("nrm"))
        val dots = w.as("a").join(w.as("b"), Seq("term"))
          .where(col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
          .agg(sum(round(col("a.w") * col("b.w"), 6)
            .cast(DecimalType(24, 6))).as("dot"))
        val cosed = dots
          .join(norms.select(col("doc_id").as("da"), col("nrm").as("na")),
            Seq("da"))
          .join(norms.select(col("doc_id").as("db"), col("nrm").as("nb")),
            Seq("db"))
          .select(col("da"), col("db"),
            (col("dot").cast("double") / (col("na") * col("nb"))).as("cos"))
        val sym = cosed.unionByName(
          cosed.select(col("db").as("da"), col("da").as("db"), col("cos")))
        val byDoc = Window.partitionBy(col("da"))
          .orderBy(col("cos").desc, col("db"))
        sym.withColumn("rnk", row_number().over(byDoc))
          .where(col("rnk") <= 3)
          .select(col("da").as("doc_id"), col("db").as("neighbor_id"),
            col("rnk").cast("int").as("rnk"), round(col("cos"), 6).as("cosine"))
          .orderBy("doc_id", "rnk")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id < 500
             |), tf AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
             |    1 AS one
             |  FROM d
             |), tfc AS (
             |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
             |  FROM tf GROUP BY 1, 2
             |), dft AS (
             |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df
             |  FROM tfc GROUP BY 1
             |  HAVING COUNT(*) BETWEEN 2 AND 50
             |), nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM d),
             |w AS MATERIALIZED (
             |  SELECT doc_id, tfc.term,
             |    CAST(tf AS DOUBLE)
             |      * LN(CAST(nd AS DOUBLE) / CAST(df AS DOUBLE)) AS w
             |  FROM tfc JOIN dft ON dft.term = tfc.term CROSS JOIN nd
             |), norms AS (
             |  SELECT doc_id,
             |    sqrt(CAST(SUM(CAST(ROUND(w * w, 6) AS DECIMAL(24,6)))
             |      AS DOUBLE)) AS nrm
             |  FROM w GROUP BY doc_id
             |), dots AS (
             |  SELECT a.doc_id AS da, b.doc_id AS db,
             |    SUM(CAST(ROUND(a.w * b.w, 6) AS DECIMAL(24,6))) AS dot
             |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2
             |), cosed AS (
             |  SELECT da, db,
             |    CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) AS cos
             |  FROM dots
             |  JOIN norms na ON na.doc_id = da
             |  JOIN norms nb ON nb.doc_id = db
             |), sym AS (
             |  SELECT da, db, cos FROM cosed
             |  UNION ALL SELECT db, da, cos FROM cosed
             |)
             |SELECT da AS doc_id, db AS neighbor_id,
             |  CAST(ROW_NUMBER() OVER (PARTITION BY da
             |    ORDER BY cos DESC, db) AS INTEGER) AS rnk,
             |  ROUND(cos, 6) AS cosine
             |FROM sym
             |QUALIFY rnk <= 3
             |ORDER BY doc_id, rnk""".stripMargin)),

    // ---- Jensen-Shannon divergence matrix between source unigram
    // ---- distributions: matched-term contributions p·ln(p/m)+q·ln(q/m)
    // ---- ride the 1e-9 decimal grid; the unmatched mass needs no term
    // ---- scan at all — it collapses to ln2·(1−P_matched) with
    // ---- P_matched an exact BIGINT count ratio. One count table, one
    // ---- inverted self-join (|sources|² per term), bounded output. --
    Q("q226_jsd_sources",
      (s, dir) => {
        val cnt = t(s, dir, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("term"))
          .groupBy("source", "term").agg(count(lit(1)).as("c"))
        val dist = cnt.join(
          cnt.groupBy("source").agg(sum(col("c")).as("tot")), Seq("source"))
        val p = col("a.c").cast("double") / col("a.tot").cast("double")
        val q = col("b.c").cast("double") / col("b.tot").cast("double")
        val m = (p + q) / 2.0
        val contrib = p * log(p / m) + q * log(q / m)
        dist.as("a").join(dist.as("b"), Seq("term"))
          .where(col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(count(lit(1)).as("n_common"),
            sum(round(contrib, 9).cast(DecimalType(24, 9))).as("sm"),
            sum(col("a.c")).as("ca"), sum(col("b.c")).as("cb"),
            first(col("a.tot")).as("ta"), first(col("b.tot")).as("tb"))
          .select(col("src_a"), col("src_b"), col("n_common"),
            round(lit(0.5) * (col("sm").cast("double") + log(lit(2.0)) *
              ((lit(1.0) - col("ca").cast("double") / col("ta").cast("double"))
                + (lit(1.0) - col("cb").cast("double")
                  / col("tb").cast("double")))), 6).as("jsd"))
          .orderBy("src_a", "src_b")
      },
      Some("""WITH cnt AS (
             |  SELECT source, unnest(string_split(text, ' ')) AS term
             |  FROM documents
             |), cc AS (
             |  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM cnt GROUP BY 1, 2
             |), dist AS MATERIALIZED (
             |  SELECT cc.source, cc.term, cc.c, tt.tot
             |  FROM cc JOIN (SELECT source, CAST(SUM(c) AS BIGINT) AS tot
             |                FROM cc GROUP BY source) tt
             |    ON tt.source = cc.source
             |)
             |SELECT a.source AS src_a, b.source AS src_b,
             |  CAST(COUNT(*) AS BIGINT) AS n_common,
             |  ROUND(0.5 * (CAST(SUM(CAST(ROUND(
             |      (CAST(a.c AS DOUBLE) / CAST(a.tot AS DOUBLE))
             |        * LN((CAST(a.c AS DOUBLE) / CAST(a.tot AS DOUBLE))
             |          / ((CAST(a.c AS DOUBLE) / CAST(a.tot AS DOUBLE)
             |            + CAST(b.c AS DOUBLE) / CAST(b.tot AS DOUBLE)) / 2.0))
             |      + (CAST(b.c AS DOUBLE) / CAST(b.tot AS DOUBLE))
             |        * LN((CAST(b.c AS DOUBLE) / CAST(b.tot AS DOUBLE))
             |          / ((CAST(a.c AS DOUBLE) / CAST(a.tot AS DOUBLE)
             |            + CAST(b.c AS DOUBLE) / CAST(b.tot AS DOUBLE)) / 2.0)),
             |      9) AS DECIMAL(24,9))) AS DOUBLE)
             |    + LN(2.0) * ((1.0 - CAST(SUM(a.c) AS DOUBLE)
             |        / CAST(ANY_VALUE(a.tot) AS DOUBLE))
             |      + (1.0 - CAST(SUM(b.c) AS DOUBLE)
             |        / CAST(ANY_VALUE(b.tot) AS DOUBLE)))), 6) AS jsd
             |FROM dist a JOIN dist b
             |  ON a.term = b.term AND a.source < b.source
             |GROUP BY 1, 2
             |ORDER BY src_a, src_b""".stripMargin)),

    // ---- inverse-propensity-weighted debiasing: a deterministic
    // ---- length-biased sample (20% of English docs, 80% of the rest,
    // ---- drawn by md5 parity) under-represents English; the IPW
    // ---- estimator with integer ×100 weights recovers the population
    // ---- mean exactly up to the final division. One scan, conditional
    // ---- BIGINT sums, no join. --------------------------------------
    Q("q227_ipw_debias",
      (s, dir) => {
        val en = col("lang") === "en"
        val h10 = md5Mod(concat(lit("ipw:"), col("doc_id").cast("string")), 10L)
        val incl = (en && h10 < 2) || (!en && h10 < 8)
        val w100 = when(en, 500L).otherwise(125L)
        val x = col("n_chars").cast("long")
        t(s, dir, "documents")
          .agg(count(lit(1)).as("n_pop"), sum(x).as("sx"),
            sum(when(incl, 1L).otherwise(0L)).as("n_sample"),
            sum(when(incl, x).otherwise(0L)).as("sxs"),
            sum(when(incl, w100 * x).otherwise(0L)).as("swx"),
            sum(when(incl, w100).otherwise(0L)).as("sw"))
          .select(col("n_pop"), col("n_sample"),
            round(col("sx").cast("double") / col("n_pop").cast("double"), 6)
              .as("true_mean"),
            round(col("sxs").cast("double") / col("n_sample").cast("double"), 6)
              .as("naive_mean"),
            round(col("swx").cast("double") / col("sw").cast("double"), 6)
              .as("ipw_mean"),
            round(abs(col("sxs").cast("double") / col("n_sample").cast("double")
              - col("sx").cast("double") / col("n_pop").cast("double")), 6)
              .as("naive_err"),
            round(abs(col("swx").cast("double") / col("sw").cast("double")
              - col("sx").cast("double") / col("n_pop").cast("double")), 6)
              .as("ipw_err"))
      },
      Some("""WITH d AS (
             |  SELECT CAST(n_chars AS BIGINT) AS x,
             |    lang = 'en' AS en,
             |    ('0x' || substr(md5('ipw:' || CAST(doc_id AS VARCHAR)),
             |      1, 15))::BIGINT % 10 AS h10
             |  FROM documents
             |)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_pop,
             |  CAST(SUM(CASE WHEN incl THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_sample,
             |  ROUND(CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             |    AS true_mean,
             |  ROUND(CAST(SUM(CASE WHEN incl THEN x ELSE 0 END) AS DOUBLE)
             |    / CAST(SUM(CASE WHEN incl THEN 1 ELSE 0 END) AS DOUBLE), 6)
             |    AS naive_mean,
             |  ROUND(CAST(SUM(CASE WHEN incl THEN w100 * x ELSE 0 END)
             |      AS DOUBLE)
             |    / CAST(SUM(CASE WHEN incl THEN w100 ELSE 0 END) AS DOUBLE), 6)
             |    AS ipw_mean,
             |  ROUND(ABS(CAST(SUM(CASE WHEN incl THEN x ELSE 0 END) AS DOUBLE)
             |    / CAST(SUM(CASE WHEN incl THEN 1 ELSE 0 END) AS DOUBLE)
             |    - CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)), 6)
             |    AS naive_err,
             |  ROUND(ABS(CAST(SUM(CASE WHEN incl THEN w100 * x ELSE 0 END)
             |      AS DOUBLE)
             |    / CAST(SUM(CASE WHEN incl THEN w100 ELSE 0 END) AS DOUBLE)
             |    - CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)), 6)
             |    AS ipw_err
             |FROM (SELECT x,
             |        (en AND h10 < 2) OR (NOT en AND h10 < 8) AS incl,
             |        CASE WHEN en THEN 500 ELSE 125 END AS w100
             |      FROM d)""".stripMargin)),

    // ---- month-over-month and year-over-year revenue growth per
    // ---- status: decimal-exact monthly sums, two lags over the
    // ---- bounded month grid, division only in the output. -----------
    Q("q228_revenue_growth",
      (s, dir) => {
        val byStatus = Window.partitionBy(col("status")).orderBy(col("mon"))
        monthlyRevenue(t(s, dir, "orders"), byStatus = true)
          .withColumn("prev1", lag(col("rev"), 1).over(byStatus))
          .withColumn("prev12", lag(col("rev"), 12).over(byStatus))
          .select(col("status"), date_format(col("mon"), "yyyy-MM").as("mon"),
            col("rev").cast("double").as("rev"),
            round((col("rev") - col("prev1")).cast("double")
              / col("prev1").cast("double"), 6).as("mom_pct"),
            round((col("rev") - col("prev12")).cast("double")
              / col("prev12").cast("double"), 6).as("yoy_pct"))
          .orderBy("status", "mon")
      },
      Some("""WITH monthly AS (
             |  SELECT o_orderstatus AS status,
             |    CAST(date_trunc('month', o_orderdate) AS DATE) AS mond,
             |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
             |  FROM orders GROUP BY 1, 2
             |)
             |SELECT status, strftime(mond, '%Y-%m') AS mon,
             |  CAST(rev AS DOUBLE) AS rev,
             |  ROUND(CAST(rev - LAG(rev, 1) OVER w AS DOUBLE)
             |    / CAST(LAG(rev, 1) OVER w AS DOUBLE), 6) AS mom_pct,
             |  ROUND(CAST(rev - LAG(rev, 12) OVER w AS DOUBLE)
             |    / CAST(LAG(rev, 12) OVER w AS DOUBLE), 6) AS yoy_pct
             |FROM monthly
             |WINDOW w AS (PARTITION BY status ORDER BY mond)
             |ORDER BY status, mon""".stripMargin)),

    // ---- weighted sampling without replacement (Efraimidis-Spirakis
    // ---- 2006): key = ln(u)/w with u a portable md5 uniform — the
    // ---- top-20 keys ARE the sample, so the draw is one projection
    // ---- plus a top-k (the global window here; TopKByScore is the
    // ---- scale path, as in q109). Sampling probability rises with
    // ---- p_size, reproducible across engines and runs. --------------
    Q("q229_weighted_sample",
      (s, dir) => {
        val p = PortableHash.P
        val h = md5Mod(concat(lit("ws:"), col("p_partkey").cast("string")), p)
        val u = (h + lit(1L)).cast("double") / lit((p + 1).toDouble)
        val key = log(u) / col("p_size").cast("double")
        val byKey = Window.orderBy(col("es_key0").desc, col("p_partkey"))
        t(s, dir, "part").where(col("p_size") >= 1)
          .select(col("p_partkey"), col("p_name"), col("p_size"),
            key.as("es_key0"))
          .withColumn("rnk", row_number().over(byKey))
          .where(col("rnk") <= 20)
          .select(col("rnk").cast("int").as("rnk"), col("p_partkey"),
            col("p_name"), col("p_size"), round(col("es_key0"), 9).as("es_key"))
          .orderBy("rnk")
      },
      Some(s"""WITH keyed AS (
             |  SELECT p_partkey, p_name, p_size,
             |    LN(CAST((('0x' || substr(md5('ws:' ||
             |        CAST(p_partkey AS VARCHAR)), 1, 15))::BIGINT
             |        % ${PortableHash.P}) + 1 AS DOUBLE)
             |      / ${(PortableHash.P + 1).toDouble})
             |      / CAST(p_size AS DOUBLE) AS es_key0
             |  FROM part WHERE p_size >= 1
             |)
             |SELECT CAST(ROW_NUMBER() OVER (ORDER BY es_key0 DESC, p_partkey)
             |    AS INTEGER) AS rnk,
             |  p_partkey, p_name, p_size, ROUND(es_key0, 9) AS es_key
             |FROM keyed
             |QUALIFY rnk <= 20
             |ORDER BY rnk""".stripMargin)),

    // ---- LSH recall audit: how many of the TRUE >= 0.6-Jaccard pairs
    // ---- does the banded MinHash pass (q35's operator) recover? The
    // ---- exact denominator is the full inverted-index pass; the
    // ---- numerator replays the banding over the cached signature
    // ---- index. found ⊆ exact by construction (candidates are
    // ---- verified), so this is pure recall — the audit that justifies
    // ---- running LSH instead of the O(n²) pass at 100 TB. -----------
    Q("q230_lsh_recall",
      (s, dir) => {
        val idx = TextQueries.minhashIndexCached(s, dir)
        val found = Portable
          .minhashPairsFromIndex(idx.filter(col("id") < 1500), threshold = 0.6)
          .agg(count(lit(1)).as("n_found"))
        val exact = Dedup.jaccardPairs(
            t(s, dir, "documents").filter(col("doc_id") < 1500),
            threshold = 0.6)
          .agg(count(lit(1)).as("n_exact"))
        exact.crossJoin(found)
          .select(col("n_exact"), col("n_found"),
            (col("n_exact") - col("n_found")).as("n_missed"),
            when(col("n_exact") > 0,
              round(col("n_found").cast("double")
                / col("n_exact").cast("double"), 6)).as("recall"))
      },
      Some {
        val slice = "(SELECT * FROM documents WHERE doc_id < 1500)"
        // both halves carry their own nested WITH (sibling scopes), so
        // the shared `sh` CTE name never collides
        s"""WITH exact AS (
           |  SELECT id_a, id_b FROM (
           |    WITH ${Portable.shingleCte(3, slice, "doc_id", "text")
                  .replace("\n", "\n    ")},
           |    inv AS (
           |      SELECT id, n, unnest(sh) AS shingle FROM sh
           |    )
           |    SELECT x.id AS id_a, y.id AS id_b
           |    FROM inv x JOIN inv y ON x.shingle = y.shingle AND x.id < y.id
           |    GROUP BY x.id, y.id
           |    HAVING CAST(COUNT(*) AS DOUBLE)
           |      / CAST(ANY_VALUE(x.n) + ANY_VALUE(y.n) - COUNT(*) AS DOUBLE)
           |      >= 0.6)
           |), found AS (
           |  SELECT id_a, id_b FROM (
           |    ${Portable.minhashPairsSql(table = slice, threshold = 0.6)
                  .replace("\n", "\n    ")})
           |)
           |SELECT CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
           |  CAST((SELECT COUNT(*) FROM found) AS BIGINT) AS n_found,
           |  CAST((SELECT COUNT(*) FROM exact) AS BIGINT)
           |    - CAST((SELECT COUNT(*) FROM found) AS BIGINT) AS n_missed,
           |  CASE WHEN (SELECT COUNT(*) FROM exact) > 0 THEN
           |    ROUND(CAST((SELECT COUNT(*) FROM found) AS DOUBLE)
           |      / CAST((SELECT COUNT(*) FROM exact) AS DOUBLE), 6)
           |  END AS recall""".stripMargin
      })
  )
}
