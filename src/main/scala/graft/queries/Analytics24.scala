package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.dedup.{Dedup, Portable}
import graft.functions.PortableHash

/** Twenty-fourth analytics pack (round 6, session 7): Holt-Winters
  * additive seasonal smoothing, Markov next-event model evaluation,
  * source-vocabulary overlap/containment, per-source MinHash sketch
  * accuracy (estimate vs exact Jaccard), an exact-integer permutation
  * test, and Kruskal-Wallis rank ANOVA.
  *
  * Exactness discipline: integer statistics stay BIGINT to the final
  * division (q223/q224), float fold chains are textually identical in
  * both engines and left-associated (q219, the q147 discipline),
  * per-group float terms are rounded onto a decimal grid before the
  * order-free decimal sum (q224), and sketch replays share the single
  * [[PortableHash.coeffs]] coefficient source (q222). */
object Analytics24 {

  // Holt-Winters constants as exact binary fractions: the literals
  // parse to identical doubles in both engines (and would anyway, but
  // dyadic values make the contract self-evident).
  private val HwAlpha = "0.5"
  private val HwBeta = "0.25"
  private val HwGamma = "0.25"

  /** Per-source distinct word-3-gram vocabulary (source, shingle) —
    * shared by q221/q222. One shingle pass (same kernel as q35's
    * index), one distinct. */
  private def sourceShingles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("source"), explode(Dedup.shingles(col("text"), 3)).as("sh"))
      .distinct()

  /** SQL mirror of [[sourceShingles]] as a CTE chain ending in
    * `ss(source, sh)` — reuses the byte-parity-proven shingle CTE. */
  private def sourceShinglesCte: String =
    s"""WITH RECURSIVE ${Portable.shingleCte(3, "documents", "doc_id", "text")},
       |ss AS MATERIALIZED (
       |  SELECT DISTINCT d.source, u.shingle
       |  FROM (SELECT id, unnest(sh) AS shingle FROM sh) u
       |  JOIN documents d ON d.doc_id = u.id
       |)""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- Holt-Winters additive seasonal smoothing (period 12) over
    // ---- the per-status monthly revenue series: one aggregate() fold
    // ---- per status over the array_sort-collected series — the level/
    // ---- trend/seasonal recurrences run left-to-right in BOTH engines
    // ---- in the same order, so the doubles agree bit-for-bit (q147's
    // ---- proven discipline, extended with a rotating 12-slot seasonal
    // ---- buffer). The series is bounded (one row per month), so the
    // ---- collect is metadata-sized at any SF. ----------------------
    Q("q219_holt_winters",
      (s, dir) => {
        val monthly = monthlyRevenue(t(s, dir, "orders"), byStatus = true)
          .select(col("status"), col("mon"),
            col("rev").cast("double").as("rev"))
        // L must be spelled once and repeated textually (no lateral
        // aliasing inside named_struct) — keep it a single source string
        val L = s"($HwAlpha * (x.rev - element_at(acc.s, 1)) + " +
          s"(1.0 - $HwAlpha) * (acc.l + acc.b))"
        monthly.groupBy("status")
          .agg(array_sort(collect_list(struct(col("mon"), col("rev"))))
            .as("xs"))
          .select(col("status"), size(col("xs")).as("n_months"),
            expr(s"""aggregate(
                    |  slice(xs, 2, size(xs) - 1),
                    |  named_struct(
                    |    'l', element_at(xs, 1).rev,
                    |    'b', CAST(0.0 AS DOUBLE),
                    |    's', array_repeat(CAST(0.0 AS DOUBLE), 12)),
                    |  (acc, x) -> named_struct(
                    |    'l', $L,
                    |    'b', $HwBeta * ($L - acc.l) + (1.0 - $HwBeta) * acc.b,
                    |    's', concat(slice(acc.s, 2, 11),
                    |      array($HwGamma * (x.rev - $L)
                    |        + (1.0 - $HwGamma) * element_at(acc.s, 1)))))"""
              .stripMargin).as("st"))
          .select(col("status"), col("n_months"),
            round(col("st.l"), 4).as("level"),
            round(col("st.b"), 4).as("trend"),
            round(element_at(col("st.s"), 1), 4).as("season_next"),
            round(col("st.l") + col("st.b") + element_at(col("st.s"), 1), 4)
              .as("forecast1"))
          .orderBy("status")
      },
      Some {
        val L = s"($HwAlpha * (s.rev - r.s[1]) + " +
          s"(1.0 - $HwAlpha) * (r.l + r.b))"
        s"""WITH RECURSIVE monthly AS (
           |  SELECT o_orderstatus AS status,
           |    CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
           |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS rev
           |  FROM orders GROUP BY 1, 2
           |), seq AS (
           |  SELECT status, rev,
           |    ROW_NUMBER() OVER (PARTITION BY status ORDER BY mon) AS rn
           |  FROM monthly
           |), rec AS (
           |  SELECT status, rn, rev AS l, CAST(0.0 AS DOUBLE) AS b,
           |    [CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0, 0.0, 0.0,
           |     0.0, 0.0, 0.0, 0.0, 0.0, 0.0] AS s
           |  FROM seq WHERE rn = 1
           |  UNION ALL
           |  SELECT s.status, s.rn,
           |    $L,
           |    $HwBeta * ($L - r.l) + (1.0 - $HwBeta) * r.b,
           |    r.s[2:12] || [$HwGamma * (s.rev - $L)
           |      + (1.0 - $HwGamma) * r.s[1]]
           |  FROM rec r JOIN seq s ON s.status = r.status AND s.rn = r.rn + 1
           |)
           |SELECT status, CAST(rn AS INT) AS n_months,
           |  ROUND(l, 4) AS level, ROUND(b, 4) AS trend,
           |  ROUND(s[1], 4) AS season_next,
           |  ROUND(l + b + s[1], 4) AS forecast1
           |FROM rec
           |QUALIFY ROW_NUMBER() OVER (PARTITION BY status ORDER BY rn DESC) = 1
           |ORDER BY status""".stripMargin
      }),

    // ---- Markov next-event model evaluation: train first-order
    // ---- transition argmax on even user ids, measure top-1 accuracy
    // ---- on odd user ids — the train/eval split rides the key hash,
    // ---- never a sample. Transition extraction is one window pass per
    // ---- user (q154's shape); the model table is |event types|² and
    // ---- broadcasts. All counts BIGINT; accuracy is the only
    // ---- division. -------------------------------------------------
    Q("q220_markov_eval",
      (s, dir) => {
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val seq0 = t(s, dir, "events")
          .select(col("user_id"), col("event_type").as("cur"),
            lead(col("event_type"), 1).over(byUser).as("nxt"))
          .where(col("nxt").isNotNull)
        val trained = seq0.where(col("user_id") % 2 === 0)
          .groupBy("cur", "nxt").agg(count(lit(1)).as("c"))
        val byCur = Window.partitionBy(col("cur"))
          .orderBy(col("c").desc, col("nxt"))
        val pred = trained
          .withColumn("rn", row_number().over(byCur))
          .where(col("rn") === 1)
          .select(col("cur"), col("nxt").as("predicted"))
        seq0.where(col("user_id") % 2 === 1)
          .join(pred, Seq("cur"))
          .groupBy("cur")
          .agg(count(lit(1)).as("n_test"),
            sum(when(col("nxt") === col("predicted"), 1L).otherwise(0L))
              .as("n_correct"),
            first(col("predicted")).as("predicted"))
          .select(col("cur"), col("predicted"), col("n_test"),
            col("n_correct"),
            round(col("n_correct").cast("double")
              / col("n_test").cast("double"), 6).as("accuracy"))
          .orderBy("cur")
      },
      Some("""WITH seq AS (
             |  SELECT user_id, event_type AS cur,
             |    LEAD(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS nxt
             |  FROM events
             |  QUALIFY nxt IS NOT NULL
             |), pred AS (
             |  SELECT cur, nxt AS predicted FROM (
             |    SELECT cur, nxt, COUNT(*) AS c,
             |      ROW_NUMBER() OVER (PARTITION BY cur
             |        ORDER BY COUNT(*) DESC, nxt) AS rn
             |    FROM seq WHERE user_id % 2 = 0 GROUP BY cur, nxt)
             |  WHERE rn = 1
             |)
             |SELECT s.cur AS cur, ANY_VALUE(p.predicted) AS predicted,
             |  CAST(COUNT(*) AS BIGINT) AS n_test,
             |  CAST(SUM(CASE WHEN s.nxt = p.predicted THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_correct,
             |  ROUND(CAST(SUM(CASE WHEN s.nxt = p.predicted THEN 1 ELSE 0 END)
             |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS accuracy
             |FROM seq s JOIN pred p ON p.cur = s.cur
             |WHERE s.user_id % 2 = 1
             |GROUP BY s.cur
             |ORDER BY cur""".stripMargin)),

    // ---- source-vocabulary overlap matrix: for each source pair,
    // ---- shared word-3-gram count, containment in each direction, and
    // ---- Jaccard — the corpus-level contamination view (q138 is the
    // ---- per-doc form). The inverted-index self-join fans out only
    // ---- |sources|² per shingle and the output is |sources|²/2 rows;
    // ---- integer counts, two divisions at the end. ------------------
    Q("q221_source_overlap",
      (s, dir) => {
        val ss = sourceShingles(s, dir)
        val sizes = ss.groupBy("source").agg(count(lit(1)).as("nsh"))
        val inter = ss.select(col("source").as("src_a"), col("sh"))
          .join(ss.select(col("source").as("src_b"), col("sh")), Seq("sh"))
          .where(col("src_a") < col("src_b"))
          .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_common"))
        inter
          .join(sizes.select(col("source").as("src_a"), col("nsh").as("na")),
            Seq("src_a"))
          .join(sizes.select(col("source").as("src_b"), col("nsh").as("nb")),
            Seq("src_b"))
          .select(col("src_a"), col("src_b"), col("n_common"),
            col("na"), col("nb"),
            round(col("n_common").cast("double") / col("na").cast("double"), 6)
              .as("containment_a"),
            round(col("n_common").cast("double")
              / (col("na") + col("nb") - col("n_common")).cast("double"), 6)
              .as("jaccard"))
          .orderBy("src_a", "src_b")
      },
      Some(s"""$sourceShinglesCte,
             |sizes AS (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS nsh
             |  FROM ss GROUP BY source
             |), inter AS (
             |  SELECT a.source AS src_a, b.source AS src_b,
             |    CAST(COUNT(*) AS BIGINT) AS n_common
             |  FROM ss a JOIN ss b
             |    ON a.shingle = b.shingle AND a.source < b.source
             |  GROUP BY 1, 2
             |)
             |SELECT src_a, src_b, n_common, sa.nsh AS na, sb.nsh AS nb,
             |  ROUND(CAST(n_common AS DOUBLE) / CAST(sa.nsh AS DOUBLE), 6)
             |    AS containment_a,
             |  ROUND(CAST(n_common AS DOUBLE)
             |    / CAST(sa.nsh + sb.nsh - n_common AS DOUBLE), 6) AS jaccard
             |FROM inter
             |JOIN sizes sa ON sa.source = src_a
             |JOIN sizes sb ON sb.source = src_b
             |ORDER BY src_a, src_b""".stripMargin)),

    // ---- MinHash sketch accuracy at the source level: the per-source
    // ---- 32-component signature is the component-wise MIN of the
    // ---- cached per-doc signatures (min is associative — the source
    // ---- sketch IS the merge of its docs' sketches, the mergeability
    // ---- property that makes MinHash scale), estimate = matching
    // ---- components / 32, compared against the exact vocabulary
    // ---- Jaccard. The oracle rebuilds the signatures from the shared
    // ---- [[PortableHash.coeffs]] literals. --------------------------
    Q("q222_minhash_source_acc",
      (s, dir) => {
        val idx = TextQueries.minhashIndexCached(s, dir)
        val srcSig = idx
          .join(t(s, dir, "documents").select(col("doc_id").as("id"),
            col("source")), Seq("id"))
          .select(col("source"), posexplode(col("mh")).as(Seq("k", "v")))
          .groupBy("source", "k").agg(min(col("v")).as("v"))
        val matches = srcSig.select(col("source").as("src_a"), col("k"),
            col("v"))
          .join(srcSig.select(col("source").as("src_b"), col("k"), col("v")
            .as("vb")), Seq("k"))
          .where(col("src_a") < col("src_b"))
          .groupBy("src_a", "src_b")
          .agg(sum(when(col("v") === col("vb"), 1L).otherwise(0L))
            .as("n_match"))
        val ss = sourceShingles(s, dir)
        val sizes = ss.groupBy("source").agg(count(lit(1)).as("nsh"))
        val exact = ss.select(col("source").as("src_a"), col("sh"))
          .join(ss.select(col("source").as("src_b"), col("sh")), Seq("sh"))
          .where(col("src_a") < col("src_b"))
          .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_common"))
          .join(sizes.select(col("source").as("src_a"), col("nsh").as("na")),
            Seq("src_a"))
          .join(sizes.select(col("source").as("src_b"), col("nsh").as("nb")),
            Seq("src_b"))
          .select(col("src_a"), col("src_b"),
            (col("n_common").cast("double")
              / (col("na") + col("nb") - col("n_common")).cast("double"))
              .as("jx"))
        matches.join(exact, Seq("src_a", "src_b"))
          .select(col("src_a"), col("src_b"), col("n_match"),
            round(col("n_match").cast("double") / 32.0, 6).as("est_jaccard"),
            round(col("jx"), 6).as("exact_jaccard"),
            round(abs(col("n_match").cast("double") / 32.0 - col("jx")), 6)
              .as("abs_err"))
          .orderBy("src_a", "src_b")
      },
      Some {
        val coeffs = PortableHash.coeffs(32, 42L)
        val rehash = coeffs.zipWithIndex.map { case ((a, b), i) =>
          s"SELECT ${i + 1} AS k, CAST($a AS BIGINT) AS a, CAST($b AS BIGINT) AS b"
        }.mkString("\nUNION ALL ")
        s"""$sourceShinglesCte,
           |co(k, a, b) AS (
           |  $rehash
           |), hs AS MATERIALIZED (
           |  SELECT source, shingle,
           |    ('0x' || substr(md5(shingle), 1, 15))::BIGINT
           |      % ${PortableHash.P} AS h
           |  FROM ss
           |), srcsig AS MATERIALIZED (
           |  SELECT hs.source, co.k, MIN((co.a * hs.h + co.b)
           |    % ${PortableHash.P}) AS v
           |  FROM hs CROSS JOIN co
           |  GROUP BY hs.source, co.k
           |), matches AS (
           |  SELECT a.source AS src_a, b.source AS src_b,
           |    CAST(SUM(CASE WHEN a.v = b.v THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_match
           |  FROM srcsig a JOIN srcsig b
           |    ON a.k = b.k AND a.source < b.source
           |  GROUP BY 1, 2
           |), sizes AS (
           |  SELECT source, CAST(COUNT(*) AS BIGINT) AS nsh
           |  FROM ss GROUP BY source
           |), exact AS (
           |  SELECT i.src_a, i.src_b,
           |    CAST(i.n_common AS DOUBLE)
           |      / CAST(sa.nsh + sb.nsh - i.n_common AS DOUBLE) AS jx
           |  FROM (
           |    SELECT a.source AS src_a, b.source AS src_b,
           |      CAST(COUNT(*) AS BIGINT) AS n_common
           |    FROM ss a JOIN ss b
           |      ON a.shingle = b.shingle AND a.source < b.source
           |    GROUP BY 1, 2) i
           |  JOIN sizes sa ON sa.source = i.src_a
           |  JOIN sizes sb ON sb.source = i.src_b
           |)
           |SELECT m.src_a AS src_a, m.src_b AS src_b, m.n_match,
           |  ROUND(CAST(m.n_match AS DOUBLE) / 32.0, 6) AS est_jaccard,
           |  ROUND(e.jx, 6) AS exact_jaccard,
           |  ROUND(ABS(CAST(m.n_match AS DOUBLE) / 32.0 - e.jx), 6)
           |    AS abs_err
           |FROM matches m JOIN exact e
           |  ON e.src_a = m.src_a AND e.src_b = m.src_b
           |ORDER BY src_a, src_b""".stripMargin
      }),

    // ---- exact-integer permutation test: does lang='en' shift
    // ---- n_chars? T = Σ s_i·x_i with observed signs, and 199
    // ---- hash-derived sign flips (parity of md5(doc_id:r)'s last hex
    // ---- digit) give the null distribution — every statistic is a
    // ---- BIGINT sum, so both engines agree exactly; the only float is
    // ---- the final p-value. The permutation fan-out is a map-side
    // ---- explode (docs × 199 narrow rows) into one bounded group-by.
    Q("q223_perm_test",
      (s, dir) => {
        val d = t(s, dir, "documents").select(
          col("doc_id"), col("n_chars").cast("long").as("x"),
          when(col("lang") === "en", 1L).otherwise(-1L).as("sg"))
        val obs = d.agg(count(lit(1)).as("n_docs"),
          sum(col("sg") * col("x")).as("t_obs"))
        val perms = d
          .select(col("doc_id"), col("x"),
            explode(sequence(lit(0), lit(198))).as("r"))
          .select(col("r"), (lit(1L) - lit(2L) *
            (conv(substring(md5(concat(col("doc_id").cast("string"),
              lit(":"), col("r").cast("string"))), 32, 1), 16, 10)
              .cast("long") % 2L)).as("sg"), col("x"))
          .groupBy("r").agg(sum(col("sg") * col("x")).as("tr"))
        perms.crossJoin(obs)
          .agg(first(col("n_docs")).as("n_docs"),
            first(col("t_obs")).as("t_obs"),
            sum(when(abs(col("tr")) >= abs(col("t_obs")), 1L).otherwise(0L))
              .as("n_extreme"))
          .select(col("n_docs"), col("t_obs"), col("n_extreme"),
            round((lit(1.0) + col("n_extreme").cast("double")) / 200.0, 6)
              .as("p_value"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, CAST(n_chars AS BIGINT) AS x,
             |    CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS sg
             |  FROM documents
             |), obs AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             |    CAST(SUM(sg * x) AS BIGINT) AS t_obs
             |  FROM d
             |), perms AS (
             |  SELECT r.r,
             |    CAST(SUM((1 - 2 * (('0x' || substr(md5(
             |      CAST(doc_id AS VARCHAR) || ':' || CAST(r.r AS VARCHAR)),
             |      32, 1))::BIGINT % 2)) * x) AS BIGINT) AS tr
             |  FROM d CROSS JOIN range(199) r(r)
             |  GROUP BY r.r
             |)
             |SELECT ANY_VALUE(n_docs) AS n_docs, ANY_VALUE(t_obs) AS t_obs,
             |  CAST(SUM(CASE WHEN ABS(tr) >= ABS(t_obs) THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_extreme,
             |  ROUND((1.0 + CAST(SUM(CASE WHEN ABS(tr) >= ABS(t_obs)
             |    THEN 1 ELSE 0 END) AS DOUBLE)) / 200.0, 6) AS p_value
             |FROM perms, obs""".stripMargin)),

    // ---- Kruskal-Wallis rank ANOVA: do the sources draw n_chars from
    // ---- the same distribution? Doubled average ranks keep every rank
    // ---- sum BIGINT; the per-group (ΣR)²/n terms are rounded onto a
    // ---- 1e-6 decimal grid before the order-free decimal sum; the tie
    // ---- correction Σ(t³−t) is pure BIGINT. The global rank window is
    // ---- q194's total-order shape (range-partitioned sort at scale).
    Q("q224_kruskal_wallis",
      (s, dir) => {
        // midranks depend only on the VALUE, so rank on the n_chars
        // census (value-space grain), never on doc rows: competition
        // rank = cum_count(≤x) − ties(x) + 1, hence the doubled midrank
        // 2·rank + ties − 1 = 2·cw − ties + 1. No doc-grain sort.
        val docs = t(s, dir, "documents")
          .select(col("source"), col("n_chars").as("x"))
        val census = docs.groupBy("x").agg(count(lit(1)).as("tc"))
        val cum = graft.operators.Ranks.withPrefixSum(census, Seq.empty,
            Seq(col("x")), col("tc"), "cw", "tw")
          .select(col("x"), col("tc"),
            (lit(2L) * col("cw") - col("tc") + lit(1L)).cast("long").as("r2"))
        val ranked = docs.join(cum, "x")
        val grp = ranked.groupBy("source")
          .agg(count(lit(1)).as("ng"), sum(col("r2")).as("sr2"))
          .select(col("ng"),
            round((col("sr2") * col("sr2")).cast("double")
              / (lit(4.0) * col("ng").cast("double")), 6)
              .cast(DecimalType(28, 6)).as("term"))
          .agg(count(lit(1)).as("k_groups"), sum(col("ng")).as("n"),
            sum(col("term")).as("s_terms"))
        val ties = census
          .agg(sum(col("tc") * col("tc") * col("tc") - col("tc"))
            .as("tie_sum"))
        val nD = col("n").cast("double")
        val h = lit(12.0) / (nD * (nD + 1.0)) *
          col("s_terms").cast("double") - lit(3.0) * (nD + 1.0)
        val c = lit(1.0) -
          col("tie_sum").cast("double") / (nD * nD * nD - nD)
        grp.crossJoin(ties)
          .select(col("n"), col("k_groups"), round(h, 6).as("h"),
            round(c, 9).as("tie_c"), round(h / c, 6).as("h_adj"))
      },
      Some("""WITH ranked AS (
             |  SELECT source,
             |    CAST(2 * RANK() OVER (ORDER BY n_chars)
             |      + COUNT(*) OVER (PARTITION BY n_chars) - 1 AS BIGINT)
             |      AS r2,
             |    n_chars AS x
             |  FROM documents
             |), grp AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
             |    CAST(SUM(ng) AS BIGINT) AS n,
             |    SUM(term) AS s_terms
             |  FROM (
             |    SELECT CAST(COUNT(*) AS BIGINT) AS ng,
             |      CAST(ROUND(CAST(SUM(r2) * SUM(r2) AS DOUBLE)
             |        / (4.0 * CAST(COUNT(*) AS DOUBLE)), 6)
             |        AS DECIMAL(28,6)) AS term
             |    FROM ranked GROUP BY source)
             |), ties AS (
             |  SELECT CAST(SUM(tc * tc * tc - tc) AS BIGINT) AS tie_sum
             |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS tc
             |        FROM ranked GROUP BY x)
             |)
             |SELECT n, k_groups,
             |  ROUND(12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
             |    * CAST(s_terms AS DOUBLE)
             |    - 3.0 * (CAST(n AS DOUBLE) + 1.0), 6) AS h,
             |  ROUND(1.0 - CAST(tie_sum AS DOUBLE)
             |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
             |      - CAST(n AS DOUBLE)), 9) AS tie_c,
             |  ROUND((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
             |    * CAST(s_terms AS DOUBLE)
             |    - 3.0 * (CAST(n AS DOUBLE) + 1.0))
             |    / (1.0 - CAST(tie_sum AS DOUBLE)
             |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
             |      - CAST(n AS DOUBLE))), 6) AS h_adj
             |FROM grp, ties""".stripMargin))
  )
}
