package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Nineteenth analytics pack (round 6, session 6): simhash distance
  * census, unpivot (the pivot's inverse), Markov chain entropy rate,
  * Tukey-fence outlier audit, Dice/overlap set-similarity variants.
  * Determinism discipline as in packs 17/18 (integer-grid
  * quantization, identical parse trees, exact dyadic fences). */
object Analytics19 {

  val all: Seq[Q] = Seq(

    // ---- near-dup distance census: histogram of simhash Hamming
    // ---- distances over the banded candidate pairs (dedup
    // ---- observability — how aggressive would each threshold be?).
    // ---- Shares the cached signature index with q36; the oracle
    // ---- replays signatures from md5 word bits and takes the full
    // ---- O(n²) join, equal by the pigeonhole guarantee ---------------
    Q("q201_hamming_histogram",
      (s, dir) => {
        graft.dedup.Portable.simhashPairsFromIndex(
            TextQueries.simhashIndexCached(s, dir), maxHamming = 6)
          .groupBy("hamming").agg(count(lit(1)).as("n_pairs"))
          .orderBy("hamming")
      },
      Some(s"""SELECT hamming, CAST(COUNT(*) AS BIGINT) AS n_pairs
             |FROM (${graft.dedup.Portable.simhashPairsSql(maxHamming = 6)})
             |GROUP BY hamming
             |ORDER BY hamming""".stripMargin)),

    // ---- unpivot (wide → long, the q195 inverse): month × status
    // ---- revenue matrix back to rows via stack(), zero-filled cells
    // ---- included — the reporting export shape. stack() is a
    // ---- generator expression, no shuffle beyond the pivot's ---------
    Q("q202_unpivot_long",
      (s, dir) => statusRevenueWide(t(s, dir, "orders"))
        .select(col("mon"),
          expr("stack(3, 'F', f_rev, 'O', o_rev, 'P', p_rev) AS (status, rev)"))
        .orderBy("mon", "status"),
      // the status domain is DECLARED ('F','O','P') in both engines —
      // deriving it from the data on one side only would diverge the
      // moment a status has zero rows
      Some("""WITH mons AS (
             |  SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS mon FROM orders
             |), st AS (
             |  SELECT * FROM (VALUES ('F'), ('O'), ('P')) v(status)
             |), rev AS (
             |  SELECT strftime(o_orderdate, '%Y-%m') AS mon,
             |    o_orderstatus AS status,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS rev
             |  FROM orders GROUP BY 1, 2
             |)
             |SELECT m.mon, s.status, COALESCE(r.rev, 0.0) AS rev
             |FROM mons m CROSS JOIN st s
             |LEFT JOIN rev r ON r.mon = m.mon AND r.status = s.status
             |ORDER BY m.mon, s.status""".stripMargin)),

    // ---- entropy rate of the q154 behavior chain: H = −Σ_ij (c_ij/N)
    // ---- · ln(c_ij/c_i·) — how predictable is the next event? Per-cell
    // ---- contributions are quantized to the 1e-9 grid and summed as
    // ---- BIGINT (the transition matrix is |types|², so the final
    // ---- reduce is constant-size); uniform-chain ceiling ln(k)
    // ---- alongside for calibration ----------------------------------
    Q("q203_markov_entropy",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        // |types|²-bounded after the groupBy, but consumed three times
        // (main join, row totals, grand total) — persist so the events
        // scan + lead() window run once, not per consumer
        val pairs = t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type").as("from_type"))
          .withColumn("to_type", lead(col("from_type"), 1).over(w))
          .where(col("to_type").isNotNull)
          .groupBy("from_type", "to_type").agg(count(lit(1)).as("c"))
          .persist()
        val rows = pairs.groupBy("from_type").agg(sum(col("c")).as("ci"))
        val withTot = pairs.join(broadcast(rows), Seq("from_type"))
          .crossJoin(broadcast(pairs.agg(sum(col("c")).as("nt"),
            countDistinct(col("from_type")).as("k"))))
        val contrib = (col("c").cast("double") / col("nt").cast("double")) *
          log(col("ci").cast("double") / col("c").cast("double"))
        withTot
          .select(col("nt"), col("k"),
            round(contrib * 1e9).cast("long").as("cq"))
          .groupBy("nt", "k").agg(sum(col("cq")).as("hq"))
          .select(col("nt").as("n_transitions"), col("k").as("n_states"),
            round(col("hq").cast("double") / 1e9, 6).as("entropy_nats"),
            round(log(col("k").cast("double")), 6).as("uniform_ceiling"))
      },
      Some("""WITH seq AS (
             |  SELECT event_type AS from_type,
             |    LEAD(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS to_type
             |  FROM events
             |), pairs AS (
             |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM seq WHERE to_type IS NOT NULL
             |  GROUP BY from_type, to_type
             |), rows_ AS (
             |  SELECT from_type, CAST(SUM(c) AS BIGINT) AS ci
             |  FROM pairs GROUP BY from_type
             |), tot AS (
             |  SELECT CAST(SUM(c) AS BIGINT) AS nt,
             |    CAST(COUNT(DISTINCT from_type) AS BIGINT) AS k
             |  FROM pairs
             |)
             |SELECT nt AS n_transitions, k AS n_states,
             |  ROUND(CAST(SUM(CAST(ROUND(
             |    (CAST(c AS DOUBLE) / CAST(nt AS DOUBLE))
             |      * ln(CAST(ci AS DOUBLE) / CAST(c AS DOUBLE))
             |    * 1e9) AS BIGINT)) AS DOUBLE) / 1e9, 6)
             |    AS entropy_nats,
             |  ROUND(ln(CAST(k AS DOUBLE)), 6) AS uniform_ceiling
             |FROM pairs
             |JOIN rows_ USING (from_type)
             |CROSS JOIN tot
             |GROUP BY nt, k""".stripMargin)),

    // ---- Tukey-fence outlier audit per source on document length:
    // ---- fences = Q1/Q3 ∓ 1.5·IQR. Quartiles of INTEGER data at
    // ---- quarter fractions are exact dyadic rationals, so the fences
    // ---- (and therefore the outlier counts) are bit-identical across
    // ---- engines — no tolerance needed. One percentile pass + one
    // ---- broadcast-back counting pass --------------------------------
    Q("q204_tukey_outliers",
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("source"), col("n_chars"))
        val qs = docs.groupBy("source").agg(
          expr("percentile(n_chars, 0.25)").as("q1"),
          expr("percentile(n_chars, 0.75)").as("q3"),
          count(lit(1)).as("n"))
        val lo = col("q1") - lit(1.5) * (col("q3") - col("q1"))
        val hi = col("q3") + lit(1.5) * (col("q3") - col("q1"))
        docs.join(broadcast(qs), Seq("source"))
          .groupBy("source")
          .agg(max(col("n")).as("n"),
            round(max(col("q1")), 4).as("q1"),
            round(max(col("q3")), 4).as("q3"),
            sum(when(col("n_chars").cast("double") < lo, 1L).otherwise(0L))
              .as("n_low"),
            sum(when(col("n_chars").cast("double") > hi, 1L).otherwise(0L))
              .as("n_high"))
          .orderBy("source")
      },
      Some("""WITH qs AS (
             |  SELECT source,
             |    quantile_cont(n_chars, 0.25) AS q1,
             |    quantile_cont(n_chars, 0.75) AS q3,
             |    CAST(COUNT(*) AS BIGINT) AS n
             |  FROM documents GROUP BY source
             |)
             |SELECT d.source, MAX(q.n) AS n,
             |  ROUND(MAX(q.q1), 4) AS q1, ROUND(MAX(q.q3), 4) AS q3,
             |  CAST(SUM(CASE WHEN CAST(d.n_chars AS DOUBLE)
             |    < q.q1 - 1.5 * (q.q3 - q.q1) THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_low,
             |  CAST(SUM(CASE WHEN CAST(d.n_chars AS DOUBLE)
             |    > q.q3 + 1.5 * (q.q3 - q.q1) THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_high
             |FROM documents d JOIN qs q ON d.source = q.source
             |GROUP BY d.source
             |ORDER BY d.source""".stripMargin)),

    // ---- Dice & overlap set-similarity variants over the q37 shingle
    // ---- slice: Dice = 2i/(a+b) favors balance, overlap = i/min(a,b)
    // ---- catches containment (a doc embedded in a larger one) — the
    // ---- same inverted-index join, three coefficients for one pass ---
    Q("q205_dice_overlap",
      (s, dir) => {
        val d = Tables.loadParallel(s, dir, "documents")
          .filter(col("doc_id") < 200)
        val inv = graft.dedup.Dedup.shingleIndex(d, "doc_id", "text", 3)
        val dice = (col("inter") * 2).cast("double") /
          (col("n_a") + col("n_b")).cast("double")
        val overlap = col("inter").cast("double") /
          least(col("n_a"), col("n_b")).cast("double")
        inv.as("x").join(inv.as("y"), Seq("shingle"))
          .where(col("x.id") < col("y.id"))
          .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
          .agg(count(lit(1)).as("inter"),
            first(col("x.n")).cast("long").as("n_a"),
            first(col("y.n")).cast("long").as("n_b"))
          .where(dice >= 0.6)
          .select(col("id_a"), col("id_b"), col("inter"),
            col("n_a"), col("n_b"),
            round(dice, 6).as("dice"), round(overlap, 6).as("overlap"))
          .orderBy("id_a", "id_b")
      },
      Some("""WITH sh AS (
             |  SELECT doc_id AS id, sl AS sh, len(sl) AS n FROM (
             |    SELECT doc_id,
             |      list_distinct([array_to_string(toks[i:i+2], ' ')
             |        FOR i IN range(1, greatest(len(toks) - 1, 1))]) AS sl
             |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
             |          FROM documents WHERE doc_id < 200)
             |  ) WHERE len(sl) > 0
             |), inv AS (
             |  SELECT id, n, unnest(sh) AS shingle FROM sh
             |), pairs AS (
             |  SELECT x.id AS id_a, y.id AS id_b,
             |    CAST(COUNT(*) AS BIGINT) AS inter,
             |    CAST(ANY_VALUE(x.n) AS BIGINT) AS n_a,
             |    CAST(ANY_VALUE(y.n) AS BIGINT) AS n_b
             |  FROM inv x JOIN inv y ON x.shingle = y.shingle AND x.id < y.id
             |  GROUP BY 1, 2
             |)
             |SELECT id_a, id_b, inter, n_a, n_b,
             |  ROUND(CAST(inter * 2 AS DOUBLE) / CAST(n_a + n_b AS DOUBLE), 6)
             |    AS dice,
             |  ROUND(CAST(inter AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE), 6)
             |    AS overlap
             |FROM pairs
             |WHERE CAST(inter * 2 AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) >= 0.6
             |ORDER BY id_a, id_b""".stripMargin))
  )
}
