package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.StringSimilarity

/** Twelfth analytics pack (round 6, session 5): capped running sums,
  * run-length encoding, Jaro-Winkler fuzzy pairs (native expression),
  * top-k WITH TIES, winsorized statistics. */
object Analytics12 {

  /** q168 fuzzy-pair threshold (at the 6-dp grain) and slice bound. */
  private val JwTau = 0.9
  private val JwSlice = 600

  val all: Seq[Q] = Seq(

    // ---- capped running sum (inventory / token-budget semantics):
    // ---- c_t = clamp(c_{t-1} + d_t, 0, cap) is NOT a plain window sum
    // ---- — each step depends on the clamped predecessor — so the
    // ---- series folds left-to-right per group via aggregate() over
    // ---- the bounded month array (the q147 shape); the oracle unrolls
    // ---- the identical recurrence recursively. Clamp-event counts
    // ---- ride the fold state ----------------------------------------
    Q("q166_capped_running_sum",
      (s, dir) => {
        val monthly = monthlyRevenue(t(s, dir, "orders"), byStatus = true)
          .select(col("status"), col("mon"), col("rev").cast("double").as("rev"))
        val mean = monthly.groupBy("status").agg(
          (sum(col("rev").cast(DecimalType(28, 2))).cast("double") /
            count(lit(1)).cast("double")).as("mu"))
        monthly.join(broadcast(mean), Seq("status"))
          .select(col("status"), col("mon"),
            (col("rev") - col("mu")).as("d"), col("mu"))
          .groupBy("status")
          .agg(max(col("mu")).as("mu"),
            array_sort(collect_list(struct(col("mon"), col("d")))).as("xs"))
          .select(col("status"), size(col("xs")).as("n_months"),
            expr("""aggregate(xs,
                   |  named_struct('c', CAST(0.0 AS DOUBLE),
                   |    'hi', CAST(0 AS BIGINT), 'lo', CAST(0 AS BIGINT)),
                   |  (acc, x) -> named_struct(
                   |    'c', LEAST(GREATEST(acc.c + x.d, CAST(0.0 AS DOUBLE)), mu),
                   |    'hi', acc.hi + CAST(acc.c + x.d > mu AS BIGINT),
                   |    'lo', acc.lo + CAST(acc.c + x.d < 0.0 AS BIGINT)))""".stripMargin)
              .as("st"))
          .select(col("status"), col("n_months"),
            round(col("st.c"), 4).as("final_balance"),
            col("st.hi").as("n_capped_high"), col("st.lo").as("n_capped_low"))
          .orderBy("status")
      },
      Some("""WITH RECURSIVE monthly AS (
             |  SELECT o_orderstatus AS status,
             |    CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS rev
             |  FROM orders GROUP BY 1, 2
             |), mean AS (
             |  SELECT status, CAST(SUM(CAST(rev AS DECIMAL(28,2))) AS DOUBLE)
             |      / CAST(COUNT(*) AS DOUBLE) AS mu
             |  FROM monthly GROUP BY status
             |), seq AS (
             |  SELECT m.status, rev - mu AS d, mu,
             |    ROW_NUMBER() OVER (PARTITION BY m.status ORDER BY mon) AS rn
             |  FROM monthly m JOIN mean USING (status)
             |), rec AS (
             |  SELECT status, rn, mu,
             |    LEAST(GREATEST(d, CAST(0.0 AS DOUBLE)), mu) AS c,
             |    CAST(d > mu AS BIGINT) AS hi, CAST(d < 0.0 AS BIGINT) AS lo
             |  FROM seq WHERE rn = 1
             |  UNION ALL
             |  SELECT s.status, s.rn, s.mu,
             |    LEAST(GREATEST(r.c + s.d, CAST(0.0 AS DOUBLE)), s.mu),
             |    r.hi + CAST(r.c + s.d > s.mu AS BIGINT),
             |    r.lo + CAST(r.c + s.d < 0.0 AS BIGINT)
             |  FROM rec r JOIN seq s ON s.status = r.status AND s.rn = r.rn + 1
             |)
             |SELECT status, CAST(rn AS INT) AS n_months,
             |  ROUND(c, 4) AS final_balance,
             |  hi AS n_capped_high, lo AS n_capped_low
             |FROM rec
             |QUALIFY ROW_NUMBER() OVER (PARTITION BY status ORDER BY rn DESC) = 1
             |ORDER BY status""".stripMargin)),

    // ---- run-length encoding of event streams (session replay
    // ---- compression): run boundaries from one lag, run ids from the
    // ---- running boundary sum, then a global run-length census — all
    // ---- integers, two window passes inside the per-user sort -------
    Q("q167_event_runs",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val runs = t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("boundary",
            when(lag(col("event_type"), 1).over(w).isNull ||
              lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
              .otherwise(0L))
          .withColumn("run_id", sum(col("boundary")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "run_id")
          .agg(count(lit(1)).as("run_len"))
        runs.groupBy("run_len")
          .agg(count(lit(1)).as("n_runs"))
          .orderBy("run_len")
      },
      Some("""WITH b AS (
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN LAG(event_type) OVER (PARTITION BY user_id
             |          ORDER BY ts, event_id) IS NULL
             |        OR LAG(event_type) OVER (PARTITION BY user_id
             |          ORDER BY ts, event_id) <> event_type
             |      THEN 1 ELSE 0 END AS boundary
             |  FROM events
             |), runs AS (
             |  SELECT user_id,
             |    SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
             |  FROM b
             |), lens AS (
             |  SELECT user_id, run_id, CAST(COUNT(*) AS BIGINT) AS run_len
             |  FROM runs GROUP BY user_id, run_id
             |)
             |SELECT run_len, CAST(COUNT(*) AS BIGINT) AS n_runs
             |FROM lens GROUP BY run_len
             |ORDER BY run_len""".stripMargin)),

    // ---- fuzzy name pairs via the native Jaro-Winkler expression
    // ---- (q48's FastSS partner for non-edit-distance semantics):
    // ---- first-token blocking bounds candidates, the codegen'd
    // ---- scalar rides inside the blocked join, exact dups excluded
    // ---- (q32's job); both engines threshold at the 6-dp grain ------
    Q("q168_jaro_winkler_pairs",
      (s, dir) => {
        val p = t(s, dir, "part").where(col("p_partkey") < JwSlice)
          .select(col("p_partkey"), col("p_name"),
            split(col("p_name"), " ").getItem(0).as("blk"))
        val jw = round(StringSimilarity.jaroWinkler(
          col("name_a"), col("name_b")), 6)
        p.select(col("blk"), col("p_partkey").as("id_a"),
            col("p_name").as("name_a"))
          .join(p.select(col("blk"), col("p_partkey").as("id_b"),
            col("p_name").as("name_b")), Seq("blk"))
          .where(col("id_a") < col("id_b") && col("name_a") =!= col("name_b"))
          .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"),
            jw.as("jw"))
          .where(col("jw") >= JwTau)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH p AS (
             |  SELECT p_partkey, p_name, string_split(p_name, ' ')[1] AS blk
             |  FROM part WHERE p_partkey < $JwSlice
             |)
             |SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
             |  a.p_name AS name_a, b.p_name AS name_b,
             |  ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
             |FROM p a JOIN p b ON a.blk = b.blk
             |  AND a.p_partkey < b.p_partkey AND a.p_name <> b.p_name
             |WHERE ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6)
             |  >= $JwTau
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- top-k WITH TIES (rank <= k census — the SQL:2008 FETCH WITH
    // ---- TIES surface): rank() keeps tied rows, the tie-broken output
    // ---- order keeps the compare deterministic ----------------------
    Q("q169_topk_with_ties",
      (s, dir) => {
        // 3 status values over order grain: partitionBy(status) rank
        // is single-task in all but name. Competition rank depends
        // only on the VALUE, so rank the (status, price) census with
        // a Ranks prefix-sum (rk = cum − ties + 1), keep the ≤ 3
        // winning prices (≤ 9 rows), and broadcast-join back for the
        // tied order rows.
        // NOTE r12: loadParallel was tried here and measured +4% — no
        // win over the single-task census at this input size.
        val census = t(s, dir, "orders")
          .groupBy(col("o_orderstatus"), col("o_totalprice"))
          .agg(count(lit(1)).as("tc"))
        val top = graft.operators.Ranks.withPrefixSum(census,
            Seq(col("o_orderstatus")), Seq(-col("o_totalprice")),
            col("tc"), "cw", "tw")
          .select(col("o_orderstatus"), col("o_totalprice"),
            (col("cw") - col("tc") + 1L).as("rk"))
          .where(col("rk") <= 3L)
        t(s, dir, "orders")
          .join(broadcast(top), Seq("o_orderstatus", "o_totalprice"))
          .select(col("o_orderstatus").as("status"),
            col("rk").cast("int").as("rk"),
            col("o_totalprice").as("price"), col("o_orderkey"))
          .orderBy("status", "rk", "o_orderkey")
      },
      Some("""SELECT o_orderstatus AS status, CAST(rk AS INT) AS rk,
             |  o_totalprice AS price, o_orderkey
             |FROM (
             |  SELECT o_orderstatus, o_totalprice, o_orderkey,
             |    RANK() OVER (PARTITION BY o_orderstatus
             |      ORDER BY o_totalprice DESC) AS rk
             |  FROM orders)
             |WHERE rk <= 3
             |ORDER BY status, rk, o_orderkey""".stripMargin)),

    // ---- winsorized statistics (robust mean under clipping): exact
    // ---- p05/p95 bounds rounded to the money grain, values clamped
    // ---- and re-cast to DECIMAL so the clipped sum stays exact and
    // ---- order-free; clip counts integral ---------------------------
    Q("q170_winsorized_stats",
      (s, dir) => {
        val bounds = t(s, dir, "orders").groupBy("o_orderstatus").agg(
          round(expr("percentile(o_totalprice, 0.05)"), 2).as("lo"),
          round(expr("percentile(o_totalprice, 0.95)"), 2).as("hi"))
        t(s, dir, "orders").join(broadcast(bounds), Seq("o_orderstatus"))
          .select(col("o_orderstatus").as("status"),
            least(greatest(col("o_totalprice"), col("lo")), col("hi"))
              .cast(DecimalType(12, 2)).as("wp"),
            (col("o_totalprice") < col("lo")).cast("long").as("clow"),
            (col("o_totalprice") > col("hi")).cast("long").as("chigh"))
          .groupBy("status")
          .agg(count(lit(1)).as("n"),
            (sum(col("wp")).cast("double") / count(lit(1)).cast("double"))
              .as("wmeanraw"),
            sum(col("clow")).as("n_clipped_low"),
            sum(col("chigh")).as("n_clipped_high"))
          .select(col("status"), col("n"), round(col("wmeanraw"), 4)
              .as("winsorized_mean"),
            col("n_clipped_low"), col("n_clipped_high"))
          .orderBy("status")
      },
      Some("""WITH bounds AS (
             |  SELECT o_orderstatus,
             |    ROUND(quantile_cont(o_totalprice, 0.05), 2) AS lo,
             |    ROUND(quantile_cont(o_totalprice, 0.95), 2) AS hi
             |  FROM orders GROUP BY o_orderstatus
             |)
             |SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n,
             |  ROUND(CAST(SUM(CAST(LEAST(GREATEST(o_totalprice, lo), hi)
             |      AS DECIMAL(12,2))) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE), 4) AS winsorized_mean,
             |  CAST(SUM(CASE WHEN o_totalprice < lo THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_clipped_low,
             |  CAST(SUM(CASE WHEN o_totalprice > hi THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_clipped_high
             |FROM orders JOIN bounds USING (o_orderstatus)
             |GROUP BY o_orderstatus
             |ORDER BY status""".stripMargin)))
}
