package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Bitmap

/** Seventh analytics pack (round 6, session 5): GROUPING SETS surface,
  * sliding-window distinct actives, robust (median/MAD) scaling,
  * chi-square contingency cells, and exact bitmap distinct counting.
  * Determinism discipline as before: integer/decimal accumulation
  * wherever partition order could leak into a double; division chains
  * written identically in both engines so IEEE doubles match bit-wise;
  * rounding only at the output grain. */
object Analytics7 {

  /** Sliding-actives window length in days (a 7-day MAU-style gauge). */
  private val SlideDays = 7

  val all: Seq[Q] = Seq(

    // ---- GROUPING SETS with grouping_id: the general multi-rollup the
    // ---- reference's dashboard layer would issue as one scan (CUBE =
    // ---- q22 is the special case). One pass, Catalyst expands the
    // ---- sets; the decimal sum keeps money exact across the expand --
    Q("q141_grouping_sets",
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("q141_orders")
        s.sql("""SELECT o_orderstatus AS status, o_orderpriority AS prio,
                |  CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
                |  COUNT(*) AS n,
                |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
                |FROM q141_orders
                |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                |  (o_orderstatus), (o_orderpriority), ())
                |ORDER BY gid, status NULLS FIRST, prio NULLS FIRST""".stripMargin)
      },
      Some("""SELECT o_orderstatus AS status, o_orderpriority AS prio,
             |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
             |  (o_orderstatus), (o_orderpriority), ())
             |ORDER BY gid, status NULLS FIRST, prio NULLS FIRST""".stripMargin)),

    // ---- 7-day sliding distinct actives per day: COUNT(DISTINCT) over
    // ---- a range frame, which no engine's window supports directly.
    // ---- Shape: distinct (user, day) [one shuffle on the pair], fan
    // ---- each out to the <=7 window-end days it serves, distinct
    // ---- again, count. The x7 fan-out replaces 7 full passes and
    // ---- never materializes per-day user sets on one node — at
    // ---- cluster scale both distincts hash-partition on the pair ----
    Q("q142_sliding_actives",
      (s, dir) => {
        val ud = t(s, dir, "events")
          .select(to_date(col("ts")).as("day"), col("user_id"))
          .distinct()
        val days = ud.select(col("day").as("wday")).distinct()
        ud.select(explode(sequence(col("day"), date_add(col("day"), SlideDays - 1)))
            .as("wday"), col("user_id"))
          .distinct()
          .join(days, Seq("wday"), "left_semi")
          .groupBy("wday")
          .agg(count(lit(1)).as("actives"))
          .select(date_format(col("wday"), "yyyy-MM-dd").as("wday"), col("actives"))
          .orderBy("wday")
      },
      Some(s"""WITH ud AS (
             |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
             |), days AS (SELECT DISTINCT day FROM ud)
             |SELECT strftime(d.day, '%Y-%m-%d') AS wday,
             |  CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS actives
             |FROM days d JOIN ud u
             |  ON u.day <= d.day AND u.day >= d.day - ${SlideDays - 1}
             |GROUP BY d.day
             |ORDER BY wday""".stripMargin)),

    // ---- robust scaling (median/MAD z-score, the outlier-proof
    // ---- normalization a quality-score pipeline wants before
    // ---- thresholding): two exact-percentile aggs over the bounded
    // ---- per-lang groups, stats broadcast back, one narrow corpus
    // ---- pass. Interpolated percentile selection is order-free, so
    // ---- no rounding is needed before the output grain -------------
    Q("q143_robust_scaling",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val med = d.groupBy("lang")
          .agg(expr("percentile(n_chars, 0.5)").as("med"))
        val mad = d.join(broadcast(med), Seq("lang"))
          .groupBy("lang")
          .agg(expr("percentile(abs(n_chars - med), 0.5)").as("mad"))
        d.join(broadcast(med), Seq("lang")).join(broadcast(mad), Seq("lang"))
          .where(col("mad") > 0)
          .select(col("doc_id"), col("lang"),
            round((col("n_chars") - col("med")) / (lit(1.4826d) * col("mad")), 4)
              .as("rz"))
          .orderBy("doc_id")
      },
      Some("""WITH med AS (
             |  SELECT lang, quantile_cont(n_chars, 0.5) AS med
             |  FROM documents GROUP BY lang
             |), mad AS (
             |  SELECT d.lang, quantile_cont(abs(d.n_chars - m.med), 0.5) AS mad
             |  FROM documents d JOIN med m USING (lang) GROUP BY d.lang
             |)
             |SELECT doc_id, lang,
             |  ROUND((n_chars - med) / (1.4826 * mad), 4) AS rz
             |FROM documents JOIN med USING (lang) JOIN mad USING (lang)
             |WHERE mad > 0
             |ORDER BY doc_id""".stripMargin)),

    // ---- chi-square contingency cells (lang x source independence):
    // ---- observed from one groupBy, marginals from two more, expected
    // ---- and the cell contribution derived per cell from INTEGER
    // ---- counts — no cross-cell double sum, so every value is a pure
    // ---- function of the cell and deterministic. The scalar N rides a
    // ---- broadcast (1-row crossJoin); marginals broadcast too -------
    Q("q144_chi_square",
      (s, dir) => {
        val d = t(s, dir, "documents").select("lang", "source")
        val obs = d.groupBy("lang", "source").agg(count(lit(1)).as("o"))
        val rt = d.groupBy("lang").agg(count(lit(1)).as("rt"))
        val ct = d.groupBy("source").agg(count(lit(1)).as("ct"))
        val n = d.agg(count(lit(1)).as("n"))
        val e = (col("rt") * col("ct")).cast("double") / col("n")
        obs.join(broadcast(rt), Seq("lang")).join(broadcast(ct), Seq("source"))
          .crossJoin(broadcast(n))
          .select(col("lang"), col("source"), col("o"),
            round(e, 6).as("expected"),
            round((col("o") - e) * (col("o") - e) / e, 6).as("contrib"))
          .orderBy("lang", "source")
      },
      Some("""WITH obs AS (
             |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
             |  FROM documents GROUP BY lang, source
             |), rt AS (
             |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS rt
             |  FROM documents GROUP BY lang
             |), ct AS (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS ct
             |  FROM documents GROUP BY source
             |), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
             |SELECT lang, source, o,
             |  ROUND(CAST(rt * ct AS DOUBLE) / n, 6) AS expected,
             |  ROUND((o - CAST(rt * ct AS DOUBLE) / n)
             |      * (o - CAST(rt * ct AS DOUBLE) / n)
             |      / (CAST(rt * ct AS DOUBLE) / n), 6) AS contrib
             |FROM obs JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN n
             |ORDER BY lang, source""".stripMargin)),

    // ---- exact distinct customers per nation via the dense-bitmap
    // ---- aggregate: the bounded-domain partner of the HLL state (q24)
    // ---- — each task folds its partition into a 4 KiB bitmap before
    // ---- the exchange, merge is word-OR, the count is exact. At 100
    // ---- TB this is COUNT(DISTINCT surrogate_key) without the
    // ---- two-level distinct shuffle: O(domain/8) bytes per task
    // ---- crosses the wire regardless of row count ------------------
    Q("q145_bitmap_distinct",
      (s, dir) => {
        val o = t(s, dir, "orders").select("o_custkey")
        val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
        // bitmap domain sized from the actual key space (1-row metadata
        // agg), not a literal: a hardcoded 2^15 broke the first sf>0.1
        // sweep. The bitmap contract is |domain|/8 bytes per group —
        // right for a dense surrogate-key domain; an unbounded/sparse
        // domain belongs in HLL (q70) instead.
        val maxKey = c.agg(max(col("c_custkey"))).head().getLong(0) + 1L
        o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .groupBy("c_nationkey")
          .agg(Bitmap.distinctCount(col("o_custkey"), maxKey.toInt)
              .as("active_customers"),
            count(lit(1)).as("orders"))
          .orderBy("c_nationkey")
      },
      Some("""SELECT c_nationkey,
             |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS active_customers,
             |  CAST(COUNT(*) AS BIGINT) AS orders
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_nationkey
             |ORDER BY c_nationkey""".stripMargin)))
}
