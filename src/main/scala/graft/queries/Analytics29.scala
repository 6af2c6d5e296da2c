package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{TopKAgg, VectorFunctions => VF}
import graft.sources.Tables

/** Twenty-ninth analytics pack (round 6, session 8): contrastive
  * hard-negative mining, greedy k-center coreset selection, bounded-
  * contribution (DP-style clipped) aggregation, Mann-Kendall trend
  * test with Sen's slope, a Simpson's-paradox audit, and a table-
  * freshness DQ card.
  *
  * Exactness discipline unchanged: every ranking/assignment decision
  * is made on the `round(cos, 6)` grid with an id tie-break; money
  * stays decimal; test statistics stay BIGINT to the final division.
  */
object Analytics29 {

  /** Greedy k-center steps (bounded driver loop, q121 MMR pattern). */
  private val KCenterSteps = 6

  /** Embedding-id slice the k-center query runs on — bounds the
    * oracle's pairwise CTE at |slice|². */
  private val KCenterSlice = 400L

  /** Per-user contribution cap for q251 (the DP-style sensitivity
    * bound: no single user moves the aggregate by more than this). */
  private val ClipCap = "250.00"

  /** q250 oracle: the greedy maximin unroll as chained MATERIALIZED
    * CTEs (NEXT.md's inlining trap: the step CTEs are referenced 2-3×
    * each, so every one is MATERIALIZED or DuckDB re-evaluates the
    * chain combinatorially). */
  private def kcenterSql: String = {
    val steps = (2 to KCenterSteps).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT $k AS step, ia AS id, MIN(dist) AS maximin
         |  FROM d
         |  WHERE ib IN (SELECT id FROM s${k - 1})
         |    AND ia NOT IN (SELECT id FROM s${k - 1})
         |  GROUP BY ia
         |  ORDER BY MIN(dist) DESC, ia LIMIT 1),
         |s$k AS MATERIALIZED (
         |  SELECT id FROM s${k - 1} UNION ALL SELECT id FROM p$k)""".stripMargin
    }.mkString(",\n")
    val unionAll = (1 to KCenterSteps).map(k => s"SELECT * FROM p$k")
      .mkString(" UNION ALL ")
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
       |  FROM embeddings WHERE vec_id < $KCenterSlice),
       |d AS MATERIALIZED (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib,
       |    ROUND(1 - list_cosine_similarity(a.v, b.v), 6) AS dist
       |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
       |p1 AS MATERIALIZED (
       |  SELECT 1 AS step, MIN(vec_id) AS id, CAST(NULL AS DOUBLE) AS maximin
       |  FROM e),
       |s1 AS MATERIALIZED (SELECT id FROM p1),
       |$steps
       |SELECT p.step, p.id AS vec_id, e.label, p.maximin
       |FROM ($unionAll) p JOIN e ON e.vec_id = p.id
       |ORDER BY p.step""".stripMargin
  }

  val all: Seq[Q] = Seq(

    // ---- contrastive hard-negative mining: for every embedding, the
    // ---- most-similar vector with a DIFFERENT label — the pair a
    // ---- contrastive trainer most needs to separate. Same bounded
    // ---- brute-force + TopKByScore heap as q40/q218 (broadcast query
    // ---- side, partial agg collapses each task to 1 candidate per
    // ---- query before the exchange; the LSH-banded variant is the
    // ---- unbounded scale path, as documented at q42). ----------------
    Q("q249_hard_negatives",
      (s, dir) => {
        val emb = Tables.loadParallel(s, dir, "embeddings")
          .filter(col("vec_id") < 1000)
        val q = broadcast(emb.select(col("vec_id").as("query_id"),
          col("label").as("q_label"), col("embedding").as("q_vec")))
        val c = emb.select(col("vec_id").as("neighbor_id"),
          col("label").as("c_label"), col("embedding").as("c_vec"))
        val top1 = c.join(q, col("c_label") =!= col("q_label"))
          .select(col("query_id"), col("neighbor_id"),
            VF.cosine(col("q_vec"), col("c_vec")).as("cosine"))
          .groupBy("query_id")
          .agg(TopKAgg.topKBy(col("cosine"), col("neighbor_id"), 1).as("topk"))
          .select(col("query_id"), explode(col("topk")).as("nb"))
          .select(col("query_id"), col("nb.id").as("hard_neg_id"),
            round(col("nb.score"), 6).as("cosine"))
        top1
          .join(broadcast(emb.select(col("vec_id").as("query_id"),
            col("label"))), Seq("query_id"))
          .join(broadcast(emb.select(col("vec_id").as("hard_neg_id"),
            col("label").as("neg_label"))), Seq("hard_neg_id"))
          .select(col("query_id"), col("label"), col("hard_neg_id"),
            col("neg_label"), col("cosine"))
          .orderBy("query_id")
      },
      Some("""WITH e AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
             |  FROM embeddings WHERE vec_id < 1000
             |)
             |SELECT query_id, label, hard_neg_id, neg_label, cosine
             |FROM (
             |  SELECT q.vec_id AS query_id, q.label AS label,
             |    c.vec_id AS hard_neg_id, c.label AS neg_label,
             |    ROUND(list_cosine_similarity(q.v, c.v), 6) AS cosine,
             |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
             |      ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id)
             |      AS rn
             |  FROM e q JOIN e c ON q.label <> c.label
             |) WHERE rn = 1
             |ORDER BY query_id""".stripMargin)),

    // ---- greedy k-center coreset (Gonzalez 1985 2-approximation):
    // ---- pick the seed, then 5× the point FARTHEST from the picked
    // ---- set — the diversity-maximizing data-selection step of
    // ---- coreset-based training. Bounded driver loop (q121 pattern):
    // ---- each round scores candidates against ≤6 broadcast picks, so
    // ---- the per-round cost is one narrow corpus pass, never O(n²).
    // ---- All decisions on the round(1−cos, 6) grid + id tie-break. --
    Q("q250_kcenter_coreset",
      (s, dir) => {
        import s.implicits._
        // checkpoint the pool once: every greedy step re-scans it (the
        // repartition + filter would otherwise re-run per step)
        val emb = Tables.loadParallel(s, dir, "embeddings")
          .filter(col("vec_id") < KCenterSlice)
          .select(col("vec_id"), col("embedding"), col("label"))
          .localCheckpoint(true)
        val seed = emb.agg(min(col("vec_id"))).collect()(0).getLong(0)
        var picked = Vector[(Int, Long, Option[Double])]((1, seed, None))
        for (step <- 2 to KCenterSteps) {
          val ids = picked.map(_._2)
          val pvecs = broadcast(emb.filter(col("vec_id").isin(ids: _*))
            .select(col("vec_id").as("pid"), col("embedding").as("p_vec")))
          val next = emb.filter(!col("vec_id").isin(ids: _*))
            .crossJoin(pvecs)
            .select(col("vec_id"),
              round(lit(1.0) - VF.cosine(col("embedding"), col("p_vec")), 6)
                .as("dist"))
            .groupBy("vec_id").agg(min(col("dist")).as("maximin"))
            .orderBy(col("maximin").desc, col("vec_id").asc)
            .limit(1).collect()
          picked :+= ((step, next(0).getLong(0), Some(next(0).getDouble(1))))
        }
        picked.toDF("step", "vec_id", "maximin")
          .join(broadcast(emb.select(col("vec_id"), col("label"))),
            Seq("vec_id"))
          .select(col("step"), col("vec_id"), col("label"), col("maximin"))
          .orderBy("step")
      },
      Some(kcenterSql)),

    // ---- bounded-contribution aggregation (the DP prerequisite:
    // ---- user-level sensitivity capping, Wilson et al. 2020): each
    // ---- user's per-type purchase total is clipped at the cap before
    // ---- the cross-user sum, so no single user moves the aggregate by
    // ---- more than ClipCap. Two exact decimal reduces — the noise
    // ---- addition itself is deliberately out of scope (requires true
    // ---- randomness); the clipping is the distributed-systems part. --
    Q("q251_clipped_contribution",
      (s, dir) => {
        val cap = lit(new java.math.BigDecimal(ClipCap))
          .cast(DecimalType(12, 2))
        t(s, dir, "events")
          .groupBy(col("event_type"), col("user_id"))
          .agg(sum(dec(col("value"))).as("tot"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_users"),
            // narrow to DECIMAL(18,2) before the double cast: DuckDB's
            // HUGEINT-decimal → DOUBLE path rounds differently than its
            // int64 path (and than BigDecimal.doubleValue)
            sum(least(col("tot"), cap)).cast(DecimalType(18, 2))
              .cast("double").as("clipped_sum"),
            sum(when(col("tot") > cap, 1L).otherwise(0L)).as("n_clipped"))
          .select(col("event_type"), col("n_users"), col("clipped_sum"),
            col("n_clipped"),
            round(col("clipped_sum") / col("n_users"), 6).as("clipped_mean"))
          .orderBy("event_type")
      },
      Some(s"""WITH u AS (
             |  SELECT event_type, user_id,
             |    SUM(CAST(value AS DECIMAL(12,2))) AS tot
             |  FROM events GROUP BY 1, 2
             |)
             |SELECT event_type,
             |  CAST(COUNT(*) AS BIGINT) AS n_users,
             |  CAST(CAST(SUM(LEAST(tot, CAST($ClipCap AS DECIMAL(12,2))))
             |    AS DECIMAL(18,2)) AS DOUBLE) AS clipped_sum,
             |  CAST(SUM(CASE WHEN tot > CAST($ClipCap AS DECIMAL(12,2))
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
             |  ROUND(CAST(CAST(SUM(LEAST(tot, CAST($ClipCap AS DECIMAL(12,2))))
             |    AS DECIMAL(18,2)) AS DOUBLE) / COUNT(*), 6) AS clipped_mean
             |FROM u GROUP BY 1
             |ORDER BY event_type""".stripMargin)),

    // ---- Mann-Kendall monotonic-trend test + Sen's slope per order
    // ---- status over the shared monthly-revenue series: S and the
    // ---- tie-corrected variance numerator stay BIGINT (var_s18 =
    // ---- 18·Var[S], exact); Sen's slope is the explicit two-middle
    // ---- median of the 1e-9-gridded pairwise slopes (q193 Theil-Sen
    // ---- discipline). Pairs are bounded: months², never data². ------
    Q("q252_mann_kendall",
      (s, dir) => {
        val m = monthlyRevenue(t(s, dir, "orders"), byStatus = true)
          .select(col("status"),
            (year(col("mon")) * 12 + month(col("mon"))).cast("long").as("mi"),
            col("rev"))
        val a = m.select(col("status"), col("mi").as("i"), col("rev").as("ri"))
        val b = m.select(col("status").as("status_b"), col("mi").as("j"),
          col("rev").as("rj"))
        val pairs = a.join(b,
            col("status") === col("status_b") && col("i") < col("j"))
          .select(col("status"),
            when(col("rj") > col("ri"), 1L)
              .when(col("rj") < col("ri"), -1L).otherwise(0L).as("sgn"),
            round((col("rj") - col("ri")).cast("double") /
              (col("j") - col("i")).cast("double"), 9).as("slope"))
        val sstat = pairs.groupBy("status")
          .agg(sum(col("sgn")).as("s_stat"))
        val nm = m.groupBy("status").agg(count(lit(1)).as("n_months"))
        val ties = m.groupBy("status", "rev").agg(count(lit(1)).as("tcnt"))
          .groupBy("status")
          .agg(coalesce(sum(col("tcnt") * (col("tcnt") - 1L) *
            (lit(2L) * col("tcnt") + 5L)), lit(0L)).as("tie18"))
        val ranked = pairs
          .withColumn("rn",
            row_number().over(Window.partitionBy("status").orderBy("slope")))
          .withColumn("np", count(lit(1)).over(Window.partitionBy("status")))
        val sen = ranked
          .where(col("rn") === floor((col("np") + 1L) / lit(2.0)) ||
            col("rn") === floor((col("np") + 2L) / lit(2.0)))
          .groupBy("status").agg(round(avg(col("slope")), 6).as("sen_slope"))
        nm.join(sstat, Seq("status")).join(ties, Seq("status"))
          .join(sen, Seq("status"))
          .select(col("status"), col("n_months"), col("s_stat"),
            (col("n_months") * (col("n_months") - 1L) *
              (lit(2L) * col("n_months") + 5L) - col("tie18")).as("var_s18"),
            col("sen_slope"))
          .orderBy("status")
      },
      Some("""WITH rev AS (
             |  SELECT o_orderstatus AS status,
             |    CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
             |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
             |  FROM orders GROUP BY 1, 2
             |), m AS (
             |  SELECT status,
             |    CAST(year(mon) * 12 + month(mon) AS BIGINT) AS mi, rev
             |  FROM rev
             |), pairs AS (
             |  SELECT a.status,
             |    CASE WHEN b.rev > a.rev THEN 1
             |         WHEN b.rev < a.rev THEN -1 ELSE 0 END AS sgn,
             |    ROUND(CAST(b.rev - a.rev AS DOUBLE)
             |      / CAST(b.mi - a.mi AS DOUBLE), 9) AS slope
             |  FROM m a JOIN m b ON a.status = b.status AND a.mi < b.mi
             |), sstat AS (
             |  SELECT status, CAST(SUM(sgn) AS BIGINT) AS s_stat
             |  FROM pairs GROUP BY 1
             |), nm AS (
             |  SELECT status, CAST(COUNT(*) AS BIGINT) AS n_months
             |  FROM m GROUP BY 1
             |), ties AS (
             |  SELECT status,
             |    CAST(COALESCE(SUM(tcnt*(tcnt-1)*(2*tcnt+5)), 0) AS BIGINT)
             |      AS tie18
             |  FROM (SELECT status, rev, COUNT(*) AS tcnt FROM m GROUP BY 1, 2)
             |  GROUP BY 1
             |), ranked AS (
             |  SELECT status, slope,
             |    ROW_NUMBER() OVER (PARTITION BY status ORDER BY slope) AS rn,
             |    COUNT(*) OVER (PARTITION BY status) AS np
             |  FROM pairs
             |), sen AS (
             |  SELECT status, ROUND(AVG(slope), 6) AS sen_slope
             |  FROM ranked
             |  WHERE rn = CAST(FLOOR((np + 1) / 2.0) AS BIGINT)
             |     OR rn = CAST(FLOOR((np + 2) / 2.0) AS BIGINT)
             |  GROUP BY 1
             |)
             |SELECT nm.status, nm.n_months, sstat.s_stat,
             |  CAST(nm.n_months * (nm.n_months - 1) * (2*nm.n_months + 5)
             |    - ties.tie18 AS BIGINT) AS var_s18,
             |  sen.sen_slope
             |FROM nm
             |JOIN sstat USING (status)
             |JOIN ties USING (status)
             |JOIN sen USING (status)
             |ORDER BY status""".stripMargin)),

    // ---- Simpson's-paradox audit: per-group vs pooled association
    // ---- sign between discount and quantity. Covariance numerators
    // ---- are exact BIGINT (discount in integer cents, quantity in
    // ---- integer units): cov_num = n·Σxy − Σx·Σy — a sign flip
    // ---- between any group and the pooled row is the paradox. One
    // ---- scan computes both grains (pooled = 1-row agg broadcast). --
    Q("q253_simpsons_audit",
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(
          col("l_returnflag").as("grp"),
          round(col("l_discount") * 100).cast("long").as("x"),
          round(col("l_quantity")).cast("long").as("y"))
        def covAgg(df: DataFrame, keys: Seq[String]): DataFrame = {
          val g = if (keys.isEmpty) df.groupBy() else df.groupBy(keys.head)
          g.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
              sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"))
            .withColumn("cov_num",
              col("n") * col("sxy") - col("sx") * col("sy"))
        }
        val sign = (c: org.apache.spark.sql.Column) =>
          when(c > 0L, 1).when(c < 0L, -1).otherwise(0)
        val pooled = covAgg(li, Seq.empty)
          .select(sign(col("cov_num")).as("pooled_sign"))
        covAgg(li, Seq("grp"))
          .crossJoin(broadcast(pooled))
          .select(col("grp"), col("n"), col("cov_num"),
            sign(col("cov_num")).as("group_sign"), col("pooled_sign"),
            (sign(col("cov_num")) * col("pooled_sign") === -1)
              .as("sign_flip"))
          .orderBy("grp")
      },
      Some("""WITH li AS (
             |  SELECT l_returnflag AS grp,
             |    CAST(ROUND(l_discount * 100) AS BIGINT) AS x,
             |    CAST(ROUND(l_quantity) AS BIGINT) AS y
             |  FROM lineitem
             |), g AS (
             |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(COUNT(*) AS BIGINT) * CAST(SUM(x*y) AS BIGINT)
             |      - CAST(SUM(x) AS BIGINT) * CAST(SUM(y) AS BIGINT)
             |      AS cov_num
             |  FROM li GROUP BY 1
             |), p AS (
             |  SELECT CASE WHEN CAST(COUNT(*) AS BIGINT)
             |        * CAST(SUM(x*y) AS BIGINT)
             |        - CAST(SUM(x) AS BIGINT) * CAST(SUM(y) AS BIGINT) > 0
             |      THEN 1
             |      WHEN CAST(COUNT(*) AS BIGINT) * CAST(SUM(x*y) AS BIGINT)
             |        - CAST(SUM(x) AS BIGINT) * CAST(SUM(y) AS BIGINT) < 0
             |      THEN -1 ELSE 0 END AS pooled_sign
             |  FROM li
             |)
             |SELECT g.grp, g.n, g.cov_num,
             |  CASE WHEN g.cov_num > 0 THEN 1
             |       WHEN g.cov_num < 0 THEN -1 ELSE 0 END AS group_sign,
             |  p.pooled_sign,
             |  (CASE WHEN g.cov_num > 0 THEN 1
             |        WHEN g.cov_num < 0 THEN -1 ELSE 0 END)
             |    * p.pooled_sign = -1 AS sign_flip
             |FROM g CROSS JOIN p
             |ORDER BY g.grp""".stripMargin)),

    // ---- table-freshness DQ card (the dbt-style staleness audit):
    // ---- per event type, last-seen timestamp, lag to the global
    // ---- high-water mark, trailing-7-day volume, and a freshness
    // ---- bucket — all pure integer µs arithmetic. One scan; the
    // ---- global max is a broadcast 1-row agg. ------------------------
    Q("q254_freshness_audit",
      (s, dir) => {
        val e = t(s, dir, "events")
          .select(col("event_type"), unix_micros(col("ts")).as("us"))
        val g = e.agg(max(col("us")).as("gmax"))
        val lagMin = floor((col("gmax") - col("last_us")) / lit(60000000.0))
          .cast("long")
        e.crossJoin(broadcast(g))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"), max(col("us")).as("last_us"),
            max(col("gmax")).as("gmax"),
            sum(when(col("us") > col("gmax") - 604800000000L, 1L)
              .otherwise(0L)).as("n_last_7d"))
          .select(col("event_type"), col("n_events"), col("last_us"),
            lagMin.as("lag_minutes"), col("n_last_7d"),
            when(lagMin < 60L, "fresh").when(lagMin < 1440L, "stale")
              .otherwise("dead").as("freshness"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (
             |  SELECT event_type, epoch_us(ts) AS us FROM events
             |), g AS (SELECT MAX(us) AS gmax FROM e)
             |SELECT event_type,
             |  CAST(COUNT(*) AS BIGINT) AS n_events,
             |  CAST(MAX(us) AS BIGINT) AS last_us,
             |  CAST(FLOOR((g.gmax - MAX(us)) / 60000000.0) AS BIGINT)
             |    AS lag_minutes,
             |  CAST(SUM(CASE WHEN us > g.gmax - 604800000000
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_last_7d,
             |  CASE WHEN FLOOR((g.gmax - MAX(us)) / 60000000.0) < 60
             |      THEN 'fresh'
             |    WHEN FLOOR((g.gmax - MAX(us)) / 60000000.0) < 1440
             |      THEN 'stale'
             |    ELSE 'dead' END AS freshness
             |FROM e CROSS JOIN g
             |GROUP BY event_type, g.gmax
             |ORDER BY event_type""".stripMargin))
  )
}
