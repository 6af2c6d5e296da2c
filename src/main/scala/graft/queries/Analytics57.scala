package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Fifty-seventh analytics pack (round 6, session 9): embedding-
  * compression audits — the checks a pipeline runs before switching
  * its vector store to a cheaper representation. Int8 scalar
  * quantization fidelity, dimension-truncation similarity
  * preservation, Johnson-Lindenstrauss ±1 random-projection
  * distortion, sign-binarization (Hamming↔cosine agreement), and the
  * k-NN hubness audit.
  *
  * Exactness discipline: the embedding component grid from q346/q376;
  * every pairwise metric runs on the md5-chosen bounded probe set
  * (probes × probes or probes × corpus — never corpus²); projection
  * signs draw identical md5 parities in both engines; all ratio /
  * product terms are round-9 gridded before any cross-row sum. */
object Analytics57 {

  private def comps(s: SparkSession, dir: String): DataFrame =
    // NOTE r12: loadParallel was tried here and measured neutral (−1%
    // on q393) — the 64-component posexplode is too cheap to gain from
    // an extra exchange. Plain scan kept.
    t(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")))
      .toDF("vec_id", "i", "x")
      .select(col("vec_id"), col("i").cast("long").as("i"),
        col("x").cast("double").as("x"))

  /** The m md5-smallest vec_ids — the deterministic probe set. */
  private def probeIds(cp: DataFrame, m: Int): DataFrame =
    cp.select("vec_id").distinct()
      .orderBy(md5(col("vec_id").cast("string"))).limit(m)
      .select(col("vec_id").as("pid"))

  private val CompsSql =
    """comps AS MATERIALIZED (
      |  SELECT vec_id, CAST(u.i AS BIGINT) AS i, CAST(u.x AS DOUBLE) AS x
      |  FROM embeddings,
      |    LATERAL (SELECT UNNEST(embedding) AS x,
      |      generate_subscripts(embedding, 1) AS i) u
      |)""".stripMargin

  private def probeSql(m: Int): String =
    s"""probe_ids AS MATERIALIZED (
       |  SELECT vec_id AS pid FROM (
       |    SELECT DISTINCT vec_id FROM comps) z
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT $m
       |)""".stripMargin

  /** Gridded pairwise cosine between probe pairs (pa < pb), plus the
    * dims needed by the per-query variants. Spark-side helper. */
  private def probePairs(cp: DataFrame, probes: DataFrame): DataFrame = {
    val pc = cp.join(broadcast(probes), col("vec_id") === col("pid"))
      .select(col("pid"), col("i"), col("x"))
    pc.as("a").join(pc.as("b"),
      col("a.i") === col("b.i") && col("a.pid") < col("b.pid"))
      .select(col("a.pid").as("pa"), col("b.pid").as("pb"),
        col("a.i").as("i"), col("a.x").as("xa"), col("b.x").as("xb"))
  }

  val all: Seq[Q] = Seq(

    // ---- int8 scalar-quantization audit: per-vector absmax scaling
    // ---- to the [-127, 127] integer grid, then reconstruction MSE
    // ---- and self-cosine between original and dequantized vectors.
    // ---- ROUND half-away-from-zero matches in both engines. --------
    Q("q391_int8_quantization",
      (s, dir) => {
        val cp = comps(s, dir).localCheckpoint(true)
        val scales = cp.groupBy("vec_id")
          .agg(round(max(abs(col("x"))) / 127.0, 9).as("sc"))
          .where(col("sc") > 0.0)
        val dq = cp.join(broadcast(scales), Seq("vec_id"))
          .select(col("vec_id"), col("x"),
            (greatest(least(round(col("x") / col("sc")), lit(127.0)),
              lit(-127.0)) * col("sc")).as("xq"))
        val perVec = dq.groupBy("vec_id")
          .agg(sum(round((col("x") - col("xq")) * (col("x") - col("xq")),
            9).cast(DecimalType(38, 9))).cast("double").as("se"),
            sum(round(col("x") * col("xq"), 9).cast(DecimalType(38, 9)))
              .cast("double").as("dot"),
            sum(round(col("x") * col("x"), 9).cast(DecimalType(38, 9)))
              .cast("double").as("n2"),
            sum(round(col("xq") * col("xq"), 9)
              .cast(DecimalType(38, 9))).cast("double").as("nq2"))
        perVec
          .select(col("se"),
            round(col("dot") / sqrt(col("n2") * col("nq2")), 9)
              .as("cosv"))
          .agg(count(lit(1)).as("n_vecs"),
            round(sum(round(col("se") / 64.0, 9)
              .cast(DecimalType(38, 9))).cast("double")
              / count(lit(1)), 9).as("mean_mse"),
            round(sum(col("cosv").cast(DecimalType(38, 9)))
              .cast("double") / count(lit(1)), 6).as("mean_self_cos"))
          .select(col("n_vecs"), round(col("mean_mse"), 6).as("mean_mse"),
            col("mean_self_cos"))
      },
      Some(s"""WITH $CompsSql, scales AS (
             |  SELECT vec_id, ROUND(MAX(ABS(x)) / 127.0, 9) AS sc
             |  FROM comps GROUP BY 1
             |  HAVING ROUND(MAX(ABS(x)) / 127.0, 9) > 0.0
             |), dq AS (
             |  SELECT c.vec_id, c.x,
             |    GREATEST(LEAST(ROUND(c.x / s.sc), 127.0), -127.0) * s.sc
             |      AS xq
             |  FROM comps c JOIN scales s ON c.vec_id = s.vec_id
             |), per_vec AS (
             |  SELECT vec_id,
             |    CAST(SUM(CAST(ROUND((x - xq) * (x - xq), 9)
             |      AS DECIMAL(38, 9))) AS DOUBLE) AS se,
             |    CAST(SUM(CAST(ROUND(x * xq, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS dot,
             |    CAST(SUM(CAST(ROUND(x * x, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS n2,
             |    CAST(SUM(CAST(ROUND(xq * xq, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS nq2
             |  FROM dq GROUP BY 1
             |), agg AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
             |    ROUND(CAST(SUM(CAST(ROUND(se / 64.0, 9)
             |      AS DECIMAL(38, 9))) AS DOUBLE) / COUNT(*), 9)
             |      AS mean_mse,
             |    ROUND(CAST(SUM(CAST(ROUND(dot / sqrt(n2 * nq2), 9)
             |      AS DECIMAL(38, 9))) AS DOUBLE) / COUNT(*), 6)
             |      AS mean_self_cos
             |  FROM per_vec
             |)
             |SELECT n_vecs, ROUND(mean_mse, 6) AS mean_mse,
             |  mean_self_cos
             |FROM agg""".stripMargin)),

    // ---- dimension-truncation audit: cosine over the full 64 dims vs
    // ---- the first 16, on the 100-probe pair lattice; Pearson r and
    // ---- mean |gap| from exact gridded sums. NOTE: the "first 16
    // ---- dims" are engine-aligned (posexplode pos < 16 ⟺ 1-based
    // ---- subscript <= 16). ------------------------------------------
    Q("q392_dim_truncation",
      (s, dir) => {
        val cp = comps(s, dir).localCheckpoint(true)
        val pp = probePairs(cp, probeIds(cp, 100))
        val sims = pp.groupBy("pa", "pb")
          .agg(
            sum(round(col("xa") * col("xb"), 9)
              .cast(DecimalType(38, 9))).cast("double").as("dot"),
            sum(round(col("xa") * col("xa"), 9)
              .cast(DecimalType(38, 9))).cast("double").as("na2"),
            sum(round(col("xb") * col("xb"), 9)
              .cast(DecimalType(38, 9))).cast("double").as("nb2"),
            sum(when(col("i") < 16L, round(col("xa") * col("xb"), 9)
              .cast(DecimalType(38, 9))).otherwise(lit(0.0)
              .cast(DecimalType(38, 9)))).cast("double").as("dott"),
            sum(when(col("i") < 16L, round(col("xa") * col("xa"), 9)
              .cast(DecimalType(38, 9))).otherwise(lit(0.0)
              .cast(DecimalType(38, 9)))).cast("double").as("nat2"),
            sum(when(col("i") < 16L, round(col("xb") * col("xb"), 9)
              .cast(DecimalType(38, 9))).otherwise(lit(0.0)
              .cast(DecimalType(38, 9)))).cast("double").as("nbt2"))
          .select(
            round(col("dot") / sqrt(col("na2") * col("nb2")), 9)
              .as("u"),
            round(col("dott") / sqrt(col("nat2") * col("nbt2")), 9)
              .as("v"))
        sims
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("u").cast(DecimalType(38, 9))).cast("double")
              .as("su"),
            sum(col("v").cast(DecimalType(38, 9))).cast("double")
              .as("sv"),
            sum(round(col("u") * col("v"), 9).cast(DecimalType(38, 9)))
              .cast("double").as("suv"),
            sum(round(col("u") * col("u"), 9).cast(DecimalType(38, 9)))
              .cast("double").as("su2"),
            sum(round(col("v") * col("v"), 9).cast(DecimalType(38, 9)))
              .cast("double").as("sv2"),
            sum(round(abs(col("u") - col("v")), 9)
              .cast(DecimalType(38, 9))).cast("double").as("sgap"))
          .select(col("n_pairs"),
            round((col("n_pairs") * col("suv") - col("su") * col("sv"))
              / sqrt((col("n_pairs") * col("su2") - col("su") * col("su"))
                * (col("n_pairs") * col("sv2")
                  - col("sv") * col("sv"))), 6).as("pearson_r"),
            round(col("sgap") / col("n_pairs"), 6).as("mean_abs_gap"))
      },
      Some(s"""WITH $CompsSql, ${probeSql(100)}, pc AS MATERIALIZED (
             |  SELECT p.pid, c.i, c.x
             |  FROM comps c JOIN probe_ids p ON c.vec_id = p.pid
             |), sims AS (
             |  SELECT a.pid AS pa, b.pid AS pb,
             |    ROUND(CAST(SUM(CAST(ROUND(a.x * b.x, 9)
             |        AS DECIMAL(38, 9))) AS DOUBLE)
             |      / sqrt(CAST(SUM(CAST(ROUND(a.x * a.x, 9)
             |          AS DECIMAL(38, 9))) AS DOUBLE)
             |        * CAST(SUM(CAST(ROUND(b.x * b.x, 9)
             |          AS DECIMAL(38, 9))) AS DOUBLE)), 9) AS u,
             |    ROUND(CAST(SUM(CASE WHEN a.i <= 16
             |        THEN CAST(ROUND(a.x * b.x, 9) AS DECIMAL(38, 9))
             |        ELSE CAST(0.0 AS DECIMAL(38, 9)) END) AS DOUBLE)
             |      / sqrt(CAST(SUM(CASE WHEN a.i <= 16
             |          THEN CAST(ROUND(a.x * a.x, 9) AS DECIMAL(38, 9))
             |          ELSE CAST(0.0 AS DECIMAL(38, 9)) END) AS DOUBLE)
             |        * CAST(SUM(CASE WHEN a.i <= 16
             |          THEN CAST(ROUND(b.x * b.x, 9) AS DECIMAL(38, 9))
             |          ELSE CAST(0.0 AS DECIMAL(38, 9)) END)
             |          AS DOUBLE)), 9) AS v
             |  FROM pc a JOIN pc b ON a.i = b.i AND a.pid < b.pid
             |  GROUP BY 1, 2
             |), agg AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             |    CAST(SUM(CAST(u AS DECIMAL(38, 9))) AS DOUBLE) AS su,
             |    CAST(SUM(CAST(v AS DECIMAL(38, 9))) AS DOUBLE) AS sv,
             |    CAST(SUM(CAST(ROUND(u * v, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS suv,
             |    CAST(SUM(CAST(ROUND(u * u, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS su2,
             |    CAST(SUM(CAST(ROUND(v * v, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS sv2,
             |    CAST(SUM(CAST(ROUND(ABS(u - v), 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS sgap
             |  FROM sims
             |)
             |SELECT n_pairs,
             |  ROUND((n_pairs * suv - su * sv)
             |    / sqrt((n_pairs * su2 - su * su)
             |      * (n_pairs * sv2 - sv * sv)), 6) AS pearson_r,
             |  ROUND(sgap / n_pairs, 6) AS mean_abs_gap
             |FROM agg""".stripMargin)),

    // ---- Johnson-Lindenstrauss ±1 projection (64 → 16, entries
    // ---- s_ij = 1 − 2·(md5(i:j) mod 2), scaled by 1/√16): squared-
    // ---- distance distortion ratio on the probe pairs — mean/min/max
    // ---- of the gridded ratio. The hash uses the 1-based dim index
    // ---- in both engines. ------------------------------------------
    Q("q393_jl_projection",
      (s, dir) => {
        val cp = comps(s, dir).localCheckpoint(true)
        val probes = probeIds(cp, 100)
        val pc = cp.join(broadcast(probes), col("vec_id") === col("pid"))
          .select(col("pid"), col("i"), col("x"))
        val signs = cp.select(col("i")).distinct()
          .crossJoin(s.range(1, 17).select(col("id").as("j")))
          .select(col("i"), col("j"),
            (lit(1L) - lit(2L)
              * (conv(substring(md5(concat((col("i") + 1L)
                .cast("string"), lit(":"), col("j").cast("string"))),
                1, 6), 16, 10).cast("long") % 2L)).as("sg"))
        val proj = pc.join(broadcast(signs), Seq("i"))
          .groupBy("pid", "j")
          .agg((sum(round(col("x") * col("sg"), 9)
            .cast(DecimalType(38, 9))).cast("double") / 4.0).as("p"))
        val dproj = proj.as("a").join(proj.as("b"),
          col("a.j") === col("b.j") && col("a.pid") < col("b.pid"))
          .groupBy(col("a.pid").as("pa"), col("b.pid").as("pb"))
          .agg(sum(round((col("a.p") - col("b.p"))
            * (col("a.p") - col("b.p")), 9).cast(DecimalType(38, 9)))
            .cast("double").as("pd2"))
        val dorig = pc.as("a").join(pc.as("b"),
          col("a.i") === col("b.i") && col("a.pid") < col("b.pid"))
          .groupBy(col("a.pid").as("pa"), col("b.pid").as("pb"))
          .agg(sum(round((col("a.x") - col("b.x"))
            * (col("a.x") - col("b.x")), 9).cast(DecimalType(38, 9)))
            .cast("double").as("d2"))
        dproj.join(dorig, Seq("pa", "pb"))
          .where(col("d2") > 0.0)
          .select(round(col("pd2") / col("d2"), 9).as("ratio"))
          .agg(count(lit(1)).as("n_pairs"),
            round(sum(col("ratio").cast(DecimalType(38, 9)))
              .cast("double") / count(lit(1)), 6).as("mean_ratio"),
            round(min(col("ratio")), 6).as("min_ratio"),
            round(max(col("ratio")), 6).as("max_ratio"))
      },
      Some(s"""WITH $CompsSql, ${probeSql(100)}, pc AS MATERIALIZED (
             |  SELECT p.pid, c.i, c.x
             |  FROM comps c JOIN probe_ids p ON c.vec_id = p.pid
             |), signs AS MATERIALIZED (
             |  SELECT d.i, j.j,
             |    1 - 2 * (('0x' || substr(md5(CAST(d.i AS VARCHAR) || ':'
             |      || CAST(j.j AS VARCHAR)), 1, 6))::BIGINT % 2) AS sg
             |  FROM (SELECT DISTINCT i FROM comps) d
             |  CROSS JOIN (SELECT CAST(range AS BIGINT) AS j
             |              FROM range(1, 17)) j
             |), proj AS MATERIALIZED (
             |  SELECT pc.pid, s.j,
             |    CAST(SUM(CAST(ROUND(pc.x * s.sg, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) / 4.0 AS p
             |  FROM pc JOIN signs s ON pc.i = s.i
             |  GROUP BY 1, 2
             |), dproj AS (
             |  SELECT a.pid AS pa, b.pid AS pb,
             |    CAST(SUM(CAST(ROUND((a.p - b.p) * (a.p - b.p), 9)
             |      AS DECIMAL(38, 9))) AS DOUBLE) AS pd2
             |  FROM proj a JOIN proj b ON a.j = b.j AND a.pid < b.pid
             |  GROUP BY 1, 2
             |), dorig AS (
             |  SELECT a.pid AS pa, b.pid AS pb,
             |    CAST(SUM(CAST(ROUND((a.x - b.x) * (a.x - b.x), 9)
             |      AS DECIMAL(38, 9))) AS DOUBLE) AS d2
             |  FROM pc a JOIN pc b ON a.i = b.i AND a.pid < b.pid
             |  GROUP BY 1, 2
             |), ratios AS (
             |  SELECT ROUND(pd2 / d2, 9) AS ratio
             |  FROM dproj JOIN dorig USING (pa, pb)
             |  WHERE d2 > 0.0
             |)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             |  ROUND(CAST(SUM(CAST(ratio AS DECIMAL(38, 9))) AS DOUBLE)
             |    / COUNT(*), 6) AS mean_ratio,
             |  ROUND(MIN(ratio), 6) AS min_ratio,
             |  ROUND(MAX(ratio), 6) AS max_ratio
             |FROM ratios""".stripMargin)),

    // ---- sign binarization: 64-bit sign sketch vs true cosine on the
    // ---- probe pairs — Pearson between the Hamming fraction and
    // ---- (1−cos)/2 plus their means (no transcendental calls, so
    // ---- both engines agree bit-for-bit). ---------------------------
    Q("q394_sign_binarization",
      (s, dir) => {
        val cp = comps(s, dir).localCheckpoint(true)
        val pp = probePairs(cp, probeIds(cp, 100))
        val pairstats = pp.groupBy("pa", "pb")
          .agg(
            sum(when(col("xa") * col("xb") < 0.0, 1L).otherwise(0L))
              .as("ham"),
            sum(round(col("xa") * col("xb"), 9)
              .cast(DecimalType(38, 9))).cast("double").as("dot"),
            sum(round(col("xa") * col("xa"), 9)
              .cast(DecimalType(38, 9))).cast("double").as("na2"),
            sum(round(col("xb") * col("xb"), 9)
              .cast(DecimalType(38, 9))).cast("double").as("nb2"))
          .select(
            round(col("ham").cast("double") / 64.0, 9).as("u"),
            round((lit(1.0) - round(col("dot")
              / sqrt(col("na2") * col("nb2")), 9)) / 2.0, 9).as("v"))
        pairstats
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("u").cast(DecimalType(38, 9))).cast("double")
              .as("su"),
            sum(col("v").cast(DecimalType(38, 9))).cast("double")
              .as("sv"),
            sum(round(col("u") * col("v"), 9).cast(DecimalType(38, 9)))
              .cast("double").as("suv"),
            sum(round(col("u") * col("u"), 9).cast(DecimalType(38, 9)))
              .cast("double").as("su2"),
            sum(round(col("v") * col("v"), 9).cast(DecimalType(38, 9)))
              .cast("double").as("sv2"))
          .select(col("n_pairs"),
            round(col("su") / col("n_pairs"), 6).as("mean_hamming"),
            round(col("sv") / col("n_pairs"), 6).as("mean_dissim"),
            round((col("n_pairs") * col("suv") - col("su") * col("sv"))
              / sqrt((col("n_pairs") * col("su2") - col("su") * col("su"))
                * (col("n_pairs") * col("sv2")
                  - col("sv") * col("sv"))), 6).as("pearson_r"))
      },
      Some(s"""WITH $CompsSql, ${probeSql(100)}, pc AS MATERIALIZED (
             |  SELECT p.pid, c.i, c.x
             |  FROM comps c JOIN probe_ids p ON c.vec_id = p.pid
             |), pairstats AS (
             |  SELECT
             |    ROUND(CAST(SUM(CASE WHEN a.x * b.x < 0.0 THEN 1 ELSE 0
             |      END) AS DOUBLE) / 64.0, 9) AS u,
             |    ROUND((1.0 - ROUND(CAST(SUM(CAST(ROUND(a.x * b.x, 9)
             |        AS DECIMAL(38, 9))) AS DOUBLE)
             |      / sqrt(CAST(SUM(CAST(ROUND(a.x * a.x, 9)
             |          AS DECIMAL(38, 9))) AS DOUBLE)
             |        * CAST(SUM(CAST(ROUND(b.x * b.x, 9)
             |          AS DECIMAL(38, 9))) AS DOUBLE)), 9)) / 2.0, 9)
             |      AS v
             |  FROM pc a JOIN pc b ON a.i = b.i AND a.pid < b.pid
             |  GROUP BY a.pid, b.pid
             |), agg AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             |    CAST(SUM(CAST(u AS DECIMAL(38, 9))) AS DOUBLE) AS su,
             |    CAST(SUM(CAST(v AS DECIMAL(38, 9))) AS DOUBLE) AS sv,
             |    CAST(SUM(CAST(ROUND(u * v, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS suv,
             |    CAST(SUM(CAST(ROUND(u * u, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS su2,
             |    CAST(SUM(CAST(ROUND(v * v, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS sv2
             |  FROM pairstats
             |)
             |SELECT n_pairs,
             |  ROUND(su / n_pairs, 6) AS mean_hamming,
             |  ROUND(sv / n_pairs, 6) AS mean_dissim,
             |  ROUND((n_pairs * suv - su * sv)
             |    / sqrt((n_pairs * su2 - su * su)
             |      * (n_pairs * sv2 - sv * sv)), 6) AS pearson_r
             |FROM agg""".stripMargin)),

    // ---- k-NN hubness audit: each of 200 probes votes for its 5
    // ---- nearest corpus vectors by gridded cosine (ties broken by
    // ---- vec_id); the in-degree distribution over the whole corpus
    // ---- (zeros included) is summarized by its exact-moment skewness
    // ---- and the hub maximum — the probe×corpus scan is bounded. ---
    Q("q395_knn_hubness",
      (s, dir) => {
        val cp = comps(s, dir).localCheckpoint(true)
        val probes = probeIds(cp, 200)
        val pc = cp.join(broadcast(probes), col("vec_id") === col("pid"))
          .select(col("pid"), col("i"), col("x").as("px"))
        val cos = pc.join(cp.select(col("vec_id").as("cv"), col("i"),
          col("x")), Seq("i"))
          .where(col("cv") =!= col("pid"))
          .groupBy("pid", "cv")
          .agg(
            sum(round(col("px") * col("x"), 9)
              .cast(DecimalType(38, 9))).cast("double").as("dot"),
            sum(round(col("px") * col("px"), 9)
              .cast(DecimalType(38, 9))).cast("double").as("np2"),
            sum(round(col("x") * col("x"), 9)
              .cast(DecimalType(38, 9))).cast("double").as("nc2"))
          .select(col("pid"), col("cv"),
            round(col("dot") / sqrt(col("np2") * col("nc2")), 9)
              .as("cos"))
        val top5 = cos
          .withColumn("rn", row_number().over(Window.partitionBy("pid")
            .orderBy(col("cos").desc, col("cv"))))
          .where(col("rn") <= 5)
        val indeg = cp.select("vec_id").distinct()
          .join(top5.groupBy("cv").agg(count(lit(1)).as("d")),
            col("vec_id") === col("cv"), "left")
          .select(coalesce(col("d"), lit(0L)).as("d"))
        indeg
          .agg(count(lit(1)).as("n_vecs"), sum(col("d")).as("s1"),
            sum(col("d") * col("d")).as("s2"),
            sum(col("d") * col("d") * col("d")).as("s3"),
            max(col("d")).as("max_indegree"),
            sum(when(col("d") === 0L, 1L).otherwise(0L)).as("n_zero"))
          .select(col("n_vecs"), col("max_indegree"), col("n_zero"),
            round((col("s3").cast("double") / col("n_vecs")
              - lit(3.0) * (col("s1").cast("double") / col("n_vecs"))
                * (col("s2").cast("double") / col("n_vecs"))
              + lit(2.0) * pow(col("s1").cast("double") / col("n_vecs"),
                3))
              / pow(col("s2").cast("double") / col("n_vecs")
                - (col("s1").cast("double") / col("n_vecs"))
                  * (col("s1").cast("double") / col("n_vecs")), 1.5), 6)
              .as("indegree_skewness"))
      },
      Some(s"""WITH $CompsSql, ${probeSql(200)}, pc AS MATERIALIZED (
             |  SELECT p.pid, c.i, c.x AS px
             |  FROM comps c JOIN probe_ids p ON c.vec_id = p.pid
             |), cos AS MATERIALIZED (
             |  SELECT pc.pid, o.cv,
             |    ROUND(CAST(SUM(CAST(ROUND(pc.px * o.x, 9)
             |        AS DECIMAL(38, 9))) AS DOUBLE)
             |      / sqrt(CAST(SUM(CAST(ROUND(pc.px * pc.px, 9)
             |          AS DECIMAL(38, 9))) AS DOUBLE)
             |        * CAST(SUM(CAST(ROUND(o.x * o.x, 9)
             |          AS DECIMAL(38, 9))) AS DOUBLE)), 9) AS cos
             |  FROM pc JOIN (SELECT vec_id AS cv, i, x FROM comps) o
             |    ON pc.i = o.i
             |  WHERE o.cv <> pc.pid
             |  GROUP BY 1, 2
             |), top5 AS (
             |  SELECT cv FROM (
             |    SELECT cv, ROW_NUMBER() OVER (PARTITION BY pid
             |      ORDER BY cos DESC, cv) AS rn
             |    FROM cos) z
             |  WHERE rn <= 5
             |), indeg AS (
             |  SELECT COALESCE(d.d, 0) AS d
             |  FROM (SELECT DISTINCT vec_id FROM comps) v
             |  LEFT JOIN (SELECT cv, CAST(COUNT(*) AS BIGINT) AS d
             |             FROM top5 GROUP BY 1) d
             |    ON v.vec_id = d.cv
             |), agg AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
             |    CAST(SUM(d) AS BIGINT) AS s1,
             |    CAST(SUM(d * d) AS BIGINT) AS s2,
             |    CAST(SUM(d * d * d) AS BIGINT) AS s3,
             |    CAST(MAX(d) AS BIGINT) AS max_indegree,
             |    CAST(SUM(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_zero
             |  FROM indeg
             |)
             |SELECT n_vecs, max_indegree, n_zero,
             |  ROUND((CAST(s3 AS DOUBLE) / n_vecs
             |    - 3.0 * (CAST(s1 AS DOUBLE) / n_vecs)
             |      * (CAST(s2 AS DOUBLE) / n_vecs)
             |    + 2.0 * pow(CAST(s1 AS DOUBLE) / n_vecs, 3))
             |    / pow(CAST(s2 AS DOUBLE) / n_vecs
             |      - (CAST(s1 AS DOUBLE) / n_vecs)
             |        * (CAST(s1 AS DOUBLE) / n_vecs), 1.5), 6)
             |    AS indegree_skewness
             |FROM agg""".stripMargin)),
  )
}
