package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Fifty-fourth analytics pack (round 6, session 9): clustering-
  * quality diagnostics over the labeled embedding table — the health
  * checks an embedding-based curation pipeline runs on its cluster
  * structure. Calinski-Harabasz variance ratio, simplified
  * (centroid-based) silhouette, Davies-Bouldin index, the Hopkins
  * clusterability statistic with deterministic md5 probes, and the
  * nearest-centroid confusion audit.
  *
  * Exactness discipline (q346's embedding grid): components round-6
  * gridded before any sum; centroids are round-9 doubles of exact
  * decimal sums; every squared-distance term round-9 gridded before
  * the per-vector sum, so no partial-agg order can perturb a result.
  * Distances to centroids are O(n·k·d) via the dim-join — never an
  * n² pair join (the Hopkins probe set is a fixed 50, so its probe×n
  * scan is bounded). */
object Analytics54 {

  /** (vec_id, label, dim, component) — components as doubles. */
  private def comps(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(col("embedding")))
      .toDF("vec_id", "label", "i", "x")
      .select(col("vec_id"), col("label"), col("i").cast("long").as("i"),
        col("x").cast("double").as("x"))

  /** Per-(label, dim) centroid on the round-9 grid + cluster size. */
  private def cent(cp: DataFrame): DataFrame =
    cp.groupBy("label", "i")
      .agg(round(sum(round(col("x"), 6).cast(DecimalType(38, 6)))
        .cast("double") / count(lit(1)), 9).as("c"),
        count(lit(1)).as("nl"))

  /** Exact gridded squared distance from every vector to every label
    * centroid: (vec_id, own, cl, d2). */
  private def dist2(cp: DataFrame, ct: DataFrame): DataFrame =
    cp.join(broadcast(ct.select(col("label").as("cl"), col("i"),
      col("c"))), Seq("i"))
      .groupBy(col("vec_id"), col("label").as("own"), col("cl"))
      .agg(sum(round((col("x") - col("c")) * (col("x") - col("c")), 9)
        .cast(DecimalType(38, 9))).cast("double").as("d2"))

  private val CompsSql =
    """comps AS MATERIALIZED (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label,
      |    CAST(u.i AS BIGINT) AS i, CAST(u.x AS DOUBLE) AS x
      |  FROM embeddings,
      |    LATERAL (SELECT UNNEST(embedding) AS x,
      |      generate_subscripts(embedding, 1) AS i) u
      |), cent AS MATERIALIZED (
      |  SELECT label, i,
      |    ROUND(CAST(SUM(CAST(ROUND(x, 6) AS DECIMAL(38, 6)))
      |      AS DOUBLE) / COUNT(*), 9) AS c,
      |    CAST(COUNT(*) AS BIGINT) AS nl
      |  FROM comps GROUP BY 1, 2
      |)""".stripMargin

  private val Dist2Sql =
    """d2 AS MATERIALIZED (
      |  SELECT p.vec_id, p.label AS own, c.label AS cl,
      |    CAST(SUM(CAST(ROUND((p.x - c.c) * (p.x - c.c), 9)
      |      AS DECIMAL(38, 9))) AS DOUBLE) AS d2
      |  FROM comps p JOIN cent c ON p.i = c.i
      |  GROUP BY 1, 2, 3
      |)""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- Calinski-Harabasz variance-ratio index: SSW from each
    // ---- vector's gridded squared distance to its own centroid, SSB
    // ---- from cluster-size-weighted centroid-to-global-centroid
    // ---- terms; CH = (SSB/(k−1)) / (SSW/(n−k)). ---------------------
    Q("q376_calinski_harabasz",
      (s, dir) => {
        val cp = comps(s, dir).localCheckpoint(true)
        val ct = cent(cp)
        val ssw = dist2(cp, ct)
          .where(col("own") === col("cl"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("d2"), 9).cast(DecimalType(38, 9)))
              .cast("double").as("ssw"))
        val glob = cp.groupBy("i")
          .agg(round(sum(round(col("x"), 6).cast(DecimalType(38, 6)))
            .cast("double") / count(lit(1)), 9).as("g"))
        val ssb = ct.join(broadcast(glob), Seq("i"))
          .select(col("label"), col("nl"),
            round(col("nl").cast("double") * (col("c") - col("g"))
              * (col("c") - col("g")), 9).cast(DecimalType(38, 9))
              .as("term"))
          .agg(countDistinct(col("label")).as("k"),
            sum(col("term")).cast("double").as("ssb"))
        ssw.crossJoin(broadcast(ssb))
          .select(col("n").as("n_vecs"), col("k"),
            round(col("ssb"), 6).as("ssb"),
            round(col("ssw"), 6).as("ssw"),
            round(col("ssb") * (col("n") - col("k")).cast("double")
              / (col("ssw") * (col("k") - lit(1L)).cast("double")), 6)
              .as("ch_index"))
      },
      Some(s"""WITH $CompsSql, $Dist2Sql, ssw AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(CAST(ROUND(d2, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS ssw
             |  FROM d2 WHERE own = cl
             |), gcent AS (
             |  SELECT i,
             |    ROUND(CAST(SUM(CAST(ROUND(x, 6) AS DECIMAL(38, 6)))
             |      AS DOUBLE) / COUNT(*), 9) AS g
             |  FROM comps GROUP BY 1
             |), ssb AS (
             |  SELECT CAST(COUNT(DISTINCT label) AS BIGINT) AS k,
             |    CAST(SUM(CAST(ROUND(CAST(nl AS DOUBLE) * (c - g)
             |      * (c - g), 9) AS DECIMAL(38, 9))) AS DOUBLE) AS ssb
             |  FROM cent JOIN gcent USING (i)
             |)
             |SELECT n AS n_vecs, k,
             |  ROUND(ssb, 6) AS ssb,
             |  ROUND(ssw, 6) AS ssw,
             |  ROUND(ssb * CAST(n - k AS DOUBLE)
             |    / (ssw * CAST(k - 1 AS DOUBLE)), 6) AS ch_index
             |FROM ssw CROSS JOIN ssb""".stripMargin)),

    // ---- simplified silhouette (centroid form): a = distance to the
    // ---- own centroid, b = min distance to any other centroid,
    // ---- s = (b−a)/max(a,b), averaged per cluster on the grid. ------
    Q("q377_silhouette",
      (s, dir) => {
        val cp = comps(s, dir).localCheckpoint(true)
        val d = dist2(cp, cent(cp))
          .select(col("vec_id"), col("own"), col("cl"),
            round(sqrt(col("d2")), 9).as("d"))
        val ab = d.groupBy("vec_id", "own")
          .agg(sum(when(col("own") === col("cl"), col("d"))
            .otherwise(0.0)).as("a"),
            min(when(col("own") =!= col("cl"), col("d"))).as("b"))
        ab.select(col("own"),
          round((col("b") - col("a")) / greatest(col("a"), col("b")), 9)
            .cast(DecimalType(38, 9)).as("sil"))
          .groupBy(col("own").as("label"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("sil")).cast("double") / count(lit(1)), 6)
              .as("mean_silhouette"))
      },
      Some(s"""WITH $CompsSql, $Dist2Sql, d AS (
             |  SELECT vec_id, own, cl, ROUND(sqrt(d2), 9) AS d FROM d2
             |), ab AS (
             |  SELECT vec_id, own,
             |    SUM(CASE WHEN own = cl THEN d ELSE 0 END) AS a,
             |    MIN(CASE WHEN own <> cl THEN d END) AS b
             |  FROM d GROUP BY 1, 2
             |)
             |SELECT own AS label, CAST(COUNT(*) AS BIGINT) AS n,
             |  ROUND(CAST(SUM(CAST(ROUND((b - a) / GREATEST(a, b), 9)
             |    AS DECIMAL(38, 9))) AS DOUBLE) / COUNT(*), 6)
             |    AS mean_silhouette
             |FROM ab GROUP BY 1""".stripMargin)),

    // ---- Davies-Bouldin index: per-cluster scatter = gridded mean
    // ---- distance to the own centroid, centroid separations on the
    // ---- k×k lattice, DB = mean over clusters of the worst
    // ---- (S_k + S_l) / M_kl ratio. ---------------------------------
    Q("q378_davies_bouldin",
      (s, dir) => {
        val cp = comps(s, dir).localCheckpoint(true)
        val ct = cent(cp).localCheckpoint(true)
        val scat = dist2(cp, ct)
          .where(col("own") === col("cl"))
          .groupBy(col("own").as("label"))
          .agg(round(sum(round(sqrt(col("d2")), 9)
            .cast(DecimalType(38, 9))).cast("double")
            / count(lit(1)), 9).as("sk"))
        val sep = ct.select(col("label").as("ka"), col("i"),
          col("c").as("ca"))
          .join(ct.select(col("label").as("kb"), col("i"),
            col("c").as("cb")), Seq("i"))
          .where(col("ka") =!= col("kb"))
          .groupBy("ka", "kb")
          .agg(round(sqrt(sum(round((col("ca") - col("cb"))
            * (col("ca") - col("cb")), 9).cast(DecimalType(38, 9)))
            .cast("double")), 9).as("m"))
        val r = sep
          .join(broadcast(scat.withColumnRenamed("label", "ka")
            .withColumnRenamed("sk", "sa")), Seq("ka"))
          .join(broadcast(scat.withColumnRenamed("label", "kb")
            .withColumnRenamed("sk", "sb")), Seq("kb"))
          .select(col("ka"),
            round((col("sa") + col("sb")) / col("m"), 9).as("r"))
          .groupBy("ka").agg(max(col("r")).as("rmax"))
        r.agg(count(lit(1)).as("k"),
          round(sum(col("rmax").cast(DecimalType(38, 9)))
            .cast("double") / count(lit(1)), 6).as("db_index"))
      },
      Some(s"""WITH $CompsSql, $Dist2Sql, scat AS (
             |  SELECT own AS label,
             |    ROUND(CAST(SUM(CAST(ROUND(sqrt(d2), 9)
             |      AS DECIMAL(38, 9))) AS DOUBLE) / COUNT(*), 9) AS sk
             |  FROM d2 WHERE own = cl GROUP BY 1
             |), sep AS (
             |  SELECT a.label AS ka, b.label AS kb,
             |    ROUND(sqrt(CAST(SUM(CAST(ROUND((a.c - b.c) * (a.c - b.c),
             |      9) AS DECIMAL(38, 9))) AS DOUBLE)), 9) AS m
             |  FROM cent a JOIN cent b ON a.i = b.i AND a.label <> b.label
             |  GROUP BY 1, 2
             |), r AS (
             |  SELECT ka, MAX(ROUND((sa.sk + sb.sk) / m, 9)) AS rmax
             |  FROM sep
             |    JOIN scat sa ON sep.ka = sa.label
             |    JOIN scat sb ON sep.kb = sb.label
             |  GROUP BY 1
             |)
             |SELECT CAST(COUNT(*) AS BIGINT) AS k,
             |  ROUND(CAST(SUM(CAST(rmax AS DECIMAL(38, 9))) AS DOUBLE)
             |    / COUNT(*), 6) AS db_index
             |FROM r""".stripMargin)),

    // ---- Hopkins clusterability: 50 real probes (smallest md5 of
    // ---- vec_id) vs 50 deterministic md5-uniform synthetic probes in
    // ---- the per-dim bounding box; H = ΣW/(ΣU+ΣW) where U/W are
    // ---- nearest-neighbor distances (probe scan is 50×n — bounded,
    // ---- never n²). The hash string uses the 1-based dim index so
    // ---- both engines draw identical uniforms. ---------------------
    Q("q379_hopkins",
      (s, dir) => {
        val cp = comps(s, dir).localCheckpoint(true)
        val probeIds = cp.select("vec_id").distinct()
          .orderBy(md5(col("vec_id").cast("string"))).limit(50)
          .select(col("vec_id").as("pid"))
        val rp = cp.join(broadcast(probeIds),
          col("vec_id") === col("pid"))
          .select(col("pid"), col("i"), col("x").as("px"))
        val u = rp
          .join(cp.select(col("vec_id").as("ov"), col("i"), col("x")),
            Seq("i"))
          .where(col("ov") =!= col("pid"))
          .groupBy("pid", "ov")
          .agg(sum(round((col("px") - col("x")) * (col("px") - col("x")),
            9).cast(DecimalType(38, 9))).cast("double").as("d2"))
          .groupBy("pid").agg(min(round(sqrt(col("d2")), 9)).as("u"))
          .agg(count(lit(1)).as("m"),
            sum(col("u").cast(DecimalType(38, 9))).cast("double")
              .as("su"))
        val bounds = cp.groupBy("i")
          .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
        val up = s.range(1, 51).select(col("id").as("j"))
          .crossJoin(broadcast(bounds))
          .select(col("j"), col("i"),
            round(col("lo") + (col("hi") - col("lo"))
              * (conv(substring(md5(concat(lit("h:"),
                col("j").cast("string"), lit(":"),
                (col("i") + 1L).cast("string"))), 1, 6), 16, 10)
                .cast("double") / 16777216.0), 9).as("px"))
        val w = up.join(cp.select(col("vec_id"), col("i"), col("x")),
          Seq("i"))
          .groupBy("j", "vec_id")
          .agg(sum(round((col("px") - col("x")) * (col("px") - col("x")),
            9).cast(DecimalType(38, 9))).cast("double").as("d2"))
          .groupBy("j").agg(min(round(sqrt(col("d2")), 9)).as("w"))
          .agg(sum(col("w").cast(DecimalType(38, 9))).cast("double")
            .as("sw"))
        u.crossJoin(broadcast(w))
          .select(col("m").as("m_probes"),
            round(col("su"), 6).as("sum_u"),
            round(col("sw"), 6).as("sum_w"),
            round(col("sw") / (col("su") + col("sw")), 6).as("hopkins"))
      },
      Some(s"""WITH $CompsSql, probe_ids AS (
             |  SELECT vec_id AS pid FROM (
             |    SELECT DISTINCT vec_id FROM comps) z
             |  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 50
             |), rp AS (
             |  SELECT p.pid, c.i, c.x AS px
             |  FROM comps c JOIN probe_ids p ON c.vec_id = p.pid
             |), u1 AS (
             |  SELECT rp.pid, o.ov,
             |    CAST(SUM(CAST(ROUND((rp.px - o.x) * (rp.px - o.x), 9)
             |      AS DECIMAL(38, 9))) AS DOUBLE) AS d2
             |  FROM rp JOIN (SELECT vec_id AS ov, i, x FROM comps) o
             |    ON rp.i = o.i
             |  WHERE o.ov <> rp.pid
             |  GROUP BY 1, 2
             |), u AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS m,
             |    CAST(SUM(CAST(mu AS DECIMAL(38, 9))) AS DOUBLE) AS su
             |  FROM (SELECT pid, MIN(ROUND(sqrt(d2), 9)) AS mu
             |        FROM u1 GROUP BY 1) z
             |), bounds AS (
             |  SELECT i, MIN(x) AS lo, MAX(x) AS hi FROM comps GROUP BY 1
             |), up AS (
             |  SELECT j, i,
             |    ROUND(lo + (hi - lo) * (('0x' || substr(md5('h:'
             |      || CAST(j AS VARCHAR) || ':' || CAST(i AS VARCHAR)),
             |      1, 6))::BIGINT / 16777216.0), 9) AS px
             |  FROM (SELECT CAST(range AS BIGINT) AS j
             |        FROM range(1, 51)) r
             |  CROSS JOIN bounds
             |), w1 AS (
             |  SELECT up.j, c.vec_id,
             |    CAST(SUM(CAST(ROUND((up.px - c.x) * (up.px - c.x), 9)
             |      AS DECIMAL(38, 9))) AS DOUBLE) AS d2
             |  FROM up JOIN comps c ON up.i = c.i
             |  GROUP BY 1, 2
             |), w AS (
             |  SELECT CAST(SUM(CAST(mw AS DECIMAL(38, 9))) AS DOUBLE)
             |    AS sw
             |  FROM (SELECT j, MIN(ROUND(sqrt(d2), 9)) AS mw
             |        FROM w1 GROUP BY 1) z
             |)
             |SELECT m AS m_probes, ROUND(su, 6) AS sum_u,
             |  ROUND(sw, 6) AS sum_w,
             |  ROUND(sw / (su + sw), 6) AS hopkins
             |FROM u CROSS JOIN w""".stripMargin)),

    // ---- nearest-centroid confusion audit: assign every vector to
    // ---- its closest label centroid (ties broken by label id) and
    // ---- report per-label recall — how recoverable the labels are
    // ---- from geometry alone. --------------------------------------
    Q("q380_nearest_centroid",
      (s, dir) => {
        val cp = comps(s, dir).localCheckpoint(true)
        val d = dist2(cp, cent(cp))
        // lexicographic min over (d2, cl) = nearest centroid with ties
        // broken by label id — a partial-aggregable min, no window sort
        val assign = d
          .groupBy("vec_id", "own")
          .agg(min(struct(col("d2"), col("cl"))).as("m"))
          .select(col("own"), col("m.cl").as("cl"))
        assign.groupBy(col("own").as("label"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("own") === col("cl"), 1L).otherwise(0L))
              .as("correct"))
          .select(col("label"), col("n"), col("correct"),
            round(col("correct").cast("double") / col("n").cast("double"),
              6).as("recall"))
      },
      Some(s"""WITH $CompsSql, $Dist2Sql, assign AS (
             |  SELECT vec_id, own, cl FROM (
             |    SELECT vec_id, own, cl,
             |      ROW_NUMBER() OVER (PARTITION BY vec_id
             |        ORDER BY d2, cl) AS rn
             |    FROM d2) z
             |  WHERE rn = 1
             |)
             |SELECT own AS label, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CASE WHEN own = cl THEN 1 ELSE 0 END) AS BIGINT)
             |    AS correct,
             |  ROUND(CAST(SUM(CASE WHEN own = cl THEN 1 ELSE 0 END)
             |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS recall
             |FROM assign GROUP BY 1""".stripMargin)),
  )
}
