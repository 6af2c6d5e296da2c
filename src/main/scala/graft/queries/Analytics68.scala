package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Sixty-eighth analytics pack (round 6, session 9): co-purchase
  * graph structure — the rich-club coefficient over degree
  * thresholds, the edge-support (co-occurrence weight) distribution,
  * Adamic-Adar link scores through the bipartite order-part
  * incidence, the preferential-attachment audit (early degree vs
  * later growth), and the exact-bucket degree histogram with
  * isolated-part coverage.
  *
  * Exactness discipline: all degrees/edges are exact integer counts
  * (edges from the distinct order-part incidence, q119's shape);
  * Adamic-Adar weights ride the round-9 1/ln grid; degree buckets
  * use exact integer range CASEs, never floating log2. */
object Analytics68 {

  /** Distinct undirected co-purchase edges (pa < pb).
    *
    * r12: this is the SAME relation as [[Analytics4.triEdgesCached]]
    * (items self-join, p1 < p2, distinct) — reuse the warm-landed
    * artifact instead of re-running the ~1.2M-edge self-join + distinct
    * on every rep of all five pack queries (guide §2.4: two operations
    * keyed the same way share one materialization). */
  private def edges(s: SparkSession, dir: String): DataFrame =
    Analytics4.triEdgesCached(s, dir)
      .select(col("p1").as("pa"), col("p2").as("pb"))

  private val EdgesSql =
    """oi AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |  FROM lineitem
      |), edges AS MATERIALIZED (
      |  SELECT DISTINCT a.pk AS pa, b.pk AS pb
      |  FROM oi a JOIN oi b ON a.ok = b.ok AND a.pk < b.pk
      |)""".stripMargin

  private val DegSql =
    """deg AS MATERIALIZED (
      |  SELECT pk, CAST(COUNT(*) AS BIGINT) AS d FROM (
      |    SELECT pa AS pk FROM edges
      |    UNION ALL SELECT pb FROM edges) z
      |  GROUP BY 1
      |)""".stripMargin

  private def degrees(e: DataFrame): DataFrame =
    e.select(col("pa").as("pk"))
      .unionByName(e.select(col("pb").as("pk")))
      .groupBy("pk").agg(count(lit(1)).as("d"))

  val all: Seq[Q] = Seq(

    // ---- rich-club coefficient at degree thresholds k ∈ {2,4,8,16}:
    // ---- φ(k) = 2·E_k / (N_k·(N_k−1)) over the subgraph of nodes
    // ---- with degree > k. ------------------------------------------
    Q("q446_rich_club",
      (s, dir) => {
        // edges() is the warm-landed cached artifact now — checkpointing
        // it again would copy 1.2M rows once per rep for nothing
        val e = edges(s, dir)
        val d = degrees(e).localCheckpoint(true)
        val ks = s.range(1, 5)
          .select(pow(lit(2.0), col("id").cast("double")).cast("long")
            .as("k"))
        val nk = d.crossJoin(broadcast(ks))
          .where(col("d") > col("k"))
          .groupBy("k").agg(count(lit(1)).as("n_nodes"))
        val ek = e
          .join(d.select(col("pk").as("pa"), col("d").as("da")),
            Seq("pa"))
          .join(d.select(col("pk").as("pb"), col("d").as("db")),
            Seq("pb"))
          .crossJoin(broadcast(ks))
          .where(col("da") > col("k") && col("db") > col("k"))
          .groupBy("k").agg(count(lit(1)).as("n_edges"))
        nk.join(ek, Seq("k"), "left")
          .select(col("k"), col("n_nodes"),
            coalesce(col("n_edges"), lit(0L)).as("n_edges"),
            round(lit(2.0) * coalesce(col("n_edges"), lit(0L))
              .cast("double")
              / (col("n_nodes").cast("double")
                * (col("n_nodes") - 1L).cast("double")), 6).as("phi"))
      },
      Some(s"""WITH $EdgesSql, $DegSql, ks AS (
             |  SELECT CAST(pow(2.0, CAST(range AS DOUBLE)) AS BIGINT)
             |    AS k
             |  FROM range(1, 5)
             |), nk AS (
             |  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_nodes
             |  FROM deg CROSS JOIN ks WHERE d > k GROUP BY 1
             |), ek AS (
             |  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_edges
             |  FROM edges
             |  JOIN deg da ON pa = da.pk
             |  JOIN deg db ON pb = db.pk
             |  CROSS JOIN ks
             |  WHERE da.d > k AND db.d > k
             |  GROUP BY 1
             |)
             |SELECT k, n_nodes, COALESCE(n_edges, 0) AS n_edges,
             |  ROUND(2.0 * CAST(COALESCE(n_edges, 0) AS DOUBLE)
             |    / (CAST(n_nodes AS DOUBLE)
             |      * CAST(n_nodes - 1 AS DOUBLE)), 6) AS phi
             |FROM nk LEFT JOIN ek USING (k)""".stripMargin)),

    // ---- edge-support distribution: how many orders back each
    // ---- co-purchase edge (support 1 = noise, higher = signal),
    // ---- histogram capped at 10+. ----------------------------------
    Q("q447_edge_support",
      (s, dir) => {
        val oi = Analytics4.orderItemsCached(s, dir)
        val support = oi.as("a").join(oi.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .groupBy(col("a.pk").as("pa"), col("b.pk").as("pb"))
          .agg(count(lit(1)).as("sup"))
        val tot = support.agg(count(lit(1)).as("ne"))
        support
          .select(least(col("sup"), lit(10L)).as("support_bucket"))
          .groupBy("support_bucket")
          .agg(count(lit(1)).as("n_edges"))
          .crossJoin(broadcast(tot))
          .select(col("support_bucket"), col("n_edges"),
            round(col("n_edges").cast("double") / col("ne").cast("double"),
              6).as("edge_share"))
      },
      Some("""WITH oi AS MATERIALIZED (
             |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             |  FROM lineitem
             |), support AS (
             |  SELECT a.pk AS pa, b.pk AS pb,
             |    CAST(COUNT(*) AS BIGINT) AS sup
             |  FROM oi a JOIN oi b ON a.ok = b.ok AND a.pk < b.pk
             |  GROUP BY 1, 2
             |), tot AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS ne FROM support
             |)
             |SELECT LEAST(sup, 10) AS support_bucket,
             |  CAST(COUNT(*) AS BIGINT) AS n_edges,
             |  ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(MAX(ne) AS DOUBLE),
             |    6) AS edge_share
             |FROM support CROSS JOIN tot
             |GROUP BY 1""".stripMargin)),

    // ---- Adamic-Adar link scores through the bipartite order-part
    // ---- incidence: AA(pa,pb) = Σ_{shared orders} 1/ln(order size),
    // ---- 1/ln terms round-9 gridded, top-10 by (score, pa, pb). ----
    Q("q448_adamic_adar",
      (s, dir) => {
        val oi = Analytics4.orderItemsCached(s, dir)
        val sized = oi
          .withColumn("osz", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("ok")))
          .where(col("osz") >= 2L)
        val aa = sized.as("a").join(sized.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("pa"), col("b.pk").as("pb"),
            round(lit(1.0) / log(col("a.osz").cast("double")), 9)
              .cast(DecimalType(38, 9)).as("w"))
          .groupBy("pa", "pb")
          .agg(round(sum(col("w")).cast("double"), 6).as("aa_score"))
        aa.orderBy(col("aa_score").desc, col("pa"), col("pb"))
          .limit(10)
      },
      Some("""WITH oi AS MATERIALIZED (
             |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             |  FROM lineitem
             |), sized AS (
             |  SELECT ok, pk,
             |    CAST(COUNT(*) OVER (PARTITION BY ok) AS BIGINT) AS osz
             |  FROM oi
             |  QUALIFY osz >= 2
             |), aa AS (
             |  SELECT a.pk AS pa, b.pk AS pb,
             |    ROUND(CAST(SUM(CAST(ROUND(1.0
             |      / ln(CAST(a.osz AS DOUBLE)), 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE), 6) AS aa_score
             |  FROM sized a JOIN sized b
             |    ON a.ok = b.ok AND a.pk < b.pk
             |  GROUP BY 1, 2
             |)
             |SELECT pa, pb, aa_score FROM aa
             |ORDER BY aa_score DESC, pa, pb LIMIT 10""".stripMargin)),

    // ---- preferential-attachment audit: degree earned in 1995-1997
    // ---- vs degree added in 1998-2001, Pearson over parts active in
    // ---- the early window (rich-get-richer check). -----------------
    Q("q449_preferential_attachment",
      (s, dir) => {
        def window(lo: Int, hi: Int): DataFrame = {
          // loadParallel: the broadcast-join probe + distinct otherwise
          // run inside the single-task row-group scan (guide §2.5)
          val oi = Tables.loadParallel(s, dir, "lineitem")
            .join(t(s, dir, "orders").select(col("o_orderkey"),
              year(col("o_orderdate")).as("yr")),
              col("l_orderkey") === col("o_orderkey"))
            .where(col("yr") >= lo && col("yr") <= hi)
            .select(col("l_orderkey").as("ok"), col("l_partkey")
              .as("pk")).distinct()
          oi.as("a").join(oi.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
            .select(col("a.pk").as("pa"), col("b.pk").as("pb"))
            .distinct()
        }
        val early = degrees(window(1995, 1997))
          .withColumnRenamed("d", "d_early")
        val late = degrees(window(1998, 2001))
          .withColumnRenamed("d", "d_late")
        val pts = early.join(late, Seq("pk"), "left")
          .select(col("d_early").as("x"),
            coalesce(col("d_late"), lit(0L)).as("y"))
        pts.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x").cast(DecimalType(38, 0)) * col("y")).as("sxy"),
          sum(col("x").cast(DecimalType(38, 0)) * col("x")).as("sxx"),
          sum(col("y").cast(DecimalType(38, 0)) * col("y")).as("syy"))
          .select(col("n").as("n_parts"),
            round((col("n").cast("double") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double"))
              / sqrt((col("n").cast("double")
                * col("sxx").cast("double")
                - col("sx").cast("double") * col("sx").cast("double"))
                * (col("n").cast("double") * col("syy").cast("double")
                  - col("sy").cast("double")
                    * col("sy").cast("double"))), 6).as("pearson_r"))
      },
      Some("""WITH oe AS MATERIALIZED (
             |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  WHERE YEAR(o_orderdate) BETWEEN 1995 AND 1997
             |), ol AS MATERIALIZED (
             |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  WHERE YEAR(o_orderdate) BETWEEN 1998 AND 2001
             |), ee AS (
             |  SELECT DISTINCT a.pk AS pa, b.pk AS pb
             |  FROM oe a JOIN oe b ON a.ok = b.ok AND a.pk < b.pk
             |), el AS (
             |  SELECT DISTINCT a.pk AS pa, b.pk AS pb
             |  FROM ol a JOIN ol b ON a.ok = b.ok AND a.pk < b.pk
             |), de AS (
             |  SELECT pk, CAST(COUNT(*) AS BIGINT) AS d FROM (
             |    SELECT pa AS pk FROM ee UNION ALL SELECT pb FROM ee) z
             |  GROUP BY 1
             |), dl AS (
             |  SELECT pk, CAST(COUNT(*) AS BIGINT) AS d FROM (
             |    SELECT pa AS pk FROM el UNION ALL SELECT pb FROM el) z
             |  GROUP BY 1
             |), pts AS (
             |  SELECT de.d AS x, COALESCE(dl.d, 0) AS y
             |  FROM de LEFT JOIN dl ON de.pk = dl.pk
             |), agg AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(x) AS BIGINT) AS sx,
             |    CAST(SUM(y) AS BIGINT) AS sy,
             |    SUM(CAST(x AS DECIMAL(38, 0)) * y) AS sxy,
             |    SUM(CAST(x AS DECIMAL(38, 0)) * x) AS sxx,
             |    SUM(CAST(y AS DECIMAL(38, 0)) * y) AS syy
             |  FROM pts
             |)
             |SELECT n AS n_parts,
             |  ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
             |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             |    AS pearson_r
             |FROM agg""".stripMargin)),

    // ---- degree histogram with exact power-of-two buckets (integer
    // ---- range CASEs — no floating log2) and isolated-part share
    // ---- against the part catalog. ---------------------------------
    Q("q450_degree_histogram",
      (s, dir) => {
        val d = degrees(edges(s, dir))
        val iso = t(s, dir, "part").select(col("p_partkey").as("pk"))
          .join(d, Seq("pk"), "left_anti")
          .agg(count(lit(1)).as("isolated"))
        val bucketed = d.select(
          when(col("d") < 2L, 0L).when(col("d") < 4L, 1L)
            .when(col("d") < 8L, 2L).when(col("d") < 16L, 3L)
            .when(col("d") < 32L, 4L).when(col("d") < 64L, 5L)
            .when(col("d") < 128L, 6L).when(col("d") < 256L, 7L)
            .when(col("d") < 512L, 8L).otherwise(9L)
            .as("log2_bucket"))
          .groupBy("log2_bucket")
          .agg(count(lit(1)).as("n_parts"))
        bucketed.crossJoin(broadcast(iso))
          .select(col("log2_bucket"), col("n_parts"), col("isolated"))
      },
      Some(s"""WITH $EdgesSql, $DegSql, iso AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS isolated
             |  FROM part WHERE p_partkey NOT IN (SELECT pk FROM deg)
             |)
             |SELECT CAST(CASE WHEN d < 2 THEN 0 WHEN d < 4 THEN 1
             |    WHEN d < 8 THEN 2 WHEN d < 16 THEN 3
             |    WHEN d < 32 THEN 4 WHEN d < 64 THEN 5
             |    WHEN d < 128 THEN 6 WHEN d < 256 THEN 7
             |    WHEN d < 512 THEN 8 ELSE 9 END AS BIGINT)
             |    AS log2_bucket,
             |  CAST(COUNT(*) AS BIGINT) AS n_parts,
             |  CAST(MAX(isolated) AS BIGINT) AS isolated
             |FROM deg CROSS JOIN iso
             |GROUP BY 1""".stripMargin)),
  )
}
