package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Eleventh analytics pack (round 6, session 5): quantile
  * normalization, parallel LTTB-style downsampling, bitemporal SCD2
  * as-of, percent-of-parent rollup, and a data-quality expectation
  * card. Engine-portability discipline as before. */
object Analytics11 {

  /** q162 downsample bucket count. */
  private val LttbBuckets = 60

  val all: Seq[Q] = Seq(

    // ---- quantile normalization (batch-effect correction): map each
    // ---- doc's in-lang percent-rank onto the GLOBAL distribution via
    // ---- interpolated order statistics — the cross-group calibration
    // ---- step before comparing quality scores across languages.
    // ---- Ranks are integer; the only doubles are the identical
    // ---- interpolation chain in both engines. Scale path: the global
    // ---- order-stat table compresses to a quantile grid (q23 style)
    // ---- broadcast back; the per-lang rank window shards by lang ----
    Q("q161_quantile_norm",
      (s, dir) => {
        import graft.operators.Ranks
        val d = t(s, dir, "documents")
        // per-lang rank + lang census in ONE distributed prefix-sum
        // (lang is a ~10-value key: a lang-partitioned window would
        // sort each language's whole doc set in a single task), and the
        // global order via distributed rank — no single-task sorts
        val ranked = Ranks.withPrefixSum(
            d.select(col("doc_id"), col("lang"), col("n_chars")),
            Seq(col("lang")), Seq(col("n_chars"), col("doc_id")),
            lit(1L), "rk", "nl")
          .where(col("nl") > 1)
        val gbase = d.select(col("n_chars").as("gv"), col("doc_id"))
        val ngDf = gbase.agg(count(lit(1)).as("ng"))
        val glob = Ranks.withGlobalRank(gbase, Seq(col("gv"), col("doc_id")), "grk")
          .select(col("grk"), col("gv"))
        val idx = (col("rk") - 1).cast("double") /
          (col("nl") - 1).cast("double") * (col("ng") - 1).cast("double")
        val lo = floor(idx).cast("long")
        ranked.crossJoin(broadcast(ngDf))
          .withColumn("lo", lo)
          .withColumn("frac", idx - lo.cast("double"))
          .join(glob.select((col("grk") - 1).as("lo"), col("gv").as("vlo")),
            Seq("lo"))
          .join(glob.select((col("grk") - 2).as("lo"), col("gv").as("vhi")),
            Seq("lo"), "left")
          .select(col("doc_id"), col("lang"),
            round(col("vlo") + col("frac") *
              (coalesce(col("vhi"), col("vlo")) - col("vlo")), 4).as("qnorm"))
          .orderBy("doc_id")
      },
      Some("""WITH ranked AS (
             |  SELECT doc_id, lang, n_chars,
             |    ROW_NUMBER() OVER (PARTITION BY lang
             |      ORDER BY n_chars, doc_id) AS rk,
             |    COUNT(*) OVER (PARTITION BY lang) AS nl
             |  FROM documents
             |  QUALIFY nl > 1
             |), gord AS (
             |  SELECT n_chars AS gv,
             |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS grk,
             |    COUNT(*) OVER () AS ng
             |  FROM documents
             |), base AS (
             |  SELECT doc_id, lang,
             |    CAST(rk - 1 AS DOUBLE) / CAST(nl - 1 AS DOUBLE)
             |      * CAST((SELECT MAX(ng) FROM gord) - 1 AS DOUBLE) AS idx
             |  FROM ranked
             |), pos AS (
             |  SELECT doc_id, lang, CAST(FLOOR(idx) AS BIGINT) AS lo,
             |    idx - CAST(FLOOR(idx) AS BIGINT) AS frac
             |  FROM base
             |)
             |SELECT p.doc_id, p.lang,
             |  ROUND(glo.gv + p.frac * (COALESCE(ghi.gv, glo.gv) - glo.gv), 4)
             |    AS qnorm
             |FROM pos p
             |JOIN gord glo ON glo.grk - 1 = p.lo
             |LEFT JOIN gord ghi ON ghi.grk - 2 = p.lo
             |ORDER BY p.doc_id""".stripMargin)),

    // ---- LTTB-style downsampling (parallel largest-triangle variant):
    // ---- bucket the daily series, anchor each bucket's pick by the
    // ---- NEIGHBOR BUCKET AVERAGES (not the sequentially-picked point,
    // ---- which is what makes it embarrassingly parallel — the
    // ---- distributed form of Steinarsson 2013), keep the max-area
    // ---- point per bucket. First/last buckets keep their endpoint ---
    Q("q162_lttb_downsample",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(sum(col("o_totalprice").cast(DecimalType(12, 2)))
            .cast("double").as("rev"))
          .select(datediff(col("day"), lit("1995-01-01").cast("date"))
            .cast("double").as("x"), col("rev").as("y"),
            date_format(col("day"), "yyyy-MM-dd").as("day"))
          .withColumn("rn", row_number().over(Window.orderBy("x")))
          .withColumn("nd", count(lit(1)).over(
            Window.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
          .withColumn("bucket",
            least(floor((col("rn") - 1) * LttbBuckets / col("nd")),
              lit((LttbBuckets - 1).toLong)))
        val avgs = daily.groupBy("bucket").agg(
          (sum(round(col("x"), 4).cast(DecimalType(28, 4))).cast("double") /
            count(lit(1)).cast("double")).as("ax"),
          (sum(round(col("y"), 4).cast(DecimalType(28, 4))).cast("double") /
            count(lit(1)).cast("double")).as("ay"))
        val withN = daily
          .join(broadcast(avgs.select((col("bucket") + 1).as("bucket"),
            col("ax").as("px"), col("ay").as("py"))), Seq("bucket"), "left")
          .join(broadcast(avgs.select((col("bucket") - 1).as("bucket"),
            col("ax").as("nx"), col("ay").as("ny"))), Seq("bucket"), "left")
        val area = abs(
          (col("px") - col("nx")) * (col("y") - col("py")) -
          (col("px") - col("x")) * (col("ny") - col("py")))
        val picked = withN
          .withColumn("area",
            when(col("px").isNull || col("nx").isNull, lit(null)).otherwise(area))
          .withColumn("pick", row_number().over(
            Window.partitionBy("bucket")
              .orderBy(desc_nulls_last("area"), asc("rn"))))
        // endpoint rule: bucket 0 keeps the FIRST point, last bucket the
        // LAST point, interior buckets the max-area point
        picked
          .withColumn("keep",
            when(col("bucket") === 0, col("rn") === 1)
              .when(col("bucket") === LttbBuckets - 1, col("rn") === col("nd"))
              .otherwise(col("pick") === 1))
          .where(col("keep"))
          .select(col("bucket").cast("int").as("bucket"), col("day"),
            round(col("y"), 2).as("rev"))
          .orderBy("bucket")
      },
      Some(s"""WITH daily AS (
             |  SELECT CAST(o_orderdate AS DATE) AS day,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS rev
             |  FROM orders GROUP BY 1
             |), seq AS (
             |  SELECT CAST(day - DATE '1995-01-01' AS DOUBLE) AS x, rev AS y,
             |    strftime(day, '%Y-%m-%d') AS day,
             |    ROW_NUMBER() OVER (ORDER BY day) AS rn,
             |    COUNT(*) OVER () AS nd
             |  FROM daily
             |), bucketed AS (
             |  SELECT *, LEAST(FLOOR((rn - 1) * $LttbBuckets / nd),
             |    ${LttbBuckets - 1}) AS bucket
             |  FROM seq
             |), avgs AS (
             |  SELECT bucket,
             |    CAST(SUM(CAST(ROUND(x, 4) AS DECIMAL(28,4))) AS DOUBLE)
             |      / CAST(COUNT(*) AS DOUBLE) AS ax,
             |    CAST(SUM(CAST(ROUND(y, 4) AS DECIMAL(28,4))) AS DOUBLE)
             |      / CAST(COUNT(*) AS DOUBLE) AS ay
             |  FROM bucketed GROUP BY bucket
             |), withn AS (
             |  SELECT b.*, p.ax AS px, p.ay AS py, n.ax AS nx, n.ay AS ny
             |  FROM bucketed b
             |  LEFT JOIN avgs p ON p.bucket = b.bucket - 1
             |  LEFT JOIN avgs n ON n.bucket = b.bucket + 1
             |), scored AS (
             |  SELECT *,
             |    CASE WHEN px IS NULL OR nx IS NULL THEN NULL
             |      ELSE ABS((px - nx) * (y - py) - (px - x) * (ny - py))
             |    END AS area,
             |    ROW_NUMBER() OVER (PARTITION BY bucket
             |      ORDER BY CASE WHEN px IS NULL OR nx IS NULL THEN NULL
             |        ELSE ABS((px - nx) * (y - py) - (px - x) * (ny - py)) END
             |        DESC NULLS LAST, rn) AS pick
             |  FROM withn
             |)
             |SELECT CAST(bucket AS INT) AS bucket, day, ROUND(y, 2) AS rev
             |FROM scored
             |WHERE CASE WHEN bucket = 0 THEN rn = 1
             |  WHEN bucket = ${LttbBuckets - 1} THEN rn = nd
             |  ELSE pick = 1 END
             |ORDER BY bucket""".stripMargin)),

    // ---- bitemporal SCD2 as-of: transaction-time filter FIRST (drop
    // ---- events not yet known at T), THEN derive validity intervals,
    // ---- THEN the valid-time point lookup — so a delete recorded
    // ---- after T correctly does not close its interval. The change
    // ---- stream is synthesized arithmetically from orders (the q106
    // ---- pattern), so the oracle replays it exactly ------------------
    Q("q163_bitemporal_asof",
      (s, dir) => {
        val base = t(s, dir, "orders").select(
          col("o_orderkey").as("id"), col("o_orderstatus").as("status"),
          (lit(1700000000000L) + col("o_orderkey") * 10).as("t0"))
        val changes = base
          .select(col("id"), col("status"), col("t0").as("ts"),
            lit("c").as("op"))
          .unionByName(base.where(col("id") % 3 === 0)
            .select(col("id"), lit("U").as("status"),
              (col("t0") + 5).as("ts"), lit("u").as("op")))
          .unionByName(base.where(col("id") % 7 === 0)
            .select(col("id"), lit(null).cast("string").as("status"),
              (col("t0") + 9).as("ts"), lit("d").as("op")))
        // known-at-T slice: T_k = t0 + 7 (sees the update, not the delete)
        val knownAtT = changes.join(broadcast(base.select(col("id"), col("t0"))
            .groupBy("id").agg(max("t0").as("t0"))), Seq("id"))
          .where(col("ts") <= col("t0") + 7)
        val hist = graft.operators.Versioned
          .scd2History(knownAtT, Seq("id"), Seq("ts"), "op")
        // valid-time lookup V_k = t0 + 6
        hist.where(col("valid_from") <= col("t0") + 6 &&
            (col("valid_to").isNull || col("valid_to") > col("t0") + 6))
          .select(col("id"), col("status"), col("valid_from"),
            col("is_current"))
          .orderBy("id")
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey AS id, o_orderstatus AS status,
             |    1700000000000 + o_orderkey * 10 AS t0
             |  FROM orders
             |)
             |SELECT id,
             |  CASE WHEN id % 3 = 0 THEN 'U' ELSE status END AS status,
             |  CASE WHEN id % 3 = 0 THEN t0 + 5 ELSE t0 END AS valid_from,
             |  TRUE AS is_current
             |FROM base
             |ORDER BY id""".stripMargin)),

    // ---- percent-of-parent rollup (share of nation within region,
    // ---- region within grand total): three aggregation grains meet on
    // ---- broadcast joins; every share divides two decimal-exact sums -
    Q("q164_percent_of_parent",
      (s, dir) => {
        val rev = t(s, dir, "orders")
          .join(t(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, dir, "region")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("r_name"), col("n_name"),
            col("o_totalprice").cast(DecimalType(12, 2)).as("p"))
        val byNation = rev.groupBy("r_name", "n_name")
          .agg(sum(col("p")).as("rev"))
        val byRegion = byNation.groupBy("r_name")
          .agg(sum(col("rev")).cast(DecimalType(28, 2)).as("rrev"))
        val total = byRegion.agg(
          sum(col("rrev")).cast(DecimalType(32, 2)).as("trev"))
        byNation.join(broadcast(byRegion), Seq("r_name"))
          .crossJoin(broadcast(total))
          .select(col("r_name"), col("n_name"),
            col("rev").cast("double").as("rev"),
            round(col("rev").cast("double") / col("rrev").cast("double"), 6)
              .as("pct_of_region"),
            round(col("rrev").cast("double") / col("trev").cast("double"), 6)
              .as("region_pct_of_total"))
          .orderBy("r_name", "n_name")
      },
      Some("""WITH rev AS (
             |  SELECT r_name, n_name, CAST(o_totalprice AS DECIMAL(12,2)) AS p
             |  FROM orders
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey
             |  JOIN region ON n_regionkey = r_regionkey
             |), by_nation AS (
             |  SELECT r_name, n_name, SUM(p) AS rev FROM rev GROUP BY 1, 2
             |), by_region AS (
             |  SELECT r_name, CAST(SUM(rev) AS DECIMAL(28,2)) AS rrev
             |  FROM by_nation GROUP BY 1
             |), total AS (
             |  SELECT CAST(SUM(rrev) AS DECIMAL(32,2)) AS trev FROM by_region
             |)
             |SELECT r_name, n_name, CAST(rev AS DOUBLE) AS rev,
             |  ROUND(CAST(rev AS DOUBLE) / CAST(rrev AS DOUBLE), 6)
             |    AS pct_of_region,
             |  ROUND(CAST(rrev AS DOUBLE) / CAST(trev AS DOUBLE), 6)
             |    AS region_pct_of_total
             |FROM by_nation
             |JOIN by_region USING (r_name)
             |CROSS JOIN total
             |ORDER BY r_name, n_name""".stripMargin)),

    // ---- data-quality expectation card (Great-Expectations-shaped
    // ---- post-ingest gate): the five scalar rules ride ONE aggregate
    // ---- over one scan (stacked to rows after), plus one anti-join
    // ---- for referential integrity; observed values integral, pass
    // ---- flags derived — the q113 profile's opinionated partner -----
    Q("q165_dq_expectations",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val scalarRules = o.agg(
            count(lit(1)).as("row_count_min_1000"),
            sum(when(col("o_custkey").isNull, 1L).otherwise(0L))
              .as("custkey_no_nulls"),
            sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L))
              .as("totalprice_positive"),
            sum(when(!col("o_orderstatus").isin("F", "O", "P"), 1L)
              .otherwise(0L)).as("status_domain"),
            sum(when(col("o_orderdate") < lit("1990-01-01") ||
              col("o_orderdate") >= lit("2006-01-01"), 1L).otherwise(0L))
              .as("orderdate_in_range"))
          .selectExpr("""stack(5,
            'row_count_min_1000', row_count_min_1000,
            'custkey_no_nulls', custkey_no_nulls,
            'totalprice_positive', totalprice_positive,
            'status_domain', status_domain,
            'orderdate_in_range', orderdate_in_range) AS (rule, observed)""")
        val orphans = o.join(t(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("observed"))
          .select(lit("custkey_fk_integrity").as("rule"), col("observed"))
        scalarRules.unionByName(orphans)
          .select(col("rule"), col("observed"),
            when(col("rule") === "row_count_min_1000", col("observed") >= 1000)
              .otherwise(col("observed") === 0).cast("int").as("pass"))
          .orderBy("rule")
      },
      Some("""SELECT 'row_count_min_1000' AS rule,
             |  CAST(COUNT(*) AS BIGINT) AS observed,
             |  CAST(COUNT(*) >= 1000 AS INT) AS pass FROM orders
             |UNION ALL
             |SELECT 'custkey_no_nulls',
             |  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0 AS INT)
             |FROM orders
             |UNION ALL
             |SELECT 'totalprice_positive',
             |  CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT),
             |  CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) = 0 AS INT)
             |FROM orders
             |UNION ALL
             |SELECT 'custkey_fk_integrity',
             |  CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) = 0 AS INT)
             |FROM orders ANTI JOIN customer ON o_custkey = c_custkey
             |UNION ALL
             |SELECT 'status_domain',
             |  CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1
             |    ELSE 0 END) AS BIGINT),
             |  CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1
             |    ELSE 0 END) = 0 AS INT)
             |FROM orders
             |UNION ALL
             |SELECT 'orderdate_in_range',
             |  CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
             |    OR o_orderdate >= TIMESTAMP '2006-01-01' THEN 1 ELSE 0 END)
             |    AS BIGINT),
             |  CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
             |    OR o_orderdate >= TIMESTAMP '2006-01-01' THEN 1 ELSE 0 END) = 0
             |    AS INT)
             |FROM orders
             |ORDER BY rule""".stripMargin)))
}
