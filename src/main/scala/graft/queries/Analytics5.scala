package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{GapFill, GraphRank, GroupOls, RankFusion, Skyline}
import graft.sim.{IndexCache, Similarity}
import graft.sources.Tables
import graft.text.Relevance

/** Fifth analytics pack (round 6, session 5): hybrid-retrieval rank
  * fusion, Pareto skyline, association-rule mining, bounded-depth
  * graph reachability, and per-group closed-form linear regression.
  * Every query keeps the established determinism discipline — integer
  * / decimal accumulation wherever partition order could leak into a
  * double, fixed expression trees for the final double arithmetic —
  * so each has an exact DuckDB oracle. */
object Analytics5 {

  /** q124's lexical leg: the q74 query terms, re-declared here so the
    * pack stays self-contained (same public BM25 operator). */
  private val fuseTerms = Seq("customer", "query", "window", "stream")

  /** q74-style DuckDB mirror of Relevance.bm25 over `documents`,
    * yielding bm(id, score[round 6]). Constants are pre-folded the
    * same way the Column tree folds them (k1=1.2, b=0.75). */
  private def bm25Cte: String = {
    val tfDefs = fuseTerms.zipWithIndex.map { case (term, i) =>
      s"CAST(len(list_filter(string_split(text, ' '), x -> x = '$term')) AS DOUBLE) AS tf_$i"
    }.mkString(",\n    ")
    val dfDefs = fuseTerms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_$i")
      .mkString(", ")
    val terms = fuseTerms.indices.map { i =>
      s"""(ln(CAST(1.0 AS DOUBLE) + ((n_docs - df_$i) + 0.5) / (df_$i + 0.5)) *
         |      (tf_$i * CAST(2.2 AS DOUBLE)) /
         |      (tf_$i + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / avg_dl)))""".stripMargin
    }.mkString(" +\n    ")
    s"""bmbase AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
       |    $tfDefs
       |  FROM documents
       |), bmstats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avg_dl, $dfDefs
       |  FROM bmbase
       |), bm AS (
       |  SELECT doc_id AS id, round($terms, 6) AS score
       |  FROM bmbase CROSS JOIN bmstats)""".stripMargin
  }

  val all: Seq[Q] = Seq(

    // ---- reciprocal-rank fusion (Cormack 2009): merge the BM25
    // ---- lexical ranking with the dense ANN cosine ranking by rank
    // ---- position only — the standard hybrid-search combiner. Both
    // ---- legs are bounded top-50 lists produced by distributed
    // ---- top-k; ranks come from a window over those 50 rows --------
    Q("q124_rrf_fusion",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val emb = Tables.loadParallel(s, dir, "embeddings")
        // lexical leg: BM25 over documents, rounded to the oracle
        // grain BEFORE ranking so ties resolve identically
        val bmTop = Relevance.bm25(docs, fuseTerms)
          .select(col("doc_id").as("id"), round(col("bm25"), 6).as("sc"))
          .orderBy(desc("sc"), asc("id")).limit(50)
        // dense leg: cosine against query vector 0
        val annTop = Similarity
          .bruteForceTopK(emb.filter(col("vec_id") =!= 0),
            emb.filter(col("vec_id") === 0), k = 50, excludeSelf = false)
          .select(col("neighbor_id").as("id"),
            round(col("cosine"), 6).as("sc"))
          // already ≤ k rows from the bounded-heap top-k aggregate;
          // the explicit limit is a no-op that records that bound in
          // the plan itself (the window audit's barrier)
          .orderBy(desc("sc"), asc("id")).limit(50)
        // row_number over the bounded 50-row lists (single partition
        // by construction — the lists are already top-k results)
        val w = Window.orderBy(desc("sc"), asc("id"))
        val rank = (df: DataFrame) =>
          df.select(col("id"), row_number().over(w).as("rank"))
        RankFusion.rrf(Seq(rank(bmTop), rank(annTop)), k = 60)
          .select(col("id"), round(col("rrf"), 9).as("rrf"))
          .orderBy(desc("rrf"), asc("id")).limit(15)
      },
      Some(s"""WITH $bm25Cte,
              |bmr AS (
              |  SELECT id, ROW_NUMBER() OVER (ORDER BY score DESC, id) AS rank
              |  FROM (SELECT id, score FROM bm ORDER BY score DESC, id LIMIT 50) x
              |), ann AS (
              |  SELECT c.vec_id AS id,
              |    ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS sc
              |  FROM embeddings q, embeddings c
              |  WHERE q.vec_id = 0 AND c.vec_id <> 0
              |), annr AS (
              |  SELECT id, ROW_NUMBER() OVER (ORDER BY sc DESC, id) AS rank
              |  FROM (SELECT id, sc FROM ann ORDER BY sc DESC, id LIMIT 50) y
              |)
              |SELECT COALESCE(a.id, b.id) AS id,
              |  ROUND(COALESCE(CAST(1.0 AS DOUBLE) / (60 + a.rank), 0) +
              |        COALESCE(CAST(1.0 AS DOUBLE) / (60 + b.rank), 0), 9) AS rrf
              |FROM bmr a FULL OUTER JOIN annr b ON a.id = b.id
              |ORDER BY rrf DESC, id LIMIT 15""".stripMargin)),

    // ---- 2-D Pareto skyline (Borzsonyi 2001): parts undominated on
    // ---- (minimize retail price, maximize size). Per-price MAX
    // ---- aggregation + a running max over the bounded distinct-price
    // ---- grid — never the O(n^2) dominance self-join ---------------
    Q("q125_pareto_skyline",
      (s, dir) => Skyline.pareto2d(
          t(s, dir, "part")
            .select(col("p_partkey"), col("p_retailprice"), col("p_size")),
          xCol = "p_retailprice", yCol = "p_size")
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
        .orderBy(asc("p_retailprice"), asc("p_partkey")),
      Some(Skyline.paretoSql(
        "SELECT p_partkey, p_retailprice, p_size FROM part",
        xCol = "p_retailprice", yCol = "p_size",
        selectCols = "p_partkey, p_retailprice, p_size") +
        "\nORDER BY p_retailprice, p_partkey")),

    // ---- association rules over co-purchases (Agrawal 1993):
    // ---- confidence and lift from three integer count tables —
    // ---- pair support, antecedent support, corpus size. All ratios
    // ---- are single divisions of exact int64 products, so ordering
    // ---- and output agree bit-for-bit with the oracle --------------
    Q("q126_assoc_rules",
      (s, dir) => {
        val items = Analytics4.orderItemsCached(s, dir)
        val nOrders = items.agg(
          countDistinct(col("ok")).as("n_orders"))
        val itemCnt = items.groupBy(col("pk"))
          .agg(count(lit(1)).as("cnt"))
        val pairs = items.select(col("ok"), col("pk").as("p1"))
          .join(items.select(col("ok"), col("pk").as("p2")), Seq("ok"))
          .where(col("p1") < col("p2"))
          .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("ps"))
          .where(col("ps") >= 2)
        val rules = pairs
          .select(col("p1").as("antecedent"), col("p2").as("consequent"), col("ps"))
          .unionByName(pairs
            .select(col("p2").as("antecedent"), col("p1").as("consequent"), col("ps")))
        rules
          .join(broadcast(itemCnt.select(col("pk").as("antecedent"),
            col("cnt").as("ac"))), Seq("antecedent"))
          .join(broadcast(itemCnt.select(col("pk").as("consequent"),
            col("cnt").as("cc"))), Seq("consequent"))
          .crossJoin(broadcast(nOrders))
          .select(col("antecedent"), col("consequent"),
            col("ps").as("pair_support"),
            round(col("ps").cast("double") / col("ac").cast("double"), 6)
              .as("confidence"),
            round((col("ps") * col("n_orders")).cast("double") /
              (col("ac") * col("cc")).cast("double"), 6).as("lift"))
          .orderBy(desc("lift"), asc("antecedent"), asc("consequent"))
          .limit(20)
      },
      Some("""WITH items AS (
             |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
             |), n AS (
             |  SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM items
             |), ic AS (
             |  SELECT pk, CAST(COUNT(*) AS BIGINT) AS cnt FROM items GROUP BY pk
             |), pairs AS (
             |  SELECT a.pk AS p1, b.pk AS p2, CAST(COUNT(*) AS BIGINT) AS ps
             |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
             |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
             |), rules AS (
             |  SELECT p1 AS antecedent, p2 AS consequent, ps FROM pairs
             |  UNION ALL
             |  SELECT p2, p1, ps FROM pairs
             |)
             |SELECT antecedent, consequent, ps AS pair_support,
             |  ROUND(CAST(ps AS DOUBLE) / CAST(ac.cnt AS DOUBLE), 6) AS confidence,
             |  ROUND(CAST(ps * n.n_orders AS DOUBLE) /
             |        CAST(ac.cnt * cc.cnt AS DOUBLE), 6) AS lift
             |FROM rules
             |JOIN ic ac ON rules.antecedent = ac.pk
             |JOIN ic cc ON rules.consequent = cc.pk
             |CROSS JOIN n
             |ORDER BY lift DESC, antecedent, consequent LIMIT 20""".stripMargin)),

    // ---- bounded-depth BFS reachability on the customer–supplier
    // ---- trade graph: 3-hop distinct-node reach for the 10 smallest
    // ---- customer seeds. Frontier-only Pregel expansion over the
    // ---- cached edge artifact -------------------------------------
    Q("q127_khop_reach",
      (s, dir) => {
        val (edges, _) = Analytics4.prGraphCached(s, dir)
        val seeds = edges.select(col("src"))
          .where(col("src") < 1000000L).distinct()
          .orderBy(asc("src")).limit(10)
          .select(col("src").as("seed"))
        GraphRank.kHopReach(edges, seeds, hops = 3).orderBy(asc("seed"))
      },
      Some(GraphRank.kHopSql(
        edgesCte =
          """SELECT c AS src, s AS dst FROM (
            |    SELECT DISTINCT o_custkey AS c, 1000000 + l_suppkey AS s
            |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey) eo1
            |  UNION ALL
            |  SELECT s, c FROM (
            |    SELECT DISTINCT o_custkey AS c, 1000000 + l_suppkey AS s
            |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey) eo2""".stripMargin,
        seedsCte =
          "SELECT DISTINCT src AS seed FROM edges WHERE src < 1000000 ORDER BY src LIMIT 10",
        hops = 3))),

    // ---- per-group OLS (closed form): regress extended price on
    // ---- quantity per part brand. The five sufficient statistics
    // ---- accumulate in DECIMAL (exact, order-free); slope and
    // ---- intercept are a fixed double expression tree over their
    // ---- exact values, so both engines emit identical bits ---------
    Q("q128_group_ols",
      (s, dir) => GroupOls.fit(
          t(s, dir, "lineitem")
            .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
            .join(broadcast(t(s, dir, "part")
              .select(col("p_partkey"), col("p_brand"))),
              col("l_partkey") === col("p_partkey")),
          groupCol = "p_brand", xCol = "l_quantity", yCol = "l_extendedprice")
        .withColumnRenamed("group", "brand")
        .orderBy(asc("brand")),
      Some("""WITH j AS (
             |  SELECT p_brand AS brand,
             |    CAST(l_quantity AS DECIMAL(12,2)) AS q,
             |    CAST(l_extendedprice AS DECIMAL(12,2)) AS p
             |  FROM lineitem JOIN part ON l_partkey = p_partkey
             |), g AS (
             |  SELECT brand, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(q) AS DECIMAL(14,2)) AS sxn,
             |    CAST(SUM(q) AS DECIMAL(23,2)) AS sxw,
             |    CAST(SUM(p) AS DECIMAL(23,2)) AS sy,
             |    CAST(SUM(q * p) AS DECIMAL(29,4)) AS sxy,
             |    CAST(SUM(q * q) AS DECIMAL(29,4)) AS sxx
             |  FROM j GROUP BY brand
             |)
             |SELECT brand, n,
             |  ROUND(CAST(CAST(n AS DECIMAL(8,0)) * sxy - sxn * sy AS DOUBLE) /
             |        CAST(CAST(n AS DECIMAL(8,0)) * sxx - sxn * sxw AS DOUBLE), 6) AS slope,
             |  ROUND(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) -
             |        (CAST(CAST(n AS DECIMAL(8,0)) * sxy - sxn * sy AS DOUBLE) /
             |         CAST(CAST(n AS DECIMAL(8,0)) * sxx - sxn * sxw AS DOUBLE)) *
             |        (CAST(sxw AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS intercept
             |FROM g ORDER BY brand""".stripMargin)),

    // ---- linear interpolation over a gap-filled tick grid: the
    // ---- WITH FILL ... INTERPOLATE analog. Dense axis from the span
    // ---- row, then two frame-bounded window passes over the AXIS
    // ---- (span/step rows per group), never over raw events ---------
    Q("q129_linear_interp",
      (s, dir) => {
        val filled = GapFill.fillTimeSeries(
            t(s, dir, "events"), tsCol = "ts", groupCols = Seq("event_type"),
            aggs = Map("v" -> (sum(dec("value")).cast("double") /
              count(lit(1)).cast("double"))),
            stepSec = 900L,
            fill = Map("v" -> lit(null).cast("double")))
          .withColumn("tsec", unix_timestamp(col("tick")))
        // NO round on the output: the expression tree is mirrored
        // op-for-op, so the doubles are already bit-identical, and
        // rounding is what DIVERGES here — interpolated averages can
        // land exactly on a decimal half (e.g. 8.1903125), where
        // Spark's round (shortest-string HALF_UP) and DuckDB's
        // (binary-double scaling) disagree by one ulp
        GapFill.interpolate(filled, Seq("event_type"), "tsec", "v")
          .select(col("event_type"),
            date_format(col("tick"), "yyyy-MM-dd HH:mm:ss").as("tick"),
            col("v").as("avg_value"))
          .orderBy("event_type", "tick")
      },
      Some("""WITH e AS (
             |  SELECT event_type, (epoch_us(ts) // 1000000 // 900) * 900 AS tick,
             |         CAST(value AS DECIMAL(12,2)) AS dv
             |  FROM events
             |), obs AS (
             |  SELECT event_type, tick,
             |    CAST(SUM(dv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS v
             |  FROM e GROUP BY 1, 2
             |), span AS (
             |  SELECT event_type, MIN(tick) AS lo, MAX(tick) AS hi FROM e GROUP BY 1
             |), axis AS (
             |  SELECT event_type, unnest(generate_series(lo, hi, 900)) AS tick FROM span
             |), filled AS (
             |  SELECT a.event_type, a.tick, o.v
             |  FROM axis a LEFT JOIN obs o
             |    ON a.event_type = o.event_type AND a.tick = o.tick
             |), ip AS (
             |  SELECT event_type, tick, v,
             |    last_value(CASE WHEN v IS NOT NULL THEN tick END IGNORE NULLS)
             |      OVER wp AS tp,
             |    last_value(v IGNORE NULLS) OVER wp AS vp,
             |    first_value(CASE WHEN v IS NOT NULL THEN tick END IGNORE NULLS)
             |      OVER wn AS tn,
             |    first_value(v IGNORE NULLS) OVER wn AS vn
             |  FROM filled
             |  WINDOW wp AS (PARTITION BY event_type ORDER BY tick
             |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |         wn AS (PARTITION BY event_type ORDER BY tick
             |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
             |)
             |SELECT event_type,
             |  strftime(make_timestamp(tick * 1000000), '%Y-%m-%d %H:%M:%S') AS tick,
             |  COALESCE(v, vp + (vn - vp) *
             |    (CAST(tick - tp AS DOUBLE) / CAST(tn - tp AS DOUBLE))) AS avg_value
             |FROM ip ORDER BY event_type, tick""".stripMargin)),

    // ---- positional phrase search: postings of the 3 phrase terms
    // ---- (selective filter BEFORE any join), closed with equi-joins
    // ---- on (doc, aligned position) ---------------------------------
    Q("q130_phrase_search",
      (s, dir) => Relevance.phraseSearch(t(s, dir, "documents"),
          Seq("stream", "table", "hash"))
        .orderBy(desc("occurrences"), asc("doc_id")),
      Some("""WITH sp AS (
             |  SELECT doc_id, string_split(text, ' ') AS s FROM documents
             |), occ AS (
             |  SELECT doc_id,
             |    CAST(len(list_filter(range(1, len(s) - 1),
             |      i -> s[i] = 'stream' AND s[i+1] = 'table' AND s[i+2] = 'hash'))
             |      AS BIGINT) AS occurrences
             |  FROM sp)
             |SELECT doc_id, occurrences FROM occ WHERE occurrences > 0
             |ORDER BY occurrences DESC, doc_id""".stripMargin)),

    // ---- exact rolling median (7-row frame) per supplier: bounded
    // ---- collect + in-array order statistics; the frame is 7 rows so
    // ---- the sort is O(1) per row. Median arithmetic is a fixed
    // ---- double tree over DECIMAL-exact elements ---------------------
    Q("q131_rolling_median",
      (s, dir) => {
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
          .rowsBetween(-6, 0)
        val arr = sort_array(collect_list(dec("l_quantity")).over(w))
        val n = size(arr)
        val a = element_at(arr, shiftright(n + lit(1), 1)).cast("double")
        val b = element_at(arr, shiftright(n, 1) + lit(1)).cast("double")
        t(s, dir, "lineitem").where(col("l_suppkey") < 20)
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss").as("ship_ts"),
            round((a + b) / lit(2.0), 6).as("median7"))
          .orderBy("l_suppkey", "ship_ts", "l_orderkey", "l_linenumber")
      },
      Some("""WITH f AS (
             |  SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
             |    CAST(l_quantity AS DECIMAL(12,2)) AS q
             |  FROM lineitem WHERE l_suppkey < 20
             |), r AS (
             |  SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
             |    list_sort(list(q) OVER (PARTITION BY l_suppkey
             |      ORDER BY l_shipdate, l_orderkey, l_linenumber
             |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS l
             |  FROM f
             |)
             |SELECT l_suppkey, l_orderkey, l_linenumber,
             |  strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS ship_ts,
             |  ROUND((CAST(l[(len(l) + 1) // 2] AS DOUBLE) +
             |         CAST(l[len(l) // 2 + 1] AS DOUBLE)) / CAST(2 AS DOUBLE), 6)
             |    AS median7
             |FROM r
             |ORDER BY l_suppkey, ship_ts, l_orderkey, l_linenumber""".stripMargin)),

    // ---- synchronous label propagation (Raghavan 2007) on the
    // ---- co-purchase graph: 3 deterministic rounds (min-label ties),
    // ---- then community sizes. Per round: one equi-join + two
    // ---- key-partitioned aggregations, argmax via max(struct) ------
    Q("q132_lpa_communities",
      (s, dir) => lpaLabelsCached(s, dir)
        .groupBy(col("community")).agg(count(lit(1)).as("size"))
        .orderBy(desc("size"), asc("community")).limit(20),
      Some(GraphRank.lpaSql(
        edgesCte =
          """SELECT p1 AS src, p2 AS dst FROM (
            |    SELECT DISTINCT a.pk AS p1, b.pk AS p2
            |    FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem) a
            |    JOIN (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem) b
            |      ON a.ok = b.ok AND a.pk < b.pk) e1
            |  UNION ALL
            |  SELECT p2, p1 FROM (
            |    SELECT DISTINCT a.pk AS p1, b.pk AS p2
            |    FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem) a
            |    JOIN (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem) b
            |      ON a.ok = b.ok AND a.pk < b.pk) e2""".stripMargin,
        iters = 3) +
        """
          |SELECT community, CAST(COUNT(*) AS BIGINT) AS size
          |FROM lp GROUP BY community
          |ORDER BY size DESC, community LIMIT 20""".stripMargin)),

    // ---- first/last-touch revenue attribution: IGNORE-NULLS window
    // ---- scans assign each purchase the nearest / earliest non-
    // ---- purchase touch strictly before it; revenue accumulates in
    // ---- DECIMAL per (model, channel) ------------------------------
    Q("q133_attribution",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val touch = when(col("event_type") =!= "purchase", col("event_type"))
        val p = t(s, dir, "events")
          .withColumn("lt", last(touch, ignoreNulls = true).over(w))
          .withColumn("ft", first(touch, ignoreNulls = true).over(w))
          .where(col("event_type") === "purchase")
          .select(col("lt"), col("ft"), dec("value").as("dv"))
        p.select(lit("last").as("model"),
            coalesce(col("lt"), lit("direct")).as("channel"), col("dv"))
          .unionByName(p.select(lit("first").as("model"),
            coalesce(col("ft"), lit("direct")).as("channel"), col("dv")))
          .groupBy(col("model"), col("channel"))
          .agg(sum(col("dv")).cast("double").as("revenue"),
            count(lit(1)).as("conversions"))
          .orderBy("model", "channel")
      },
      Some("""WITH o AS (
             |  SELECT user_id, ts, event_id, event_type,
             |    CAST(value AS DECIMAL(12,2)) AS dv,
             |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
             |      IGNORE NULLS) OVER wb AS lt,
             |    first_value(CASE WHEN event_type <> 'purchase' THEN event_type END
             |      IGNORE NULLS) OVER wb AS ft
             |  FROM events
             |  WINDOW wb AS (PARTITION BY user_id ORDER BY ts, event_id
             |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |), p AS (SELECT * FROM o WHERE event_type = 'purchase')
             |SELECT model, channel, CAST(SUM(dv) AS DOUBLE) AS revenue,
             |  CAST(COUNT(*) AS BIGINT) AS conversions
             |FROM (
             |  SELECT 'last' AS model, COALESCE(lt, 'direct') AS channel, dv FROM p
             |  UNION ALL
             |  SELECT 'first', COALESCE(ft, 'direct'), dv FROM p
             |) u GROUP BY model, channel ORDER BY model, channel""".stripMargin)),

    // ---- session path mining: 30-min sessionization, then each
    // ---- session's ordered event-type path via array_sort over
    // ---- collected structs (collection order never matters), then
    // ---- top paths --------------------------------------------------
    Q("q134_session_paths",
      (s, dir) => {
        val assigned = graft.streaming.Sessionize
          .assign(t(s, dir, "events"), gapMinutes = 30)
        val sorted = array_sort(collect_list(
          struct(col("ts").as("t"), col("event_id").as("e"),
            col("event_type").as("y"))))
        assigned.groupBy(col("user_id"), col("session_seq"))
          .agg(array_join(transform(sorted, x => x.getField("y")), ">")
            .as("path"))
          .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
          .orderBy(desc("n_sessions"), asc("path")).limit(15)
      },
      Some("""WITH g AS (
             |  SELECT user_id, ts, event_id, event_type,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             |    THEN 1 ELSE 0 END AS nw
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |), s AS (
             |  SELECT user_id, event_type, ts, event_id,
             |    SUM(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
             |  FROM g
             |), paths AS (
             |  SELECT user_id, sess,
             |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
             |  FROM s GROUP BY user_id, sess
             |)
             |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
             |FROM paths GROUP BY path
             |ORDER BY n_sessions DESC, path LIMIT 15""".stripMargin)),

    // ---- exact weighted median per group: cumulative-weight crossing
    // ---- over DECIMAL-exact weights. The crossing row's price is the
    // ---- smallest p with 2·W(≤p) ≥ W_total (the qualifying set is an
    // ---- upper suffix of the price order), so it is 2 bounded-
    // ---- histogram refinement jobs over the cent grid
    // ---- (Select.weightedCrossings) — no row-level shuffle, no
    // ---- localCheckpoint, versus the r7 prefix-sum pass's range
    // ---- exchange + offset join (1.23 s of job-chain floor at
    // ---- sf0.1). `flag` is a 3-value enum (lattice-sized driver
    // ---- state); the histogram stays ≤ 2^16 counters per group at
    // ---- any scale factor. ------------------------------------------
    Q("q135_weighted_median",
      (s, dir) => {
        import s.implicits._
        // conditional spread + cache (the q333 pattern): the refinement
        // rounds each re-scan the projection, and the single-row-group
        // scan would run every round single-task (guide §2.5 input
        // skew). ADVICE r12: the spread is now the same narrower-than-
        // cores guard as loadParallel — on already-wide cluster input
        // the unconditional form paid a full extra shuffle AND capped
        // the cached layout at core count.
        val li = graft.sources.Tables.spreadIfNarrow(
          t(s, dir, "lineitem")
            .select(col("l_returnflag"), col("l_extendedprice"),
              col("l_quantity")))
          .persist()
        try {
        // domain hint: extendedprice is 2-dp money < $1.34M, so the
        // cent grid sits inside [0, 2^27) — the hint fuses the stats
        // job into round 1 (2 scan-aggs total) and is efficiency-only
        // (out-of-hint values still count; see Select scaladoc)
        graft.operators.Select.weightedCrossings(li,
            Seq(col("l_returnflag")),
            round(col("l_extendedprice") * 100).cast("long"),
            col("l_extendedprice"), dec("l_quantity"),
            domainHint = Some((0L, (1L << 27) - 1)))
          .map { case (key, _, carry, _) =>
            (key.head.asInstanceOf[String], carry.asInstanceOf[Double]) }
          .toDF("flag", "wmedian").orderBy("flag")
        } finally li.unpersist()
      },
      Some("""WITH f AS (
             |  SELECT l_returnflag AS flag, l_extendedprice, l_orderkey,
             |    l_linenumber, CAST(l_quantity AS DECIMAL(12,2)) AS w
             |  FROM lineitem
             |), c AS (
             |  SELECT flag, l_extendedprice,
             |    SUM(w) OVER (PARTITION BY flag
             |      ORDER BY l_extendedprice, l_orderkey, l_linenumber
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             |    SUM(w) OVER (PARTITION BY flag) AS tw
             |  FROM f
             |)
             |SELECT flag, MIN(l_extendedprice) AS wmedian
             |FROM c WHERE cw >= tw - cw GROUP BY flag ORDER BY flag""".stripMargin)))

  /** q132's undirected co-purchase edge list (both directions of the
    * q123 artifact), cached per (app, dir) — every LPA round rejoins
    * it. */
  def undEdgesCached(s: SparkSession, dir: String): DataFrame =
    IndexCache.getOrBuild(s, s"tri-und:$dir") {
      val e = Analytics4.triEdgesCached(s, dir)
      e.select(col("p1").as("src"), col("p2").as("dst"))
        .unionByName(e.select(col("p2").as("src"), col("p1").as("dst")))
    }

  /** The 3-round LPA community labels over [[undEdgesCached]], cached
    * per (app, dir): q132 reports their sizes, q183 their modularity,
    * q279 the Louvain move gains — one label table feeds all three
    * (node-sized, like a centroid table; the clustering is an ingest
    * artifact, its audits are queries). */
  def lpaLabelsCached(s: SparkSession, dir: String): DataFrame =
    IndexCache.getOrBuild(s, s"lpa-lbl:$dir") {
      GraphRank.labelPropagation(undEdgesCached(s, dir), iters = 3,
        broadcastLabels = true)
    }

  /** Per-node degree of the undirected co-purchase graph (node-sized),
    * cached: q183's degree-share terms and q279's k_i both read it. */
  def undDegCached(s: SparkSession, dir: String): DataFrame =
    IndexCache.getOrBuild(s, s"tri-und-deg:$dir") {
      undEdgesCached(s, dir)
        .groupBy(col("src").as("node")).agg(count(lit(1)).as("ki"))
    }

}
