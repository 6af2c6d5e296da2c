package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables
import graft.text.Corpus

/** Tenth analytics pack (round 6, session 5): weighted Jaccard dedup,
  * A/B proportion z-test, autocorrelation, seasonal indices, RFM
  * segmentation. Same engine-portability discipline as packs 1-9. */
object Analytics10 {

  /** q156 weighted-Jaccard threshold and audit slice bound. */
  private val WjTau = 0.5
  private val WjSlice = 200
  /** q158 max autocorrelation lag (months). */
  private val AcfLags = 6

  val all: Seq[Q] = Seq(

    // ---- weighted Jaccard near-dup audit: J_w = sum min(a_t, b_t) /
    // ---- sum max(a_t, b_t) over term-frequency vectors. The identity
    // ---- sum max = totA + totB - sum_shared min reduces the all-terms
    // ---- union to an INNER join on shared terms — same inverted-index
    // ---- candidate shape as q37/q138, but frequency-weighted, which
    // ---- catches repetition-skewed copies token-set Jaccard dilutes -
    Q("q156_weighted_jaccard",
      (s, dir) => {
        val tf = Tables.loadParallel(s, dir, "documents")
          .filter(col("doc_id") < WjSlice)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        val tot = tf.groupBy("doc_id").agg(sum(col("c")).as("tot"))
        val shared = tf.select(col("tok"), col("doc_id").as("id_a"), col("c").as("ca"))
          .join(tf.select(col("tok"), col("doc_id").as("id_b"), col("c").as("cb")),
            Seq("tok"))
          .where(col("id_a") < col("id_b"))
          .groupBy("id_a", "id_b")
          .agg(sum(least(col("ca"), col("cb"))).as("smin"))
        val jw = col("smin").cast("double") /
          (col("ta") + col("tb") - col("smin")).cast("double")
        shared
          .join(tot.select(col("doc_id").as("id_a"), col("tot").as("ta")), Seq("id_a"))
          .join(tot.select(col("doc_id").as("id_b"), col("tot").as("tb")), Seq("id_b"))
          .where(jw >= WjTau)
          .select(col("id_a"), col("id_b"), round(jw, 6).as("wjaccard"))
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH tf AS (
             |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             |    FROM documents WHERE doc_id < $WjSlice
             |  ) GROUP BY doc_id, tok
             |), tot AS (
             |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS tot FROM tf GROUP BY doc_id
             |), shared AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |    CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS smin
             |  FROM tf a JOIN tf b ON a.tok = b.tok AND a.doc_id < b.doc_id
             |  GROUP BY a.doc_id, b.doc_id
             |)
             |SELECT id_a, id_b,
             |  ROUND(CAST(smin AS DOUBLE)
             |    / CAST(ta.tot + tb.tot - smin AS DOUBLE), 6) AS wjaccard
             |FROM shared
             |JOIN tot ta ON ta.doc_id = id_a
             |JOIN tot tb ON tb.doc_id = id_b
             |WHERE CAST(smin AS DOUBLE) / CAST(ta.tot + tb.tot - smin AS DOUBLE)
             |  >= $WjTau
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- A/B proportion z-test (holdout evaluation plumbing): users
    // ---- hash into arms with the portable q54 bucketer (stable as the
    // ---- population grows), conversion = any high-value purchase; the z and CI
    // ---- derive from 4 integers in one double chain -----------------
    Q("q157_ab_proportion_test",
      (s, dir) => {
        val users = t(s, dir, "events")
          .groupBy("user_id")
          .agg(max(when(col("event_type") === "purchase" && col("value") > 150,
            1L).otherwise(0L)).as("converted"))
          .withColumn("arm",
            when(Corpus.hashBucket(col("user_id"), 2) === 0, "A").otherwise("B"))
        val agg = users.groupBy("arm").agg(
          count(lit(1)).as("n"), sum(col("converted")).as("k"))
        val a = agg.where(col("arm") === "A")
          .select(col("n").as("n1"), col("k").as("k1"))
        val b = agg.where(col("arm") === "B")
          .select(col("n").as("n2"), col("k").as("k2"))
        val p1 = col("k1").cast("double") / col("n1").cast("double")
        val p2 = col("k2").cast("double") / col("n2").cast("double")
        val pp = (col("k1") + col("k2")).cast("double") /
          (col("n1") + col("n2")).cast("double")
        val se = sqrt(pp * (lit(1.0) - pp) *
          (lit(1.0) / col("n1").cast("double") + lit(1.0) / col("n2").cast("double")))
        a.crossJoin(b).select(
          col("n1"), col("k1"), col("n2"), col("k2"),
          round(p1, 6).as("p1"), round(p2, 6).as("p2"),
          round((p1 - p2) / se, 6).as("z"))
      },
      Some(s"""WITH users AS (
             |  SELECT user_id,
             |    CAST(MAX(CASE WHEN event_type = 'purchase' AND value > 150
             |      THEN 1 ELSE 0 END) AS BIGINT) AS converted,
             |    CASE WHEN ${Corpus.hashBucketSql("user_id", 2)} = 0
             |      THEN 'A' ELSE 'B' END AS arm
             |  FROM events GROUP BY user_id
             |), agg AS (
             |  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(converted) AS BIGINT) AS k
             |  FROM users GROUP BY arm
             |), a AS (SELECT n AS n1, k AS k1 FROM agg WHERE arm = 'A'),
             |b AS (SELECT n AS n2, k AS k2 FROM agg WHERE arm = 'B')
             |SELECT n1, k1, n2, k2,
             |  ROUND(CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS p1,
             |  ROUND(CAST(k2 AS DOUBLE) / CAST(n2 AS DOUBLE), 6) AS p2,
             |  ROUND((CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE)
             |      - CAST(k2 AS DOUBLE) / CAST(n2 AS DOUBLE))
             |    / sqrt((CAST(k1 + k2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
             |      * (1.0 - CAST(k1 + k2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
             |      * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))), 6)
             |    AS z
             |FROM a CROSS JOIN b""".stripMargin)),

    // ---- autocorrelation function of monthly revenue (lags 1..6, the
    // ---- seasonality detector that justifies q159's indices): each
    // ---- lag's numerator is a self-join on the month sequence number;
    // ---- per-term products round to 9 dp and accumulate as DECIMAL
    // ---- (the q116 discipline), so r_k is engine-portable -----------
    Q("q158_autocorrelation",
      (s, dir) => {
        val monthly = monthlyRevenue(t(s, dir, "orders"), byStatus = false)
          .select(col("mon"), col("rev").cast("double").as("x"))
          .withColumn("rn", row_number().over(Window.orderBy("mon")))
        val stats = monthly.agg(
          (sum(col("x").cast(DecimalType(28, 2))).cast("double") /
            count(lit(1)).cast("double")).as("mu"))
        val centered = monthly.crossJoin(broadcast(stats))
          .select(col("rn"), (col("x") - col("mu")).as("d"))
        val den = centered.agg(
          sum(round(col("d") * col("d"), 9).cast(DecimalType(38, 9)))
            .cast("double").as("den"))
        val lags = (1 to AcfLags).map(lit(_)).toArray
        centered
          .select(col("rn"), col("d"), explode(array(lags: _*)).as("lag"))
          .withColumn("rn2", col("rn") + col("lag"))
          .join(centered.select(col("rn").as("rn2"), col("d").as("d2")),
            Seq("rn2"))
          .groupBy("lag")
          .agg(sum(round(col("d") * col("d2"), 9).cast(DecimalType(38, 9)))
            .cast("double").as("num"))
          .crossJoin(broadcast(den))
          .select(col("lag").cast("int").as("lag"),
            round(col("num") / col("den"), 6).as("acf"))
          .orderBy("lag")
      },
      Some(s"""WITH monthly AS (
             |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS x
             |  FROM orders GROUP BY 1
             |), seq AS (
             |  SELECT x, ROW_NUMBER() OVER (ORDER BY mon) AS rn FROM monthly
             |), stats AS (
             |  SELECT CAST(SUM(CAST(x AS DECIMAL(28,2))) AS DOUBLE)
             |      / CAST(COUNT(*) AS DOUBLE) AS mu
             |  FROM seq
             |), centered AS (
             |  SELECT rn, x - mu AS d FROM seq CROSS JOIN stats
             |), den AS (
             |  SELECT CAST(SUM(CAST(ROUND(d * d, 9) AS DECIMAL(38,9))) AS DOUBLE)
             |    AS den
             |  FROM centered
             |)
             |SELECT CAST(b.rn - a.rn AS INT) AS lag,
             |  ROUND(CAST(SUM(CAST(ROUND(a.d * b.d, 9) AS DECIMAL(38,9)))
             |    AS DOUBLE) / MAX(den.den), 6) AS acf
             |FROM centered a
             |JOIN centered b ON b.rn - a.rn BETWEEN 1 AND $AcfLags
             |CROSS JOIN den
             |GROUP BY b.rn - a.rn
             |ORDER BY lag""".stripMargin)),

    // ---- multiplicative seasonal indices (month-of-year revenue vs
    // ---- trend): decimal means per calendar month over the bounded
    // ---- month grid; the Holt/ACF partner for forecast adjustment ---
    Q("q159_seasonal_index",
      (s, dir) => {
        val monthly = monthlyRevenue(t(s, dir, "orders"), byStatus = false)
        val overall = monthly.agg(
          (sum(col("rev").cast(DecimalType(28, 2))).cast("double") /
            count(lit(1)).cast("double")).as("grand"))
        monthly
          .groupBy(month(col("mon")).as("m"))
          .agg(count(lit(1)).as("n_months"),
            (sum(col("rev").cast(DecimalType(28, 2))).cast("double") /
              count(lit(1)).cast("double")).as("mavg"))
          .crossJoin(broadcast(overall))
          .select(col("m"), col("n_months"),
            round(col("mavg"), 4).as("month_avg"),
            round(col("mavg") / col("grand"), 6).as("seasonal_index"))
          .orderBy("m")
      },
      Some("""WITH monthly AS (
             |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
             |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
             |  FROM orders GROUP BY 1
             |), overall AS (
             |  SELECT CAST(SUM(CAST(rev AS DECIMAL(28,2))) AS DOUBLE)
             |      / CAST(COUNT(*) AS DOUBLE) AS grand
             |  FROM monthly
             |)
             |SELECT CAST(month(mon) AS INT) AS m,
             |  CAST(COUNT(*) AS BIGINT) AS n_months,
             |  ROUND(CAST(SUM(CAST(rev AS DECIMAL(28,2))) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE), 4) AS month_avg,
             |  ROUND((CAST(SUM(CAST(rev AS DECIMAL(28,2))) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE)) / MAX(grand), 6) AS seasonal_index
             |FROM monthly CROSS JOIN overall
             |GROUP BY month(mon)
             |ORDER BY m""".stripMargin)),

    // ---- RFM segmentation (recency / frequency / monetary quartiles):
    // ---- per-customer stats in one agg, then three EXACT quartile
    // ---- assignments with full (value, key) tie-break orders so the
    // ---- edges are deterministic, segment census out. Quartiles come
    // ---- from range-partitioned global ranks + the ntile formula —
    // ---- customer grain is base-table grain at 100 TB, so no
    // ---- single-task ntile sort is allowed here ----------------------
    Q("q160_rfm_segments",
      (s, dir) => {
        val horizon = t(s, dir, "orders")
          .agg(max(to_date(col("o_orderdate"))).as("maxday"))
        // NOTE r12: loadParallel was tried here and measured +9% — the
        // per-customer aggregate is cheap enough that the extra
        // round-robin exchange does not pay. Plain scan kept.
        val rfm = t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(max(to_date(col("o_orderdate"))).as("lastday"),
            count(lit(1)).as("freq"),
            sum(col("o_totalprice").cast(DecimalType(12, 2))).as("mon"))
          .crossJoin(broadcast(horizon))
          .select(col("o_custkey"),
            datediff(col("maxday"), col("lastday")).as("rec"),
            col("freq"), col("mon"))
        import graft.operators.Ranks
        // ONE distributed rank pass for all three dimensions (was
        // three sequential withGlobalRank passes + a count job): melt
        // each customer into (dim, sort-key) rows — descending orders
        // negate the exact integer key — and rank within dim; the
        // pass's group total doubles as n_cust, so no separate count
        // and no crossJoin. 3n melted rows shuffle once, versus n rows
        // shuffling three times in sequence.
        val melted = rfm.select(col("o_custkey"), explode(array(
            struct(lit("r").as("dim"), col("rec").cast("long").as("sk")),
            struct(lit("f").as("dim"), (-col("freq")).cast("long").as("sk")),
            struct(lit("m").as("dim"),
              (-(col("mon") * 100)).cast("long").as("sk")))).as("e"))
          .select(col("o_custkey"), col("e.dim").as("dim"),
            col("e.sk").as("sk"))
        val ranked = Ranks.withPrefixSums(melted, Seq(col("dim")),
          Seq(col("sk"), col("o_custkey")), Seq((lit(1L), "rn", "nc")))
        val quart = Ranks.ntileFromRank(col("rn"), col("nc"), 4)
          .cast("string")
        ranked.groupBy("o_custkey")
          .agg(concat(
            max(when(col("dim") === "r", quart)),
            max(when(col("dim") === "f", quart)),
            max(when(col("dim") === "m", quart))).as("segment"))
          .groupBy("segment").agg(count(lit(1)).as("customers"))
          .orderBy("segment")
      },
      Some("""WITH horizon AS (
             |  SELECT MAX(CAST(o_orderdate AS DATE)) AS maxday FROM orders
             |), rfm AS (
             |  SELECT o_custkey,
             |    MAX(CAST(o_orderdate AS DATE)) AS lastday,
             |    CAST(COUNT(*) AS BIGINT) AS freq,
             |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS mon
             |  FROM orders GROUP BY o_custkey
             |), scored AS (
             |  SELECT
             |    ntile(4) OVER (ORDER BY maxday - lastday, o_custkey) AS r,
             |    ntile(4) OVER (ORDER BY freq DESC, o_custkey) AS f,
             |    ntile(4) OVER (ORDER BY mon DESC, o_custkey) AS m
             |  FROM rfm CROSS JOIN horizon
             |)
             |SELECT CAST(r AS VARCHAR) || CAST(f AS VARCHAR)
             |    || CAST(m AS VARCHAR) AS segment,
             |  CAST(COUNT(*) AS BIGINT) AS customers
             |FROM scored
             |GROUP BY 1
             |ORDER BY segment""".stripMargin)))
}
