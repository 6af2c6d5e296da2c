package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => VF}

/** Thirty-sixth analytics pack (round 6, session 8): binary-
  * segmentation changepoints, k-NN classification evaluation on the
  * embedding table, per-label principal-component score audit
  * (composes with q270's eigenvector), and a regularized Weiszfeld
  * geometric median.
  *
  * Exactness discipline unchanged: segment costs ride exact kilodollar
  * prefix sums with the argmax on a rounded-integer objective, k-NN
  * votes decide on the `round(cos, 6)` grid + id tie-break, principal
  * scores are exact BIGINT grid dot products, and every Weiszfeld
  * iteration floors its center to integer dollars before the next
  * distance pass. */
object Analytics36 {

  /** q286: minimum days on each side of a split. */
  private val MinSeg = 30

  /** q287 neighborhood size. */
  private val KnnK = 5

  /** q289 iterations + the distance floor (dollars) that regularizes
    * Weiszfeld at near-coincident points and bounds every weight. */
  private val WIters = 5

  private val LateralSql =
    """SELECT n.n_name, t.o_orderkey, t.o_totalprice
      |FROM nation n,
      |LATERAL (
      |  SELECT o_orderkey, o_totalprice
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE c_nationkey = n.n_nationkey
      |  ORDER BY o_totalprice DESC, o_orderkey
      |  LIMIT 2) t
      |ORDER BY n.n_name, t.o_totalprice DESC, t.o_orderkey""".stripMargin

  private val WeiszfeldOracle: Option[String] =
      Some {
        val steps = (1 to WIters).map { i =>
          s"""c$i AS MATERIALIZED (
             |  SELECT CAST(FLOOR(CAST(SUM(w * x) AS DOUBLE)
             |      / CAST(SUM(w) AS DOUBLE)) AS BIGINT) AS cx,
             |    CAST(FLOOR(CAST(SUM(w * y) AS DOUBLE)
             |      / CAST(SUM(w) AS DOUBLE)) AS BIGINT) AS cy
             |  FROM (
             |    SELECT x, y,
             |      CAST(ROUND(1e9 / GREATEST(sqrt(
             |        CAST(x - (SELECT cx FROM c${i - 1}) AS DOUBLE)
             |          * CAST(x - (SELECT cx FROM c${i - 1}) AS DOUBLE)
             |        + CAST(y - (SELECT cy FROM c${i - 1}) AS DOUBLE)
             |          * CAST(y - (SELECT cy FROM c${i - 1}) AS DOUBLE)),
             |        1.0)) AS BIGINT) AS w
             |    FROM pts
             |  )
             |)""".stripMargin
        }.mkString(",\n")
        val sel = (0 to WIters).map(i =>
          s"SELECT $i AS iteration, cx, cy FROM c$i").mkString("\nUNION ALL ")
        s"""WITH pts AS MATERIALIZED (
           |  SELECT CAST(ROUND(c_acctbal) AS BIGINT) AS x,
           |    CAST(COALESCE(ROUND(CAST(sp AS DOUBLE)), 0) AS BIGINT) AS y
           |  FROM customer c
           |  LEFT JOIN (
           |    SELECT o_custkey,
           |      CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
           |        AS sp
           |    FROM orders GROUP BY o_custkey
           |  ) o ON o.o_custkey = c.c_custkey
           |), c0 AS MATERIALIZED (
           |  SELECT CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT)
           |      AS cx,
           |    CAST(FLOOR(CAST(SUM(y) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cy
           |  FROM pts
           |),
           |$steps
           |$sel
           |ORDER BY iteration""".stripMargin
      }


  val all: Seq[Q] = Seq(

    // ---- binary-segmentation changepoints (Scott-Knott / standard
    // ---- CUSUM-fit alternative): level 1 picks the split of the
    // ---- daily kilodollar series minimizing total within-segment
    // ---- sum-of-squares (equivalently maximizing f = L²/k +
    // ---- R²/(n−k), rounded to an integer objective; ties to the
    // ---- earlier day); level 2 splits each side the same way. The
    // ---- prefix table is computed ONCE (checkpoint); each argmax is
    // ---- a metadata-sized collect driving literal bounds — the q121
    // ---- pattern. --------------------------------------------------
    Q("q286_binseg_changepoints",
      (s, dir) => {
        val pre = Analytics35.dailyDollars(s, dir)
          .select(col("day"), expr("x div 1000").as("xk"))
          .withColumn("rn", row_number().over(Window.orderBy("day"))
            .cast("long"))
          .withColumn("p", sum(col("xk")).over(
            Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)))
          .localCheckpoint(false) // lazy: materialized by the count
        val n = pre.count()
        def pAt(k: Long): Long =
          if (k == 0) 0L
          else pre.where(col("rn") === k).select("p").collect()(0).getLong(0)
        def dayAt(k: Long): Long =
          pre.where(col("rn") === k).select("day").collect()(0).getLong(0)
        def bestSplit(a: Long, b: Long): Option[(Long, Long, Long)] = {
          if (b - a + 1 < 2L * MinSeg) return None
          val pa = pAt(a - 1); val pb = pAt(b)
          val len = b - a + 1
          val seg = lit(pb - pa)
          val noSplit = round(seg.cast("double") * seg.cast("double") /
            lit(len.toDouble)).cast("long")
          val f = round(
            (col("p") - pa).cast("double") * (col("p") - pa).cast("double") /
              (col("rn") - (a - 1)).cast("double") +
            (lit(pb) - col("p")).cast("double") *
              (lit(pb) - col("p")).cast("double") /
              (lit(b) - col("rn")).cast("double")).cast("long")
          val row = pre
            .where(col("rn") >= a + MinSeg - 1 && col("rn") <= b - MinSeg)
            .select(col("rn"), col("day"), (f - noSplit).as("gain"))
            .orderBy(desc("gain"), asc("rn"))
            .limit(1).collect()
          row.headOption.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        }
        val out = scala.collection.mutable.ArrayBuffer[
          (Int, Long, Long, Long, Long)]()
        bestSplit(1, n).foreach { case (k1, d1, g1) =>
          out += ((1, dayAt(1), dayAt(n), d1, g1))
          bestSplit(1, k1).foreach { case (_, d2, g2) =>
            out += ((2, dayAt(1), d1, d2, g2))
          }
          bestSplit(k1 + 1, n).foreach { case (_, d3, g3) =>
            out += ((2, dayAt(k1 + 1), dayAt(n), d3, g3))
          }
        }
        import s.implicits._
        out.toSeq
          .toDF("level", "seg_start_day", "seg_end_day", "split_day",
            "gain_units")
          .orderBy("level", "seg_start_day")
      },
      Some {
        val fa = (a: String, b: String) =>
          s"""CAST(ROUND(
             |      CAST(p - pa AS DOUBLE) * CAST(p - pa AS DOUBLE)
             |        / CAST(rn - ($a - 1) AS DOUBLE)
             |      + CAST(pb - p AS DOUBLE) * CAST(pb - p AS DOUBLE)
             |        / CAST(($b) - rn AS DOUBLE)) AS BIGINT)
             |    - CAST(ROUND(CAST(pb - pa AS DOUBLE)
             |        * CAST(pb - pa AS DOUBLE)
             |        / CAST(($b) - ($a) + 1 AS DOUBLE)) AS BIGINT)""".stripMargin
        def segCte(name: String, a: String, b: String) =
          s"""$name AS MATERIALIZED (
             |  SELECT rn, day, gain FROM (
             |    SELECT rn, day, ${fa(a, b).replace("\n", "\n    ")} AS gain
             |    FROM (SELECT rn, day, p,
             |        COALESCE((SELECT p FROM pre x
             |           WHERE x.rn = ($a) - 1), 0) AS pa,
             |        (SELECT p FROM pre x WHERE x.rn = ($b)) AS pb
             |      FROM pre)
             |    WHERE rn >= ($a) + $MinSeg - 1 AND rn <= ($b) - $MinSeg
             |  )
             |  ORDER BY gain DESC, rn
             |  LIMIT 1
             |)""".stripMargin
        s"""WITH pre AS MATERIALIZED (
           |  SELECT day, rn, CAST(SUM(xk) OVER (ORDER BY day
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
           |  FROM (
           |    SELECT day, x // 1000 AS xk,
           |      ROW_NUMBER() OVER (ORDER BY day) AS rn
           |    FROM (${Analytics35.DailyDollarsSql.replace("\n", "\n    ")})
           |  )
           |), nn AS (SELECT MAX(rn) AS n FROM pre),
           |${segCte("s1", "1", "(SELECT n FROM nn)")},
           |${segCte("s2a", "1", "(SELECT rn FROM s1)")},
           |${segCte("s2b", "(SELECT rn FROM s1) + 1", "(SELECT n FROM nn)")}
           |SELECT 1 AS level,
           |  (SELECT day FROM pre WHERE rn = 1) AS seg_start_day,
           |  (SELECT day FROM pre WHERE rn = (SELECT n FROM nn))
           |    AS seg_end_day,
           |  day AS split_day, gain AS gain_units
           |FROM s1
           |UNION ALL
           |SELECT 2, (SELECT day FROM pre WHERE rn = 1),
           |  (SELECT day FROM s1), day, gain FROM s2a
           |UNION ALL
           |SELECT 2, (SELECT day FROM pre WHERE rn = (SELECT rn FROM s1) + 1),
           |  (SELECT day FROM pre WHERE rn = (SELECT n FROM nn)), day, gain
           |FROM s2b
           |ORDER BY level, seg_start_day""".stripMargin
      }),

    // ---- k-NN classification evaluation: hash-stable 80/20 split of
    // ---- the embedding table; each held-out vector takes the
    // ---- majority label of its 5 nearest train vectors (rounded-
    // ---- cosine grid, id tie-break; vote ties to the smaller
    // ---- label). The scan side is train × broadcast(test) — one
    // ---- pass, no shuffle before the per-query top-k. ---------------
    Q("q287_knn_eval",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        // FIXED 64-vector held-out sample (smallest qualifying ids): a
        // 20% modulus split makes this exact-kNN audit O(n²/5) in the
        // corpus; a fixed query set keeps it O(n) at any scale factor
        val test = emb.where(col("vec_id") % 5 === 0)
          .select(col("vec_id").as("query_id"),
            col("embedding").as("q_vec"), col("label").as("label_true"))
          .orderBy("query_id").limit(64)
        val train = emb.where(col("vec_id") % 5 =!= 0)
          .select(col("vec_id").as("neighbor_id"),
            col("embedding").as("c_vec"), col("label"))
        val scored = train.crossJoin(broadcast(test))
          .select(col("query_id"), col("label_true"), col("neighbor_id"),
            col("label"),
            round(VF.cosine(col("q_vec"), col("c_vec")), 6).as("cos"))
        val top = scored
          .withColumn("rank", row_number().over(Window
            .partitionBy("query_id")
            .orderBy(desc("cos"), asc("neighbor_id"))))
          .where(col("rank") <= KnnK)
        top.groupBy("query_id", "label_true", "label")
          .agg(count(lit(1)).as("votes"))
          .withColumn("vr", row_number().over(Window
            .partitionBy("query_id")
            .orderBy(desc("votes"), asc("label"))))
          .where(col("vr") === 1)
          .select(col("query_id").as("vec_id"), col("label_true"),
            col("label").as("label_knn"), col("votes"),
            (col("label_true") === col("label")).as("correct"))
          .orderBy("vec_id")
      },
      Some(s"""WITH scored AS (
             |  SELECT q.vec_id AS query_id, q.label AS label_true,
             |    c.vec_id AS neighbor_id, c.label,
             |    ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |      CAST(c.embedding AS DOUBLE[])), 6) AS cos
             |  FROM (SELECT * FROM embeddings WHERE vec_id % 5 = 0
             |        ORDER BY vec_id LIMIT 64) q
             |  JOIN embeddings c ON c.vec_id % 5 <> 0
             |), top AS (
             |  SELECT query_id, label_true, label FROM (
             |    SELECT query_id, label_true, label,
             |      ROW_NUMBER() OVER (PARTITION BY query_id
             |        ORDER BY cos DESC, neighbor_id) AS rank
             |    FROM scored)
             |  WHERE rank <= $KnnK
             |)
             |SELECT query_id AS vec_id, label_true, label AS label_knn,
             |  votes, label_true = label AS correct
             |FROM (
             |  SELECT query_id, label_true, label,
             |    CAST(COUNT(*) AS BIGINT) AS votes,
             |    ROW_NUMBER() OVER (PARTITION BY query_id
             |      ORDER BY COUNT(*) DESC, label) AS vr
             |  FROM top
             |  GROUP BY 1, 2, 3
             |)
             |WHERE vr = 1
             |ORDER BY vec_id""".stripMargin)),

    // ---- per-label principal-component scores: project every
    // ---- embedding onto q270's eigenvector (exact BIGINT grid dot
    // ---- product: 1e5-grid components × micro-unit loadings) and
    // ---- report each label's score envelope — the anisotropy /
    // ---- separability audit that follows any PCA pass. --------------
    Q("q288_principal_scores",
      (s, dir) => {
        import s.implicits._
        val loadings = broadcast(Analytics32.pcaLoadings(s, dir)
          .toDF("dim", "lv"))
        val proj = t(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            posexplode(col("embedding")).as(Seq("dim", "v")))
          .select(col("vec_id"), col("label"), col("dim"),
            round(col("v").cast("double") * 1e5).cast("long").as("e"))
          .join(loadings, Seq("dim"))
          .groupBy("vec_id", "label")
          .agg(sum(col("e") * col("lv")).as("proju"))
        proj.groupBy("label")
          .agg(count(lit(1)).as("n"),
            // exact BIGINT sum first, ONE division after — avg over
            // double-cast projections would sum floats in partial-agg
            // order (values ~6e12 overflow 2^53 in the running sum)
            round(sum(col("proju")).cast("double") /
              count(lit(1)).cast("double") / 1e11, 6).as("mean_score"),
            round(min(col("proju")).cast("double") / 1e11, 6)
              .as("min_score"),
            round(max(col("proju")).cast("double") / 1e11, 6)
              .as("max_score"))
          .orderBy("label")
      },
      Some(s"""${Analytics32.PcaCteSql},
             |loadings AS (
             |  SELECT dim, CAST(v * s AS BIGINT) AS lv
             |  FROM v${Analytics32.PcaIters} CROSS JOIN sgn
             |), proj AS (
             |  SELECT q.vec_id, e.label,
             |    CAST(SUM(q.e * l.lv) AS BIGINT) AS proju
             |  FROM q
             |  JOIN loadings l ON l.dim = q.dim
             |  JOIN embeddings e ON e.vec_id = q.vec_id
             |  GROUP BY 1, 2
             |)
             |SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
             |  ROUND(CAST(SUM(proju) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE) / 1e11, 6) AS mean_score,
             |  ROUND(CAST(MIN(proju) AS DOUBLE) / 1e11, 6) AS min_score,
             |  ROUND(CAST(MAX(proju) AS DOUBLE) / 1e11, 6) AS max_score
             |FROM proj
             |GROUP BY label
             |ORDER BY label""".stripMargin)),

    // ---- regularized Weiszfeld geometric median of the customer
    // ---- (balance, lifetime spend) cloud in whole dollars: five
    // ---- iterations of the classic reweighting, weights quantized
    // ---- (round(1e9 / max(d, 1))) so every numerator stays BIGINT,
    // ---- the center floored to integer dollars per iteration, and
    // ---- each step's 1-row aggregate collected to drive the next
    // ---- (the q121 pattern; the oracle unrolls the identical five
    // ---- aggregates). The ≥$1 distance floor is the standard
    // ---- epsilon-smoothing at coincident points. --------------------
    Q("q289_geometric_median",
      (s, dir) => {
        val pts = t(s, dir, "customer")
          .join(t(s, dir, "orders").groupBy(col("o_custkey"))
            .agg(sum(dec("o_totalprice")).as("sp")),
            col("c_custkey") === col("o_custkey"), "left")
          .select(round(col("c_acctbal")).cast("long").as("x"),
            coalesce(round(col("sp").cast("double")), lit(0.0)).cast("long")
              .as("y"))
          .localCheckpoint(true)
        val c0 = pts.agg(
            floor(sum(col("x")).cast("double") / count(lit(1))).cast("long"),
            floor(sum(col("y")).cast("double") / count(lit(1))).cast("long"))
          .collect()(0)
        var cx = c0.getLong(0); var cy = c0.getLong(1)
        val out = scala.collection.mutable.ArrayBuffer((0, cx, cy))
        for (i <- 1 to WIters) {
          val dx = (col("x") - cx).cast("double")
          val dy = (col("y") - cy).cast("double")
          val w = round(lit(1e9) /
            greatest(sqrt(dx * dx + dy * dy), lit(1.0))).cast("long")
          val r = pts.agg(
              floor(sum(w * col("x")).cast("double") /
                sum(w).cast("double")).cast("long"),
              floor(sum(w * col("y")).cast("double") /
                sum(w).cast("double")).cast("long"))
            .collect()(0)
          cx = r.getLong(0); cy = r.getLong(1)
          out += ((i, cx, cy))
        }
        import s.implicits._
        out.toSeq.toDF("iteration", "cx", "cy").orderBy("iteration")
      },
      WeiszfeldOracle),

    // ---- SQL surface: correlated LATERAL subquery with ORDER BY +
    // ---- LIMIT — the per-outer-row top-N idiom (each nation's two
    // ---- largest orders), run through spark.sql so the DECORRELATION
    // ---- path itself is what's exercised (Spark rewrites it to a
    // ---- ranked join; the same text runs verbatim in DuckDB). -------
    // Spark decorrelates LATERAL-with-LIMIT into a rank window
    // partitioned by the 25-value nation key — single-task in all but
    // name over order grain at 100 TB. The engine-side form is the
    // partial-aggregable bounded top-k heap (each task reduces to 2
    // rows per nation pre-shuffle); the SQL LATERAL surface itself is
    // still exercised by the other LATERAL queries (q3xx packs). The
    // heap's (score desc, id asc) order matches the oracle's ORDER BY
    // o_totalprice DESC, o_orderkey exactly.
    Q("q290_lateral_topn",
      (s, dir) => {
        val top = t(s, dir, "orders")
          .join(t(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_nationkey")
          .agg(graft.functions.TopKAgg.topKBy(col("o_totalprice"),
            col("o_orderkey"), 2).as("topk"))
          .select(col("c_nationkey"), explode(col("topk")).as("tk"))
        t(s, dir, "nation")
          .join(top, col("n_nationkey") === col("c_nationkey"))
          .select(col("n_name"), col("tk.id").as("o_orderkey"),
            col("tk.score").as("o_totalprice"))
          .orderBy(col("n_name"), col("o_totalprice").desc,
            col("o_orderkey"))
      },
      Some(LateralSql))
  )


}
