package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Thirty-second analytics pack (round 6, session 8): decision-stump
  * split search (Gini gain), a k-anonymity/l-diversity privacy audit,
  * a difference-in-differences estimator, Flesch-style readability
  * scoring, and the corpus top principal component by fixed-point
  * power iteration.
  *
  * Exactness discipline unchanged: impurity/effect arithmetic runs on
  * exact integer counts with a FIXED double expression tree mirrored
  * in the oracle and one final `round(·, 6)`; the PCA chain is
  * all-BIGINT (1e5-grid input quantization, micro-unit normalization
  * with explicit sign-symmetric truncation — Spark's `div` truncates
  * while DuckDB's `//` floors, so every division here runs on the
  * absolute value first). */
object Analytics32 {

  /** q267 privacy thresholds: a quasi-identifier group is k-anonymous
    * at k=5 and l-diverse at l=3 (Sweeney 2002; Machanavajjhala 2007). */
  private val KAnon = 5
  private val LDiv = 3

  /** q270 power-iteration rounds (covariance is PSD, so the iterate
    * never sign-flips; 8 rounds is ranking-stable for this spectrum). */
  private[queries] val PcaIters = 8

  /** Sign-symmetric scaled division shared by the q270 Spark driver
    * loop and its SQL mirror: `sign(x) · (|x| · 1e6-ish / divisor)`
    * done as `|x| / max(divisor/1e6, 1)` so no intermediate exceeds
    * BIGINT. Truncating on the absolute value makes Spark (truncate)
    * and DuckDB (`//` floors) agree for negative x. */
  private def rescale(x: Long, maxAbs: Long): Long = {
    val d = math.max(maxAbs / 1000000L, 1L)
    val s = if (x < 0) -1L else 1L
    s * (math.abs(x) / d)
  }

  /** The q270 sign-canonicalized top principal component as
    * (dim, micro-unit loading) pairs — the d×d covariance is the
    * cached distributed artifact; the exact-integer iteration runs on
    * its collected (metadata-sized) values. Shared with q288's
    * projection audit. */
  private[queries] def pcaLoadings(s: SparkSession, dir: String): Seq[(Int, Long)] = {
        val covU = graft.sim.IndexCache.getOrBuild(s, s"pca-cov:$dir") {
          import s.implicits._
          // One-pass Gram over [e, 1] (LongGram): the last row/column
          // is Σeᵢ and the corner is n, so every covariance moment
          // lands in a single map-side-combined aggregate — replacing
          // the posexplode self-join, which pushed n·d² joined rows
          // through the exchange (82M at sf1.0; 23 s of the suite's
          // artifact-build budget). Same Long multiply-accumulate,
          // bit-identical moments; the d×d combine below runs on the
          // collected (metadata-sized) matrix, the q121/q207 pattern.
          val e1 = Tables.loadParallel(s, dir, "embeddings").select(
            concat(
              transform(col("embedding"),
                x => round(x.cast("double") * lit(1e5)).cast("long")),
              array(lit(1L))).as("e"))
          val g = e1.agg(graft.functions.VectorAgg.longGram(col("e")).as("g"))
            .head().getSeq[Long](0).toArray
          val d1 = math.sqrt(g.length.toDouble).round.toInt // = d + 1
          val d = d1 - 1
          // n is the Gram corner = count of NON-NULL embedding rows
          // (LongGram skips nulls), where the pre-r7 formulation used
          // embeddings.count(); identical here because the generator
          // emits no null embeddings — asserted below so a null-bearing
          // input fails loudly instead of silently shifting n.
          val n = g(d1 * d1 - 1)
          // plain load: parquet count() is a metadata read, no shuffle
          require(n == Tables.load(s, dir, "embeddings").count(),
            "q270: null embedding rows — Gram corner n != table count")
          def sij(i: Int, j: Int): Long = g(i * d1 + j)
          def se(i: Int): Long = g(i * d1 + d)
          // Exact arithmetic: n·sij approaches 2^63 once n·d·scale²
          // grows (ANSI SQL would error here; plain Long would wrap
          // silently) — throw on overflow instead.
          val c = Array.tabulate(d, d)((i, j) => Math.subtractExact(
            Math.multiplyExact(n, sij(i, j)),
            Math.multiplyExact(se(i), se(j))))
          val mc = c.iterator.flatMap(_.iterator).map(math.abs).max
          val den = math.max(mc / 1000000L, 1L)
          val rows = for { i <- 0 until d; j <- 0 until d } yield {
            val x = c(i)(j)
            // signum(0)·… = 0 either way — matches the old SQL form
            val cu = (if (x < 0) -1L else 1L) * (math.abs(x) / den)
            (i, j, cu)
          }
          rows.toDF("i", "j", "cu")
        }
        // dim × dim covariance lattice (embedding dims² = 64²) —
        // bounded driver collect, fails fast on cardinality surprise
        val m = graft.operators.Lattice.collectBounded(
            covU.select(col("i"), col("j"), col("cu")),
            100000, "q270 covariance matrix (dims x dims)")
          .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
        val dims = m.map(_._1).distinct.sorted
        var v: Map[Int, Long] = dims.map(_ -> 1000000L).toMap
        for (_ <- 1 to PcaIters) {
          val p: Map[Int, Long] = m.groupBy(_._1).map { case (i, rows) =>
            i -> rows.map { case (_, j, cu) => cu * v(j) }.sum
          }
          val mx = p.valuesIterator.map(math.abs).max
          v = p.map { case (i, x) => i -> rescale(x, mx) }
        }
        val top = dims.map(d => (math.abs(v(d)), d))
          .max(Ordering.Tuple2(Ordering.Long, Ordering.Int.reverse))._2
        val sgn = if (v(top) < 0) -1L else 1L
        dims.map(d => (d, v(d) * sgn))
  }

  /** The q270 oracle chain through `sgn` (quantized embeddings → exact
    * BIGINT covariance → scaled units → 8 unrolled iterations → sign
    * canonicalization) — q270 and q288 append different final
    * selects. */
  private[queries] val PcaCteSql: String = {
        val base =
          s"""WITH q AS MATERIALIZED (
             |  SELECT vec_id,
             |    CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER)
             |      AS dim,
             |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1e5)
             |      AS BIGINT) AS e
             |  FROM embeddings
             |), sums AS MATERIALIZED (
             |  SELECT dim, CAST(SUM(e) AS BIGINT) AS se FROM q GROUP BY dim
             |), cov AS MATERIALIZED (
             |  SELECT a.dim AS i, b.dim AS j,
             |    (SELECT COUNT(*) FROM embeddings)
             |      * CAST(SUM(a.e * b.e) AS BIGINT)
             |      - si.se * sj.se AS c
             |  FROM q a
             |  JOIN q b ON a.vec_id = b.vec_id
             |  JOIN sums si ON si.dim = a.dim
             |  JOIN sums sj ON sj.dim = b.dim
             |  GROUP BY a.dim, b.dim, si.se, sj.se
             |), covu AS MATERIALIZED (
             |  SELECT i, j,
             |    CAST(CASE WHEN c < 0 THEN -1 ELSE 1 END
             |      * (abs(c) // GREATEST(
             |          (SELECT MAX(abs(c)) FROM cov) // 1000000, 1))
             |      AS BIGINT) AS cu
             |  FROM cov
             |), v0 AS MATERIALIZED (
             |  SELECT DISTINCT i AS dim, CAST(1000000 AS BIGINT) AS v
             |  FROM covu
             |)""".stripMargin
        val steps = (1 to PcaIters).map { k =>
          s"""p$k AS MATERIALIZED (
             |  SELECT c.i AS dim, CAST(SUM(c.cu * v.v) AS BIGINT) AS p
             |  FROM covu c JOIN v${k - 1} v ON c.j = v.dim
             |  GROUP BY c.i
             |), v$k AS MATERIALIZED (
             |  SELECT dim,
             |    CAST(CASE WHEN p < 0 THEN -1 ELSE 1 END
             |      * (abs(p) // GREATEST(
             |          (SELECT MAX(abs(p)) FROM p$k) // 1000000, 1))
             |      AS BIGINT) AS v
             |  FROM p$k
             |)""".stripMargin
        }.mkString(",\n", ",\n", "")
        s"""$base$steps,
           |sgn AS (
           |  SELECT CAST(CASE WHEN v < 0 THEN -1 ELSE 1 END AS BIGINT) AS s
           |  FROM v$PcaIters
           |  ORDER BY abs(v) DESC, dim ASC
           |  LIMIT 1
           |)""".stripMargin
  }

  val all: Seq[Q] = Seq(

    // ---- decision-stump training: for each inner decile boundary of
    // ---- o_totalprice, the Gini impurity decrease of splitting the
    // ---- urgent-priority label there — the single-feature split
    // ---- search at the bottom of every tree learner. Candidate
    // ---- thresholds are exact order statistics (ROW_NUMBER with an
    // ---- orderkey tie-break, rank k·n div 10; at 100 TB the
    // ---- candidates would come from approx quantiles instead, which
    // ---- changes only this 9-row table); counts are one pass over
    // ---- the fact crossed with the broadcast 9-row threshold table,
    // ---- and the gain tree is mirrored verbatim in SQL. -------------
    Q("q266_decision_stump",
      (s, dir) => {
        val lab = t(s, dir, "orders")
          .select(col("o_totalprice").as("price"),
            col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
              .as("urgent"), col("o_orderkey"))
        val n = lab.count()
        // candidate thresholds at exact deciles via distributed rank
        // (orders-grain: no single-task sort)
        val ranked = graft.operators.Ranks
          .withGlobalRank(lab.select(col("price"), col("o_orderkey")),
            Seq(col("price"), col("o_orderkey")), "rn")
          .select(col("price"), col("rn"))
        val thr = ranked
          .join(s.range(1, 10).select(expr(s"id * $n div 10").as("rn"),
            col("id").cast("int").as("k")), Seq("rn"))
          .select(col("k"), col("price").as("threshold"))
        val per = lab.crossJoin(broadcast(thr))
          .groupBy("k", "threshold")
          .agg(sum(when(col("price") <= col("threshold"), 1L).otherwise(0L))
              .as("n_l"),
            sum(when(col("price") <= col("threshold"), col("urgent"))
              .otherwise(0L)).as("u_l"),
            count(lit(1)).as("n"), sum(col("urgent")).as("u"))
        def gini(u: org.apache.spark.sql.Column,
                 nn: org.apache.spark.sql.Column) = {
          val p = u.cast("double") / nn.cast("double")
          lit(1.0) - p * p - (lit(1.0) - p) * (lit(1.0) - p)
        }
        val gain = gini(col("u"), col("n")) -
          (col("n_l").cast("double") / col("n").cast("double")) *
            gini(col("u_l"), col("n_l")) -
          ((col("n") - col("n_l")).cast("double") / col("n").cast("double")) *
            gini(col("u") - col("u_l"), col("n") - col("n_l"))
        val g = per.select(col("k"), col("threshold"), col("n_l"),
          col("u_l"), (col("n") - col("n_l")).as("n_r"),
          (col("u") - col("u_l")).as("u_r"), round(gain, 6).as("gini_gain"))
        g.withColumn("is_best",
            col("gini_gain") ===
              max(col("gini_gain")).over(Window.partitionBy(lit(0))))
          .orderBy("k")
      },
      Some("""WITH lab AS (
             |  SELECT o_totalprice AS price,
             |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |      THEN 1 ELSE 0 END AS urgent,
             |    o_orderkey
             |  FROM orders
             |), ranked AS (
             |  SELECT price, ROW_NUMBER() OVER (ORDER BY price, o_orderkey)
             |      AS rn
             |  FROM lab
             |), thr AS (
             |  SELECT CAST(k.range AS INTEGER) AS k, r.price AS threshold
             |  FROM range(1, 10) k
             |  JOIN ranked r
             |    ON r.rn = k.range * (SELECT COUNT(*) FROM lab) // 10
             |), per AS (
             |  SELECT k, threshold,
             |    CAST(SUM(CASE WHEN price <= threshold THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_l,
             |    CAST(SUM(CASE WHEN price <= threshold THEN urgent ELSE 0 END)
             |      AS BIGINT) AS u_l,
             |    CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(urgent) AS BIGINT) AS u
             |  FROM lab CROSS JOIN thr
             |  GROUP BY 1, 2
             |), g AS (
             |  SELECT k, threshold, n_l, u_l, n - n_l AS n_r, u - u_l AS u_r,
             |    ROUND(
             |      (1.0 - (CAST(u AS DOUBLE) / CAST(n AS DOUBLE))
             |            * (CAST(u AS DOUBLE) / CAST(n AS DOUBLE))
             |          - (1.0 - CAST(u AS DOUBLE) / CAST(n AS DOUBLE))
             |            * (1.0 - CAST(u AS DOUBLE) / CAST(n AS DOUBLE)))
             |      - (CAST(n_l AS DOUBLE) / CAST(n AS DOUBLE))
             |        * (1.0 - (CAST(u_l AS DOUBLE) / CAST(n_l AS DOUBLE))
             |              * (CAST(u_l AS DOUBLE) / CAST(n_l AS DOUBLE))
             |            - (1.0 - CAST(u_l AS DOUBLE) / CAST(n_l AS DOUBLE))
             |              * (1.0 - CAST(u_l AS DOUBLE) / CAST(n_l AS DOUBLE)))
             |      - (CAST(n - n_l AS DOUBLE) / CAST(n AS DOUBLE))
             |        * (1.0 - (CAST(u - u_l AS DOUBLE) / CAST(n - n_l AS DOUBLE))
             |              * (CAST(u - u_l AS DOUBLE) / CAST(n - n_l AS DOUBLE))
             |            - (1.0 - CAST(u - u_l AS DOUBLE) / CAST(n - n_l AS DOUBLE))
             |              * (1.0 - CAST(u - u_l AS DOUBLE) / CAST(n - n_l AS DOUBLE))),
             |      6) AS gini_gain
             |  FROM per
             |)
             |SELECT k, threshold, n_l, u_l, n_r, u_r, gini_gain,
             |  gini_gain = MAX(gini_gain) OVER () AS is_best
             |FROM g
             |ORDER BY k""".stripMargin)),

    // ---- k-anonymity / l-diversity audit: quasi-identifier =
    // ---- (nation, market segment, account-balance band); sensitive
    // ---- attribute = the customer's order priorities. Re-identifi-
    // ---- cation risk is a group-size question — one hash-shuffle on
    // ---- the QI key after the customer-keyed order join. Bands use
    // ---- FLOOR over the double quotient (negative balances floor
    // ---- identically in both engines). ------------------------------
    Q("q267_k_anonymity",
      (s, dir) => {
        val cust = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey").as("nation"),
            col("c_mktsegment").as("segment"),
            floor(col("c_acctbal") / 2000.0).cast("long").as("bal_band"))
        val sens = cust.join(
          t(s, dir, "orders").select(col("o_custkey").as("c_custkey"),
            col("o_orderpriority")),
          Seq("c_custkey"), "left")
        sens.groupBy("nation", "segment", "bal_band")
          .agg(countDistinct(col("c_custkey")).as("group_size"),
            countDistinct(col("o_orderpriority")).as("l_distinct"))
          .select(col("nation"), col("segment"), col("bal_band"),
            col("group_size"), col("l_distinct"),
            (col("group_size") >= KAnon).as("k_anonymous"),
            (col("l_distinct") >= LDiv).as("l_diverse"))
          .orderBy("nation", "segment", "bal_band")
      },
      Some(s"""WITH cust AS (
             |  SELECT c_custkey, c_nationkey AS nation,
             |    c_mktsegment AS segment,
             |    CAST(FLOOR(c_acctbal / 2000.0) AS BIGINT) AS bal_band
             |  FROM customer
             |)
             |SELECT nation, segment, bal_band,
             |  CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS group_size,
             |  CAST(COUNT(DISTINCT o.o_orderpriority) AS BIGINT) AS l_distinct,
             |  COUNT(DISTINCT c.c_custkey) >= $KAnon AS k_anonymous,
             |  COUNT(DISTINCT o.o_orderpriority) >= $LDiv AS l_diverse
             |FROM cust c
             |LEFT JOIN orders o ON o.o_custkey = c.c_custkey
             |GROUP BY 1, 2, 3
             |ORDER BY nation, segment, bal_band""".stripMargin)),

    // ---- difference-in-differences: treatment = even user ids,
    // ---- post-period = the second half of the observed day range
    // ---- (integer midpoint off a broadcast 1-row aggregate). Cell
    // ---- means use the DECIMAL(12,2) value discipline; the DiD
    // ---- estimate is extracted per cell with MAX(CASE) — a FIXED
    // ---- (T,post − T,pre − C,post + C,pre) tree over the four
    // ---- rounded means, no order-dependent double sum. --------------
    Q("q268_diff_in_diff",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select((col("user_id") % 2L === 0L).as("treated"),
            floor(unix_micros(col("ts")) / 86400000000L).cast("long")
              .as("day"),
            col("value"))
        val mid = ev.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
          .select(expr("(mn + mx + 1) div 2").as("mid_day"))
        val cells = ev.crossJoin(broadcast(mid))
          .groupBy(col("treated"), (col("day") >= col("mid_day")).as("post"))
          .agg(count(lit(1)).as("n"), sum(dec("value")).as("sv"))
          .select(col("treated"), col("post"), col("n"),
            round(col("sv").cast("double") / col("n").cast("double"), 6)
              .as("mean_value"))
        def cell(tr: Boolean, po: Boolean) =
          max(when(col("treated") === tr && col("post") === po,
            col("mean_value")))
        val did = cells.agg(
          round(cell(tr = true, po = true) - cell(tr = true, po = false) -
            cell(tr = false, po = true) + cell(tr = false, po = false), 6)
            .as("did_estimate"))
        cells.crossJoin(broadcast(did))
          .select(col("treated"), col("post"), col("n"), col("mean_value"),
            col("did_estimate"))
          .orderBy("treated", "post")
      },
      Some("""WITH ev AS (
             |  SELECT user_id % 2 = 0 AS treated,
             |    CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
             |    value
             |  FROM events
             |), mid AS (
             |  SELECT (MIN(day) + MAX(day) + 1) // 2 AS mid_day FROM ev
             |), cells AS (
             |  SELECT treated, day >= mid_day AS post,
             |    CAST(COUNT(*) AS BIGINT) AS n,
             |    ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
             |      / CAST(COUNT(*) AS DOUBLE), 6) AS mean_value
             |  FROM ev CROSS JOIN mid
             |  GROUP BY 1, 2
             |), did AS (
             |  SELECT ROUND(
             |      MAX(CASE WHEN treated AND post THEN mean_value END)
             |    - MAX(CASE WHEN treated AND NOT post THEN mean_value END)
             |    - MAX(CASE WHEN NOT treated AND post THEN mean_value END)
             |    + MAX(CASE WHEN NOT treated AND NOT post THEN mean_value END),
             |    6) AS did_estimate
             |  FROM cells
             |)
             |SELECT treated, post, n, mean_value, did_estimate
             |FROM cells CROSS JOIN did
             |ORDER BY treated, post""".stripMargin)),

    // ---- Flesch-style readability: syllables = maximal vowel-group
    // ---- runs (the classic heuristic), sentences = period count
    // ---- floored at 1, reading ease = 206.835 − 1.015·(W/S) −
    // ---- 84.6·(Y/W) on a fixed expression tree. Pure per-row
    // ---- expressions — codegen'd, no shuffle before the sort. -------
    Q("q269_readability",
      (s, dir) => {
        val words = split(col("text"), " ")
        val nW = greatest(size(words), lit(1)).cast("long")
        val nS = greatest(
          size(regexp_extract_all(col("text"), lit("\\."), lit(0))), lit(1))
          .cast("long")
        val nY = size(regexp_extract_all(lower(col("text")),
          lit("[aeiouy]+"), lit(0))).cast("long")
        val ease = round(lit(206.835) -
          lit(1.015) * (nW.cast("double") / nS.cast("double")) -
          lit(84.6) * (nY.cast("double") / nW.cast("double")), 6)
        t(s, dir, "documents")
          .select(col("doc_id"), nW.as("n_words"), nS.as("n_sentences"),
            nY.as("n_syllables"), ease.as("reading_ease"),
            when(ease >= 70.0, "easy").when(ease >= 50.0, "medium")
              .otherwise("hard").as("band"))
          .orderBy("doc_id")
      },
      Some("""WITH f AS (
             |  SELECT doc_id,
             |    CAST(GREATEST(len(string_split(text, ' ')), 1) AS BIGINT)
             |      AS n_words,
             |    CAST(GREATEST(len(regexp_extract_all(text, '\.')), 1)
             |      AS BIGINT) AS n_sentences,
             |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
             |      AS BIGINT) AS n_syllables
             |  FROM documents
             |), e AS (
             |  SELECT doc_id, n_words, n_sentences, n_syllables,
             |    ROUND(206.835
             |      - 1.015 * (CAST(n_words AS DOUBLE)
             |          / CAST(n_sentences AS DOUBLE))
             |      - 84.6 * (CAST(n_syllables AS DOUBLE)
             |          / CAST(n_words AS DOUBLE)), 6) AS reading_ease
             |  FROM f
             |)
             |SELECT doc_id, n_words, n_sentences, n_syllables, reading_ease,
             |  CASE WHEN reading_ease >= 70.0 THEN 'easy'
             |       WHEN reading_ease >= 50.0 THEN 'medium'
             |       ELSE 'hard' END AS band
             |FROM e
             |ORDER BY doc_id""".stripMargin)),

    // ---- corpus top principal component by power iteration: the
    // ---- dominant variance direction of the embedding table — the
    // ---- first thing to inspect before whitening or anisotropy
    // ---- correction. The O(n·d²) moment pass is the only data-sized
    // ---- stage (distributed, one shuffle, cached per (app, dir) like
    // ---- every other train-once index artifact); the d×d covariance
    // ---- (4096 rows at d=64) is metadata-sized, so the 8 exact-
    // ---- integer iterations run on collected values — the q121/q207
    // ---- collect-the-scalar pattern, not a data-sized collect. The
    // ---- oracle unrolls the identical BIGINT chain (MATERIALIZED
    // ---- CTEs — see the k-core CTE-inlining note in NEXT.md). -------
    Q("q270_pca_power",
      (s, dir) => {
        import s.implicits._
        pcaLoadings(s, dir).toSeq
          .toDF("dim", "loading_units").orderBy("dim")
      },
      Some(s"""$PcaCteSql
           |SELECT dim, CAST(v * s AS BIGINT) AS loading_units
           |FROM v$PcaIters CROSS JOIN sgn
           |ORDER BY dim""".stripMargin))
  )


}
