package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Thirty-seventh analytics pack (round 6, session 8): absorbing-
  * Markov conversion probabilities, content-defined chunking (the
  * storage-dedup boundary scheme), exact covariate matching ATT, a
  * partition-pruning effectiveness audit, and the empirical
  * variogram.
  *
  * Exactness discipline unchanged: the Markov value iteration is
  * all-integer micro-units with truncating division on positive
  * counts, chunk boundaries come from the portable md5 window hash,
  * matching pairs by rank inside exact covariate cells, and every
  * squared-difference sum is BIGINT. */
object Analytics37 {

  /** q291 horizon (steps of the value iteration). */
  private val MkSteps = 6

  /** q292 rolling window width and boundary modulus (expected chunk
    * size = Mod chars). */
  private val CdcWin = 8
  private val CdcMod = 64

  /** q295 variogram lags. */
  private val VgLags = 10

  val all: Seq[Q] = Seq(

    // ---- absorbing-Markov conversion: P(reach 'purchase' within 6
    // ---- steps | current event type), by value iteration over the
    // ---- empirical transition counts — p_{k+1}(i) = Σ_j c_ij·p_k(j)
    // ---- div c_i in micro-units, purchase pinned at 1. The matrix is
    // ---- event-type-sized (metadata); the count pass is the only
    // ---- data-sized stage, and the iteration runs on collected
    // ---- values with the oracle unrolling the identical integer
    // ---- chain. ----------------------------------------------------
    Q("q291_absorbing_markov",
      (s, dir) => {
        val seq0 = t(s, dir, "events")
          .select(col("user_id"), col("event_type"),
            row_number().over(Window.partitionBy("user_id")
              .orderBy(col("ts"), col("event_id"))).as("rn"))
        val trans0 = seq0.as("a").join(seq0.as("b"),
            col("a.user_id") === col("b.user_id") &&
              col("b.rn") === col("a.rn") + 1)
          .groupBy(col("a.event_type").as("cur"),
            col("b.event_type").as("nxt"))
          .agg(count(lit(1)).as("c"))
        // event-type × event-type lattice — bounded driver collect
        val trans = graft.operators.Lattice.collectBounded(trans0,
            10000, "q291 event-type transition matrix")
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        val states = trans.flatMap(t => Seq(t._1, t._2)).distinct.sorted
        val outDeg = trans.groupBy(_._1).map { case (k, v) =>
          k -> v.map(_._3).sum
        }
        var p: Map[String, Long] = states.map(st =>
          st -> (if (st == "purchase") 1000000L else 0L)).toMap
        for (_ <- 1 to MkSteps) {
          p = states.map { st =>
            if (st == "purchase") st -> 1000000L
            else {
              val num = trans.filter(_._1 == st)
                .map { case (_, j, c) => c * p(j) }.sum
              st -> (outDeg.get(st) match {
                case Some(d) if d > 0 => num / d
                case _ => 0L
              })
            }
          }.toMap
        }
        import s.implicits._
        states.map(st => (st, p(st))).toSeq
          .toDF("event_type", "p_units")
          .select(col("event_type"), col("p_units"),
            round(col("p_units").cast("double") / 1e6, 6).as("p_convert"))
          .orderBy("event_type")
      },
      Some {
        val steps = (1 to MkSteps).map { k =>
          s"""p$k AS MATERIALIZED (
             |  SELECT s.st,
             |    CASE WHEN s.st = 'purchase' THEN CAST(1000000 AS BIGINT)
             |    ELSE COALESCE((
             |      SELECT CAST(SUM(t.c * pp.pu) // MIN(d.d) AS BIGINT)
             |      FROM trans t
             |      JOIN p${k - 1} pp ON pp.st = t.nxt
             |      JOIN deg d ON d.cur = t.cur
             |      WHERE t.cur = s.st), 0) END AS pu
             |  FROM states s
             |)""".stripMargin
        }.mkString(",\n")
        s"""WITH seq AS MATERIALIZED (
           |  SELECT user_id, event_type,
           |    ROW_NUMBER() OVER (PARTITION BY user_id
           |      ORDER BY ts, event_id) AS rn
           |  FROM events
           |), trans AS MATERIALIZED (
           |  SELECT a.event_type AS cur, b.event_type AS nxt,
           |    CAST(COUNT(*) AS BIGINT) AS c
           |  FROM seq a JOIN seq b
           |    ON a.user_id = b.user_id AND b.rn = a.rn + 1
           |  GROUP BY 1, 2
           |), states AS MATERIALIZED (
           |  SELECT DISTINCT st FROM (
           |    SELECT cur AS st FROM trans
           |    UNION ALL SELECT nxt FROM trans)
           |), deg AS MATERIALIZED (
           |  SELECT cur, CAST(SUM(c) AS BIGINT) AS d FROM trans GROUP BY cur
           |), p0 AS MATERIALIZED (
           |  SELECT st, CAST(CASE WHEN st = 'purchase' THEN 1000000
           |    ELSE 0 END AS BIGINT) AS pu
           |  FROM states
           |),
           |$steps
           |SELECT st AS event_type, pu AS p_units,
           |  ROUND(CAST(pu AS DOUBLE) / 1e6, 6) AS p_convert
           |FROM p$MkSteps
           |ORDER BY event_type""".stripMargin
      }),

    // ---- content-defined chunking (Rabin-style boundaries, the
    // ---- storage-dedup scheme that survives insertions where fixed-
    // ---- size blocks shift): a boundary falls after position p when
    // ---- the md5 of the trailing 8-char window ≡ 0 (mod 64). The
    // ---- char-position explode is the data-sized pass; per-chunk
    // ---- hashes then re-substring once per CHUNK (≈ len/64 rows),
    // ---- and the corpus-wide distinct ratio is the dedup headline.
    Q("q292_cdc_chunking",
      (s, dir) => {
        val docs = t(s, dir, "documents").where(col("doc_id") < 200)
          .select(col("doc_id"), col("text"))
        val pos = docs
          .select(col("doc_id"), col("text"),
            explode(sequence(lit(1), length(col("text")))).as("p"))
        val withB = pos.select(col("doc_id"), col("text"), col("p"),
          expr(s"cast(p >= $CdcWin AND " +
            s"conv(substring(md5(substring(text, cast(p - ${CdcWin - 1} " +
            s"as int), $CdcWin)), 29, 4), 16, 10) % $CdcMod = 0 " +
            "as long)").as("b"))
        val chunked = withB
          .withColumn("chunk", sum(col("b")).over(
            Window.partitionBy("doc_id").orderBy("p")
              .rowsBetween(Window.unboundedPreceding, -1)))
          .groupBy(col("doc_id"), coalesce(col("chunk"), lit(0L))
            .as("chunk"))
          .agg(min(col("p")).as("cstart"), count(lit(1)).as("clen"),
            first(col("text")).as("text"))
        val hashed = chunked.select(col("doc_id"), col("chunk"),
          col("clen"),
          expr("md5(substring(text, cast(cstart as int), " +
            "cast(clen as int)))").as("h"))
        val ratio = hashed.agg((countDistinct(col("h")).cast("double") /
          count(lit(1)).cast("double")).as("rr"))
        hashed.groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"), max(col("clen")).as("max_len"),
            round(sum(col("clen")).cast("double") /
              count(lit(1)).cast("double"), 6).as("avg_len"))
          .crossJoin(broadcast(ratio.select(round(col("rr"), 6)
            .as("corpus_distinct_ratio"))))
          .orderBy("doc_id")
      },
      Some(s"""WITH docs AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id < 200
             |), pos AS MATERIALIZED (
             |  SELECT doc_id, text, CAST(r.p AS BIGINT) AS p,
             |    CASE WHEN r.p >= $CdcWin AND
             |      ('0x' || substr(md5(substr(text,
             |        CAST(r.p - ${CdcWin - 1} AS INT), $CdcWin)), 29, 4))
             |        ::BIGINT % $CdcMod = 0
             |      THEN 1 ELSE 0 END AS b
             |  FROM docs, LATERAL (
             |    SELECT unnest(range(1, len(text) + 1)) AS p) r
             |), chunked AS MATERIALIZED (
             |  SELECT doc_id,
             |    COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY p
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS chunk,
             |    p, text
             |  FROM pos
             |), agg AS MATERIALIZED (
             |  SELECT doc_id, chunk, MIN(p) AS cstart,
             |    CAST(COUNT(*) AS BIGINT) AS clen, ANY_VALUE(text) AS text
             |  FROM chunked GROUP BY 1, 2
             |), hashed AS MATERIALIZED (
             |  SELECT doc_id, chunk, clen,
             |    md5(substr(text, CAST(cstart AS INT), CAST(clen AS INT)))
             |      AS h
             |  FROM agg
             |), ratio AS (
             |  SELECT ROUND(CAST(COUNT(DISTINCT h) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE), 6) AS corpus_distinct_ratio
             |  FROM hashed
             |)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
             |  CAST(MAX(clen) AS BIGINT) AS max_len,
             |  ROUND(CAST(SUM(clen) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             |    AS avg_len,
             |  ANY_VALUE(corpus_distinct_ratio) AS corpus_distinct_ratio
             |FROM hashed CROSS JOIN ratio
             |GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin)),

    // ---- exact covariate matching ATT: treatment = even customer
    // ---- key; match each treated customer to a control in the SAME
    // ---- (segment, balance-band) cell by within-cell rank — the
    // ---- deterministic skeleton of propensity matching (exact cells
    // ---- = infinite-caliper stratification). Outcome = lifetime
    // ---- spend in DECIMAL; ATT = mean pair difference. -------------
    Q("q293_matching_att",
      (s, dir) => {
        val outcome = t(s, dir, "orders").groupBy(col("o_custkey"))
          .agg(sum(dec("o_totalprice")).as("sp"))
        val cust = t(s, dir, "customer")
          .join(outcome, col("c_custkey") === col("o_custkey"), "left")
          .select(col("c_custkey").as("id"),
            (col("c_custkey") % 2L === 0L).as("treated"),
            col("c_mktsegment").as("seg"),
            floor(col("c_acctbal") / 2000.0).cast("long").as("band"),
            coalesce(col("sp"), lit(java.math.BigDecimal.ZERO)
              .cast(org.apache.spark.sql.types.DecimalType(12, 2)))
              .as("y"))
        // ~5 segments × ~7 bands × 2 arms — a bounded cell grid over a
        // data-scaled customer table: partitionBy would cap the sort at
        // ≤70 tasks. Within-cell rank via grouped prefix-sum instead.
        val ranked = graft.operators.Ranks.withPrefixSum(cust,
            Seq(col("seg"), col("band"), col("treated")), Seq(col("id")),
            lit(1L), "rk", "_n").drop("_n")
        val tr = ranked.where(col("treated"))
          .select(col("seg"), col("band"), col("rk"), col("id").as("tid"),
            col("y").as("ty"))
        val ct = ranked.where(!col("treated"))
          .select(col("seg"), col("band"), col("rk"), col("id").as("cid"),
            col("y").as("cy"))
        val pairs = tr.join(ct, Seq("seg", "band", "rk"))
        pairs.agg(count(lit(1)).as("n_pairs"),
            sum(col("ty")).as("sty"), sum(col("cy")).as("scy"))
          .select(col("n_pairs"),
            round(col("sty").cast("double") / col("n_pairs").cast("double"),
              6).as("mean_treated"),
            round(col("scy").cast("double") / col("n_pairs").cast("double"),
              6).as("mean_control"),
            round((col("sty") - col("scy")).cast("double") /
              col("n_pairs").cast("double"), 6).as("att"))
      },
      Some("""WITH outcome AS (
             |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(12,2)))
             |      AS sp
             |  FROM orders GROUP BY o_custkey
             |), cust AS (
             |  SELECT c_custkey AS id, c_custkey % 2 = 0 AS treated,
             |    c_mktsegment AS seg,
             |    CAST(FLOOR(c_acctbal / 2000.0) AS BIGINT) AS band,
             |    COALESCE(sp, CAST(0 AS DECIMAL(12,2))) AS y
             |  FROM customer LEFT JOIN outcome ON o_custkey = c_custkey
             |), ranked AS (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY seg, band, treated
             |    ORDER BY id) AS rk
             |  FROM cust
             |), pairs AS (
             |  SELECT t.y AS ty, c.y AS cy
             |  FROM (SELECT * FROM ranked WHERE treated) t
             |  JOIN (SELECT * FROM ranked WHERE NOT treated) c
             |    USING (seg, band, rk)
             |)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             |  ROUND(CAST(SUM(ty) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             |    AS mean_treated,
             |  ROUND(CAST(SUM(cy) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             |    AS mean_control,
             |  ROUND(CAST(SUM(ty) - SUM(cy) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE), 6) AS att
             |FROM pairs""".stripMargin)),

    // ---- partition-pruning effectiveness: with the fact laid out by
    // ---- order month, how many partitions would each predicate's
    // ---- min/max envelope skip, and how selective is it really —
    // ---- the q107 Z-order audit generalized to a predicate list.
    // ---- Envelope stats are one scan; the audit is arithmetic over
    // ---- the month-sized envelope table. ---------------------------
    Q("q294_pruning_stats",
      (s, dir) => {
        val env = t(s, dir, "orders")
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("part"))
          .agg(min(col("o_totalprice")).as("mn"),
            max(col("o_totalprice")).as("mx"), count(lit(1)).as("nrows"))
          .localCheckpoint(true)
        val preds = Seq(
          ("price > 450000", col("mx") > 450000.0, ">450000"),
          ("price < 5000", col("mn") < 5000.0, "<5000"),
          ("100000 <= price <= 150000",
            col("mx") >= 100000.0 && col("mn") <= 150000.0, "100k-150k"))
        val rowsMatched = t(s, dir, "orders").agg(
          sum(when(col("o_totalprice") > 450000.0, 1L).otherwise(0L))
            .as("m1"),
          sum(when(col("o_totalprice") < 5000.0, 1L).otherwise(0L))
            .as("m2"),
          sum(when(col("o_totalprice") >= 100000.0 &&
            col("o_totalprice") <= 150000.0, 1L).otherwise(0L)).as("m3"))
        val audits = preds.zipWithIndex.map { case ((name, overlap, _), i) =>
          env.agg(count(lit(1)).as("n_partitions"),
              sum(when(overlap, 1L).otherwise(0L)).as("n_scanned"),
              sum(when(overlap, col("nrows")).otherwise(0L))
                .as("rows_scanned"))
            .crossJoin(broadcast(rowsMatched))
            .select(lit(name).as("predicate"), col("n_partitions"),
              (col("n_partitions") - col("n_scanned")).as("n_pruned"),
              col("rows_scanned"), col(s"m${i + 1}").as("rows_matched"))
        }
        audits.reduce(_ unionByName _).orderBy("predicate")
      },
      Some("""WITH env AS MATERIALIZED (
             |  SELECT strftime(o_orderdate, '%Y-%m') AS part,
             |    MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx,
             |    CAST(COUNT(*) AS BIGINT) AS nrows
             |  FROM orders GROUP BY 1
             |), m AS (
             |  SELECT
             |    CAST(SUM(CASE WHEN o_totalprice > 450000.0 THEN 1
             |      ELSE 0 END) AS BIGINT) AS m1,
             |    CAST(SUM(CASE WHEN o_totalprice < 5000.0 THEN 1
             |      ELSE 0 END) AS BIGINT) AS m2,
             |    CAST(SUM(CASE WHEN o_totalprice BETWEEN 100000.0
             |      AND 150000.0 THEN 1 ELSE 0 END) AS BIGINT) AS m3
             |  FROM orders
             |)
             |SELECT 'price > 450000' AS predicate,
             |  CAST(COUNT(*) AS BIGINT) AS n_partitions,
             |  CAST(COUNT(*) - SUM(CASE WHEN mx > 450000.0 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_pruned,
             |  CAST(SUM(CASE WHEN mx > 450000.0 THEN nrows ELSE 0 END)
             |    AS BIGINT) AS rows_scanned,
             |  ANY_VALUE(m1) AS rows_matched
             |FROM env CROSS JOIN m
             |UNION ALL
             |SELECT 'price < 5000', CAST(COUNT(*) AS BIGINT),
             |  CAST(COUNT(*) - SUM(CASE WHEN mn < 5000.0 THEN 1 ELSE 0 END)
             |    AS BIGINT),
             |  CAST(SUM(CASE WHEN mn < 5000.0 THEN nrows ELSE 0 END)
             |    AS BIGINT),
             |  ANY_VALUE(m2)
             |FROM env CROSS JOIN m
             |UNION ALL
             |SELECT '100000 <= price <= 150000', CAST(COUNT(*) AS BIGINT),
             |  CAST(COUNT(*) - SUM(CASE WHEN mx >= 100000.0
             |    AND mn <= 150000.0 THEN 1 ELSE 0 END) AS BIGINT),
             |  CAST(SUM(CASE WHEN mx >= 100000.0 AND mn <= 150000.0
             |    THEN nrows ELSE 0 END) AS BIGINT),
             |  ANY_VALUE(m3)
             |FROM env CROSS JOIN m
             |ORDER BY predicate""".stripMargin)),

    // ---- empirical variogram of the daily kilodollar series at lags
    // ---- 1..10: γ(h) = Σ(x_{t+h} − x_t)² / (2·n_h), the
    // ---- autocorrelation-free dependence fingerprint (geostatistics'
    // ---- answer to q158's ACF). Squared diffs are exact BIGINT; the
    // ---- lag join is an equi-join on the shifted rank. -------------
    Q("q295_variogram",
      (s, dir) => {
        val base = Analytics35.dailyDollars(s, dir)
          .select(col("day"), expr("x div 1000").as("xk"))
          .withColumn("rn", row_number().over(Window.orderBy("day"))
            .cast("long"))
          .localCheckpoint(true)
        base
          .crossJoin(broadcast(s.range(1, VgLags + 1).select(col("id")
            .as("lag"))))
          .select(col("lag"), (col("rn") + col("lag")).as("rn2"),
            col("xk").as("x1"))
          .join(base.select(col("rn").as("rn2"), col("xk").as("x2")),
            Seq("rn2"))
          .groupBy("lag")
          .agg(count(lit(1)).as("n_pairs"),
            sum((col("x2") - col("x1")) * (col("x2") - col("x1")))
              .as("ssq"))
          .select(col("lag"), col("n_pairs"),
            round(col("ssq").cast("double") /
              (lit(2.0) * col("n_pairs").cast("double")), 6).as("gamma"))
          .orderBy("lag")
      },
      Some(s"""WITH base AS MATERIALIZED (
             |  SELECT day, x // 1000 AS xk,
             |    ROW_NUMBER() OVER (ORDER BY day) AS rn
             |  FROM (${Analytics35.DailyDollarsSql.replace("\n", "\n  ")})
             |)
             |SELECT l.lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             |  ROUND(CAST(SUM((b.xk - a.xk) * (b.xk - a.xk)) AS DOUBLE)
             |    / (2.0 * CAST(COUNT(*) AS DOUBLE)), 6) AS gamma
             |FROM range(1, ${VgLags + 1}) l(lag)
             |JOIN base a ON TRUE
             |JOIN base b ON b.rn = a.rn + l.lag
             |GROUP BY l.lag
             |ORDER BY l.lag""".stripMargin))
  )
}
