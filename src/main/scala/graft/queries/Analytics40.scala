package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fortieth analytics pack (round 6, session 8): exact Kendall τ-b,
  * a decile gains/lift table, time-weighted concurrency percentiles,
  * a Chapman capture–recapture vocabulary estimate, and the
  * content-defined-chunking dedup savings sweep.
  *
  * Exactness discipline unchanged: concordance counts, time-weighted
  * durations, and mark counts are exact BIGINTs; every ratio is one
  * fixed double tree. */
object Analytics40 {

  /** q306 bounded slice (τ is all-pairs; the banded/sampled variant is
    * the scale path, as with q41/q79). */
  private val TauSlice = 1500

  /** q310 sweep of boundary moduli (expected chunk sizes). */
  private val SweepMods = Seq(32, 64, 128)

  val all: Seq[Q] = Seq(

    // ---- exact Kendall τ-b between an order's value and its line
    // ---- count, over a bounded key slice (all-pairs is O(n²) by
    // ---- definition — the rank-based q191 Spearman is the scale
    // ---- path). Concordant/discordant/tie counts are exact integer
    // ---- sums over the pair join; τ-b applies both tie
    // ---- corrections. ----------------------------------------------
    Q("q306_kendall_tau",
      (s, dir) => {
        val o = t(s, dir, "orders").where(col("o_orderkey") <= TauSlice)
          .join(t(s, dir, "lineitem").groupBy(col("l_orderkey"))
            .agg(count(lit(1)).as("nl")),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_orderkey").as("k"),
            round(col("o_totalprice") * 100).cast("long").as("x"),
            col("nl").as("y"))
          .localCheckpoint(true)
        val pairs = o.as("a").join(o.as("b"), col("a.k") < col("b.k"))
          .select(signum((col("a.x") - col("b.x")).cast("double"))
            .cast("long").as("sx"),
            signum((col("a.y") - col("b.y")).cast("double")).cast("long")
              .as("sy"))
        pairs.agg(count(lit(1)).as("n0"),
            sum(when(col("sx") * col("sy") === 1L, 1L).otherwise(0L))
              .as("concordant"),
            sum(when(col("sx") * col("sy") === -1L, 1L).otherwise(0L))
              .as("discordant"),
            sum(when(col("sx") === 0L, 1L).otherwise(0L)).as("ties_x"),
            sum(when(col("sy") === 0L, 1L).otherwise(0L)).as("ties_y"))
          .select(col("n0"), col("concordant"), col("discordant"),
            round((col("concordant") - col("discordant")).cast("double") /
              sqrt((col("n0") - col("ties_x")).cast("double") *
                (col("n0") - col("ties_y")).cast("double")), 6).as("tau_b"))
      },
      Some(s"""WITH o AS MATERIALIZED (
             |  SELECT o_orderkey AS k,
             |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x,
             |    CAST(nl AS BIGINT) AS y
             |  FROM orders
             |  JOIN (SELECT l_orderkey, COUNT(*) AS nl FROM lineitem
             |        GROUP BY 1) li ON l_orderkey = o_orderkey
             |  WHERE o_orderkey <= $TauSlice
             |), pairs AS (
             |  SELECT CAST(SIGN(a.x - b.x) AS BIGINT) AS sx,
             |    CAST(SIGN(a.y - b.y) AS BIGINT) AS sy
             |  FROM o a JOIN o b ON a.k < b.k
             |)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n0,
             |  CAST(SUM(CASE WHEN sx * sy = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS concordant,
             |  CAST(SUM(CASE WHEN sx * sy = -1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS discordant,
             |  ROUND(CAST(SUM(CASE WHEN sx * sy = 1 THEN 1 ELSE 0 END)
             |      - SUM(CASE WHEN sx * sy = -1 THEN 1 ELSE 0 END)
             |      AS DOUBLE)
             |    / sqrt(CAST(COUNT(*) - SUM(CASE WHEN sx = 0 THEN 1
             |        ELSE 0 END) AS DOUBLE)
             |      * CAST(COUNT(*) - SUM(CASE WHEN sy = 0 THEN 1
             |        ELSE 0 END) AS DOUBLE)), 6) AS tau_b
             |FROM pairs""".stripMargin)),

    // ---- decile gains/lift table for price-as-a-predictor of urgent
    // ---- priority: rank orders by score descending, report each
    // ---- decile's cumulative capture of positives and the lift over
    // ---- random targeting — the campaign-targeting evaluation (q215
    // ---- ROC / q216 calibration complete the trio). All counts
    // ---- exact; NTILE splits deterministically with the key
    // ---- tie-break. ------------------------------------------------
    Q("q307_gains_table",
      (s, dir) => {
        // score deciles via distributed rank (orders-grain)
        val lab = t(s, dir, "orders")
          .select(col("o_totalprice"), col("o_orderkey"),
            col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
              .as("y"))
        val nAll = lab.agg(count(lit(1)).as("n_all"))
        val scored = graft.operators.Ranks
          .withGlobalRank(lab,
            Seq(desc("o_totalprice"), asc("o_orderkey")), "rn")
          .crossJoin(broadcast(nAll))
          .select(graft.operators.Ranks
              .ntileFromRank(col("rn"), col("n_all"), 10).as("decile"),
            col("y"))
        val per = scored.groupBy("decile")
          .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
        val w = Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, 0)
        per
          .withColumn("cum_n", sum(col("n")).over(w))
          .withColumn("cum_pos", sum(col("pos")).over(w))
          .crossJoin(broadcast(per.agg(sum(col("pos")).as("tot_pos"),
            sum(col("n")).as("tot_n"))))
          .select(col("decile"), col("n"), col("pos"),
            round(col("cum_pos").cast("double") / col("tot_pos")
              .cast("double"), 6).as("cum_capture"),
            round((col("cum_pos").cast("double") / col("tot_pos")
              .cast("double")) /
              (col("cum_n").cast("double") / col("tot_n").cast("double")),
              6).as("lift"))
          .orderBy("decile")
      },
      Some("""WITH scored AS (
             |  SELECT CAST(NTILE(10) OVER (ORDER BY o_totalprice DESC,
             |      o_orderkey) AS INTEGER) AS decile,
             |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |      THEN 1 ELSE 0 END AS y
             |  FROM orders
             |), per AS (
             |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(y) AS BIGINT) AS pos
             |  FROM scored GROUP BY decile
             |), cum AS (
             |  SELECT decile, n, pos,
             |    SUM(n) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
             |      AS cum_n,
             |    SUM(pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
             |      AS cum_pos
             |  FROM per
             |), tot AS (
             |  SELECT CAST(SUM(pos) AS BIGINT) AS tot_pos,
             |    CAST(SUM(n) AS BIGINT) AS tot_n
             |  FROM per
             |)
             |SELECT decile, n, pos,
             |  ROUND(CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE), 6)
             |    AS cum_capture,
             |  ROUND((CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE))
             |    / (CAST(cum_n AS DOUBLE) / CAST(tot_n AS DOUBLE)), 6)
             |    AS lift
             |FROM cum CROSS JOIN tot
             |ORDER BY decile""".stripMargin)),

    // ---- time-weighted concurrency percentiles: how many 30-minute
    // ---- sessions are open at once, as a distribution over TIME —
    // ---- sweep-line ±1 deltas, a running level, per-level integer
    // ---- µs durations, and the smallest level whose cumulative
    // ---- duration reaches q·T (the capacity-planning view; q213's
    // ---- peak is the max of this distribution). --------------------
    Q("q308_concurrency_pcts",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_id"))
        val w = Window.partitionBy("user_id").orderBy(col("us"),
          col("event_id"))
        val gap = 1800000000L
        val sess = ev
          .withColumn("prev", lag(col("us"), 1).over(w))
          .withColumn("brk",
            when(col("prev").isNull || col("us") - col("prev") > gap, 1L)
              .otherwise(0L))
          .withColumn("sid", sum(col("brk")).over(
            Window.partitionBy("user_id").orderBy(col("us"),
              col("event_id")).rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "sid")
          .agg(min(col("us")).as("st"), (max(col("us")) + gap).as("en"))
        val deltas = sess.select(col("st").as("ts"), lit(1L).as("d"))
          .unionByName(sess.select(col("en").as("ts"), lit(-1L).as("d")))
          .groupBy("ts").agg(sum(col("d")).as("d"))
        // fused sweep line: ONE frozen range layout yields the running
        // level (per-partition prefix sum + broadcast offsets), the
        // successor timestamp (lead within partition + the next
        // partition's first ts from the same census) and the per-level
        // durations — r7's separate rank self-join and second prefix
        // pass are folded away. Endpoint grain scales with events, so
        // everything row-level stays distributed; the census is
        // shuffle-partition-sized metadata.
        val np = s.sessionState.conf.numShufflePartitions
        val parted = deltas.repartitionByRange(np, col("ts"))
          .sortWithinPartitions("ts")
          .withColumn("_pid", shiftright(monotonically_increasing_id(), 33))
          .localCheckpoint(false)
        val census = parted.groupBy("_pid")
          .agg(sum(col("d")).as("sd"), min(col("ts")).as("fts"))
          .collect().sortBy(_.getLong(0)) // ≤ np rows (metadata-sized)
        val offRows = census.zipWithIndex.map { case (r, i) =>
          val off = census.take(i).map(_.getLong(1)).sum
          val nft: java.lang.Long =
            if (i + 1 < census.length) census(i + 1).getLong(2) else null
          (r.getLong(0), off, nft)
        }.toSeq
        import s.implicits._
        val offDf = offRows.toDF("_pid", "_off", "_nft")
        val lw = Window.partitionBy("_pid").orderBy("ts")
        val lev = parted.join(broadcast(offDf), Seq("_pid"))
          .withColumn("level", col("_off") + sum(col("d")).over(
            lw.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("nxt", coalesce(lead(col("ts"), 1).over(lw),
            col("_nft")))
          .where(col("nxt").isNotNull) // global last endpoint: no successor
          .select(col("level"), (col("nxt") - col("ts")).as("dur"))
        // all four readouts from ONE histogram job: the three quantile
        // crossings plus the peak as the (1,1) crossing (= max level).
        // Hint: concurrency peak < 2^17 simultaneous sessions — exact-
        // collectable axis; a larger peak lands on the side-tagged
        // global coarse grid and refines in one more round (the r9
        // two-grid round 0 — the collect bound no longer depends on
        // the hint holding). Empty events table → empty result, same
        // as the oracle's unmatched quantile selects.
        val qs = graft.operators.Select.weightedQuantilesLong(lev,
          col("level"), col("dur"),
          Seq((50L, 100L), (90L, 100L), (99L, 100L), (1L, 1L)),
          domainHint = (0L, (1L << 17) - 1), buckets = 1 << 15)
        if (qs.isEmpty) Seq.empty[(Long, Long, Long, Long)]
          .toDF("p50", "p90", "p99", "peak")
        else Seq((qs((50L, 100L)), qs((90L, 100L)), qs((99L, 100L)),
          qs((1L, 1L)))).toDF("p50", "p90", "p99", "peak")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, epoch_us(ts) AS us, event_id FROM events
             |), sess AS (
             |  SELECT user_id, sid, MIN(us) AS st,
             |    MAX(us) + 1800000000 AS en
             |  FROM (
             |    SELECT user_id, us,
             |      SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
             |        ROWS UNBOUNDED PRECEDING) AS sid
             |    FROM (
             |      SELECT user_id, us, event_id,
             |        CASE WHEN lag(us) OVER (PARTITION BY user_id
             |            ORDER BY us, event_id) IS NULL
             |          OR us - lag(us) OVER (PARTITION BY user_id
             |            ORDER BY us, event_id) > 1800000000
             |          THEN 1 ELSE 0 END AS brk
             |      FROM ev))
             |  GROUP BY user_id, sid
             |), deltas AS (
             |  SELECT ts, CAST(SUM(d) AS BIGINT) AS d FROM (
             |    SELECT st AS ts, 1 AS d FROM sess
             |    UNION ALL SELECT en, -1 FROM sess)
             |  GROUP BY ts
             |), levels AS MATERIALIZED (
             |  SELECT level, CAST(SUM(dur) AS BIGINT) AS dur FROM (
             |    SELECT SUM(d) OVER (ORDER BY ts ROWS UNBOUNDED PRECEDING)
             |        AS level,
             |      lead(ts) OVER (ORDER BY ts) - ts AS dur
             |    FROM deltas)
             |  WHERE dur IS NOT NULL
             |  GROUP BY level
             |), ranked AS (
             |  SELECT level,
             |    SUM(dur) OVER (ORDER BY level ROWS UNBOUNDED PRECEDING)
             |      AS cum,
             |    (SELECT SUM(dur) FROM levels) AS tt
             |  FROM levels
             |)
             |SELECT
             |  CAST((SELECT MIN(level) FROM ranked
             |    WHERE cum * 100 >= tt * 50) AS BIGINT) AS p50,
             |  CAST((SELECT MIN(level) FROM ranked
             |    WHERE cum * 100 >= tt * 90) AS BIGINT) AS p90,
             |  CAST((SELECT MIN(level) FROM ranked
             |    WHERE cum * 100 >= tt * 99) AS BIGINT) AS p99,
             |  CAST((SELECT MAX(level) FROM levels) AS BIGINT) AS peak""".stripMargin)),

    // ---- Chapman capture–recapture estimate of the vocabulary size:
    // ---- odd and even documents are the two "captures", shared words
    // ---- the marks; N̂ = (nA+1)(nB+1)/(m+1) − 1, integer-floored in
    // ---- both engines, audited against the true distinct count —
    // ---- the ecology estimator that prices how much vocabulary the
    // ---- corpus has not shown yet. ---------------------------------
    Q("q309_capture_recapture",
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .where(length(col("w")) > 0)
          .select((col("doc_id") % 2 === 0).as("even"), col("w"))
          .distinct()
          .localCheckpoint(true)
        val agg = toks.groupBy("w")
          .agg(max(when(col("even"), 1L).otherwise(0L)).as("inA"),
            max(when(!col("even"), 1L).otherwise(0L)).as("inB"))
          .agg(sum(col("inA")).as("na"), sum(col("inB")).as("nb"),
            sum(col("inA") * col("inB")).as("m"),
            count(lit(1)).as("true_n"))
        agg.select(col("na"), col("nb"), col("m"), col("true_n"),
            expr("(na + 1) * (nb + 1) div (m + 1) - 1").as("n_hat"))
          .withColumn("coverage",
            round(col("true_n").cast("double") / col("n_hat").cast("double"),
              6))
      },
      Some("""WITH toks AS (
             |  SELECT DISTINCT doc_id % 2 = 0 AS even, w FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
             |    FROM documents)
             |  WHERE len(w) > 0
             |), agg AS (
             |  SELECT CAST(SUM(inA) AS BIGINT) AS na,
             |    CAST(SUM(inB) AS BIGINT) AS nb,
             |    CAST(SUM(inA * inB) AS BIGINT) AS m,
             |    CAST(COUNT(*) AS BIGINT) AS true_n
             |  FROM (
             |    SELECT w, MAX(CASE WHEN even THEN 1 ELSE 0 END) AS inA,
             |      MAX(CASE WHEN NOT even THEN 1 ELSE 0 END) AS inB
             |    FROM toks GROUP BY w)
             |)
             |SELECT na, nb, m, true_n,
             |  (na + 1) * (nb + 1) // (m + 1) - 1 AS n_hat,
             |  ROUND(CAST(true_n AS DOUBLE)
             |    / CAST((na + 1) * (nb + 1) // (m + 1) - 1 AS DOUBLE), 6)
             |    AS coverage
             |FROM agg""".stripMargin)),

    // ---- dedup savings sweep: q292's content-defined chunking at
    // ---- three boundary moduli — smaller chunks find more duplicate
    // ---- content but cost more index entries; the sweep prices that
    // ---- trade. savings = 1 − (bytes of DISTINCT chunks / total
    // ---- bytes), exact integer lengths throughout. -----------------
    Q("q310_dedup_savings",
      (s, dir) => {
        val docs = t(s, dir, "documents").where(col("doc_id") < 200)
          .select(col("doc_id"), col("text"))
          .localCheckpoint(true)
        val rows = SweepMods.map { mod =>
          val pos = docs.select(col("doc_id"), col("text"),
            explode(sequence(lit(1), length(col("text")))).as("p"))
          val withB = pos.select(col("doc_id"), col("text"), col("p"),
            expr(s"cast(p >= 8 AND conv(substring(md5(substring(text, " +
              s"cast(p - 7 as int), 8)), 29, 4), 16, 10) % $mod = 0 " +
              "as long)").as("b"))
          val hashed = withB
            .withColumn("chunk", sum(col("b")).over(
              Window.partitionBy("doc_id").orderBy("p")
                .rowsBetween(Window.unboundedPreceding, -1)))
            .groupBy(col("doc_id"), coalesce(col("chunk"), lit(0L))
              .as("chunk"))
            .agg(min(col("p")).as("cstart"), count(lit(1)).as("clen"),
              first(col("text")).as("text"))
            .select(col("clen"),
              expr("md5(substring(text, cast(cstart as int), " +
                "cast(clen as int)))").as("h"))
          hashed.agg(count(lit(1)).as("n_chunks"),
              sum(col("clen")).as("total_bytes"))
            .crossJoin(hashed.groupBy("h")
              .agg(first(col("clen")).as("l")).agg(sum(col("l"))
                .as("distinct_bytes")))
            .select(lit(mod).as("modulus"), col("n_chunks"),
              col("total_bytes"),
              round(lit(1.0) - col("distinct_bytes").cast("double") /
                col("total_bytes").cast("double"), 6).as("savings"))
        }
        rows.reduce(_ unionByName _).orderBy("modulus")
      },
      Some {
        val per = SweepMods.map { mod =>
          s"""SELECT $mod AS modulus,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM hashed$mod)
             |    AS n_chunks,
             |  (SELECT CAST(SUM(clen) AS BIGINT) FROM hashed$mod)
             |    AS total_bytes,
             |  ROUND(1.0 - CAST((SELECT SUM(l) FROM (
             |      SELECT ANY_VALUE(clen) AS l FROM hashed$mod GROUP BY h))
             |      AS DOUBLE)
             |    / CAST((SELECT SUM(clen) FROM hashed$mod) AS DOUBLE), 6)
             |    AS savings""".stripMargin
        }.mkString("\nUNION ALL\n")
        val chains = SweepMods.map { mod =>
          s"""pos$mod AS (
             |  SELECT doc_id, text, CAST(r.p AS BIGINT) AS p,
             |    CASE WHEN r.p >= 8 AND
             |      ('0x' || substr(md5(substr(text, CAST(r.p - 7 AS INT),
             |        8)), 29, 4))::BIGINT % $mod = 0
             |      THEN 1 ELSE 0 END AS b
             |  FROM docs, LATERAL (
             |    SELECT unnest(range(1, len(text) + 1)) AS p) r
             |), agg$mod AS MATERIALIZED (
             |  SELECT doc_id, chunk, MIN(p) AS cstart,
             |    CAST(COUNT(*) AS BIGINT) AS clen, ANY_VALUE(text) AS text
             |  FROM (
             |    SELECT doc_id, p, text,
             |      COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY p
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |        AS chunk
             |    FROM pos$mod)
             |  GROUP BY 1, 2
             |), hashed$mod AS MATERIALIZED (
             |  SELECT clen, md5(substr(text, CAST(cstart AS INT),
             |    CAST(clen AS INT))) AS h
             |  FROM agg$mod
             |)""".stripMargin
        }.mkString(",\n")
        s"""WITH docs AS MATERIALIZED (
           |  SELECT doc_id, text FROM documents WHERE doc_id < 200
           |),
           |$chains
           |$per
           |ORDER BY modulus""".stripMargin
      })
  )
}
