package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.GraphRank
import graft.text.TextAnalysis

/** Thirty-first analytics pack (round 6, session 8): ordered event
  * 3-grams, weight-of-evidence risk binning, a langid confusion
  * matrix, TextRank keyword extraction over the word co-occurrence
  * graph, and a daily churn series.
  *
  * Exactness discipline unchanged: sequence joins are equi-keyed on
  * shifted positions (never a per-user cartesian), PageRank stays in
  * BIGINT micro-units (GraphRank), and every ln result is rounded to
  * the 1e-6 grid before any further arithmetic. */
object Analytics31 {

  /** q264 tokens: ≥ 4 chars (drops function words without a stopword
    * list), vocabulary = words in ≥ 3 distinct docs. */
  private val MinDf = 3

  /** q264 oracle building blocks. */
  private val tokensSql =
    """SELECT doc_id, pos, s[pos+1] AS w FROM (
      |  SELECT doc_id, s, unnest(range(len(s))) AS pos FROM (
      |    SELECT doc_id, string_split(text, ' ') AS s FROM documents))
      |WHERE len(s[pos+1]) >= 4""".stripMargin

  private def vocabSql(wCol: String) =
    s"""SELECT w AS $wCol, CAST(ROW_NUMBER() OVER (ORDER BY w) AS BIGINT)
       |    AS wid
       |  FROM (SELECT w FROM ($tokensSql) GROUP BY w
       |        HAVING COUNT(DISTINCT doc_id) >= $MinDf)""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- ordered event 3-grams with bounded gaps: sequences a→b→c
    // ---- where each step skips at most 2 events — the PrefixSpan-
    // ---- lite pattern census (q154's Markov transitions are the
    // ---- distance-1 bigram slice; q257 the skip-gram pairs). Both
    // ---- hops are EQUI-joins on (user, shifted position) via a 3-way
    // ---- offset explode, so the work is O(events × 9), never a
    // ---- per-user cartesian. ----------------------------------------
    Q("q261_event_3grams",
      (s, dir) => {
        val seq = t(s, dir, "events")
          .select(col("user_id"), col("event_type"),
            row_number().over(Window.partitionBy("user_id")
              .orderBy(col("ts"), col("event_id"))).as("rn"))
        val offs = array((1 to 3).map(lit): _*)
        val ab = seq
          .select(col("user_id"), col("event_type").as("etype_a"),
            col("rn").as("ra"))
          .withColumn("d1", explode(offs))
          .select(col("user_id"), col("etype_a"),
            (col("ra") + col("d1")).as("rb"))
          .join(seq.select(col("user_id"), col("event_type").as("etype_b"),
            col("rn").as("rb")), Seq("user_id", "rb"))
        val abc = ab
          .withColumn("d2", explode(offs))
          .select(col("user_id"), col("etype_a"), col("etype_b"),
            (col("rb") + col("d2")).as("rc"))
          .join(seq.select(col("user_id"), col("event_type").as("etype_c"),
            col("rn").as("rc")), Seq("user_id", "rc"))
        abc.groupBy("etype_a", "etype_b", "etype_c")
          .agg(count(lit(1)).as("n_seqs"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy("etype_a", "etype_b", "etype_c")
      },
      Some("""WITH seq AS (
             |  SELECT user_id, event_type,
             |    ROW_NUMBER() OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS rn
             |  FROM events
             |)
             |SELECT a.event_type AS etype_a, b.event_type AS etype_b,
             |  c.event_type AS etype_c,
             |  CAST(COUNT(*) AS BIGINT) AS n_seqs,
             |  CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
             |FROM seq a
             |JOIN seq b ON a.user_id = b.user_id
             |  AND b.rn - a.rn BETWEEN 1 AND 3
             |JOIN seq c ON b.user_id = c.user_id
             |  AND c.rn - b.rn BETWEEN 1 AND 3
             |GROUP BY 1, 2, 3
             |ORDER BY etype_a, etype_b, etype_c""".stripMargin)),

    // ---- weight-of-evidence binning (credit-risk feature prep):
    // ---- price deciles vs the urgent-priority rate. Deciles are exact
    // ---- NTILE(10) over a total order — computed distributively
    // ---- (range-partitioned global rank + the ntile formula, never a
    // ---- single-task sort of the orders table); WoE = ln of an exact
    // ---- integer odds ratio, rounded to 1e-6 BEFORE the IV product so
    // ---- the downstream arithmetic is grid-deterministic. Degenerate
    // ---- bins (all/none urgent) yield NULL, not ±inf. ---------------
    Q("q262_woe_binning",
      (s, dir) => {
        val base = t(s, dir, "orders")
          .select(col("o_totalprice"), col("o_orderkey"),
            col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
              .as("urgent"))
        val nAll = base.agg(count(lit(1)).as("n_all"))
        val per = graft.operators.Ranks
          .withGlobalRank(base, Seq(col("o_totalprice"), col("o_orderkey")), "rn")
          .crossJoin(broadcast(nAll))
          .select(graft.operators.Ranks
              .ntileFromRank(col("rn"), col("n_all"), 10).as("bin"),
            col("urgent"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"), sum(col("urgent")).as("n_urgent"))
          .withColumn("n_non", col("n") - col("n_urgent"))
        val tot = per.agg(sum(col("n_urgent")).as("tu"),
          sum(col("n_non")).as("tn"))
        val degenerate = col("n_urgent") === 0L || col("n_non") === 0L
        val woe = round(log((col("n_urgent") * col("tn")).cast("double") /
          (col("n_non") * col("tu")).cast("double")), 6)
        per.crossJoin(broadcast(tot))
          .select(col("bin"), col("n"), col("n_urgent"),
            when(degenerate, lit(null).cast("double")).otherwise(woe)
              .as("woe"),
            when(degenerate, lit(null).cast("double"))
              .otherwise(round((col("n_urgent").cast("double") /
                col("tu").cast("double") -
                col("n_non").cast("double") / col("tn").cast("double")) *
                woe, 6)).as("iv_contrib"))
          .orderBy("bin")
      },
      Some("""WITH b AS (
             |  SELECT CAST(NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey)
             |      AS INTEGER) AS bin,
             |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |      THEN 1 ELSE 0 END AS urgent
             |  FROM orders
             |), per AS (
             |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(urgent) AS BIGINT) AS n_urgent,
             |    CAST(COUNT(*) - SUM(urgent) AS BIGINT) AS n_non
             |  FROM b GROUP BY 1
             |), tot AS (
             |  SELECT CAST(SUM(n_urgent) AS BIGINT) AS tu,
             |    CAST(SUM(n_non) AS BIGINT) AS tn
             |  FROM per
             |)
             |SELECT bin, n, n_urgent,
             |  CASE WHEN n_urgent = 0 OR n_non = 0 THEN NULL
             |    ELSE ROUND(LN(CAST(n_urgent * tn AS DOUBLE)
             |      / CAST(n_non * tu AS DOUBLE)), 6) END AS woe,
             |  CASE WHEN n_urgent = 0 OR n_non = 0 THEN NULL
             |    ELSE ROUND((CAST(n_urgent AS DOUBLE) / CAST(tu AS DOUBLE)
             |        - CAST(n_non AS DOUBLE) / CAST(tn AS DOUBLE))
             |      * ROUND(LN(CAST(n_urgent * tn AS DOUBLE)
             |        / CAST(n_non * tu AS DOUBLE)), 6), 6) END AS iv_contrib
             |FROM per CROSS JOIN tot
             |ORDER BY bin""".stripMargin)),

    // ---- langid confusion matrix: the q33 stopword-argmax predictions
    // ---- aggregated against the declared language — the evaluation
    // ---- card for any classifier in the curation pipeline. Share-of-
    // ---- declared normalizes each row by its true-class mass (row-
    // ---- wise recall decomposition). ---------------------------------
    Q("q263_langid_confusion",
      (s, dir) => {
        val m = t(s, dir, "documents")
          .select(col("lang").as("lang_declared"),
            TextAnalysis.langId(col("text")).as("lang_pred"))
          .groupBy("lang_declared", "lang_pred")
          .agg(count(lit(1)).as("n"))
        m.withColumn("dt",
            sum(col("n")).over(Window.partitionBy("lang_declared")))
          .select(col("lang_declared"), col("lang_pred"), col("n"),
            round(col("n").cast("double") / col("dt").cast("double"), 6)
              .as("share_of_declared"),
            (col("lang_declared") === col("lang_pred")).as("correct"))
          .orderBy("lang_declared", "lang_pred")
      },
      Some(s"""WITH pred AS (
             |  ${TextQueries.q33Sql.replace("\n", "\n  ")}
             |)
             |SELECT lang_declared, lang_pred,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  ROUND(CAST(COUNT(*) AS DOUBLE)
             |    / CAST(SUM(COUNT(*)) OVER (PARTITION BY lang_declared)
             |      AS DOUBLE), 6) AS share_of_declared,
             |  lang_declared = lang_pred AS correct
             |FROM pred
             |GROUP BY 1, 2
             |ORDER BY lang_declared, lang_pred""".stripMargin)),

    // ---- TextRank keyword extraction (Mihalcea & Tarau 2004):
    // ---- PageRank over the word co-occurrence graph (window ±2,
    // ---- df ≥ 3 vocabulary). Rides GraphRank's BIGINT micro-unit
    // ---- fixed-point iteration (q122's operator — the oracle unrolls
    // ---- the identical integer chain). Co-occurrence pairing is an
    // ---- EQUI-join on (doc, shifted position); word ids come from a
    // ---- ROW_NUMBER over the bounded vocabulary, identical in both
    // ---- engines. The graph is an ingest-time artifact (IndexCache),
    // ---- like the q122 trade graph. ---------------------------------
    Q("q264_textrank_keywords",
      (s, dir) => {
        // vocab is cached alongside the edges: both the edge build and
        // the rank-back join read the SAME (word, wid) table, so the
        // id assignment cannot drift between them and the per-query
        // cost stays on the iterate side
        val vocab = graft.sim.IndexCache.getOrBuild(s,
          s"textrank-vocab:$dir") {
          t(s, dir, "documents")
            .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
            .where(length(col("w")) >= 4)
            .groupBy("w").agg(countDistinct(col("doc_id")).as("df"))
            .where(col("df") >= MinDf)
            .select(col("w"),
              row_number().over(Window.orderBy("w")).cast("long").as("wid"))
        }
        val edges = graft.sim.IndexCache.getOrBuild(s, s"textrank:$dir") {
          val toks = t(s, dir, "documents")
            .select(col("doc_id"),
              posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
            .where(length(col("w")) >= 4)
          val tv = toks.join(vocab, Seq("w"))
            .select(col("doc_id"), col("pos"), col("w"), col("wid"))
          val pairs = tv
            .withColumn("d", explode(array(lit(1), lit(2))))
            .select(col("doc_id"), (col("pos") + col("d")).as("pos2"),
              col("w").as("w_a"), col("wid").as("wid_a"))
            .join(tv.select(col("doc_id"), col("pos").as("pos2"),
              col("w").as("w_b"), col("wid").as("wid_b")),
              Seq("doc_id", "pos2"))
            .where(col("w_a") =!= col("w_b"))
            .select(least(col("wid_a"), col("wid_b")).as("c"),
              greatest(col("wid_a"), col("wid_b")).as("s"))
            .distinct()
          pairs.select(col("c").as("src"), col("s").as("dst"))
            .unionByName(pairs.select(col("s").as("src"), col("c").as("dst")))
        }
        GraphRank
          .fixedPointPageRank(edges, GraphRank.degrees(edges),
            iters = 6, topK = 20, broadcastRanks = true)
          .join(broadcast(vocab.select(col("w").as("word"),
            col("wid").as("node"))), Seq("node"))
          .select(col("word"), col("rank_units"))
          .orderBy(desc("rank_units"), asc("word"))
      },
      Some {
        val eoCte =
          s"""WITH tokens AS (
             |  ${tokensSql.replace("\n", "\n  ")}
             |), vocab AS (
             |  ${vocabSql("w").replace("\n", "\n  ")}
             |), tv AS (
             |  SELECT t.doc_id, t.pos, t.w, v.wid
             |  FROM tokens t JOIN vocab v USING (w)
             |)
             |SELECT DISTINCT LEAST(a.wid, b.wid) AS c,
             |  GREATEST(a.wid, b.wid) AS s
             |FROM tv a JOIN tv b ON a.doc_id = b.doc_id
             |  AND b.pos IN (a.pos + 1, a.pos + 2)
             |WHERE a.w <> b.w""".stripMargin
        s"""SELECT v.word, pr.rank_units
           |FROM (${GraphRank.pageRankSql(eoCte, iters = 6, topK = 20)}) pr
           |JOIN (${vocabSql("word")}) v ON v.wid = pr.node
           |ORDER BY pr.rank_units DESC, v.word""".stripMargin
      }),

    // ---- daily churn series: users active on day d but silent on day
    // ---- d+1 (the global max day has no successor and is excluded).
    // ---- Two narrow reduces on the (day, user) grain + one anti-join
    // ---- keyed on the same grain — no window over the event stream.
    // ---- Day is integer epoch arithmetic (q244/q255 discipline). ----
    Q("q265_daily_churn",
      (s, dir) => {
        val ud = t(s, dir, "events")
          .select(floor(unix_micros(col("ts")) / 86400000000L).cast("long")
            .as("day"), col("user_id"))
          .distinct()
        val act = ud.groupBy("day").agg(count(lit(1)).as("actives"))
        val churn = ud
          .join(ud.select((col("day") - 1L).as("day"), col("user_id")),
            Seq("day", "user_id"), "left_anti")
          .groupBy("day").agg(count(lit(1)).as("churned"))
        val gmax = ud.agg(max(col("day")).as("gmax"))
        act.join(churn, Seq("day"), "left")
          .crossJoin(broadcast(gmax))
          .where(col("day") < col("gmax"))
          .select(col("day"), col("actives"),
            coalesce(col("churned"), lit(0L)).as("churned"),
            round(coalesce(col("churned"), lit(0L)).cast("double") /
              col("actives").cast("double"), 6).as("churn_rate"))
          .orderBy("day")
      },
      Some("""WITH ud AS (
             |  SELECT DISTINCT
             |    CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
             |    user_id
             |  FROM events
             |), act AS (
             |  SELECT day, CAST(COUNT(*) AS BIGINT) AS actives
             |  FROM ud GROUP BY 1
             |), churn AS (
             |  SELECT a.day, CAST(COUNT(*) AS BIGINT) AS churned
             |  FROM ud a
             |  WHERE NOT EXISTS (SELECT 1 FROM ud b
             |    WHERE b.day = a.day + 1 AND b.user_id = a.user_id)
             |  GROUP BY 1
             |), g AS (SELECT MAX(day) AS gmax FROM ud)
             |SELECT act.day, act.actives,
             |  COALESCE(churn.churned, 0) AS churned,
             |  ROUND(CAST(COALESCE(churn.churned, 0) AS DOUBLE)
             |    / CAST(act.actives AS DOUBLE), 6) AS churn_rate
             |FROM act
             |LEFT JOIN churn ON act.day = churn.day
             |CROSS JOIN g
             |WHERE act.day < g.gmax
             |ORDER BY act.day""".stripMargin))
  )
}
