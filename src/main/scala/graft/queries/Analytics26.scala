package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.dedup.{Dedup, Portable}
import graft.text.Bpe

/** Twenty-sixth analytics pack (round 6, session 7): train/test
  * 13-gram leakage audit (GPT-3-style decontamination report),
  * near-dup cluster purity, tokenizer fertility, Good-Turing unseen
  * mass, a sequential probability-ratio test over the event stream,
  * and U-shaped (position-based) attribution.
  *
  * Same exactness discipline as packs 17-25: BIGINT until the final
  * division, decimal-grid float sums, md5-portable hash draws. */
object Analytics26 {

  /** Portable 60-bit md5 value mod `m` (see Analytics25.md5Mod). */
  private def md5Mod(sref: Column, m: Long): Column =
    pmod(conv(substring(md5(sref), 1, 15), 16, 10).cast("long"), lit(m))

  val all: Seq[Q] = Seq(

    // ---- train/test leakage report: split the corpus 90/10 by md5,
    // ---- then for every test doc count how many of its distinct word
    // ---- 13-grams appear anywhere in the train split (the GPT-3
    // ---- appendix-C decontamination statistic). The train gram set is
    // ---- a distinct projection (an ingest-time artifact at scale) and
    // ---- the probe is a semi-join — O(test grams), never test×train.
    // ---- Docs shorter than 13 words have no 13-grams and drop from
    // ---- the audit in both engines. ---------------------------------
    Q("q231_leakage_report",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val sh = docs.select(col("doc_id"),
          explode(Dedup.shingles(col("text"), 13)).as("g"))
        val test = docs
          .where(md5Mod(concat(lit("tt:"), col("doc_id").cast("string")),
            10L) === 0)
          .select(col("doc_id"))
        val testSh = sh.join(test, Seq("doc_id"))
        val trainG = sh.join(test, Seq("doc_id"), "left_anti")
          .select(col("g")).distinct()
        val leaked = testSh.join(trainG, Seq("g"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("n_leaked"))
        testSh.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
          .join(leaked, Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
            round(coalesce(col("n_leaked"), lit(0L)).cast("double")
              / col("n_grams").cast("double"), 6).as("leak_frac"),
            (coalesce(col("n_leaked"), lit(0L)) > 0).as("contaminated"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${Portable.shingleCte(13, "documents", "doc_id", "text")},
             |grams AS (
             |  SELECT id AS doc_id, unnest(sh) AS g FROM sh
             |), test AS (
             |  SELECT doc_id FROM documents
             |  WHERE ('0x' || substr(md5('tt:' || CAST(doc_id AS VARCHAR)),
             |    1, 15))::BIGINT % 10 = 0
             |), testsh AS (
             |  SELECT g.doc_id, g.g FROM grams g
             |  JOIN test USING (doc_id)
             |), traing AS (
             |  SELECT DISTINCT g FROM grams
             |  WHERE doc_id NOT IN (SELECT doc_id FROM test)
             |), leaked AS (
             |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_leaked
             |  FROM testsh WHERE g IN (SELECT g FROM traing)
             |  GROUP BY doc_id
             |)
             |SELECT ts.doc_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             |  COALESCE(ANY_VALUE(l.n_leaked), 0) AS n_leaked,
             |  ROUND(CAST(COALESCE(ANY_VALUE(l.n_leaked), 0) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE), 6) AS leak_frac,
             |  COALESCE(ANY_VALUE(l.n_leaked), 0) > 0 AS contaminated
             |FROM testsh ts LEFT JOIN leaked l ON l.doc_id = ts.doc_id
             |GROUP BY ts.doc_id
             |ORDER BY 1""".stripMargin)),

    // ---- near-dup cluster purity: near-duplicates should agree on
    // ---- lang — per cached q52 cluster, the majority-lang share and
    // ---- the lang entropy (1e-9-grid −p·ln p terms). The quality
    // ---- audit that catches over-merged clusters. -------------------
    Q("q232_cluster_purity",
      (s, dir) => {
        val cl = TextQueries.neardupClustersCached(s, dir)
          .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
        val byLang = cl
          .join(t(s, dir, "documents").select(col("doc_id"), col("lang")),
            Seq("doc_id"))
          .groupBy("cluster_id", "lang").agg(count(lit(1)).as("c"))
        val size = byLang.groupBy("cluster_id").agg(sum(col("c")).as("n"),
          count(lit(1)).as("n_langs"), max(col("c")).as("mx"))
        val p = col("c").cast("double") / col("n").cast("double")
        byLang.join(size, Seq("cluster_id"))
          .groupBy(col("cluster_id"), col("n"), col("n_langs"), col("mx"))
          .agg(sum(round(-p * log(p), 9).cast(DecimalType(24, 9)))
            .as("ent"))
          .select(col("cluster_id"), col("n"), col("n_langs"),
            round(col("mx").cast("double") / col("n").cast("double"), 6)
              .as("purity"),
            round(col("ent").cast("double"), 6).as("lang_entropy"))
          .orderBy("cluster_id")
      },
      Some(s"""${TextQueries.neardupClusterCte},
             |byl AS (
             |  SELECT cl.cluster_id, d.lang, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM cl JOIN documents d ON d.doc_id = cl.doc_id
             |  GROUP BY 1, 2
             |), sz AS (
             |  SELECT cluster_id, CAST(SUM(c) AS BIGINT) AS n,
             |    CAST(COUNT(*) AS BIGINT) AS n_langs,
             |    CAST(MAX(c) AS BIGINT) AS mx
             |  FROM byl GROUP BY 1
             |)
             |SELECT b.cluster_id AS cluster_id, ANY_VALUE(s.n) AS n,
             |  ANY_VALUE(s.n_langs) AS n_langs,
             |  ROUND(CAST(ANY_VALUE(s.mx) AS DOUBLE)
             |    / CAST(ANY_VALUE(s.n) AS DOUBLE), 6) AS purity,
             |  ROUND(CAST(SUM(CAST(ROUND(
             |      -(CAST(b.c AS DOUBLE) / CAST(s.n AS DOUBLE))
             |      * LN(CAST(b.c AS DOUBLE) / CAST(s.n AS DOUBLE)), 9)
             |    AS DECIMAL(24,9))) AS DOUBLE), 6) AS lang_entropy
             |FROM byl b JOIN sz s ON s.cluster_id = b.cluster_id
             |GROUP BY b.cluster_id
             |ORDER BY 1""".stripMargin)),

    // ---- tokenizer fertility per lang: BPE tokens per whitespace word
    // ---- and characters per token, over the shared q114 merge-table
    // ---- artifact (both engines run the IDENTICAL encode expression).
    // ---- Map-only until the bounded per-lang reduce. ----------------
    Q("q233_tokenizer_fertility",
      (s, dir) => {
        val enc = Bpe.encodedExpr("text", Bpe.SparkFlavor)
        t(s, dir, "documents")
          .select(col("lang"), col("n_chars"),
            expr(Bpe.tokenCountExpr(enc)).cast("long").as("n_tok"),
            size(split(col("text"), " ")).cast("long").as("n_words"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"),
            sum(col("n_words")).as("words"), sum(col("n_chars")).as("chars"))
          .select(col("lang"), col("n_docs"), col("tokens"), col("words"),
            round(col("tokens").cast("double") / col("words").cast("double"),
              6).as("fertility"),
            round(col("chars").cast("double") / col("tokens").cast("double"),
              6).as("chars_per_token"))
          .orderBy("lang")
      },
      Some {
        val enc = Bpe.encodedExpr("text", Bpe.DuckFlavor)
        val cnt = Bpe.tokenCountExpr(enc)
        s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM($cnt) AS BIGINT) AS tokens,
           |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS words,
           |  ROUND(CAST(SUM($cnt) AS DOUBLE)
           |    / CAST(SUM(len(string_split(text, ' '))) AS DOUBLE), 6)
           |    AS fertility,
           |  ROUND(CAST(SUM(n_chars) AS DOUBLE)
           |    / CAST(SUM($cnt) AS DOUBLE), 6) AS chars_per_token
           |FROM documents
           |GROUP BY lang
           |ORDER BY lang""".stripMargin
      }),

    // ---- Good-Turing unseen-mass estimate per lang (Good 1953): the
    // ---- probability a NEXT token is novel ≈ N₁/N, with the first
    // ---- smoothed count r* = (r+1)·N_{r+1}/N_r — the LM-smoothing
    // ---- statistic (q100's Kneser-Ney is the deploy form). Count
    // ---- tables only; everything BIGINT until the output divisions. -
    Q("q234_good_turing",
      (s, dir) => {
        val counts = t(s, dir, "documents")
          .select(col("lang"), explode(split(col("text"), " ")).as("w"))
          .groupBy("lang", "w").agg(count(lit(1)).as("r"))
        val freqOfFreq = counts.groupBy("lang", "r")
          .agg(count(lit(1)).as("nr"))
        def nr(k: Int) = sum(when(col("r") === k, col("nr")).otherwise(0L))
        freqOfFreq.groupBy("lang")
          .agg(sum(col("r") * col("nr")).as("n_tokens"),
            sum(col("nr")).as("vocab"),
            nr(1).as("n1"), nr(2).as("n2"), nr(3).as("n3"))
          .select(col("lang"), col("n_tokens"), col("vocab"), col("n1"),
            round(col("n1").cast("double") / col("n_tokens").cast("double"),
              6).as("unseen_mass"),
            when(col("n1") > 0,
              round(lit(2.0) * col("n2").cast("double")
                / col("n1").cast("double"), 6)).as("r_star_1"),
            when(col("n2") > 0,
              round(lit(3.0) * col("n3").cast("double")
                / col("n2").cast("double"), 6)).as("r_star_2"))
          .orderBy("lang")
      },
      Some("""WITH counts AS (
             |  SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS r FROM (
             |    SELECT lang, unnest(string_split(text, ' ')) AS w
             |    FROM documents)
             |  GROUP BY 1, 2
             |), fof AS (
             |  SELECT lang, r, CAST(COUNT(*) AS BIGINT) AS nr
             |  FROM counts GROUP BY 1, 2
             |)
             |SELECT lang, CAST(SUM(r * nr) AS BIGINT) AS n_tokens,
             |  CAST(SUM(nr) AS BIGINT) AS vocab,
             |  CAST(SUM(CASE WHEN r = 1 THEN nr ELSE 0 END) AS BIGINT) AS n1,
             |  ROUND(CAST(SUM(CASE WHEN r = 1 THEN nr ELSE 0 END) AS DOUBLE)
             |    / CAST(SUM(r * nr) AS DOUBLE), 6) AS unseen_mass,
             |  CASE WHEN SUM(CASE WHEN r = 1 THEN nr ELSE 0 END) > 0 THEN
             |    ROUND(2.0 * CAST(SUM(CASE WHEN r = 2 THEN nr ELSE 0 END)
             |        AS DOUBLE)
             |      / CAST(SUM(CASE WHEN r = 1 THEN nr ELSE 0 END) AS DOUBLE),
             |      6) END AS r_star_1,
             |  CASE WHEN SUM(CASE WHEN r = 2 THEN nr ELSE 0 END) > 0 THEN
             |    ROUND(3.0 * CAST(SUM(CASE WHEN r = 3 THEN nr ELSE 0 END)
             |        AS DOUBLE)
             |      / CAST(SUM(CASE WHEN r = 2 THEN nr ELSE 0 END) AS DOUBLE),
             |      6) END AS r_star_2
             |FROM fof
             |GROUP BY lang
             |ORDER BY lang""".stripMargin)),

    // ---- sequential probability-ratio test (Wald 1945) per variant:
    // ---- H0 p=0.25 vs H1 p=0.30 on the click rate, α=β=0.05. The LLR
    // ---- walk is a linear function of the exact running click count
    // ---- (both increments are constants), so the crossing decision is
    // ---- a comparison of identical doubles built from BIGINTs. One
    // ---- ordered pass per variant (per-key ordered state at scale). -
    Q("q235_sprt",
      (s, dir) => {
        // ln(0.30/0.25), ln(0.70/0.75), ln(19) spelled identically in
        // the SQL below — both engines evaluate the same literal text.
        // variant has exactly 2 values — partitionBy(variant) would
        // walk each arm's whole event stream in one task; the ordered
        // running (count, clicks) pair comes from ONE grouped
        // prefix-sum pass instead (range-partitioned on (ts, event_id))
        val a = log(lit(0.30) / 0.25)
        val b = log(lit(0.70) / 0.75)
        val base = t(s, dir, "events")
          .select((col("user_id") % 2).as("variant"), col("ts"),
            col("event_id"),
            when(col("event_type") === "click", 1L).otherwise(0L).as("s"))
        val walked = graft.operators.Ranks.withPrefixSums(base,
            Seq(col("variant")), Seq(col("ts"), col("event_id")),
            Seq((lit(1L), "n", "_nt"), (col("s"), "cs", "_ct")))
          .select(col("variant"), col("n"), col("cs"),
            (a * col("cs").cast("double")
              + b * (col("n") - col("cs")).cast("double")).as("llr"))
        val crossed = walked
          .where(col("llr") >= log(lit(19.0)) ||
            col("llr") <= -log(lit(19.0)))
          .groupBy("variant").agg(min(col("n")).as("n_dec"))
        val at = walked.as("w").join(crossed.as("cx"),
            col("w.variant") === col("cx.variant") &&
              col("w.n") === col("cx.n_dec"))
          .select(col("w.variant").as("variant"), col("cx.n_dec"),
            col("w.cs").as("cs_dec"), col("w.llr").as("llr_dec"))
        walked.groupBy("variant")
          .agg(max(col("n")).as("n_events"), max(col("cs")).as("n_clicks"))
          .join(at, Seq("variant"), "left_outer")
          .select(col("variant"), col("n_events"), col("n_clicks"),
            col("n_dec"), col("cs_dec"),
            round(col("llr_dec"), 6).as("llr_dec"),
            when(col("n_dec").isNull, "continue")
              .when(col("llr_dec") > 0, "accept_h1")
              .otherwise("accept_h0").as("decision"))
          .orderBy("variant")
      },
      Some("""WITH walked AS (
             |  SELECT variant, n, cs,
             |    LN(0.30 / 0.25) * CAST(cs AS DOUBLE)
             |      + LN(0.70 / 0.75) * CAST(n - cs AS DOUBLE) AS llr
             |  FROM (
             |    SELECT user_id % 2 AS variant,
             |      CAST(ROW_NUMBER() OVER w AS BIGINT) AS n,
             |      CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             |        OVER w AS BIGINT) AS cs
             |    FROM events
             |    WINDOW w AS (PARTITION BY user_id % 2
             |      ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |), crossed AS (
             |  SELECT variant, MIN(n) AS n_dec FROM walked
             |  WHERE llr >= LN(19.0) OR llr <= -LN(19.0)
             |  GROUP BY variant
             |), at AS (
             |  SELECT w.variant, c.n_dec, w.cs AS cs_dec, w.llr AS llr_dec
             |  FROM walked w JOIN crossed c
             |    ON c.variant = w.variant AND w.n = c.n_dec
             |)
             |SELECT t.variant AS variant, t.n_events, t.n_clicks,
             |  a.n_dec, a.cs_dec, ROUND(a.llr_dec, 6) AS llr_dec,
             |  CASE WHEN a.n_dec IS NULL THEN 'continue'
             |       WHEN a.llr_dec > 0 THEN 'accept_h1'
             |       ELSE 'accept_h0' END AS decision
             |FROM (SELECT variant, CAST(MAX(n) AS BIGINT) AS n_events,
             |        CAST(MAX(cs) AS BIGINT) AS n_clicks
             |      FROM walked GROUP BY variant) t
             |LEFT JOIN at a ON a.variant = t.variant
             |ORDER BY 1""".stripMargin)),

    // ---- U-shaped (position-based) attribution: within each user
    // ---- journey (touches since the previous purchase), the closing
    // ---- purchase's revenue splits 40/40 to first and last touch and
    // ---- 20 evenly across the middles (k=1 → 100%, k=2 → 50/50).
    // ---- Credits are 1e-9-grid decimals × DECIMAL(12,2) revenue, so
    // ---- the per-channel sums are order-free. Two window passes per
    // ---- user (journey id, position), equi-joins after. -------------
    Q("q236_ushape_attribution",
      (s, dir) => {
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val ev = t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"), dec(col("value")).as("rev"))
          .withColumn("jid",
            coalesce(
              sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
                .over(byUser.rowsBetween(Window.unboundedPreceding, -1)),
              lit(0L)))
        val touches = ev.where(col("event_type") =!= "purchase")
        val byJourney = Window.partitionBy(col("user_id"), col("jid"))
          .orderBy(col("ts"), col("event_id"))
        val posd = touches
          .withColumn("pos", row_number().over(byJourney))
          .withColumn("k",
            count(lit(1)).over(Window.partitionBy(col("user_id"), col("jid"))))
        val credit = when(col("k") === 1, lit(1.0))
          .when(col("k") === 2, lit(0.5))
          .when(col("pos") === 1 || col("pos") === col("k"), lit(0.4))
          .otherwise(round(lit(0.2) / (col("k") - 2).cast("double"), 9))
        val purch = ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("jid"), col("rev"))
        posd
          .select(col("user_id"), col("jid"), col("event_type"),
            credit.cast(DecimalType(18, 9)).as("credit"))
          .join(purch, Seq("user_id", "jid"))
          .groupBy(col("event_type").as("channel"))
          .agg(count(lit(1)).as("n_touches"),
            sum(col("credit")).as("cr"),
            sum(col("credit") * col("rev")).as("rv"))
          .select(col("channel"), col("n_touches"),
            round(col("cr").cast("double"), 6).as("total_credit"),
            round(col("rv").cast("double"), 2).as("attributed_rev"))
          .orderBy("channel")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, ts, event_id, event_type,
             |    CAST(value AS DECIMAL(12,2)) AS rev,
             |    CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
             |        THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS BIGINT) AS jid
             |  FROM events
             |), posd AS (
             |  SELECT user_id, jid, event_type,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id, jid
             |      ORDER BY ts, event_id) AS BIGINT) AS pos,
             |    CAST(COUNT(*) OVER (PARTITION BY user_id, jid) AS BIGINT)
             |      AS k
             |  FROM ev WHERE event_type <> 'purchase'
             |), credited AS (
             |  SELECT user_id, jid, event_type,
             |    CAST(CASE WHEN k = 1 THEN 1.0
             |         WHEN k = 2 THEN 0.5
             |         WHEN pos = 1 OR pos = k THEN 0.4
             |         ELSE ROUND(0.2 / CAST(k - 2 AS DOUBLE), 9)
             |    END AS DECIMAL(18,9)) AS credit
             |  FROM posd
             |), purch AS (
             |  SELECT user_id, jid, rev FROM ev
             |  WHERE event_type = 'purchase'
             |)
             |SELECT c.event_type AS channel,
             |  CAST(COUNT(*) AS BIGINT) AS n_touches,
             |  ROUND(CAST(SUM(c.credit) AS DOUBLE), 6) AS total_credit,
             |  ROUND(CAST(SUM(c.credit * p.rev) AS DOUBLE), 2)
             |    AS attributed_rev
             |FROM credited c
             |JOIN purch p ON p.user_id = c.user_id AND p.jid = c.jid
             |GROUP BY 1
             |ORDER BY channel""".stripMargin))
  )
}
