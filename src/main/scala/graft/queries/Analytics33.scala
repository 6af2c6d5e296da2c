package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.Corpus

/** Thirty-third analytics pack (round 6, session 8): locally-dominant
  * weighted matching over the fuzzy-name graph, a multinomial naive
  * Bayes language classifier, Fellegi–Sunter record-linkage weights,
  * a consistent-hash rebalance simulation, and quantile treatment
  * effects.
  *
  * Exactness discipline unchanged: every ln lands on the 1e-6
  * micro-unit BIGINT grid BEFORE any sum (the q82 discipline, which
  * makes score sums order-free), matching rounds use (dist, partner)
  * lexicographic argmax with mutual confirmation, and ring positions
  * ride the Corpus.hashBucket integer mixer shared with the
  * split/sample queries. */
object Analytics33 {

  /** q271 matching rounds (locally-dominant matching converges in a
    * handful of rounds on bounded-degree graphs; 3 is spec-checked to
    * leave no mutual-best pair unmatched on this data). */
  private val MatchRounds = 3

  /** q273 Fellegi–Sunter m-probability as an exact rational (19/20):
    * the per-field agreement rate among true matches. */
  private val MNum = 19L
  private val MDen = 20L

  /** q274 ring geometry: 64 virtual nodes per shard, 8 shards before
    * the rebalance, 9 after. */
  private val VNodes = 64
  private val ShardsBefore = 8

  /** The q48 FastSS blocking + levenshtein-verify pair list, cached
    * per (app, dir) — the ingest-time artifact shared by q48 (the
    * pairs) and q271 (matching over them). */
  def fuzzyPairsCached(s: SparkSession, dir: String): DataFrame =
    graft.sim.IndexCache.getOrBuild(s, s"fuzzy-pairs:$dir") {
      val c = t(s, dir, "customer").filter(col("c_custkey") <= 1500)
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
      graft.dedup.Dedup.fuzzyPairs(c, maxDist = 2)
    }

  /** The q48 pair CTE (shared text so the q271 oracle and the q48
    * oracle can't drift). */
  private val FuzzyPairsSql =
    """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
      |  CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
      |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
      |WHERE a.c_custkey <= 1500 AND b.c_custkey <= 1500
      |  AND levenshtein(a.c_name, b.c_name) <= 2""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- locally-dominant weighted matching (the Manne–Bisseling /
    // ---- "suitor" half-approximation to maximum-weight matching, the
    // ---- distributed-systems answer to sequential greedy): per
    // ---- round, every node points at its best partner ((dist,
    // ---- partner) lexicographic); a pair matches iff the pointers
    // ---- are mutual; endpoints leave the pool. Each round is one
    // ---- window + one self-join over the CACHED pair list; matched
    // ---- sets are collected per round (≤ n/2 metadata-sized rows,
    // ---- the q121/q207 pattern) to drive the next round's literal
    // ---- exclusion — never a growing lazy plan. ---------------------
    Q("q271_dominant_matching",
      (s, dir) => {
        val base = fuzzyPairsCached(s, dir)
        val removed = scala.collection.mutable.Set.empty[Long]
        val out = scala.collection.mutable.ArrayBuffer[(Int, Long, Long, Int)]()
        for (r <- 1 to MatchRounds) {
          val rem =
            if (removed.isEmpty) base
            else base.where(!col("id_a").isin(removed.toSeq: _*) &&
              !col("id_b").isin(removed.toSeq: _*))
          val dd = rem.select(col("id_a").as("x"), col("id_b").as("y"),
              col("dist"))
            .unionByName(rem.select(col("id_b").as("x"),
              col("id_a").as("y"), col("dist")))
          val best = dd
            .withColumn("rn", row_number().over(
              Window.partitionBy("x").orderBy(col("dist"), col("y"))))
            .where(col("rn") === 1).select(col("x"), col("y"), col("dist"))
          val m = graft.operators.Lattice.collectBounded(
              best.as("p").join(best.as("q"),
                col("p.x") === col("q.y") && col("p.y") === col("q.x") &&
                  col("p.x") < col("p.y"))
              .select(col("p.x"), col("p.y"), col("p.dist")),
              100000, "q271 mutual-suitor matches per round")
            .map(row =>
              (r, row.getLong(0), row.getLong(1), row.getInt(2)))
          out ++= m
          removed ++= m.flatMap(p => Seq(p._2, p._3))
        }
        import s.implicits._
        out.toSeq.toDF("match_round", "id_a", "id_b", "dist")
          .orderBy("match_round", "id_a")
      },
      Some {
        val rounds = (1 to MatchRounds).map { r =>
          val dPrev = s"d$r"
          val next =
            if (r == MatchRounds) ""
            else s""",
               |d${r + 1} AS MATERIALIZED (
               |  SELECT * FROM d$r
               |  WHERE x NOT IN (SELECT id_a FROM m$r
               |                  UNION ALL SELECT id_b FROM m$r)
               |    AND y NOT IN (SELECT id_a FROM m$r
               |                  UNION ALL SELECT id_b FROM m$r)
               |)""".stripMargin
          s"""b$r AS MATERIALIZED (
             |  SELECT x, y, dist FROM (
             |    SELECT x, y, dist,
             |      ROW_NUMBER() OVER (PARTITION BY x ORDER BY dist, y) AS rn
             |    FROM $dPrev)
             |  WHERE rn = 1
             |), m$r AS MATERIALIZED (
             |  SELECT p.x AS id_a, p.y AS id_b, p.dist AS dist
             |  FROM b$r p JOIN b$r q ON p.x = q.y AND p.y = q.x
             |  WHERE p.x < p.y
             |)$next""".stripMargin
        }.mkString(",\n")
        val sel = (1 to MatchRounds).map(r =>
          s"SELECT $r AS match_round, id_a, id_b, dist FROM m$r")
          .mkString("\nUNION ALL ")
        s"""WITH pairs AS MATERIALIZED (
           |  ${FuzzyPairsSql.replace("\n", "\n  ")}
           |), d1 AS MATERIALIZED (
           |  SELECT id_a AS x, id_b AS y, dist FROM pairs
           |  UNION ALL
           |  SELECT id_b AS x, id_a AS y, dist FROM pairs
           |),
           |$rounds
           |$sel
           |ORDER BY match_round, id_a""".stripMargin
      }),

    // ---- multinomial naive Bayes language ID: train on the hash-
    // ---- stable 80% split (doc_id % 5 ≠ 0), classify the held-out
    // ---- 20%. Laplace-smoothed log-likelihoods and priors are BIGINT
    // ---- micro-units (one ln per DISTINCT (lang, word), rounded to
    // ---- the grid BEFORE summing — order-free integer score sums,
    // ---- the q82 discipline). Candidate scoring is test-tokens ×
    // ---- 5 languages with a broadcast default for unseen words. The
    // ---- count tables are one shuffle over the train split; scoring
    // ---- is one equi-join + one groupBy — linear at any corpus
    // ---- size. -----------------------------------------------------
    Q("q272_nb_langid",
      (s, dir) => {
        // NOTE r12: loadParallel (and loadParallel + eager checkpoint)
        // were tried here and measured +55..68% — the inline
        // single-task explodes are cheaper than any extra exchange at
        // this corpus size. Plain scan kept.
        val docs = t(s, dir, "documents")
        val toks = docs.select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("w"))
          .where(length(col("w")) > 0)
        val train = toks.where(col("doc_id") % 5 =!= 0)
        val test = toks.where(col("doc_id") % 5 === 0)
          .select(col("doc_id"), col("lang").as("lang_true"), col("w"))
        val vocabSize = train.select("w").distinct().count()
        val trainDocs = docs.where(col("doc_id") % 5 =!= 0)
        val nTrain = trainDocs.count()
        val priors = trainDocs.groupBy("lang")
          .agg(count(lit(1)).as("nd"))
          .select(col("lang").as("lang_c"),
            round(log(col("nd").cast("double") / lit(nTrain.toDouble)) *
              1e6).cast("long").as("pu"))
        val counts = train.groupBy("lang", "w").agg(count(lit(1)).as("c"))
        val tot = counts.groupBy("lang").agg(sum(col("c")).as("tl"))
        val ll = counts.join(tot, Seq("lang"))
          .select(col("lang").as("lang_c"), col("w"),
            round(log((col("c") + 1L).cast("double") /
              (col("tl") + vocabSize).cast("double")) * 1e6).cast("long")
              .as("llu"))
        val dflt = tot.select(col("lang").as("lang_c"),
          round(log(lit(1.0) / (col("tl") + vocabSize).cast("double")) *
            1e6).cast("long").as("du"))
        val scored = test
          .crossJoin(broadcast(dflt))
          .join(ll, Seq("lang_c", "w"), "left")
          .groupBy("doc_id", "lang_true", "lang_c")
          .agg(sum(coalesce(col("llu"), col("du"))).as("su"))
          .join(broadcast(priors), Seq("lang_c"))
          .select(col("doc_id"), col("lang_true"), col("lang_c"),
            (col("su") + col("pu")).as("score_units"))
        scored
          .withColumn("rn", row_number().over(Window.partitionBy("doc_id")
            .orderBy(desc("score_units"), asc("lang_c"))))
          .where(col("rn") === 1)
          .select(col("doc_id"), col("lang_true"),
            col("lang_c").as("lang_nb"), col("score_units"),
            (col("lang_true") === col("lang_c")).as("correct"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS MATERIALIZED (
             |  SELECT doc_id, lang, w FROM (
             |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
             |    FROM documents)
             |  WHERE len(w) > 0
             |), train AS MATERIALIZED (
             |  SELECT * FROM toks WHERE doc_id % 5 <> 0
             |), test AS MATERIALIZED (
             |  SELECT doc_id, lang AS lang_true, w FROM toks
             |  WHERE doc_id % 5 = 0
             |), v AS (SELECT COUNT(DISTINCT w) AS vs FROM train),
             |nd AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
             |  WHERE doc_id % 5 <> 0
             |), priors AS (
             |  SELECT lang AS lang_c,
             |    CAST(ROUND(ln(CAST(COUNT(*) AS DOUBLE)
             |      / CAST((SELECT n FROM nd) AS DOUBLE)) * 1e6) AS BIGINT)
             |      AS pu
             |  FROM documents WHERE doc_id % 5 <> 0 GROUP BY lang
             |), counts AS MATERIALIZED (
             |  SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM train GROUP BY 1, 2
             |), tot AS (
             |  SELECT lang, CAST(SUM(c) AS BIGINT) AS tl
             |  FROM counts GROUP BY 1
             |), ll AS MATERIALIZED (
             |  SELECT c.lang AS lang_c, c.w,
             |    CAST(ROUND(ln(CAST(c.c + 1 AS DOUBLE)
             |      / CAST(t.tl + (SELECT vs FROM v) AS DOUBLE)) * 1e6)
             |      AS BIGINT) AS llu
             |  FROM counts c JOIN tot t USING (lang)
             |), dflt AS (
             |  SELECT lang AS lang_c,
             |    CAST(ROUND(ln(1.0
             |      / CAST(tl + (SELECT vs FROM v) AS DOUBLE)) * 1e6)
             |      AS BIGINT) AS du
             |  FROM tot
             |), scored AS (
             |  SELECT te.doc_id, te.lang_true, df.lang_c,
             |    CAST(SUM(COALESCE(ll.llu, df.du)) AS BIGINT) AS su
             |  FROM test te
             |  CROSS JOIN dflt df
             |  LEFT JOIN ll ON ll.lang_c = df.lang_c AND ll.w = te.w
             |  GROUP BY 1, 2, 3
             |), final AS (
             |  SELECT s.doc_id, s.lang_true, s.lang_c,
             |    s.su + p.pu AS score_units,
             |    ROW_NUMBER() OVER (PARTITION BY s.doc_id
             |      ORDER BY s.su + p.pu DESC, s.lang_c ASC) AS rn
             |  FROM scored s JOIN priors p ON p.lang_c = s.lang_c
             |)
             |SELECT doc_id, lang_true, lang_c AS lang_nb,
             |  CAST(score_units AS BIGINT) AS score_units,
             |  lang_true = lang_c AS correct
             |FROM final WHERE rn = 1
             |ORDER BY doc_id""".stripMargin)),

    // ---- Fellegi–Sunter record-linkage weights: within nation
    // ---- blocks, score customer pairs by Σ ln(m/u) over agreeing
    // ---- fields (segment, balance band) and ln((1−m)/(1−u)) over
    // ---- disagreeing ones. The u-probabilities are the EXACT chance-
    // ---- agreement rationals Σnᵥ²/n² computed from the global field
    // ---- distributions, so each weight is one ln of an integer
    // ---- ratio on the micro-unit grid. At 100 TB the block key
    // ---- would widen to (nation, band) — standard multi-pass
    // ---- blocking; the weight table is unchanged. -------------------
    Q("q273_fs_linkage",
      (s, dir) => {
        val cust = t(s, dir, "customer")
          .select(col("c_custkey").as("id"), col("c_nationkey").as("nation"),
            col("c_mktsegment").as("seg"),
            floor(col("c_acctbal") / 1000.0).cast("long").as("band"))
        val n = cust.count()
        def uWeights(field: String) = {
          val num = cust.groupBy(field).agg(count(lit(1)).as("cnt"))
            .agg(sum(col("cnt") * col("cnt")).as("num"))
            .select(col("num"), lit(n * n).as("den"))
          num.select(
            round(log((lit(MNum) * col("den")).cast("double") /
              (lit(MDen) * col("num")).cast("double")) * 1e6).cast("long")
              .as(s"au_$field"),
            round(log(col("den").cast("double") /
              (lit(MDen) * (col("den") - col("num"))).cast("double")) * 1e6)
              .cast("long").as(s"du_$field"))
        }
        val w = uWeights("seg").crossJoin(uWeights("band"))
        // Agreement-family blocking (the "multi-pass blocking" the
        // header promises, done for real): a pair's score depends only
        // on its (same_seg, same_band) combo, and the weight table is
        // 1×4 metadata — collect it (one tiny agg job, same class as
        // the `cust.count()` above) and enumerate ONLY the families
        // whose combo can score positive, each on its own fine block
        // key. Full nation-block enumeration is quadratic in the
        // nation cohort (sf1.0 measured 73 s, ~450M pairs); the
        // (nation, seg, band) family is quadratic only in the exact-
        // agreement cohort (~60× fewer pairs at sf1.0, and the gap
        // widens with sf). Output is identical: every emitted pair
        // needs score > 0, so its combo's family is enumerated, and
        // the both-disagree combo is guarded non-positive below.
        val wr = w.head()
        val auSeg = wr.getAs[Long]("au_seg"); val duSeg = wr.getAs[Long]("du_seg")
        val auBand = wr.getAs[Long]("au_band"); val duBand = wr.getAs[Long]("du_band")
        def fam(keys: Seq[String], extra: Column): DataFrame =
          cust.as("a").join(cust.as("b"),
              keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
                col("a.id") < col("b.id") && extra)
            .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
              (col("a.seg") === col("b.seg")).as("same_segment"),
              (col("a.band") === col("b.band")).as("same_band"),
              (when(col("a.seg") === col("b.seg"), lit(auSeg))
                .otherwise(lit(duSeg)) +
                when(col("a.band") === col("b.band"), lit(auBand))
                  .otherwise(lit(duBand))).as("score_units"))
        // TT always enumerated (cheapest family, keeps the plan/schema
        // uniform even when its combo is non-positive — the score
        // filter below still decides); TF/FT only when they can emit.
        // DEGENERATE weights (both-disagree combo scores positive —
        // some field value covers ≥ m of the table): agreement-family
        // pruning is unsound, so fall back to the full nation-block
        // enumeration, which is correct at ANY weights (quadratic in
        // the nation cohort — the pre-r7 cost, paid only on such data).
        // The nation-only family also scores null seg/band rows as
        // disagreements (=== is null → otherwise(du)) instead of
        // dropping them from the equi-join.
        // family "differs" predicates mirror the oracle's CASE exactly:
        // a pair disagrees on a field whenever `a.f = b.f` does NOT
        // evaluate TRUE — so NULL-vs-value AND NULL-vs-NULL both score
        // du units and must stay in the family. `!coalesce(===, false)`
        // is that three-valued truth table; a plain =!= (null for any
        // NULL operand) or null-safe <=> (true for NULL-NULL) would
        // each silently drop a NULL-bearing pair the oracle scores.
        def differs(f: String): Column =
          !coalesce(col(s"a.$f") === col(s"b.$f"), lit(false))
        val families =
          if (duSeg + duBand > 0L) Seq(fam(Seq("nation"), lit(true)))
          else Seq(fam(Seq("nation", "seg", "band"), lit(true))) ++
          (if (auSeg + duBand > 0L)
            Seq(fam(Seq("nation", "seg"), differs("band")))
          else Nil) ++
          (if (duSeg + auBand > 0L)
            Seq(fam(Seq("nation", "band"), differs("seg")))
          else Nil)
        families.reduce(_ unionByName _)
          .where(col("score_units") > 0L)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH cust AS (
             |  SELECT c_custkey AS id, c_nationkey AS nation,
             |    c_mktsegment AS seg,
             |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS band
             |  FROM customer
             |), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cust),
             |useg AS (
             |  SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS num,
             |    (SELECT n * n FROM n) AS den
             |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS cnt
             |        FROM cust GROUP BY seg)
             |), uband AS (
             |  SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS num,
             |    (SELECT n * n FROM n) AS den
             |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS cnt
             |        FROM cust GROUP BY band)
             |), w AS (
             |  SELECT
             |    CAST(ROUND(ln(CAST($MNum * s.den AS DOUBLE)
             |      / CAST($MDen * s.num AS DOUBLE)) * 1e6) AS BIGINT)
             |      AS au_seg,
             |    CAST(ROUND(ln(CAST(s.den AS DOUBLE)
             |      / CAST($MDen * (s.den - s.num) AS DOUBLE)) * 1e6)
             |      AS BIGINT) AS du_seg,
             |    CAST(ROUND(ln(CAST($MNum * b.den AS DOUBLE)
             |      / CAST($MDen * b.num AS DOUBLE)) * 1e6) AS BIGINT)
             |      AS au_band,
             |    CAST(ROUND(ln(CAST(b.den AS DOUBLE)
             |      / CAST($MDen * (b.den - b.num) AS DOUBLE)) * 1e6)
             |      AS BIGINT) AS du_band
             |  FROM useg s CROSS JOIN uband b
             |)
             |SELECT a.id AS id_a, b.id AS id_b,
             |  a.seg = b.seg AS same_segment,
             |  a.band = b.band AS same_band,
             |  (CASE WHEN a.seg = b.seg THEN w.au_seg ELSE w.du_seg END
             |   + CASE WHEN a.band = b.band THEN w.au_band
             |     ELSE w.du_band END) AS score_units
             |FROM cust a
             |JOIN cust b ON a.nation = b.nation AND a.id < b.id
             |CROSS JOIN w
             |WHERE (CASE WHEN a.seg = b.seg THEN w.au_seg ELSE w.du_seg END
             |   + CASE WHEN a.band = b.band THEN w.au_band
             |     ELSE w.du_band END) > 0
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- consistent-hash rebalance: assign order keys to 8 shards ×
    // ---- 64 virtual nodes on a 2³¹ ring (Karger et al. 1997 /
    // ---- Dynamo), add a 9th shard, and report the movement matrix —
    // ---- the partitioning question every 100 TB layout faces. Both
    // ---- ring positions and key positions ride Corpus.hashBucket's
    // ---- integer mixer; the clockwise successor is a conditional
    // ---- MIN over the BROADCAST ring (pos·100+shard encoding, so
    // ---- the tie-break is part of the ordinal), i.e. one linear
    // ---- pass over the keys, no window, no shuffle before the final
    // ---- 2-digit matrix aggregate. Theory check: moved share ≈ 1/9.
    Q("q274_consistent_hash",
      (s, dir) => {
        val ringPos = Corpus.hashBucket(col("shard") * 1000L + col("vnode"),
          2147483647)
        // the ring is O(shards · vnodes) — metadata-sized at ANY key
        // count — so the clockwise-successor lookup is a per-row scan
        // of a literal sorted code array (codegen'd, no join): the
        // 16M-row ring×keys cross join this replaces measured 7.6s
        def ringCodes(shards: Int): Array[Long] = s
          .range(shards.toLong * VNodes)
          .select(expr(s"id div $VNodes").as("shard"),
            (col("id") % VNodes).as("vnode"))
          .select((ringPos * 100L + col("shard")).as("code"))
          .collect().map(_.getLong(0)).sorted
        val keys = t(s, dir, "orders")
          .select(col("o_orderkey").as("k"),
            (Corpus.hashBucket(col("o_orderkey"), 2147483647) * 100L)
              .as("kcode"))
        def assign(shards: Int, outCol: String) = {
          val codes = ringCodes(shards)
          // codegen'd binary search (higher-order array functions run
          // their lambda interpreted per element — measured ~5s here)
          (graft.functions.SortedCeil.sortedCeil(col("kcode"), codes,
            codes.min) % 100L).cast("int").as(outCol)
        }
        val moved = keys
          .select(col("k"), assign(ShardsBefore, "shard_before"),
            assign(ShardsBefore + 1, "shard_after"))
          .groupBy("shard_before", "shard_after")
          .agg(count(lit(1)).as("n_keys"))
        val tot = moved.agg(sum(col("n_keys")).as("nt"))
        moved.crossJoin(broadcast(tot))
          .select(col("shard_before"), col("shard_after"), col("n_keys"),
            round(col("n_keys").cast("double") / col("nt").cast("double"), 6)
              .as("share"))
          .orderBy("shard_before", "shard_after")
      },
      Some {
        def mix(e: String) = Corpus.hashBucketSql(e, 2147483647)
        def ringSql(shards: Int) =
          s"""SELECT ${mix(s"(r.range // $VNodes * 1000 + r.range % $VNodes)")}
             |    * 100 + r.range // $VNodes AS code
             |FROM range(${shards * VNodes}) r""".stripMargin
        s"""WITH codes8 AS (
           |  SELECT list(code ORDER BY code) AS cs,
           |    MIN(code) AS c0
           |  FROM (${ringSql(ShardsBefore).replace("\n", "\n  ")})
           |), codes9 AS (
           |  SELECT list(code ORDER BY code) AS cs,
           |    MIN(code) AS c0
           |  FROM (${ringSql(ShardsBefore + 1).replace("\n", "\n  ")})
           |), keys AS (
           |  SELECT o_orderkey AS k, ${mix("o_orderkey")} * 100 AS kcode
           |  FROM orders
           |), assigned AS (
           |  SELECT k,
           |    CAST(COALESCE(
           |      list_min(list_filter(c8.cs, x -> x >= kcode)), c8.c0)
           |      % 100 AS INTEGER) AS shard_before,
           |    CAST(COALESCE(
           |      list_min(list_filter(c9.cs, x -> x >= kcode)), c9.c0)
           |      % 100 AS INTEGER) AS shard_after
           |  FROM keys CROSS JOIN codes8 c8 CROSS JOIN codes9 c9
           |), m AS (
           |  SELECT shard_before, shard_after,
           |    CAST(COUNT(*) AS BIGINT) AS n_keys
           |  FROM assigned
           |  GROUP BY 1, 2
           |)
           |SELECT shard_before, shard_after, n_keys,
           |  ROUND(CAST(n_keys AS DOUBLE)
           |    / CAST((SELECT SUM(n_keys) FROM m) AS DOUBLE), 6) AS share
           |FROM m
           |ORDER BY shard_before, shard_after""".stripMargin
      }),

    // ---- quantile treatment effects: the decile-by-decile difference
    // ---- between treated (even users) and control event values — the
    // ---- distributional complement to q268's mean DiD. Deciles are
    // ---- exact order statistics (rank d·n div 10, event_id
    // ---- tie-break); the effect is one exact double subtraction of
    // ---- selected values, no accumulation. --------------------------
    Q("q275_qte",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select((col("user_id") % 2L === 0L).as("treated"), col("value"),
            col("event_id"))
        // treated is binary — partitionBy(treated) would sort each
        // arm's whole event table in one task. The within-arm rank is
        // a grouped prefix-sum (weight 1); its group total IS the arm
        // count, so the separate counts aggregate + join drop out.
        val ranked = graft.operators.Ranks.withPrefixSum(ev,
            Seq(col("treated")), Seq(col("value"), col("event_id")),
            lit(1L), "rn", "n")
          .crossJoin(broadcast(s.range(1, 10).select(col("id").as("d"))))
          .where(col("rn") === expr("d * n div 10"))
          .select(col("treated"), col("d").cast("int").as("decile"),
            col("value"))
        ranked.where(col("treated"))
          .select(col("decile"), col("value").as("q_treated"))
          .join(ranked.where(!col("treated"))
            .select(col("decile"), col("value").as("q_control")),
            Seq("decile"))
          .select(col("decile"), col("q_treated"), col("q_control"),
            (col("q_treated") - col("q_control")).as("qte"))
          .orderBy("decile")
      },
      Some("""WITH ev AS (
             |  SELECT user_id % 2 = 0 AS treated, value, event_id
             |  FROM events
             |), counts AS (
             |  SELECT treated, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM ev GROUP BY 1
             |), ranked AS (
             |  SELECT treated, value,
             |    ROW_NUMBER() OVER (PARTITION BY treated
             |      ORDER BY value, event_id) AS rn
             |  FROM ev
             |), sel AS (
             |  SELECT r.treated, CAST(d.range AS INTEGER) AS decile, r.value
             |  FROM ranked r
             |  JOIN counts c USING (treated)
             |  CROSS JOIN range(1, 10) d
             |  WHERE r.rn = d.range * c.n // 10
             |)
             |SELECT t.decile, t.value AS q_treated, c.value AS q_control,
             |  t.value - c.value AS qte
             |FROM sel t JOIN sel c
             |  ON t.decile = c.decile AND t.treated AND NOT c.treated
             |ORDER BY t.decile""".stripMargin))
  )
}
