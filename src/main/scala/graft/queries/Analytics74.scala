package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Seventy-fourth analytics pack (round 6, session 9): cross-language
  * corpus profiling — word-bigram conditional entropy per language
  * (sequence complexity), the word-length profile homogeneity
  * chi-square, the hapax/TTR richness panel, the pairwise
  * vocabulary-overlap Jaccard matrix, and Zipf's law of abbreviation
  * (length vs log-frequency correlation).
  *
  * Exactness discipline: all token/bigram counts are exact BIGINTs;
  * entropy and ln-frequency terms ride the round-9 grid; Jaccard
  * overlaps are exact distinct-count ratios. */
object Analytics74 {

  /** (lang, doc_id, pos, w) word stream. */
  private def words(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"), col("doc_id"),
        posexplode(split(col("text"), " ")))
      .toDF("lang", "doc_id", "pos", "w")

  private val WordsSql =
    """words AS MATERIALIZED (
      |  SELECT lang, doc_id, CAST(u.pos AS BIGINT) AS pos, u.w
      |  FROM documents,
      |    LATERAL (SELECT UNNEST(string_split(text, ' ')) AS w,
      |      generate_subscripts(string_split(text, ' '), 1) AS pos) u
      |)""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- word-bigram conditional entropy per language: H(next|cur)
    // ---- = −Σ p(c,n)·ln p(n|c) over within-doc adjacent pairs,
    // ---- round-9 grid terms — sequence predictability by lang. -----
    Q("q476_bigram_cond_entropy",
      (s, dir) => {
        val w = words(s, dir)
        val bg = w.as("a").join(w.as("b"),
          col("a.doc_id") === col("b.doc_id")
            && col("b.pos") === col("a.pos") + 1)
          .groupBy(col("a.lang").as("lang"), col("a.w").as("cur"),
            col("b.w").as("nxt"))
          .agg(count(lit(1)).as("c"))
        val withCtx = bg
          .withColumn("cc", sum(col("c")).over(
            Window.partitionBy("lang", "cur")))
          .withColumn("n", sum(col("c")).over(
            Window.partitionBy("lang")))
        withCtx
          .select(col("lang"),
            round(lit(-1.0)
              * (col("c").cast("double") / col("n").cast("double"))
              * log(col("c").cast("double") / col("cc").cast("double")),
              9).cast(DecimalType(38, 9)).as("term"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_bigram_types"),
            round(sum(col("term")).cast("double"), 6)
              .as("cond_entropy_nats"))
      },
      Some(s"""WITH $WordsSql, bg AS (
             |  SELECT a.lang, a.w AS cur, b.w AS nxt,
             |    CAST(COUNT(*) AS BIGINT) AS c
             |  FROM words a JOIN words b
             |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
             |  GROUP BY 1, 2, 3
             |), ctx AS (
             |  SELECT lang, c,
             |    CAST(SUM(c) OVER (PARTITION BY lang, cur) AS BIGINT)
             |      AS cc,
             |    CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS n
             |  FROM bg
             |)
             |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_bigram_types,
             |  ROUND(CAST(SUM(CAST(ROUND(
             |    -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
             |    * ln(CAST(c AS DOUBLE) / CAST(cc AS DOUBLE)), 9)
             |    AS DECIMAL(38, 9))) AS DOUBLE), 6)
             |    AS cond_entropy_nats
             |FROM ctx GROUP BY 1""".stripMargin)),

    // ---- word-length profile homogeneity: length buckets 1..12+
    // ---- per language, chi-square against the pooled profile
    // ---- (expected = row·col/total on the round-6 grid). -----------
    Q("q477_wordlength_homogeneity",
      (s, dir) => {
        val cell = words(s, dir)
          .select(col("lang"), least(length(col("w")), lit(12))
            .cast("long").as("len"))
          .groupBy("lang", "len").agg(count(lit(1)).as("c"))
          .localCheckpoint(true)
        val rows = cell.groupBy("lang").agg(sum(col("c")).as("rm"))
        val cols = cell.groupBy("len").agg(sum(col("c")).as("cm"))
        val tot = cell.agg(sum(col("c")).as("tt"))
        cell.join(broadcast(rows), Seq("lang"))
          .join(broadcast(cols), Seq("len"))
          .crossJoin(broadcast(tot))
          .select(round((col("c").cast("double")
            - col("rm").cast("double") * col("cm").cast("double")
              / col("tt").cast("double"))
            * (col("c").cast("double")
              - col("rm").cast("double") * col("cm").cast("double")
                / col("tt").cast("double"))
            / (col("rm").cast("double") * col("cm").cast("double")
              / col("tt").cast("double")), 6)
            .cast(DecimalType(38, 6)).as("term"))
          .agg(count(lit(1)).as("n_cells"),
            round(sum(col("term")).cast("double"), 6).as("chi2"))
      },
      Some(s"""WITH $WordsSql, cell AS MATERIALIZED (
             |  SELECT lang, LEAST(LENGTH(w), 12) AS len,
             |    CAST(COUNT(*) AS BIGINT) AS c
             |  FROM words GROUP BY 1, 2
             |), rws AS (
             |  SELECT lang, CAST(SUM(c) AS BIGINT) AS rm
             |  FROM cell GROUP BY 1
             |), cls AS (
             |  SELECT len, CAST(SUM(c) AS BIGINT) AS cm
             |  FROM cell GROUP BY 1
             |), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS tt FROM cell)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
             |  ROUND(CAST(SUM(CAST(ROUND((CAST(c AS DOUBLE)
             |      - CAST(rm AS DOUBLE) * CAST(cm AS DOUBLE)
             |        / CAST(tt AS DOUBLE))
             |    * (CAST(c AS DOUBLE)
             |      - CAST(rm AS DOUBLE) * CAST(cm AS DOUBLE)
             |        / CAST(tt AS DOUBLE))
             |    / (CAST(rm AS DOUBLE) * CAST(cm AS DOUBLE)
             |      / CAST(tt AS DOUBLE)), 6) AS DECIMAL(38, 6)))
             |    AS DOUBLE), 6) AS chi2
             |FROM cell JOIN rws USING (lang) JOIN cls USING (len)
             |CROSS JOIN tot""".stripMargin)),

    // ---- per-language richness panel: tokens, types, TTR, hapax
    // ---- share of the vocabulary. ----------------------------------
    Q("q478_richness_panel",
      (s, dir) => {
        words(s, dir).groupBy("lang", "w")
          .agg(count(lit(1)).as("c"))
          .groupBy("lang")
          .agg(sum(col("c")).as("tokens"), count(lit(1)).as("types"),
            sum(when(col("c") === 1L, 1L).otherwise(0L)).as("hapax"))
          .select(col("lang"), col("tokens"), col("types"),
            round(col("types").cast("double")
              / col("tokens").cast("double"), 6).as("ttr"),
            round(col("hapax").cast("double")
              / col("types").cast("double"), 6).as("hapax_share"))
      },
      Some(s"""WITH $WordsSql, tc AS (
             |  SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM words GROUP BY 1, 2
             |)
             |SELECT lang, CAST(SUM(c) AS BIGINT) AS tokens,
             |  CAST(COUNT(*) AS BIGINT) AS types,
             |  ROUND(CAST(COUNT(*) AS DOUBLE)
             |    / CAST(SUM(c) AS DOUBLE), 6) AS ttr,
             |  ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
             |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             |    AS hapax_share
             |FROM tc GROUP BY 1""".stripMargin)),

    // ---- pairwise vocabulary-overlap Jaccard matrix across the
    // ---- languages (exact distinct-type intersections). ------------
    Q("q479_vocab_jaccard",
      (s, dir) => {
        val vocab = words(s, dir).select("lang", "w").distinct()
          .localCheckpoint(true)
        val sizes = vocab.groupBy("lang").agg(count(lit(1)).as("sz"))
        val inter = vocab.as("a").join(vocab.as("b"),
          col("a.w") === col("b.w") && col("a.lang") < col("b.lang"))
          .groupBy(col("a.lang").as("lang_a"),
            col("b.lang").as("lang_b"))
          .agg(count(lit(1)).as("inter"))
        inter
          .join(broadcast(sizes.withColumnRenamed("lang", "lang_a")
            .withColumnRenamed("sz", "sza")), Seq("lang_a"))
          .join(broadcast(sizes.withColumnRenamed("lang", "lang_b")
            .withColumnRenamed("sz", "szb")), Seq("lang_b"))
          .select(col("lang_a"), col("lang_b"), col("inter"),
            round(col("inter").cast("double")
              / (col("sza") + col("szb") - col("inter")).cast("double"),
              6).as("jaccard"))
      },
      Some(s"""WITH $WordsSql, vocab AS MATERIALIZED (
             |  SELECT DISTINCT lang, w FROM words
             |), sizes AS (
             |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS sz
             |  FROM vocab GROUP BY 1
             |), inter AS (
             |  SELECT a.lang AS lang_a, b.lang AS lang_b,
             |    CAST(COUNT(*) AS BIGINT) AS inter
             |  FROM vocab a JOIN vocab b
             |    ON a.w = b.w AND a.lang < b.lang
             |  GROUP BY 1, 2
             |)
             |SELECT lang_a, lang_b, inter,
             |  ROUND(CAST(inter AS DOUBLE)
             |    / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6) AS jaccard
             |FROM inter
             |JOIN sizes sa ON lang_a = sa.lang
             |JOIN sizes sb ON lang_b = sb.lang""".stripMargin)),

    // ---- Zipf's law of abbreviation: Pearson correlation between
    // ---- word length and gridded ln frequency over the corpus
    // ---- vocabulary (expected negative: frequent words are short). -
    Q("q480_law_of_abbreviation",
      (s, dir) => {
        val vocab = words(s, dir).groupBy("w")
          .agg(count(lit(1)).as("c"))
          .select(length(col("w")).cast("long").as("len"),
            round(log(col("c").cast("double")), 9).as("lf"))
        vocab.agg(count(lit(1)).as("n"),
          sum(col("len")).as("sx"),
          sum(col("lf").cast(DecimalType(38, 9))).cast("double")
            .as("sy"),
          sum(round(col("len").cast("double") * col("lf"), 9)
            .cast(DecimalType(38, 9))).cast("double").as("sxy"),
          sum(col("len") * col("len")).as("sxx"),
          sum(round(col("lf") * col("lf"), 9).cast(DecimalType(38, 9)))
            .cast("double").as("syy"))
          .select(col("n").as("n_types"),
            round((col("n").cast("double") * col("sxy")
              - col("sx").cast("double") * col("sy"))
              / sqrt((col("n").cast("double")
                * col("sxx").cast("double")
                - col("sx").cast("double") * col("sx").cast("double"))
                * (col("n").cast("double") * col("syy")
                  - col("sy") * col("sy"))), 6).as("pearson_r"))
      },
      Some(s"""WITH $WordsSql, vocab AS (
             |  SELECT CAST(LENGTH(w) AS BIGINT) AS len,
             |    ROUND(ln(CAST(COUNT(*) AS DOUBLE)), 9) AS lf
             |  FROM words GROUP BY w
             |), m AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(len) AS BIGINT) AS sx,
             |    CAST(SUM(CAST(lf AS DECIMAL(38, 9))) AS DOUBLE) AS sy,
             |    CAST(SUM(CAST(ROUND(CAST(len AS DOUBLE) * lf, 9)
             |      AS DECIMAL(38, 9))) AS DOUBLE) AS sxy,
             |    CAST(SUM(len * len) AS BIGINT) AS sxx,
             |    CAST(SUM(CAST(ROUND(lf * lf, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS syy
             |  FROM vocab
             |)
             |SELECT n AS n_types,
             |  ROUND((CAST(n AS DOUBLE) * sxy
             |    - CAST(sx AS DOUBLE) * sy)
             |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |      * (CAST(n AS DOUBLE) * syy - sy * sy)), 6)
             |    AS pearson_r
             |FROM m""".stripMargin)),
  )
}
