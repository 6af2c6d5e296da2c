package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting.
  *
  * All pure Column expressions (codegen'd, no UDFs) — every operator is
  * a narrow map over the document rows, so the plans scale linearly
  * with no shuffle.
  */
object TextAnalysis {

  /** Whitespace tokens. Single-space split: matches the harness corpus
    * and mirrors byte-for-byte in DuckDB (`string_split(text, ' ')`). */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: word pieces + digits + punctuation as
    * separate tokens (a cheap stand-in for a real BPE vocab — the regex
    * mirrors the GPT-2 pre-tokenizer's shape classes). */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0)))

  /** Small multilingual stopword table (public, common-knowledge lists).
    * Used for both quality's stopword ratio and the language-ID score. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
      "that", "for", "on", "with", "as", "was", "at", "by", "be", "this"),
    "es" -> Seq("el", "la", "los", "las", "de", "y", "que", "en", "un", "una",
      "es", "por", "con", "para", "del", "se", "no", "su", "al", "lo"),
    "fr" -> Seq("le", "la", "les", "de", "et", "que", "en", "un", "une",
      "est", "pour", "dans", "qui", "sur", "au", "du", "pas", "ce", "il", "ne"),
    "de" -> Seq("der", "die", "das", "und", "ist", "in", "den", "von", "zu",
      "mit", "sich", "des", "auf", "für", "nicht", "ein", "eine", "als", "auch", "es"),
    "zh" -> Seq("的", "了", "和", "是", "在", "我", "有", "他", "这", "中",
      "大", "来", "上", "国", "个", "到", "说", "们", "为", "子"))

  /** Count of tokens present in `words`. */
  def hitCount(toks: Column, words: Seq[String]): Column = {
    val set = array(words.map(lit): _*)
    size(filter(toks, t => array_contains(set, t)))
  }

  def stopwordCount(text: Column, lang: String = "en"): Column =
    hitCount(tokens(text), stopwords(lang))

  /** Characters outside [a-zA-Z0-9 ] (punctuation/symbol mass).
    * `regexp_replace` deletes the in-class chars, so the remaining
    * length IS the symbol count. Uppercase is in-class: normal
    * capitalization is not symbol noise. */
  def punctCount(text: Column): Column =
    length(regexp_replace(text, "[a-zA-Z0-9 ]", ""))

  /** Heuristic doc-quality score in [0,1]: stopword density + sane mean
    * word length + low symbol noise (the standard cheap pre-filter
    * stack for LLM corpus cleaning). */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val stopRatio = stopwordCount(text).cast("double") / greatest(nTok, lit(1.0))
    val meanWordLen = length(text).cast("double") / greatest(nTok, lit(1.0))
    // fraction of clean (in-class) characters — symbol-heavy junk scores low
    val cleanRatio = (length(text) - punctCount(text)).cast("double") /
      greatest(length(text).cast("double"), lit(1.0))
    val lenOk = when(nTok >= 5 && nTok <= 100000, 1.0).otherwise(0.0)
    val wordLenOk = when(meanWordLen >= 2.5 && meanWordLen <= 12.0, 1.0).otherwise(0.0)
    (least(stopRatio * 4.0, lit(1.0)) * 0.4 + wordLenOk * 0.2 +
      lenOk * 0.2 + cleanRatio * 0.2)
  }

  /** n-gram-heuristic language ID: argmax of per-language stopword hit
    * counts, deterministic tiebreak by language code; "und" when no
    * hits at all. One pass over the token array per language — a
    * narrow, shuffle-free map. */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(hitCount(toks, words).as("hits"), lit(lang).as("lang"))
    }
    // array_max on struct(hits, lang): max hits, then max lang code —
    // deterministic. Invert lang for asc tiebreak? Keep max-lang: stable.
    val best = array_max(array(scored: _*))
    when(best.getField("hits") > 0, best.getField("lang")).otherwise("und")
  }

  /** 64-bit content fingerprint: xxhash64 of the normalized text
    * (whitespace-collapsed, lowercased). Equal fingerprints ⇒ exact
    * near-identical content; pairs with equal fingerprint join on a
    * single long key — the cheapest dedup pre-pass at scale. */
  def fingerprint(text: Column): Column =
    xxhash64(lower(regexp_replace(trim(text), "\\s+", " ")))

  /** Vocabulary coverage curve — the Zipf statistic behind tokenizer
    * vocab-size choices: the number of distinct tokens needed to cover
    * 90 / 95 / 99% of corpus token mass. One row:
    * `(vocab_total, total_tokens, vocab_90, vocab_95, vocab_99)`.
    *
    * Scale shape: the corpus is touched once for the token-count
    * aggregate; the rank + cumulative mass over the vocabulary table
    * go through [[graft.operators.Ranks.withPrefixSums]] — vocabulary
    * is NOT bounded by construction (Heaps' law: URLs/typos/numbers
    * push real web-scale vocab past 10^8), so the old single-task
    * rank window was the one shape here that would not survive a
    * 100× corpus. One range shuffle on (cnt DESC, token), every sort
    * per-partition. */
  def vocabCoverage(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val counts = docs.select(explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    // rank = running count (weight 1), cum = running token mass, in
    // the SAME pass; `n` (total mass) rides on every row as the
    // prefix-sum group total.
    graft.operators.Ranks.withPrefixSums(counts, Seq.empty,
        Seq(col("cnt").desc, col("token")),
        Seq((lit(1L), "rank", "_vc_vocab"), (col("cnt"), "cum", "n")))
      .agg(
        max(col("rank")).cast("int").as("vocab_total"),
        max(col("n")).as("total_tokens"),
        min(when(col("cum") >= col("n") * 0.90, col("rank")))
          .cast("int").as("vocab_90"),
        min(when(col("cum") >= col("n") * 0.95, col("rank")))
          .cast("int").as("vocab_95"),
        min(when(col("cum") >= col("n") * 0.99, col("rank")))
          .cast("int").as("vocab_99"))
  }

  /** BPE merge-candidate statistics (Sennrich, Haddow & Birch, "Neural
    * machine translation of rare words with subword units", 2016 §3.2)
    * — the training half of byte-pair encoding: each word is a symbol
    * sequence (characters plus the `</w>` end-of-word marker), and the
    * next merge rule is the adjacent symbol pair with the highest
    * frequency-weighted count. Emits the top `topN` candidates as
    * `(rank, sym_a, sym_b, pair_count)` with a deterministic
    * (count DESC, pair ASC) tie-break.
    *
    * Scale shape: pair counting runs over the DISTINCT-word table
    * (vocabulary-bounded — the corpus text is touched exactly once for
    * the word-frequency aggregate), and the pair table itself is
    * alphabet²-bounded, so the final rank window is over a tiny
    * relation no matter the corpus size. */
  def bpePairStats(docs: DataFrame, textCol: String = "text",
                   topN: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wc = docs.select(explode(tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val len = length(col("word"))
    val pairs = transform(sequence(lit(1), len),
      i => struct(
        col("word").substr(i, lit(1)).as("a"),
        when(i < len, col("word").substr(i + lit(1), lit(1)))
          .otherwise(lit("</w>")).as("b")))
    wc.select(explode(pairs).as("p"), col("freq"))
      .groupBy(col("p.a").as("sym_a"), col("p.b").as("sym_b"))
      .agg(sum(col("freq")).as("pair_count"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("pair_count").desc, col("sym_a"), col("sym_b"))))
      .where(col("rank") <= topN)
      .select(col("rank"), col("sym_a"), col("sym_b"), col("pair_count"))
  }

  /** DuckDB oracle reproducing [[bpePairStats]] exactly. */
  def bpePairStatsSql(table: String = "documents", textCol: String = "text",
                      topN: Int = 20): String =
    s"""WITH wc AS (
       |  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split($textCol, ' ')) AS w FROM $table)
       |  WHERE len(w) > 0 GROUP BY w
       |), pe AS MATERIALIZED (
       |  SELECT unnest([{'a': substr(word, i, 1),
       |      'b': CASE WHEN i < len(word) THEN substr(word, i + 1, 1)
       |                ELSE '</w>' END}
       |    FOR i IN range(1, len(word) + 1)]) AS p, freq
       |  FROM wc
       |), pc AS (
       |  SELECT p.a AS sym_a, p.b AS sym_b, CAST(SUM(freq) AS BIGINT) AS pair_count
       |  FROM pe GROUP BY 1, 2
       |)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, sym_a, sym_b) AS INTEGER) AS rank,
       |  sym_a, sym_b, pair_count
       |FROM pc
       |ORDER BY rank LIMIT $topN""".stripMargin
}
