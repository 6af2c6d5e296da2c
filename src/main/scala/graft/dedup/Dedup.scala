package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/** Document deduplication at corpus scale: exact, MinHash+LSH, SimHash,
  * and exact n-gram Jaccard verification.
  *
  * Algorithms follow the published literature: MinHash resemblance
  * (Broder, "On the resemblance and containment of documents", 1997),
  * banded LSH (Indyk & Motwani 1998; Leskovec-Rajaraman-Ullman, Mining
  * of Massive Datasets ch. 3), SimHash (Charikar, "Similarity
  * estimation techniques from rounding algorithms", 2002; Manku et al.,
  * "Detecting near-duplicates for web crawling", 2007).
  *
  * Scale design (the point of each stage):
  *  - exact: one hash-shuffle on a 16-byte key — the cheapest pass,
  *    always run first.
  *  - MinHash+LSH: candidate generation is `explode(bands)` + a
  *    groupBy on (band, hash) — cost O(n·bands) rows shuffled, never
  *    O(n²). Only bucket-mates are pair-joined, then exact Jaccard
  *    verifies. This is the only formulation that survives 100 TB;
  *    any direct pairwise compare does not.
  *  - SimHash: one 64-bit signature per doc ([[simhash64]]); the
  *    banded pair search over signatures (pigeonhole: d bits differing
  *    ⇒ some chunk equal) is [[Portable.simhashPairs]].
  */
object Dedup {

  // ---- exact ---------------------------------------------------------

  /** One representative (min id) per exact text; `n_copies` > 1 marks
    * duplicate groups. */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"),
        md5(col(textCol)).as("text_hash"))
      .drop(textCol)

  /** Keep only the representative row per exact text (hash-groupBy
    * dedup). */
  def exactDedup(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val keep = exactGroups(docs, idCol, textCol)
      .select(col("keep_id").as(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  // ---- shingling -----------------------------------------------------

  /** Distinct word k-gram shingles as an array column (imperative
    * expression — one pass per row). */
  def shingles(text: Column, k: Int = 3): Column =
    graft.functions.HashFunctions.wordShingles(TextAnalysis.tokens(text), k)

  /** HOF formulation of [[shingles]] — differential-test partner. */
  def shinglesHof(text: Column, k: Int = 3): Column = {
    val toks = TextAnalysis.tokens(text)
    val nShingles = size(toks) - (k - 1)
    // guard: Spark's sequence(1, n) is DESCENDING for n < 1, not empty
    when(nShingles < 1, array().cast("array<string>"))
      .otherwise(array_distinct(
        transform(sequence(lit(1), nShingles),
          i => concat_ws(" ", slice(toks, i, lit(k))))))
  }

  // ---- exact substring (span) dedup ----------------------------------

  /** Per-document repeated-span statistics — the EXACT-SUBSTRING dedup
    * signal (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", ACL 2022; the Gopher/RefinedWeb pipelines run the
    * same check with ~50-token spans): a position's k-token window is
    * "duplicated" when the identical span occurs anywhere else in the
    * corpus — another document, or a second position of the same one.
    *
    * Output: (idCol, n_spans, n_dup, dup_frac) for docs with >= 1
    * window; `dup_frac` is the fraction of window positions covered by
    * a corpus-duplicated span — the score RefinedWeb thresholds to drop
    * or trim boilerplate-heavy documents.
    *
    * Scale shape: one explode to (doc, span) position rows, one count
    * by span (hash shuffle on the span key — at production scale hash
    * the span to 16 bytes first so the exchange carries fixed-width
    * keys), one broadcast-free equi-join back, one per-doc aggregate.
    * Never pairwise: corpus² never appears, exactly like the shingle
    * inverted index. */
  def spanStats(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text", spanK: Int = 8): DataFrame = {
    require(spanK >= 1)
    val toks = TextAnalysis.tokens(col(textCol))
    val nWin = size(toks) - (spanK - 1)
    // non-distinct, position-preserving windows (unlike shingles(), a
    // span repeated WITHIN a doc counts as duplicated)
    val windows = when(nWin < 1, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), nWin),
        i => concat_ws(" ", slice(toks, i, lit(spanK)))))
    val pos = docs.select(col(idCol).as("id"), explode(windows).as("span"))
    val counts = pos.groupBy("span").agg(count(lit(1)).as("occ"))
    pos.join(counts, Seq("span"))
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("occ") > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        col("n_dup").cast("double") / col("n_spans").cast("double"))
  }

  /** DuckDB oracle reproducing [[spanStats]] exactly (position windows,
    * corpus-wide occurrence counts, single-division fraction). */
  def spanStatsSql(table: String = "documents", idCol: String = "doc_id",
                   textCol: String = "text", spanK: Int = 8): String =
    s"""WITH pos AS MATERIALIZED (
       |  SELECT $idCol AS id, unnest([array_to_string(toks[i:i+${spanK - 1}], ' ')
       |    FOR i IN range(1, greatest(len(toks) - ${spanK - 2}, 1))]) AS span
       |  FROM (SELECT $idCol, string_split($textCol, ' ') AS toks FROM $table)
       |), counts AS (
       |  SELECT span, CAST(COUNT(*) AS BIGINT) AS occ FROM pos GROUP BY span
       |)
       |SELECT pos.id AS $idCol,
       |  CAST(COUNT(*) AS BIGINT) AS n_spans,
       |  CAST(SUM(CASE WHEN counts.occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       |  CAST(SUM(CASE WHEN counts.occ > 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS dup_frac
       |FROM pos JOIN counts ON pos.span = counts.span
       |GROUP BY pos.id
       |ORDER BY $idCol""".stripMargin

  // ---- MinHash -------------------------------------------------------

  /** k-permutation MinHash signature of the shingle set.
    *
    * Production form: the imperative Catalyst expression
    * [[graft.functions.MinHashSignature]] (one pass, zero intermediate
    * arrays). */
  def minhashSignature(shingleCol: Column, numHashes: Int = 64,
                       seed: Long = 42L): Column =
    graft.functions.HashFunctions.minhashSignature(shingleCol, numHashes, seed)

  /** Higher-order-function formulation of [[minhashSignature]] — the
    * built-ins-only differential-test partner (same hashes, same
    * coefficients, same results; ~10× slower per row due to
    * interpreted lambda dispatch). */
  def minhashSignatureHof(shingleCol: Column, numHashes: Int = 64,
                          seed: Long = 42L): Column = {
    // Fold to 32 bits and use 30-bit odd multipliers so a·h + b stays
    // strictly below 2^63 (max ≈ 2^62 + 2^31): Spark 4 runs ANSI mode,
    // where Long wrap-around is an ARITHMETIC_OVERFLOW error, so the
    // classic mod-2^64 trick is out.
    val base = transform(shingleCol, s => xxhash64(s).bitwiseAND(lit(0xFFFFFFFFL)))
    val perHash = (0 until numHashes).map { i =>
      val a = (mix(seed, 2L * i) & 0x3FFFFFFFL) | 1L  // 30-bit odd multiplier
      val b = mix(seed, 2L * i + 1) & 0x7FFFFFFFL
      array_min(transform(base, h => h * lit(a) + lit(b)))
    }
    array(perHash: _*)
  }

  private def mix(seed: Long, i: Long): Long =
    graft.functions.HashMix.mixAt(seed, i)

  /** LSH banding: split the signature into `bands` groups of `rows`
    * hashes; each band hashes to one bucket key. Docs sharing any
    * (band, bucket) are candidates. */
  def bands(signature: Column, numBands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(numBands - 1)),
      b => struct(b.as("band"),
        xxhash64(slice(signature, b * rowsPerBand + 1, lit(rowsPerBand)).cast("array<string>"))
          .as("bucket")))

  /** MinHash+LSH near-dup candidate pairs, verified with exact Jaccard.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b and
    * jaccard >= `threshold`. The candidate step shuffles O(n·bands)
    * band rows; the verify step computes exact Jaccard only on
    * bucket-mates.
    */
  def minhashPairs(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", shingleK: Int = 3,
                   numHashes: Int = 64, numBands: Int = 16,
                   threshold: Double = 0.6): DataFrame = {
    val rowsPerBand = numHashes / numBands
    // Shingling is the dominant cost and the frame is consumed three
    // times (banding + both verify joins) → materialize it once.
    // MEMORY_AND_DISK: spills instead of OOM at large corpus sizes.
    val sh = docs
      .select(col(idCol).as("id"), shingles(col(textCol), shingleK).as("sh"))
      .where(size(col("sh")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Band rows carry ONLY (id, band, bucket): the 16×-exploded join
    // input stays a few bytes per row instead of dragging the shingle
    // and signature arrays through the exchange.
    // Also persisted: the self-join consumes it twice, and without the
    // cache each side would recompute the 64-hash signatures.
    val banded = sh
      .withColumn("band",
        explode(bands(minhashSignature(col("sh"), numHashes), numBands, rowsPerBand)))
      .select(col("id"), col("band.band"), col("band.bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val cand = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")

    // verify stage: fetch shingles once per side via narrow equi-joins
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard", col("inter") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  // ---- SimHash -------------------------------------------------------

  /** 64-bit SimHash of the token multiset: bit j of the result is 1
    * iff the sum over tokens of ±1 (sign of bit j of the token's
    * xxhash64) is positive. Production form: the imperative expression
    * [[graft.functions.SimHash64]]. */
  def simhash64(text: Column): Column =
    graft.functions.HashFunctions.simhash64(TextAnalysis.tokens(text))

  /** HOF formulation of [[simhash64]] — differential-test partner. */
  def simhash64Hof(text: Column): Column = {
    val hashes = transform(TextAnalysis.tokens(text), t => xxhash64(t))
    // one literal mask per bit; bit j of h is set iff (h & mask_j) != 0
    val masks = array((0 until 64).map(j => lit(1L << j)): _*)
    val counters = aggregate(
      hashes,
      array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc, masks,
        (c, m) => c + when(h.bitwiseAND(m) =!= 0L, 1).otherwise(-1)))
    // bits are disjoint, so summing the kept masks == bitwise OR
    aggregate(
      zip_with(counters, masks, (c, m) => when(c > 0, m).otherwise(0L)),
      lit(0L), (acc, v) => acc + v)
  }

  // ---- near-dup clustering (pairs → components → keep-one) -----------

  /** Connected components over an undirected pair list: returns one
    * `(id, cluster_id)` row per endpoint, `cluster_id` = the smallest id
    * in the component. This is the step that turns near-dup PAIRS into a
    * deduplicatable partition of the corpus (transitive closure: if A~B
    * and B~C, all three are one duplicate group even when A~C was never
    * emitted).
    *
    * Min-label propagation: every node starts labeled with itself; each
    * round takes the min label over direct neighbors; fixpoint after
    * `diameter` rounds. The driver loop runs one distributed
    * join+aggregate per round and a metadata-sized convergence count —
    * iteration count is bounded by the largest cluster's DIAMETER (small
    * for near-dup clusters), never by corpus size. `localCheckpoint`
    * truncates lineage each round (swap for `checkpoint` on a cluster).
    * Throws if `maxIter` rounds don't converge — silently-wrong labels
    * are worse than a loud failure. */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b", maxIter: Int = 50): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("comp").as("dcomp")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("dcomp")).as("nmin"))
      // the change flag rides the update itself (least(comp, nmin) <
      // comp ⟺ nmin < comp), so convergence costs one count over the
      // checkpointed labels instead of a join against the old ones
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"),
          coalesce(col("nmin") < col("comp"), lit(false)).as("chg"))
        .localCheckpoint()
      changed = next.where(col("chg")).count()
      labels = next.select(col("id"), col("comp"))
      iter += 1
    }
    edges.unpersist()
    if (changed > 0) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds — " +
        "a duplicate cluster has a larger diameter; raise maxIter")
    labels
  }

  /** Corpus dedup by near-dup clusters: keep the smallest-id member of
    * every duplicate group, pass through documents in no group. */
  def keepOnePerCluster(docs: DataFrame, pairs: DataFrame,
                        idCol: String = "doc_id"): DataFrame = {
    val losers = connectedComponents(pairs)
      .where(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  // ---- fuzzy matching (bounded edit distance, FastSS blocking) -------

  /** Candidate pairs for edit distance ≤ `maxDist`: records whose
    * FastSS deletion neighborhoods intersect, found by an equi-join on
    * [[graft.functions.DeletionHashes]] variant hashes.
    *
    * COMPLETE blocking — every true pair within `maxDist` shares a
    * deletion variant, so nothing is lost before the verify; the only
    * extras are same-variant coincidences, which
    * [[fuzzyPairs]]' exact `levenshtein` removes. Cost:
    * O(n·C(len,≤maxDist)) narrow (hash, id) rows shuffled — linear in
    * n, never the n² of an unblocked inequality self-join. */
  def editCandidates(recs: DataFrame, maxDist: Int = 2,
                     idCol: String = "id", strCol: String = "name"): DataFrame = {
    val vars = recs.select(col(idCol).as("id"),
        explode(graft.functions.HashFunctions.deletionHashes(col(strCol), maxDist))
          .as("vh"))
    vars.select(col("vh"), col("id").as("id_a"))
      .join(vars.select(col("vh"), col("id").as("id_b")), Seq("vh"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** Record pairs within `maxDist` edit distance: FastSS-blocked
    * candidate generation ([[editCandidates]]) + exact `levenshtein`
    * verify. Returns (id_a, id_b, dist) with id_a < id_b — identical
    * rows to the O(n²) cartesian formulation, at O(n) shuffle cost. */
  def fuzzyPairs(recs: DataFrame, maxDist: Int = 2,
                 idCol: String = "id", strCol: String = "name"): DataFrame = {
    val base = recs.select(col(idCol).as("id"), col(strCol).as("s"))
    editCandidates(base, maxDist, "id", "s")
      .join(base.select(col("id").as("id_a"), col("s").as("s_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("s").as("s_b")), Seq("id_b"))
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .where(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  // ---- exact n-gram Jaccard (bounded verification pass) --------------

  /** Exact word-k-gram Jaccard over all pairs of `docs` — O(n²) in the
    * number of docs, so callers bound the input (it is the *verify*
    * stage; candidate generation is [[minhashPairs]]). Implemented as a
    * shingle-inverted-index self-join (shuffle on shingle), not a
    * cross join. */
  /** Inverted index (id, set size, shingle) — the shared input of the
    * self-join and cross-set exact-Jaccard passes. */
  private[graft] def shingleIndex(docs: DataFrame, idCol: String, textCol: String,
                           shingleK: Int): DataFrame =
    docs.select(col(idCol).as("id"),
        shingles(col(textCol), shingleK).as("sh"))
      .where(size(col("sh")) > 0)
      .withColumn("n", size(col("sh")))
      .select(col("id"), col("n"), explode(col("sh")).as("shingle"))

  def jaccardPairs(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", shingleK: Int = 3,
                   threshold: Double = 0.5): DataFrame = {
    val inv = shingleIndex(docs, idCol, textCol, shingleK)
    val pairs = inv.as("x").join(inv.as("y"), Seq("shingle"))
      .where(col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("inter"),
        first(col("x.n")).as("n_a"), first(col("y.n")).as("n_b"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
    pairs.select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact word-k-gram Jaccard of every `batch` doc against every
    * `corpus` doc it shares a shingle with — the *incremental* dedup
    * shape: an arriving micro-batch is checked against the standing
    * corpus without ever comparing corpus docs to each other. Work is
    * O(batch shingles × corpus postings touched), not O(corpus²), which
    * is what makes admission-time dedup viable at 100 TB: the corpus
    * side is a pre-built inverted index (shuffle on shingle reuses its
    * layout), and only postings for shingles present in the batch are
    * read. Pair with [[minhashPairs]] banding upstream when the batch
    * itself is large. Output: (batch_id, corpus_id, jaccard). */
  def crossJaccardPairs(corpus: DataFrame, batch: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text",
                        shingleK: Int = 3,
                        threshold: Double = 0.5): DataFrame = {
    shingleIndex(batch, idCol, textCol, shingleK).as("x")
      .join(shingleIndex(corpus, idCol, textCol, shingleK).as("y"), Seq("shingle"))
      .groupBy(col("x.id").as("batch_id"), col("y.id").as("corpus_id"))
      .agg(count(lit(1)).as("inter"),
        first(col("x.n")).as("n_a"), first(col("y.n")).as("n_b"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("batch_id"), col("corpus_id"), col("jaccard"))
  }

  // ---- decontamination (train ∩ eval overlap) ------------------------

  /** Train/eval contamination pairs: training docs sharing at least
    * `minOverlap` distinct word-k-gram shingles with an eval doc —
    * the decontamination check every training corpus runs against its
    * benchmark sets.
    *
    * Scale shape: the eval side is tiny (thousands of docs) next to the
    * corpus, so its exploded shingle index is `broadcast` — the check
    * is one broadcast hash join over the corpus shingles, never a
    * corpus-sized shuffle, and nothing pairs train×train. */
  def contamination(train: DataFrame, evalSet: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    shingleK: Int = 3, minOverlap: Int = 1): DataFrame =
    contaminationPairs(
      contaminationInv(train, "train_id", idCol, textCol, shingleK),
      contaminationInv(evalSet, "eval_id", idCol, textCol, shingleK),
      minOverlap)

  /** [[contamination]] over PRE-BUILT inverted shingle frames
    * (`train_id|shingle`, `eval_id|shingle`, one row per distinct
    * shingle per doc) — the entry point when the shingle explode is a
    * shared ingest artifact (built once, probed by every
    * decontamination variant) rather than re-derived per check. */
  def contaminationPairs(trainInv: DataFrame, evalInv: DataFrame,
                         minOverlap: Int = 1): DataFrame = {
    require(minOverlap > 0, s"minOverlap must be positive, got $minOverlap")
    trainInv.join(broadcast(evalInv), Seq("shingle"))
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))      // shingles are distinct per doc
      .where(col("n_shared") >= minOverlap)
  }

  /** The inverted word-`shingleK`-gram frame of a document set:
    * `(as, shingle)`, one row per distinct shingle per doc. Public so
    * callers can materialize it ONCE and feed every contamination
    * variant ([[contaminationPairs]], [[contaminationBloomPairs]]). */
  def contaminationInv(df: DataFrame, as: String, idCol: String = "doc_id",
                       textCol: String = "text",
                       shingleK: Int = 3): DataFrame = df
    .select(col(idCol).as(as), shingles(col(textCol), shingleK).as("sh"))
    .where(size(col("sh")) > 0)
    .select(col(as), explode(col("sh")).as("shingle"))

  /** [[contamination]] with a Bloom semi-join reduction on the train
    * side: a filter over the eval shingle set is built once (bitwise-OR
    * mergeable partial aggregates, one small binary to the driver —
    * the same materialization a runtime join filter performs) and
    * probed INSIDE the corpus scan, so only candidate shingles reach
    * the broadcast-join + exact-count verify. Bloom false positives
    * admit extra candidates that the exact join then discards — the
    * result is row-identical to [[contamination]] for any `fpp`.
    *
    * At 100 TB this is the difference between shuffling/probing every
    * corpus shingle and touching only the ~(contaminated + fpp)
    * fraction: the filter is O(eval shingles) bits broadcast once,
    * and the codegen'd probe fuses into the scan stage.
    *
    * `expectedShingles` sizes the filter; oversizing costs only bytes,
    * undersizing only raises the false-positive rate (never
    * correctness), so a loose upper bound is fine. */
  def contaminationBloom(train: DataFrame, evalSet: DataFrame,
                         idCol: String = "doc_id", textCol: String = "text",
                         shingleK: Int = 3, minOverlap: Int = 1,
                         expectedShingles: Long = 1L << 20,
                         fpp: Double = 0.01): DataFrame =
    contaminationBloomPairs(
      contaminationInv(train, "train_id", idCol, textCol, shingleK),
      contaminationInv(evalSet, "eval_id", idCol, textCol, shingleK),
      minOverlap, expectedShingles, fpp)

  /** [[contaminationBloom]] over pre-built inverted shingle frames —
    * see [[contaminationPairs]]. */
  def contaminationBloomPairs(trainInv: DataFrame, evalInv: DataFrame,
                              minOverlap: Int = 1,
                              expectedShingles: Long = 1L << 20,
                              fpp: Double = 0.01): DataFrame = {
    require(minOverlap > 0, s"minOverlap must be positive, got $minOverlap")
    val filter = graft.functions.Bloom.buildFilter(
      evalInv, col("shingle"), expectedShingles, fpp)
    trainInv
      .where(graft.functions.Bloom.mightContain(filter, col("shingle")))
      .join(broadcast(evalInv), Seq("shingle"))
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minOverlap)
  }

  /** Drop every training doc contaminated against `evalSet` (left-anti
    * on the [[contamination]] hits). */
  def decontaminate(train: DataFrame, evalSet: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    shingleK: Int = 3, minOverlap: Int = 1): DataFrame = {
    val hits = contamination(train, evalSet, idCol, textCol, shingleK, minOverlap)
      .select(col("train_id").as(idCol)).distinct()
    train.join(hits, Seq(idCol), "left_anti")
  }

  // ---- chunk-level dedup with text rewrite ---------------------------

  /** Paragraph/chunk-level corpus dedup that REWRITES the document
    * (MassiveText "repetition removal across documents", Rae et al.
    * 2021 §A1.3; the removal counterpart of the [[spanStats]] audit):
    * the text is cut into non-overlapping `chunkK`-token chunks, a
    * chunk whose exact text occurs elsewhere in the corpus survives
    * only at its first occurrence (smallest `(doc_id, pos)`), and each
    * doc is re-assembled from its surviving chunks in position order.
    *
    * Output per doc: `n_chunks`, `n_kept`, the rebuilt `text_kept`,
    * and `kept_frac` — the downstream filter key (MassiveText drops
    * docs whose retained fraction falls below a threshold).
    *
    * Scale shape: explode to one row per chunk, ONE hash shuffle on
    * the chunk key for the first-occurrence winner (map-side partial
    * `min` — at production scale group on a 16-byte chunk hash so the
    * exchange carries fixed-width keys), one equi-join back, one
    * per-doc aggregate. Corpus² never appears. The per-doc re-assembly
    * is a bounded `collect_list` (docs have bounded length by
    * upstream contract — the same bound that makes `tokens()` safe). */
  def chunkDedupRewrite(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", chunkK: Int = 4): DataFrame = {
    require(chunkK >= 1)
    val toks = TextAnalysis.tokens(col(textCol))
    // ceil(n / k) in integer math; split("") = [""] so size >= 1 always,
    // the greatest() guard mirrors the oracle's belt-and-braces form
    val nChunks = floor((size(toks) + lit(chunkK - 1)) / lit(chunkK)).cast("int")
    val chunks = transform(sequence(lit(1), greatest(nChunks, lit(1))),
      j => struct(j.as("pos"),
        concat_ws(" ", slice(toks, (j - lit(1)) * chunkK + lit(1), lit(chunkK)))
          .as("chunk")))
    val pos = docs.select(col(idCol).as("id"), explode(chunks).as("c"))
      .select(col("id"), col("c.pos").as("pos"), col("c.chunk").as("chunk"))
    // first-occurrence winner per chunk text: min (id, pos) — a partial
    // aggregate, so only one (chunk → winner) row per key crosses the wire
    val winners = pos.groupBy("chunk")
      .agg(min(struct(col("id"), col("pos"))).as("w"))
    pos.join(winners, Seq("chunk"))
      .withColumn("keep", col("id") === col("w.id") && col("pos") === col("w.pos"))
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("pos"), col("chunk"))))),
          s => s.getField("chunk"))).as("text_kept"))
      .withColumn("kept_frac",
        col("n_kept").cast("double") / col("n_chunks").cast("double"))
  }

  /** DuckDB oracle reproducing [[chunkDedupRewrite]] exactly
    * (non-overlapping position chunks, corpus-wide first-occurrence
    * winner, position-ordered re-assembly, single-division fraction). */
  def chunkDedupRewriteSql(table: String = "documents",
                           idCol: String = "doc_id", textCol: String = "text",
                           chunkK: Int = 4): String =
    s"""WITH toks AS (
       |  SELECT $idCol, string_split($textCol, ' ') AS t FROM $table
       |), pos AS MATERIALIZED (
       |  SELECT $idCol AS id, unnest([{'pos': j,
       |      'chunk': array_to_string(t[(j-1)*$chunkK+1 : j*$chunkK], ' ')}
       |    FOR j IN range(1, 1 + greatest(CAST(ceil(len(t) / CAST($chunkK AS DOUBLE)) AS BIGINT), 1))]) AS c
       |  FROM toks
       |), pc AS (
       |  SELECT id, c.pos AS pos, c.chunk AS chunk,
       |    ROW_NUMBER() OVER (PARTITION BY c.chunk ORDER BY id, c.pos) AS rn
       |  FROM pos
       |)
       |SELECT id AS $idCol,
       |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY pos), '') AS text_kept,
       |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS kept_frac
       |FROM pc GROUP BY id
       |ORDER BY $idCol""".stripMargin
}
