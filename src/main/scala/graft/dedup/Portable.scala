package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{PortableHash, PortableHashFunctions}
import graft.text.TextAnalysis

/** Engine-portable MinHash-LSH and SimHash near-dup pairs, built on
  * md5-derived signatures ([[graft.functions.PortableHash]]) instead of
  * the xxhash64 ones of [[Dedup.minhashPairs]] / [[Dedup.simhash64]], so
  * the EXACT output — candidates included — is reproducible by an
  * independent SQL engine. The `...Sql` companions emit that oracle
  * (DuckDB dialect), sharing the rehash coefficients with the Spark
  * kernels from the single [[PortableHash.coeffs]] source.
  *
  * Why this exists: approximate dedup is only trustworthy when a second
  * system can re-derive it. [[Dedup.minhashPairs]] stays the xxhash64
  * MinHash path (fastest per shingle); the SimHash pair search exists
  * only here. These forms are what the DuckDB oracles check. Scale
  * shape is banding: O(n·bands) candidate rows through the exchange,
  * never O(n²).
  */
object Portable {

  // ---- MinHash -------------------------------------------------------

  /** MinHash+LSH near-dup pairs (portable signatures), verified with
    * exact Jaccard: (id_a, id_b, jaccard) with id_a < id_b and
    * jaccard >= `threshold`. `numBands` bands of
    * `numHashes / numBands` rows each; candidate = any shared band key.
    */
  /** Signature table (id, sh, mh) — the INDEX-BUILD half of
    * [[minhashPairs]] (one md5 per shingle + all rehashes): an
    * ingest-time artifact, cache it (e.g. via
    * [[graft.sim.IndexCache]]). The shingle sets ride along because the
    * exact-Jaccard verify needs them. */
  def minhashIndex(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", shingleK: Int = 3,
                   numHashes: Int = 32, seed: Long = 42L): DataFrame =
    docs
      .select(col(idCol).as("id"), Dedup.shingles(col(textCol), shingleK).as("sh"))
      .where(size(col("sh")) > 0)
      .withColumn("mh",
        PortableHashFunctions.minhashSignature(col("sh"), numHashes, seed))

  /** Banding + candidate join + exact verify over a prebuilt
    * [[minhashIndex]] — the probe half. */
  def minhashPairsFromIndex(index: DataFrame, numHashes: Int = 32,
                            numBands: Int = 16,
                            threshold: Double = 0.6): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val rowsPerBand = numHashes / numBands
    // band key = ':'-joined decimal minhash values — a plain string any
    // engine renders identically (no second-level hash to mirror)
    val banded = index.select(col("id"), explode(array((0 until numBands).map { b =>
        struct(lit(b).as("band"),
          concat_ws(":", (0 until rowsPerBand).map(r =>
            element_at(col("mh"), b * rowsPerBand + r + 1).cast("string")): _*)
            .as("bucket"))
      }: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))

    val cand = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")

    cand
      .join(index.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(index.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard", col("inter") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  def minhashPairs(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", shingleK: Int = 3,
                   numHashes: Int = 32, numBands: Int = 16,
                   threshold: Double = 0.6, seed: Long = 42L): DataFrame = {
    val idx = minhashIndex(docs, idCol, textCol, shingleK, numHashes, seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    minhashPairsFromIndex(idx, numHashes, numBands, threshold)
  }

  /** Word k-gram shingle CTEs (DuckDB) — the exact mirror of
    * [[Dedup.shingles]] over `string_split(text, ' ')` tokens, proven
    * byte-parity by the q37 oracle. Emits `sh(id, sh, n)`. */
  private[graft] def shingleCte(k: Int, table: String, idCol: String,
                         textCol: String): String =
    s"""sh AS MATERIALIZED (
       |  SELECT $idCol AS id, sl AS sh, len(sl) AS n FROM (
       |    SELECT $idCol,
       |      list_distinct([array_to_string(toks[i:i+${k - 1}], ' ')
       |        FOR i IN range(1, greatest(len(toks) - ${k - 2}, 1))]) AS sl
       |    FROM (SELECT $idCol, string_split($textCol, ' ') AS toks
       |          FROM $table)
       |  ) WHERE len(sl) > 0
       |)""".stripMargin

  /** DuckDB oracle reproducing [[minhashPairs]] exactly: same md5 base
    * hash, same coefficients, same band keys, same exact-Jaccard
    * verify. */
  def minhashPairsSql(table: String = "documents", idCol: String = "doc_id",
                      textCol: String = "text", shingleK: Int = 3,
                      numHashes: Int = 32, numBands: Int = 16,
                      threshold: Double = 0.6, seed: Long = 42L): String = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val rowsPerBand = numHashes / numBands
    val cs = PortableHash.coeffs(numHashes, seed)
    val mhCols = cs.zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(bh, h -> ($a * h + $b) % ${PortableHash.P})) AS mh_$i"
    }.mkString(",\n    ")
    val bandSelects = (0 until numBands).map { b =>
      val key = (0 until rowsPerBand)
        .map(r => s"CAST(mh_${b * rowsPerBand + r} AS VARCHAR)")
        .mkString(" || ':' || ")
      s"SELECT id, $b AS band, $key AS bucket FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH ${shingleCte(shingleK, table, idCol, textCol)},
       |bh AS (
       |  SELECT id, list_transform(sh,
       |    s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % ${PortableHash.P}) AS bh
       |  FROM sh
       |), sig AS MATERIALIZED (
       |  SELECT id,
       |    $mhCols
       |  FROM bh
       |), banded AS MATERIALIZED (
       |  $bandSelects
       |), cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
       |)
       |SELECT c.id_a, c.id_b,
       |  CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
       |    / CAST(x.n + y.n - len(list_intersect(x.sh, y.sh)) AS DOUBLE) AS jaccard
       |FROM cand c JOIN sh x ON x.id = c.id_a JOIN sh y ON y.id = c.id_b
       |WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
       |    / CAST(x.n + y.n - len(list_intersect(x.sh, y.sh)) AS DOUBLE) >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ---- SimHash -------------------------------------------------------

  /** Signature table (id, hi, lo) — the INDEX-BUILD half of
    * [[simhashPairs]] (one md5 per token): an ingest-time artifact,
    * cache it (e.g. via [[graft.sim.IndexCache]]). */
  def simhashIndex(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("id"),
        PortableHashFunctions.simhashWords(TextAnalysis.tokens(col(textCol))).as("sw"))
      .select(col("id"), element_at(col("sw"), 1).as("hi"),
        element_at(col("sw"), 2).as("lo"))

  /** Pigeonhole banding + Hamming verify over a prebuilt
    * [[simhashIndex]] — the probe half. */
  def simhashPairsFromIndex(sigs: DataFrame, maxHamming: Int = 6,
                            numBands: Int = 8): DataFrame = {
    require(numBands > maxHamming,
      s"pigeonhole completeness needs numBands > maxHamming ($numBands <= $maxHamming)")
    require(64 % numBands == 0, "numBands must divide 64")
    val width = 64 / numBands
    val bandsPerWord = numBands / 2
    val banded = sigs.select(col("id"), col("hi"), col("lo"),
      explode(array((0 until numBands).map { b =>
        val word = if (b < bandsPerWord) col("hi") else col("lo")
        val sh = (b % bandsPerWord) * width
        struct(lit(b).as("band"),
          shiftright(word, sh).bitwiseAND((1L << width) - 1).as("chunk"))
      }: _*)).as("bb"))
      .select(col("id"), col("hi"), col("lo"), col("bb.band"), col("bb.chunk"))
    val a = banded.select(col("band"), col("chunk"), col("id").as("id_a"),
      col("hi").as("hi_a"), col("lo").as("lo_a"))
    val b = banded.select(col("band"), col("chunk"), col("id").as("id_b"),
      col("hi").as("hi_b"), col("lo").as("lo_b"))
    // Hamming-filter BEFORE the pair dedup: the bit_count check is
    // per-row arithmetic inside the join's output stream, while
    // dropDuplicates is a hash aggregate over every banded collision.
    // With duplicate-heavy corpora (crawl data; the gen_scale sweep
    // replicates every text K times) collision buckets grow ~K², and
    // deduping the unfiltered candidate set OOMed the sf1.0 sweep —
    // filtered first, the aggregate only ever sees true near-dups.
    a.join(b, Seq("band", "chunk"))
      .where(col("id_a") < col("id_b"))
      .withColumn("hamming",
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
         bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).cast("int"))
      .where(col("hamming") <= maxHamming)
      // per-pair dedup as an explicit aggregate: every band duplicate
      // of a pair carries the SAME hamming, so min() is exact (and
      // dropDuplicates-after-filter trips a Catalyst binding bug here)
      .groupBy("id_a", "id_b").agg(min(col("hamming")).as("hamming"))
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** SimHash near-dup pairs within `maxHamming` over the portable
    * two-word signature: (id_a, id_b, hamming). Banding is pigeonhole-
    * EXACT (`numBands > maxHamming` ⇒ some band matches), so the output
    * equals the full O(n²) Hamming pass — which is precisely what the
    * SQL oracle computes. */
  def simhashPairs(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", maxHamming: Int = 6,
                   numBands: Int = 8): DataFrame = {
    val sigs = simhashIndex(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    simhashPairsFromIndex(sigs, maxHamming, numBands)
  }

  /** DuckDB oracle for [[simhashPairs]]: recompute both signature words
    * per doc (64 sign-counters from md5 word bits), then the FULL O(n²)
    * Hamming join — equal to the banded Spark output by the pigeonhole
    * guarantee. */
  def simhashPairsSql(table: String = "documents", idCol: String = "doc_id",
                      textCol: String = "text", maxHamming: Int = 6): String = {
    val cnt = (0 until 32).flatMap { j =>
      val m = 1L << j
      Seq(
        s"SUM(CASE WHEN (h1 & $m) <> 0 THEN 1 ELSE -1 END) AS c$j",
        s"SUM(CASE WHEN (h2 & $m) <> 0 THEN 1 ELSE -1 END) AS d$j")
    }.mkString(",\n    ")
    val hi = (0 until 32).map(j => s"(CASE WHEN c$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    val lo = (0 until 32).map(j => s"(CASE WHEN d$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH th AS (
       |  SELECT id, ('0x' || substr(m, 1, 8))::BIGINT AS h1,
       |         ('0x' || substr(m, 9, 8))::BIGINT AS h2
       |  FROM (SELECT $idCol AS id, md5(unnest(string_split($textCol, ' '))) AS m
       |        FROM $table)
       |), cnt AS (
       |  SELECT id,
       |    $cnt
       |  FROM th GROUP BY id
       |), sig AS MATERIALIZED (
       |  SELECT id, $hi AS hi, $lo AS lo FROM cnt
       |)
       |SELECT a.id AS id_a, b.id AS id_b,
       |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INTEGER) AS hamming
       |FROM sig a JOIN sig b ON a.id < b.id
       |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= $maxHamming
       |ORDER BY id_a, id_b""".stripMargin
  }
}
