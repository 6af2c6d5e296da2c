package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => VF}

/** ANN operators whose quantizers are DERIVED FROM DATA BY ID — the
  * hyperplanes / coarse centroids / PQ codebooks are designated rows of
  * the embedding table itself (`vec_id` ranges), so an independent SQL
  * engine can rebuild the exact index and reproduce the exact output:
  * each operator here has a `...Sql` companion emitting that oracle
  * (DuckDB dialect). This is the verifiable counterpart of the
  * trained-quantizer family in [[Similarity]] / [[ProductQuantization]]
  * (k-means training is float-iteration-order dependent and cannot be
  * replayed bit-exactly by another engine; these can).
  *
  * Determinism contract shared with the oracles:
  *  - every similarity used in a DECISION (bucket bit, cell argmax,
  *    code argmin, ranking) is `round(·, 6)` first, ties broken by id —
  *    the rounded cosine is the value both engines provably agree on;
  *  - PQ ADC scores are integer-quantized (`round(ip·10^6)` per LUT
  *    cell, summed as BIGINT) so the cross-code summation is exact and
  *    order-free in both engines;
  *  - multi-term float reductions are built as explicit left-associated
  *    chains, matching the SQL `t1 + t2 + ...` parse.
  *
  * Scale shape: identical to the trained forms — banding/bucketing
  * bounds candidates, quantizer tables broadcast, the corpus never
  * self-joins unbucketed.
  */
object DataQuantizers {

  // ---- hyperplane store ----------------------------------------------

  /** The `count` embedding rows with `vec_id` in
    * `[offset, offset+count)`, as double vectors ordered by id — the
    * LSH hyperplane set. Metadata-sized (≤ 48 × dim doubles), collected
    * once per (context, cacheKey) into [[IndexCache]] and folded into
    * the projection as literals: bucketing then needs NO join and NO
    * shuffle (same driver-side-build pattern as the Bloom probe). */
  def planes(emb: DataFrame, offset: Int, count: Int, cacheKey: String,
             idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Double]] =
    IndexCache.getOrCompute(emb.sparkSession, s"planes:$cacheKey:$offset:$count") {
      val rows = emb.filter(col(idCol) >= offset && col(idCol) < offset + count)
        .select(col(idCol).cast("long"), col(vecCol))
        .collect()
        .sortBy(_.getLong(0))
        .map(_.getSeq[Float](1).map(_.toDouble).toArray)
      require(rows.length == count,
        s"expected $count plane vectors in [$offset, ${offset + count}), got ${rows.length}")
      rows
    }

  /** '0'/'1' bucket string for table `t`: sign bits of the rounded
    * cosine against planes t·bits .. t·bits+bits-1, in bit order. */
  private def bucketCol(vec: Column, pl: Array[Array[Double]], t: Int,
                        bits: Int): Column =
    concat((0 until bits).map { j =>
      when(round(VF.cosine(vec, typedlit(pl(t * bits + j))), 6) >= 0, lit("1"))
        .otherwise(lit("0"))
    }: _*)

  /** (id, table, bucket) rows — NARROW: the vector is consumed by the
    * bucket projection and deliberately not carried into the exploded
    * output, so the candidate join and dedup shuffle a few bytes per
    * row; rescoring re-fetches vectors by id afterwards. At corpus
    * scale that re-join is the difference between shuffling
    * O(n·tables·dim) floats and O(n·tables) ids. */
  private def bucketed(df: DataFrame, pl: Array[Array[Double]], bits: Int,
                       tables: Int, idName: String,
                       idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as(idName), col(vecCol).as("__v"))
      .withColumn("tb", explode(array((0 until tables).map { t =>
        struct(lit(t).as("table"), bucketCol(col("__v"), pl, t, bits).as("bucket"))
      }: _*)))
      .select(col(idName), col("tb.table").as("table"),
        col("tb.bucket").as("bucket"))

  // ---- LSH top-k -----------------------------------------------------

  /** Approximate top-k via data-derived-hyperplane LSH:
    * (query_id, neighbor_id, cosine, rank), cosine rounded to 6,
    * rank by (cosine desc, neighbor_id). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, bits: Int,
              tables: Int, planeOffset: Int, cacheKey: String,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val pl = planes(corpus, planeOffset, bits * tables, cacheKey, idCol, vecCol)
    // The query side is broadcast-small BY CONTRACT, so the whole
    // candidate+rescore path is map-side over one corpus scan: bucket
    // bits, broadcast-join on (table, bucket), cosine — the corpus
    // never shuffles wide rows; only (query, neighbor, cosine) triples
    // reach the dedup exchange. Duplicate candidates (pairs colliding
    // in several tables) cost `tables` extra cosines instead of a
    // second join pass — the right trade when dim is small and the
    // exchange is the bottleneck.
    def withBuckets(df: DataFrame, idName: String, vecName: String) =
      df.select(col(idCol).as(idName), col(vecCol).as(vecName))
        .withColumn("tb", explode(array((0 until tables).map { t =>
          struct(lit(t).as("table"), bucketCol(col(vecName), pl, t, bits).as("bucket"))
        }: _*)))
        .select(col(idName), col(vecName), col("tb.table").as("table"),
          col("tb.bucket").as("bucket"))
    val c = withBuckets(corpus, "neighbor_id", "c_vec")
    val q = broadcast(withBuckets(queries, "query_id", "q_vec"))
    val scored = c.join(q, Seq("table", "bucket"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(VF.cosine(col("q_vec"), col("c_vec")), 6).as("cosine"))
      .groupBy("query_id", "neighbor_id") // dedup across tables
      .agg(max(col("cosine")).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
  }

  private def bucketCte(table: String, bits: Int, tables: Int,
                        planeOffset: Int): String =
    s"""corp AS MATERIALIZED (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM $table
       |), pl AS (
       |  SELECT vec_id - $planeOffset AS p, CAST(embedding AS DOUBLE[]) AS pv
       |  FROM $table WHERE vec_id >= $planeOffset AND vec_id < ${planeOffset + bits * tables}
       |), buck AS MATERIALIZED (
       |  SELECT c.id, p.p // $bits AS tbl,
       |    string_agg(CASE WHEN round(list_cosine_similarity(c.v, p.pv), 6) >= 0
       |               THEN '1' ELSE '0' END, '' ORDER BY p.p) AS bucket
       |  FROM corp c CROSS JOIN pl p
       |  GROUP BY c.id, p.p // $bits
       |)""".stripMargin

  /** DuckDB oracle reproducing [[lshTopK]] exactly. `queryPred` selects
    * the query rows by id (e.g. "id < 8"). */
  def lshTopKSql(table: String, k: Int, bits: Int, tables: Int,
                 planeOffset: Int, queryPred: String): String =
    s"""WITH ${bucketCte(table, bits, tables, planeOffset)},
       |cand AS (
       |  SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
       |  FROM buck c JOIN buck q ON c.tbl = q.tbl AND c.bucket = q.bucket
       |  WHERE (q.$queryPred) AND c.id <> q.id
       |), sc AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    round(list_cosine_similarity(qv.v, cv.v), 6) AS cosine
       |  FROM cand JOIN corp qv ON qv.id = cand.query_id
       |            JOIN corp cv ON cv.id = cand.neighbor_id
       |)
       |SELECT query_id, neighbor_id, cosine, CAST(rn AS INTEGER) AS rank
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, neighbor_id) AS rn FROM sc)
       |WHERE rn <= $k
       |ORDER BY query_id, rank""".stripMargin

  // ---- LSH near-dup pairs --------------------------------------------

  /** Embedding near-dup pairs among LSH bucket-mates:
    * (id_a, id_b, cosine) with id_a < id_b and rounded cosine >=
    * `threshold`. */
  def nearDupPairs(vectors: DataFrame, threshold: Double, bits: Int,
                   tables: Int, planeOffset: Int, cacheKey: String,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val pl = planes(vectors, planeOffset, bits * tables, cacheKey, idCol, vecCol)
    pairsWithPlanes(vectors, pl, threshold, bits, tables, idCol, vecCol)
  }

  /** [[nearDupPairs]] body against an externally-supplied plane set —
    * lets a caller bucket a SUBSET of the table (e.g. an arriving
    * batch) with planes drawn from the full table's designated rows. */
  private def pairsWithPlanes(vectors: DataFrame, pl: Array[Array[Double]],
                              threshold: Double, bits: Int, tables: Int,
                              idCol: String, vecCol: String): DataFrame = {
    val banded = bucketed(vectors, pl, bits, tables, "id", idCol, vecCol)
    val a = banded.select(col("table"), col("bucket"), col("id").as("id_a"))
    val b = banded.select(col("table"), col("bucket"), col("id").as("id_b"))
    // narrow candidate ids through the join + dedup; vectors re-join
    // per side only for the rescore
    a.join(b, Seq("table", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
      .join(vectors.select(col(idCol).as("id_a"), col(vecCol).as("vec_a")),
        Seq("id_a"))
      .join(vectors.select(col(idCol).as("id_b"), col(vecCol).as("vec_b")),
        Seq("id_b"))
      .withColumn("cosine", round(VF.cosine(col("vec_a"), col("vec_b")), 6))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  private def nearDupPairCtes(table: String, threshold: Double, bits: Int,
                              tables: Int, planeOffset: Int): String =
    s"""${bucketCte(table, bits, tables, planeOffset)},
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM buck a JOIN buck b ON a.tbl = b.tbl AND a.bucket = b.bucket
       |  WHERE a.id < b.id
       |), pairs AS (
       |  SELECT id_a, id_b, cosine FROM (
       |    SELECT cand.id_a, cand.id_b,
       |      round(list_cosine_similarity(av.v, bv.v), 6) AS cosine
       |    FROM cand JOIN corp av ON av.id = cand.id_a
       |              JOIN corp bv ON bv.id = cand.id_b
       |  ) WHERE cosine >= $threshold
       |)""".stripMargin

  /** DuckDB oracle reproducing [[nearDupPairs]] exactly. */
  def nearDupPairsSql(table: String, threshold: Double, bits: Int,
                      tables: Int, planeOffset: Int): String =
    s"""WITH ${nearDupPairCtes(table, threshold, bits, tables, planeOffset)}
       |SELECT id_a, id_b, cosine FROM pairs
       |ORDER BY id_a, id_b""".stripMargin

  /** DuckDB oracle for near-dup CLUSTERS: the same deterministic pair
    * list closed transitively by a recursive CTE — min-id component
    * labels, exactly [[graft.dedup.Dedup.connectedComponents]]'s
    * contract over [[nearDupPairs]]'s edges. */
  def nearDupClustersSql(table: String, threshold: Double, bits: Int,
                         tables: Int, planeOffset: Int): String =
    s"""WITH RECURSIVE ${nearDupPairCtes(table, threshold, bits, tables, planeOffset)},
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs
       |), cc(id, comp) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, cc.comp FROM cc JOIN edges e ON cc.id = e.src
       |)
       |SELECT id AS vec_id, MIN(comp) AS cluster_id
       |FROM cc GROUP BY id
       |ORDER BY vec_id""".stripMargin

  // ---- IVF (seed-row coarse quantizer) -------------------------------

  /** IVF top-k with the coarse quantizer = embedding rows
    * `[centOffset, centOffset+nCentroids)`: assign every vector to its
    * argmax-rounded-cosine cell (tie → smaller cell id), probe the
    * `nProbe` best cells per query, rescore exactly.
    * (query_id, neighbor_id, cosine, rank). */
  /** The coarse-quantizer codebook: (cell, cvec) from the designated
    * id range. Broadcast-small by construction. */
  def ivfCells(emb: DataFrame, nCentroids: Int, centOffset: Int,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    emb.filter(col(idCol) >= centOffset && col(idCol) < centOffset + nCentroids)
      .select(col(idCol).as("cell"), col(vecCol).as("cvec"))

  /** Cell assignment of every corpus vector — the INDEX-BUILD half
    * (ingest-time artifact; cache it, e.g. via [[IndexCache]]): one
    * broadcast cross-score + argmax via max_by on a unique
    * (csim, -cell) key — partial-agg shape (no per-vector sort),
    * deterministic because -cell is unique. (id, cell, vec). */
  def ivfAssignSeeded(emb: DataFrame, cents: DataFrame,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .crossJoin(broadcast(cents))
      .select(col("id"), col("vec"), col("cell"),
        round(VF.cosine(col("vec"), col("cvec")), 6).as("csim"))
      .groupBy("id")
      .agg(max_by(struct(col("cell"), col("vec")),
        struct(col("csim"), (-col("cell")).as("nc"))).as("m"))
      .select(col("id"), col("m.cell").as("cell"), col("m.vec").as("vec"))

  /** Probe half: nProbe best cells per query, rescore only those
    * cells' members. */
  def ivfProbeSeeded(assigned: DataFrame, cents: DataFrame, queries: DataFrame,
                     k: Int, nProbe: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val pw = Window.partitionBy("query_id")
      .orderBy(col("csim").desc, col("cell").asc)
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .crossJoin(broadcast(cents))
      .select(col("query_id"), col("q_vec"), col("cell"),
        round(VF.cosine(col("q_vec"), col("cvec")), 6).as("csim"))
      .withColumn("rn", row_number().over(pw))
      .where(col("rn") <= nProbe)
      .select("query_id", "q_vec", "cell")
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        round(VF.cosine(col("q_vec"), col("vec")), 6).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
  }

  def ivfTopK(emb: DataFrame, queries: DataFrame, k: Int, nCentroids: Int,
              nProbe: Int, centOffset: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = ivfCells(emb, nCentroids, centOffset, idCol, vecCol)
    ivfProbeSeeded(ivfAssignSeeded(emb, cents, idCol, vecCol), cents, queries,
      k, nProbe, idCol, vecCol)
  }

  /** DuckDB oracle reproducing [[ivfTopK]] exactly. */
  def ivfTopKSql(table: String, k: Int, nCentroids: Int, nProbe: Int,
                 centOffset: Int, queryPred: String): String =
    s"""WITH corp AS MATERIALIZED (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM $table
       |), ct AS MATERIALIZED (
       |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
       |  FROM $table WHERE vec_id >= $centOffset AND vec_id < ${centOffset + nCentroids}
       |), asg AS MATERIALIZED (
       |  SELECT id, cell, v FROM (
       |    SELECT c.id, ct.cell, c.v,
       |      ROW_NUMBER() OVER (PARTITION BY c.id
       |        ORDER BY round(list_cosine_similarity(c.v, ct.cv), 6) DESC, ct.cell) AS rn
       |    FROM corp c CROSS JOIN ct
       |  ) WHERE rn = 1
       |), pr AS (
       |  SELECT query_id, qv, cell FROM (
       |    SELECT q.id AS query_id, q.v AS qv, ct.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.id
       |        ORDER BY round(list_cosine_similarity(q.v, ct.cv), 6) DESC, ct.cell) AS rn
       |    FROM corp q CROSS JOIN ct WHERE q.$queryPred
       |  ) WHERE rn <= $nProbe
       |), sc AS (
       |  SELECT pr.query_id, a.id AS neighbor_id,
       |    round(list_cosine_similarity(pr.qv, a.v), 6) AS cosine
       |  FROM asg a JOIN pr ON a.cell = pr.cell
       |  WHERE a.id <> pr.query_id
       |)
       |SELECT query_id, neighbor_id, cosine, CAST(rn AS INTEGER) AS rank
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, neighbor_id) AS rn FROM sc)
       |WHERE rn <= $k
       |ORDER BY query_id, rank""".stripMargin

  // ---- PQ / ADC (seed-row codebooks) ---------------------------------

  /** Explicit left-associated chain `t1 + t2 + ... + tn` — matches the
    * SQL parse of the generated oracle term-for-term. */
  private def chain(terms: Seq[Column]): Column = terms.reduceLeft(_ + _)

  /** PQ ADC top-k with codebooks = sub-slices of embedding rows
    * `[seedOffset, seedOffset+codebookSize)`: encode each corpus vector
    * to `m` codes (argmin rounded squared-L2 per subspace), score each
    * query against the codes through an integer-quantized
    * inner-product LUT, rank by the exact BIGINT sum.
    * (query_id, neighbor_id, adc_score, rank). */
  private def subElem(vec: Column, sub: Int, j: Int): Column =
    element_at(vec, (col("m") * sub + j + 1).cast("int")).cast("double")
  private def cbElem(j: Int): Column = element_at(col("cv"), j + 1).cast("double")

  /** Sub-codebooks from the designated id range: (m, code, cv) with
    * cv = the seed row's m-th dim/m-slice. Broadcast-small. */
  def pqCodebook(emb: DataFrame, m: Int, dim: Int, codebookSize: Int,
                 seedOffset: Int, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, "m must divide dim")
    val sub = dim / m
    emb.filter(col(idCol) >= seedOffset && col(idCol) < seedOffset + codebookSize)
      .select((col(idCol) - seedOffset).cast("long").as("code"), col(vecCol).as("sv"))
      .select(col("code"), explode(array((0 until m).map { mm =>
        struct(lit(mm).as("m"), slice(col("sv"), mm * sub + 1, sub).as("cv"))
      }: _*)).as("e"))
      .select(col("e.m").as("m"), col("code"), col("e.cv").as("cv"))
  }

  /** Corpus codes — the INDEX-BUILD half (ingest-time artifact; cache
    * it): per (vector, subspace), the argmin rounded-squared-L2 code.
    * (id, m, code). */
  def pqEncode(emb: DataFrame, cb: DataFrame, m: Int, dim: Int,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val sub = dim / m
    val d2 = round(chain((0 until sub).map { j =>
      val d = subElem(col("v"), sub, j) - cbElem(j)
      d * d
    }), 6)
    emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .crossJoin(broadcast(cb))
      .select(col("id"), col("m"), col("code"), d2.as("d2"))
      .groupBy("id", "m")
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))
  }

  /** Score half: per query, an integer-quantized inner-product LUT over
    * (m, code); scores are exact BIGINT sums of LUT cells. */
  def pqScore(enc: DataFrame, cb: DataFrame, queries: DataFrame, k: Int,
              m: Int, dim: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val sub = dim / m
    val ip = chain((0 until sub).map(j => subElem(col("qv"), sub, j) * cbElem(j)))
    val lut = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .crossJoin(broadcast(cb))
      .select(col("query_id"), col("m"), col("code"),
        round(ip * 1000000.0).cast("long").as("ipq"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("s").desc, col("neighbor_id").asc)
    enc.join(broadcast(lut), Seq("m", "code"))
      .where(col("id") =!= col("query_id"))
      .groupBy(col("query_id"), col("id").as("neighbor_id"))
      .agg(sum(col("ipq")).as("s"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        (col("s").cast("double") / 1000000.0).as("adc_score"), col("rank"))
  }

  def pqTopK(emb: DataFrame, queries: DataFrame, k: Int, m: Int, dim: Int,
             codebookSize: Int, seedOffset: Int,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cb = pqCodebook(emb, m, dim, codebookSize, seedOffset, idCol, vecCol)
    pqScore(pqEncode(emb, cb, m, dim, idCol, vecCol), cb, queries, k, m, dim,
      idCol, vecCol)
  }

  /** IVF+PQ composed — the standard large-corpus ANN layout (FAISS
    * IVFPQ; Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011): the coarse quantizer prunes to `nProbe`
    * cells per query, and only those cells' members are ADC-scored
    * through the integer LUT. Work per query is
    * O(nProbe·cell·m) LUT adds instead of O(corpus·dim) — the
    * composition is what makes billion-vector serving tractable; both
    * halves (cell assignment, PQ codes) are the cached ingest
    * artifacts. (query_id, neighbor_id, adc_score, rank), ranked by
    * exact BIGINT score, id tiebreak. */
  def ivfPqProbe(asg: DataFrame, cents: DataFrame, cb: DataFrame,
                 enc: DataFrame, queries: DataFrame, k: Int, nProbe: Int,
                 m: Int, dim: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val sub = dim / m
    val pw = Window.partitionBy("query_id")
      .orderBy(col("csim").desc, col("cell").asc)
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .crossJoin(broadcast(cents))
      .select(col("query_id"), col("qv"), col("cell"),
        round(VF.cosine(col("qv"), col("cvec")), 6).as("csim"))
      .withColumn("rn", row_number().over(pw))
      .where(col("rn") <= nProbe)
    val ip = chain((0 until sub).map(j => subElem(col("qv"), sub, j) * cbElem(j)))
    val lut = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .crossJoin(broadcast(cb))
      .select(col("query_id"), col("m"), col("code"),
        round(ip * 1000000.0).cast("long").as("ipq"))
    val cand = asg.select(col("id"), col("cell"))
      .join(broadcast(probes.select("query_id", "cell")), Seq("cell"))
      .where(col("id") =!= col("query_id"))
      .select("query_id", "id")
    val w = Window.partitionBy("query_id")
      .orderBy(col("s").desc, col("neighbor_id").asc)
    cand.join(enc, Seq("id"))
      .join(broadcast(lut), Seq("query_id", "m", "code"))
      .groupBy(col("query_id"), col("id").as("neighbor_id"))
      .agg(sum(col("ipq")).as("s"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        (col("s").cast("double") / 1000000.0).as("adc_score"), col("rank"))
  }

  /** DuckDB oracle reproducing [[ivfPqProbe]] exactly (the ivf + pq
    * CTEs composed: probed cells bound the candidates, the LUT scores
    * them). */
  def ivfPqTopKSql(table: String, k: Int, nCentroids: Int, nProbe: Int,
                   centOffset: Int, m: Int, dim: Int, codebookSize: Int,
                   seedOffset: Int, queryPred: String): String = {
    val sub = dim / m
    val d2 = (1 to sub)
      .map(j => s"(v[b.m * $sub + $j] - cv[$j]) * (v[b.m * $sub + $j] - cv[$j])")
      .mkString(" + ")
    val ip = (1 to sub).map(j => s"qv[b.m * $sub + $j] * cv[$j]").mkString(" + ")
    s"""WITH corp AS MATERIALIZED (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM $table
       |), ct AS MATERIALIZED (
       |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
       |  FROM $table WHERE vec_id >= $centOffset AND vec_id < ${centOffset + nCentroids}
       |), asg AS MATERIALIZED (
       |  SELECT id, cell FROM (
       |    SELECT c.id, ct.cell,
       |      ROW_NUMBER() OVER (PARTITION BY c.id
       |        ORDER BY round(list_cosine_similarity(c.v, ct.cv), 6) DESC, ct.cell) AS rn
       |    FROM corp c CROSS JOIN ct
       |  ) WHERE rn = 1
       |), cb AS MATERIALIZED (
       |  SELECT mm.m, code, sv[mm.m * $sub + 1 : mm.m * $sub + $sub] AS cv
       |  FROM (SELECT vec_id - $seedOffset AS code, CAST(embedding AS DOUBLE[]) AS sv
       |        FROM $table
       |        WHERE vec_id >= $seedOffset AND vec_id < ${seedOffset + codebookSize})
       |  CROSS JOIN (SELECT unnest(range($m)) AS m) mm
       |), enc AS MATERIALIZED (
       |  SELECT id, m, code FROM (
       |    SELECT c.id, b.m, b.code,
       |      ROW_NUMBER() OVER (PARTITION BY c.id, b.m
       |        ORDER BY round($d2, 6), b.code) AS rn
       |    FROM (SELECT id, v FROM corp) c CROSS JOIN cb b
       |  ) WHERE rn = 1
       |), pr AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.id AS query_id, ct.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.id
       |        ORDER BY round(list_cosine_similarity(q.v, ct.cv), 6) DESC, ct.cell) AS rn
       |    FROM corp q CROSS JOIN ct WHERE q.$queryPred
       |  ) WHERE rn <= $nProbe
       |), lut AS (
       |  SELECT q.id AS query_id, b.m, b.code,
       |    CAST(round(($ip) * 1000000.0) AS BIGINT) AS ipq
       |  FROM (SELECT id, v AS qv FROM corp WHERE $queryPred) q CROSS JOIN cb b
       |), cand AS (
       |  SELECT DISTINCT pr.query_id, a.id
       |  FROM asg a JOIN pr ON a.cell = pr.cell
       |  WHERE a.id <> pr.query_id
       |), sc AS (
       |  SELECT c.query_id, e.id AS neighbor_id, SUM(l.ipq) AS s
       |  FROM cand c JOIN enc e ON e.id = c.id
       |  JOIN lut l ON l.query_id = c.query_id AND l.m = e.m AND l.code = e.code
       |  GROUP BY c.query_id, e.id
       |)
       |SELECT query_id, neighbor_id,
       |  CAST(s AS DOUBLE) / 1000000.0 AS adc_score, CAST(rn AS INTEGER) AS rank
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY s DESC, neighbor_id) AS rn FROM sc)
       |WHERE rn <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB oracle reproducing [[pqTopK]] exactly. */
  def pqTopKSql(table: String, k: Int, m: Int, dim: Int, codebookSize: Int,
                seedOffset: Int, queryPred: String): String = {
    val sub = dim / m
    val d2 = (1 to sub)
      .map(j => s"(v[b.m * $sub + $j] - cv[$j]) * (v[b.m * $sub + $j] - cv[$j])")
      .mkString(" + ")
    val ip = (1 to sub).map(j => s"qv[b.m * $sub + $j] * cv[$j]").mkString(" + ")
    s"""WITH corp AS MATERIALIZED (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM $table
       |), cb AS MATERIALIZED (
       |  SELECT mm.m, code, sv[mm.m * $sub + 1 : mm.m * $sub + $sub] AS cv
       |  FROM (SELECT vec_id - $seedOffset AS code, CAST(embedding AS DOUBLE[]) AS sv
       |        FROM $table
       |        WHERE vec_id >= $seedOffset AND vec_id < ${seedOffset + codebookSize})
       |  CROSS JOIN (SELECT unnest(range($m)) AS m) mm
       |), enc AS MATERIALIZED (
       |  SELECT id, m, code FROM (
       |    SELECT c.id, b.m, b.code,
       |      ROW_NUMBER() OVER (PARTITION BY c.id, b.m
       |        ORDER BY round($d2, 6), b.code) AS rn
       |    FROM (SELECT id, v FROM corp) c CROSS JOIN cb b
       |  ) WHERE rn = 1
       |), lut AS (
       |  SELECT q.id AS query_id, b.m, b.code,
       |    CAST(round(($ip) * 1000000.0) AS BIGINT) AS ipq
       |  FROM (SELECT id, v AS qv FROM corp WHERE $queryPred) q CROSS JOIN cb b
       |), sc AS (
       |  SELECT l.query_id, e.id AS neighbor_id, SUM(l.ipq) AS s
       |  FROM enc e JOIN lut l ON e.m = l.m AND e.code = l.code
       |  WHERE e.id <> l.query_id
       |  GROUP BY l.query_id, e.id
       |)
       |SELECT query_id, neighbor_id,
       |  CAST(s AS DOUBLE) / 1000000.0 AS adc_score, CAST(rn AS INTEGER) AS rank
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY s DESC, neighbor_id) AS rn FROM sc)
       |WHERE rn <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---- batch admission (deterministic form) --------------------------

  /** Deterministic embedding ADMISSION decision — the batch analog of
    * [[graft.streaming.EmbeddingAdmission.admitBatch]] with
    * data-derived hyperplanes so an independent engine replays the
    * whole gate: rows matching `batchPred` are the arriving batch, the
    * rest of the table is the standing corpus. The batch self-collapses
    * (LSH pairs at rounded cosine >= `threshold` → connected
    * components → min-id representative), then each representative is
    * probed against corpus bucket-mates; output is EVERY batch row with
    * its gate verdict:
    *
    * (vec_id, status) — `dup_in_batch` (a smaller-id near-dup rode the
    * same batch), `dup_in_corpus` (its cluster's representative matched
    * an already-admitted vector), or `admitted`.
    *
    * Scale shape: the batch side is broadcast-small by contract; the
    * corpus side is ONE scan with bucket bits computed in the
    * projection — no corpus shuffle, no corpus self-join; rescoring
    * touches bucket-mates only. Component rounds are bounded by the
    * batch's cluster diameter, never corpus size. */
  def admission(emb: DataFrame, batchPred: Column, threshold: Double,
                bits: Int, tables: Int, planeOffset: Int, cacheKey: String,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val pl = planes(emb, planeOffset, bits * tables, cacheKey, idCol, vecCol)
    val batch = emb.filter(batchPred)
    val corpus = emb.filter(!batchPred)

    val selfPairs =
      pairsWithPlanes(batch, pl, threshold, bits, tables, idCol, vecCol)
    // comp = min id of the within-batch similarity component; unpaired
    // rows are their own representative
    val lab = batch.select(col(idCol).as("id"))
      .join(graft.dedup.Dedup.connectedComponents(selfPairs), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))

    val reps = emb.select(col(idCol), col(vecCol))
      .join(lab.where(col("id") === col("comp"))
        .select(col("id").as(idCol)), Seq(idCol))
    val cb = bucketed(corpus, pl, bits, tables, "corpus_id", idCol, vecCol)
    val rb = bucketed(reps, pl, bits, tables, "batch_id", idCol, vecCol)
    val rejected = cb.join(broadcast(rb), Seq("table", "bucket"))
      .select("batch_id", "corpus_id")
      .dropDuplicates("batch_id", "corpus_id")
      .join(corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv")),
        Seq("corpus_id"))
      .join(broadcast(batch.select(col(idCol).as("batch_id"),
        col(vecCol).as("bv"))), Seq("batch_id"))
      .where(round(VF.cosine(col("bv"), col("cv")), 6) >= threshold)
      .select(col("batch_id").as("id")).distinct()
      .withColumn("rej", lit(1))

    lab.join(rejected, Seq("id"), "left")
      .select(col("id").as(idCol),
        when(col("comp") =!= col("id"), lit("dup_in_batch"))
          .when(col("rej").isNotNull, lit("dup_in_corpus"))
          .otherwise(lit("admitted")).as("status"))
  }

  /** DuckDB oracle reproducing [[admission]] exactly. `batchPred` is an
    * id predicate (e.g. "id % 17 = 3") — rendered against each CTE's
    * alias, so it must start with the column name `id`. */
  def admissionSql(table: String, threshold: Double, bits: Int, tables: Int,
                   planeOffset: Int, batchPred: String): String =
    s"""WITH RECURSIVE ${bucketCte(table, bits, tables, planeOffset)},
       |bcand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM buck a JOIN buck b ON a.tbl = b.tbl AND a.bucket = b.bucket
       |  WHERE a.id < b.id AND (a.$batchPred) AND (b.$batchPred)
       |), pairs AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT bcand.id_a, bcand.id_b,
       |      round(list_cosine_similarity(av.v, bv.v), 6) AS cosine
       |    FROM bcand JOIN corp av ON av.id = bcand.id_a
       |               JOIN corp bv ON bv.id = bcand.id_b
       |  ) WHERE cosine >= $threshold
       |), edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs
       |), cc(id, comp) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, cc.comp FROM cc JOIN edges e ON cc.id = e.src
       |), lab AS (
       |  SELECT c.id, coalesce(mc.comp, c.id) AS comp
       |  FROM (SELECT id FROM corp WHERE $batchPred) c
       |  LEFT JOIN (SELECT id, MIN(comp) AS comp FROM cc GROUP BY id) mc
       |    ON c.id = mc.id
       |), xr AS (
       |  SELECT DISTINCT rb.id
       |  FROM buck cb JOIN buck rb ON cb.tbl = rb.tbl AND cb.bucket = rb.bucket
       |  JOIN lab r ON rb.id = r.id AND r.id = r.comp
       |  JOIN corp cv ON cv.id = cb.id
       |  JOIN corp rv ON rv.id = rb.id
       |  WHERE NOT (cb.$batchPred)
       |    AND round(list_cosine_similarity(rv.v, cv.v), 6) >= $threshold
       |)
       |SELECT lab.id AS vec_id,
       |  CASE WHEN lab.comp <> lab.id THEN 'dup_in_batch'
       |       WHEN xr.id IS NOT NULL THEN 'dup_in_corpus'
       |       ELSE 'admitted' END AS status
       |FROM lab LEFT JOIN xr ON lab.id = xr.id
       |ORDER BY vec_id""".stripMargin

  // ---- semantic dedup (cluster-then-prune) ---------------------------

  /** SemDeDup-shaped semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540 — public): partition the embedding space into
    * coarse cells (here the seed-row IVF quantizer, so the partition is
    * engine-reproducible), find within-cell pairs at rounded cosine >=
    * `threshold`, close them into components, and keep one
    * representative (min id) per component.
    *
    * Output: (vec_id, cell, kept) for every vector.
    *
    * Scale shape — the reason SemDeDup clusters first: candidate pairs
    * are confined to cells, so the quadratic term is Σ|cell|², not n²;
    * cells are sized by the quantizer (n/k expected), and the pair join
    * carries narrow (id, cell) rows with vectors re-fetched by id only
    * for rescoring. Component rounds are bounded by within-cell cluster
    * diameter. At 100 TB the assignment is the cached ingest-time
    * artifact ([[graft.sim.IndexCache]]); only cells touched by new
    * data re-pair. */
  def semanticDedup(asg: DataFrame, emb: DataFrame, threshold: Double,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val narrow = asg.select(col("id"), col("cell"))
    val pairs = narrow.select(col("cell"), col("id").as("id_a"))
      .join(narrow.select(col("cell"), col("id").as("id_b")), Seq("cell"))
      .where(col("id_a") < col("id_b"))
      .join(emb.select(col(idCol).as("id_a"), col(vecCol).as("va")), Seq("id_a"))
      .join(emb.select(col(idCol).as("id_b"), col(vecCol).as("vb")), Seq("id_b"))
      .where(round(VF.cosine(col("va"), col("vb")), 6) >= threshold)
      .select(col("id_a"), col("id_b"))
    // components cannot span cells (each id has exactly one cell), so
    // the global closure equals the per-cell closure
    val lab = narrow
      .join(graft.dedup.Dedup.connectedComponents(pairs), Seq("id"), "left")
      .select(col("id"), col("cell"), coalesce(col("comp"), col("id")).as("comp"))
    lab.select(col("id").as(idCol), col("cell").cast("long").as("cell"),
      (col("comp") === col("id")).as("kept"))
  }

  /** DuckDB oracle reproducing [[semanticDedup]] over the seed-row IVF
    * assignment exactly. */
  def semanticDedupSql(table: String, threshold: Double, nCentroids: Int,
                       centOffset: Int): String =
    s"""WITH RECURSIVE corp AS MATERIALIZED (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM $table
       |), ct AS MATERIALIZED (
       |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
       |  FROM $table WHERE vec_id >= $centOffset AND vec_id < ${centOffset + nCentroids}
       |), asg AS MATERIALIZED (
       |  SELECT id, cell, v FROM (
       |    SELECT c.id, ct.cell, c.v,
       |      ROW_NUMBER() OVER (PARTITION BY c.id
       |        ORDER BY round(list_cosine_similarity(c.v, ct.cv), 6) DESC, ct.cell) AS rn
       |    FROM corp c CROSS JOIN ct
       |  ) WHERE rn = 1
       |), pairs AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT a.id AS id_a, b.id AS id_b,
       |      round(list_cosine_similarity(a.v, b.v), 6) AS cosine
       |    FROM asg a JOIN asg b ON a.cell = b.cell AND a.id < b.id
       |  ) WHERE cosine >= $threshold
       |), edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs
       |), cc(id, comp) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, cc.comp FROM cc JOIN edges e ON cc.id = e.src
       |)
       |SELECT a.id AS vec_id, CAST(a.cell AS BIGINT) AS cell,
       |  coalesce(mc.comp, a.id) = a.id AS kept
       |FROM asg a
       |LEFT JOIN (SELECT id, MIN(comp) AS comp FROM cc GROUP BY id) mc
       |  ON a.id = mc.id
       |ORDER BY vec_id""".stripMargin
}
