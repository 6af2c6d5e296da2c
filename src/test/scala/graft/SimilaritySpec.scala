package graft

import org.apache.spark.sql.functions._

import graft.functions.{TopKAgg, VectorFunctions => VF}
import graft.sim.{DataQuantizers, Similarity}
import graft.sources.Tables

/** Vector ops: codegen'd expression vs higher-order-function
  * differential; bounded-heap top-k aggregate vs window formulation;
  * LSH and IVF recall against brute force. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.load(spark, sfDir, "embeddings")

  test("codegen cosine == HOF cosine (differential over real vectors)") {
    val a = emb.select($"vec_id".as("ia"), $"embedding".as("va")).where($"ia" < 50)
    val b = emb.select($"vec_id".as("ib"), $"embedding".as("vb")).where($"ib" < 50)
    val diff = a.crossJoin(b)
      .select(abs(VF.cosine($"va", $"vb") - VF.cosineHof($"va", $"vb")).as("d"))
      .agg(max($"d")).as[Double].head()
    assert(diff < 1e-12, s"codegen vs HOF diverged by $diff")
  }

  test("cosine accepts array<double> and mixed element types") {
    val df = spark.sql(
      """SELECT array(CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE)) AS d,
        |       array(CAST(0.6 AS FLOAT), CAST(0.8 AS FLOAT)) AS f""".stripMargin)
    val got = df.select(
      VF.cosine($"d", $"f").as("m"),
      VF.cosine($"d", $"d").as("dd")).as[(Double, Double)].head()
    assert(math.abs(got._1 - 0.6) < 1e-7)
    assert(math.abs(got._2 - 1.0) < 1e-12)
  }

  test("cosine of a vector with itself is 1") {
    val selfSim = emb.select(VF.cosine($"embedding", $"embedding").as("c"))
      .agg(min($"c"), max($"c")).as[(Double, Double)].head()
    assert(math.abs(selfSim._1 - 1.0) < 1e-9 && math.abs(selfSim._2 - 1.0) < 1e-9)
  }

  test("TopKByScore aggregate == window row_number top-k") {
    val queries = emb.where($"vec_id" < 5)
    val bf = Similarity.bruteForceTopK(emb, queries, k = 7)
      .select("query_id", "neighbor_id", "rank")
    // window formulation as the oracle
    val q = queries.select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val scored = emb.select($"vec_id".as("neighbor_id"), $"embedding".as("cv"))
      .crossJoin(broadcast(q))
      .where($"neighbor_id" =!= $"query_id")
      .select($"query_id", $"neighbor_id", VF.cosine($"qv", $"cv").as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
    val win = scored.withColumn("rank", row_number().over(w))
      .where($"rank" <= 7)
      .select("query_id", "neighbor_id", "rank")
    assertSameRows(bf, win)
  }

  test("LSH top-k achieves reasonable recall vs brute force") {
    val queries = emb.where($"vec_id" < 8)
    val bf = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id")
    val lsh = DataQuantizers.lshTopK(emb, queries, k = 5, bits = 4, tables = 8,
        planeOffset = 100, cacheKey = "spec")
      .select("query_id", "neighbor_id")
    val hit = bf.intersect(lsh).count().toDouble
    val recall = hit / bf.count()
    assert(recall >= 0.5, s"LSH recall too low: $recall")
  }

  test("IVF top-k recall vs brute force") {
    val queries = emb.where($"vec_id" < 8)
    val bf = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id")
    val ivf = DataQuantizers.ivfTopK(emb, queries, k = 5, nCentroids = 8,
        nProbe = 4, centOffset = 200)
      .select("query_id", "neighbor_id")
    val recall = bf.intersect(ivf).count().toDouble / bf.count()
    assert(recall >= 0.5, s"IVF recall too low: $recall")
  }

  test("vector_avg == posexplode/groupBy/avg (differential over real vectors)") {
    import graft.functions.VectorAgg
    val grouped = emb.withColumn("g", pmod($"vec_id", lit(7)))
    val fast = grouped.groupBy($"g")
      .agg(VectorAgg.vectorAvg($"embedding").as("m"))
      .select($"g", posexplode($"m").as(Seq("pos", "v")))
    val oracle = grouped.select($"g", posexplode($"embedding").as(Seq("pos", "e")))
      .groupBy($"g", $"pos").agg(avg($"e").as("v"))
      .select($"g", $"pos", $"v")
    val joined = fast.withColumnRenamed("v", "vf")
      .join(oracle, Seq("g", "pos"))
      .select(abs($"vf" - $"v").as("d"))
      .agg(max($"d")).as[Double].head()
    assert(joined < 1e-9, s"vector_avg diverged from explode/avg by $joined")
    assert(fast.count() == oracle.count())
  }

  test("vector_avg handles double arrays, nulls, and rejects non-arrays") {
    import graft.functions.VectorAgg
    val df = Seq(
      (1, Some(Seq(1.0, 2.0))),
      (1, Some(Seq(3.0, 6.0))),
      (1, None)
    ).toDF("g", "v")
    val got = df.groupBy($"g").agg(VectorAgg.vectorAvg($"v").as("m"))
      .select($"m").as[Seq[Double]].head()
    assert(got == Seq(2.0, 4.0))
    val empty = df.where($"g" === 99)
      .agg(VectorAgg.vectorAvg($"v").as("m")).select($"m").head()
    assert(empty.isNullAt(0), "empty/all-null group must yield null mean")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.agg(VectorAgg.vectorAvg($"g").as("m")).collect()
    }
  }

  test("long_gram == posexplode self-join Gram (differential over real vectors)") {
    import graft.functions.VectorAgg
    val e = emb.where($"vec_id" < 200).select($"vec_id",
      transform($"embedding",
        x => round(x.cast("double") * lit(1e5)).cast("long")).as("e"))
    val g = e.repartition(7) // exercise partial-aggregate merge paths
      .agg(VectorAgg.longGram($"e").as("g"))
      .select($"g").as[Seq[Long]].head()
    val d = math.sqrt(g.length.toDouble).round.toInt
    val q5 = e.select($"vec_id", posexplode($"e").as(Seq("dim", "v")))
    val oracle = q5.select($"vec_id", $"dim".as("i"), $"v".as("vi"))
      .join(q5.select($"vec_id", $"dim".as("j"), $"v".as("vj")), Seq("vec_id"))
      .groupBy($"i", $"j").agg(sum($"vi" * $"vj").as("s"))
      .as[(Int, Int, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(d * d == g.length && oracle.size == d * d)
    for (((i, j), s) <- oracle)
      assert(g(i * d + j) == s, s"gram($i,$j)=${g(i * d + j)} != join $s")
  }

  test("long_gram: appended 1-component carries sums and count; null/empty safe") {
    import graft.functions.VectorAgg
    val df = Seq(
      (1, Some(Seq(2L, 3L))),
      (1, Some(Seq(5L, -7L))),
      (1, None)
    ).toDF("g", "v")
    val g = df.select(concat($"v", array(lit(1L))).as("e"))
      .agg(VectorAgg.longGram($"e").as("g")).select($"g")
      .as[Seq[Long]].head()
    // d1 = 3: last column = plain sums (7, -4), corner = non-null count
    assert(g == Seq(
      2L * 2 + 5L * 5, 2L * 3 + 5L * -7, 2L + 5L,
      3L * 2 + -7L * 5, 3L * 3 + -7L * -7, 3L - 7L,
      2L + 5L, 3L - 7L, 2L))
    val empty = df.where($"g" === 99)
      .agg(VectorAgg.longGram($"v").as("g")).select($"g").head()
    assert(empty.isNullAt(0), "empty/all-null input must yield null gram")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.agg(VectorAgg.longGram($"g").as("m")).collect()
    }
  }

  test("ivfTopK plan construction launches no Spark jobs") {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Thread.sleep(300) // drain events from earlier tests
      counter.set(0)
      val plan = DataQuantizers.ivfTopK(emb, emb.where($"vec_id" < 4), k = 3,
        nCentroids = 16, nProbe = 4, centOffset = 200)
      Thread.sleep(300) // let any job-start events surface
      assert(counter.get() == 0,
        s"ivfTopK ran ${counter.get()} jobs during plan construction")
      assert(plan.columns.toSeq ==
        Seq("query_id", "neighbor_id", "cosine", "rank"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("nearDupPairs rejects tables <= 0") {
    intercept[IllegalArgumentException] {
      Similarity.nearDupPairs(emb, threshold = 0.9, tables = 0)
    }
  }

  test("hyperplane sign bits are deterministic and bounded") {
    val b1 = emb.select(VF.hyperplaneSignBits($"embedding", 8, 1L).as("b"))
    val b2 = emb.select(VF.hyperplaneSignBits($"embedding", 8, 1L).as("b"))
    assertSameRows(b1, b2)
    val range = b1.agg(min($"b"), max($"b")).as[(Long, Long)].head()
    assert(range._1 >= 0L && range._2 < 256L)
  }

  test("approx_count_distinct within documented error of exact") {
    val li = Tables.load(spark, sfDir, "lineitem")
    val rows = li.groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_orderkey").as("a"),
        countDistinct($"l_orderkey").as("e"))
      .as[(String, Long, Long)].collect()
    rows.foreach { case (_, a, e) =>
      assert(math.abs(a - e).toDouble / e < 0.1, s"approx $a vs exact $e")
    }
  }

  test("LSH near-dup pairs recall vs bounded brute force") {
    val emb = Tables.load(spark, sfDir, "embeddings").where($"vec_id" < 500)
    val a = emb.select($"vec_id".as("id_a"), $"embedding".as("va"))
    val b = emb.select($"vec_id".as("id_b"), $"embedding".as("vb"))
    val brute = a.join(b, $"id_a" < $"id_b")
      .select($"id_a", $"id_b", VF.cosine($"va", $"vb").as("c"))
      .where($"c" >= 0.42).select("id_a", "id_b")
    val lsh = Similarity.nearDupPairs(emb, threshold = 0.42, bits = 4, tables = 8)
      .select("id_a", "id_b")
    // precision is exact by construction (cosine verified); recall bounded
    assert(lsh.exceptAll(brute).count() == 0)
    val total = brute.count()
    if (total > 0) {
      val recall = lsh.intersect(brute).count().toDouble / total
      assert(recall >= 0.5, s"near-dup LSH recall $recall")
    }
  }

  test("topKBy keeps k best with deterministic tiebreak") {
    val df = Seq((1L, 5.0), (2L, 5.0), (3L, 1.0), (4L, 9.0)).toDF("id", "score")
    val out = df.agg(TopKAgg.topKBy($"score", $"id", 2).as("t"))
      .select(explode($"t").as("e")).select($"e.id", $"e.score")
      .as[(Long, Double)].collect()
    assert(out.toSeq == Seq((4L, 9.0), (1L, 5.0)))
  }
}
