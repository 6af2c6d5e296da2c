package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.sources.Tables

/** Dedup differential tests: the exact inverted-index Jaccard pass is
  * the oracle for the MinHash/SimHash approximations. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, sfDir, "documents")

  test("minhash pairs are exact: every reported pair really has jaccard >= threshold") {
    // minhashPairs verifies candidates with exact Jaccard, so its output
    // must be a subset of the exhaustive exact pass at the same threshold
    val mh = Dedup.minhashPairs(docs, threshold = 0.6)
      .select("id_a", "id_b")
    val exact = Dedup.jaccardPairs(docs, threshold = 0.6)
      .select("id_a", "id_b")
    assert(mh.exceptAll(exact).count() == 0, "minhash reported a false pair")
  }

  test("minhash recall: all very-high-jaccard pairs are found") {
    val mh = Dedup.minhashPairs(docs, threshold = 0.6).select("id_a", "id_b")
    val high = Dedup.jaccardPairs(docs, threshold = 0.9).select("id_a", "id_b")
    val missed = high.exceptAll(mh).count()
    val total = high.count()
    assert(total > 0, "fixture should contain near-identical pairs")
    assert(missed == 0, s"missed $missed/$total pairs with jaccard>=0.9")
  }

  test("simhash: identical docs collide, near-dups within small hamming") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy cat again and again"),
      (4L, "completely different content about spark query engines at scale")
    ).toDF("doc_id", "text")
    val sigs = df.select($"doc_id", Dedup.simhash64($"text").as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) <= 12)
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(4L)) > 12)
  }

  test("crossJaccardPairs == all-pairs jaccard restricted to cross pairs") {
    val d = docs.filter(col("doc_id") < 300)
    val batch = d.filter(col("doc_id") % 10 === 0)
    val corpus = d.filter(col("doc_id") % 10 =!= 0)
    val cross = Dedup.crossJaccardPairs(corpus, batch, threshold = 0.5)
      .collect()
      .map(r => ((r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id")),
        r.getAs[Double]("jaccard"))).toMap
    // reference: the self-join form over the union, keeping only pairs
    // with exactly one batch endpoint, re-keyed (batch, corpus)
    val all = Dedup.jaccardPairs(d, threshold = 0.5).collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Double]("jaccard")))
      .collect {
        case ((a, b), j) if a % 10 == 0 && b % 10 != 0 => ((a, b), j)
        case ((a, b), j) if a % 10 != 0 && b % 10 == 0 => ((b, a), j)
      }.toMap
    assert(cross == all)
  }

  test("connected components: transitive closure, chains, isolation") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))

    // a 31-node path exercises convergence over the full diameter
    val chain = (0L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(chain)
      .select("comp").distinct().as[Long].collect().toSeq
    assert(comps == Seq(0L), s"chain split into components $comps")

    // a 200-link chain needs ~200 propagation rounds: a 12-round budget
    // must fail loudly rather than return split labels
    val long = (0L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(long, maxIter = 12)
    }
  }

  test("keepOnePerCluster keeps min id per group, passes isolated docs") {
    val docs = (1L to 8L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Dedup.keepOnePerCluster(docs, pairs)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 4L, 5L, 7L, 8L))
  }

  test("components cover every near-dup pair endpoint consistently") {
    val mh = Dedup.minhashPairs(docs, threshold = 0.6)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cc = Dedup.connectedComponents(mh)
      // both endpoints of every pair must land in the same cluster
      val split = mh
        .join(cc.select($"id".as("id_a"), $"comp".as("ca")), Seq("id_a"))
        .join(cc.select($"id".as("id_b"), $"comp".as("cb")), Seq("id_b"))
        .where($"ca" =!= $"cb").count()
      assert(split == 0, s"$split pairs split across clusters")
    } finally { mh.unpersist(); () }
  }

  test("FastSS fuzzy pairs == cartesian levenshtein (differential, real names)") {
    val c = Tables.load(spark, sfDir, "customer")
      .select($"c_custkey".as("id"), $"c_name".as("name"))
    val blocked = Dedup.fuzzyPairs(c, maxDist = 2)
    val a = c.select($"id".as("id_a"), $"name".as("name_a"))
    val b = c.select($"id".as("id_b"), $"name".as("name_b"))
    val cartesian = a.join(b, $"id_a" < $"id_b")
      .withColumn("dist", levenshtein($"name_a", $"name_b"))
      .where($"dist" <= 2)
      .select("id_a", "id_b", "dist")
    assertSameRows(blocked, cartesian)
    assert(blocked.count() > 0, "fixture should contain fuzzy-near names")
  }

  test("FastSS candidate volume tracks true-pair volume, not n^2") {
    // TPC-H names are a worst case for ANY complete blocker: 9-digit
    // zero-padded keys make most pairs genuinely near — so the honest
    // measure here is blocking precision (candidates vs true pairs).
    val c = Tables.load(spark, sfDir, "customer")
      .select($"c_custkey".as("id"), $"c_name".as("name"))
    val candidates = Dedup.editCandidates(c, maxDist = 2).count()
    val truePairs = Dedup.fuzzyPairs(c, maxDist = 2).count()
    assert(truePairs > 0)
    assert(candidates < 2 * truePairs,
      s"blocking precision collapsed: $candidates candidates for $truePairs true pairs")
  }

  test("FastSS candidate volume is far below n^2 on diverse strings") {
    // diverse keys (hex digests) with planted near-dups: the planted
    // pairs must all surface while candidates stay ~linear
    val diverse = (0 until 300).map(i => (i.toLong,
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"rec$i".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)))
    val planted = (0 until 10).map(i => (1000L + i, diverse(i)._2.dropRight(1) + "!"))
    val df = (diverse ++ planted).toDF("id", "name")
    val n = diverse.size + planted.size
    val candidates = Dedup.editCandidates(df, maxDist = 2).count()
    val allPairs = n.toLong * (n - 1) / 2
    assert(candidates < allPairs / 20,
      s"blocking did not prune: $candidates candidates vs $allPairs pairs")
    val found = Dedup.fuzzyPairs(df, maxDist = 2)
      .where($"id_b" >= 1000L && $"id_a" === $"id_b" - 1000L).count()
    assert(found == 10L, s"only $found/10 planted near-dups surfaced")
  }

  test("deletion neighborhood: size, intersection, and bounds") {
    import graft.functions.HashFunctions.deletionHashes
    val df = Seq(("abc", "axc"), ("", "")).toDF("s1", "s2")
    val sizes = df.select(size(deletionHashes($"s1", 1)).as("n1"),
      size(deletionHashes($"s2", 1)).as("n2"),
      size(array_intersect(deletionHashes($"s1", 1), deletionHashes($"s2", 1)))
        .as("shared"))
      .as[(Int, Int, Int)].collect()
    // "abc" with <=1 deletion: {abc, bc, ac, ab}; "" only {""}
    assert(sizes(0)._1 == 4)
    assert(sizes(1)._1 == 1 && sizes(1)._2 == 1)
    // ed("abc","axc") = 1 => neighborhoods must intersect (share "ac")
    assert(sizes(0)._3 >= 1, "distance-1 pair must share a deletion variant")
    intercept[IllegalArgumentException] {
      df.select(deletionHashes($"s1", 4)).collect()
    }
  }

  test("expression shingles == HOF shingles") {
    val diff = docs.limit(200).select(
      Dedup.shingles($"text", 3).as("a"), Dedup.shinglesHof($"text", 3).as("b"))
      .where($"a" =!= $"b").count()
    assert(diff == 0)
  }

  test("expression minhash == HOF minhash (identical coefficients)") {
    val sh = docs.limit(100).select(Dedup.shingles($"text", 3).as("sh"))
      .where(size($"sh") > 0)
    val diff = sh.select(
      Dedup.minhashSignature($"sh", 64).as("a"),
      Dedup.minhashSignatureHof($"sh", 64).as("b"))
      .where($"a" =!= $"b").count()
    assert(diff == 0)
  }

  test("expression simhash == HOF simhash") {
    val diff = docs.limit(100).select(
      Dedup.simhash64($"text").as("a"), Dedup.simhash64Hof($"text").as("b"))
      .where($"a" =!= $"b").count()
    assert(diff == 0)
  }

  test("exactDedup keeps one representative per text") {
    val df = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (4L, "ccc"), (5L, "aaa"))
      .toDF("doc_id", "text")
    val out = Dedup.exactDedup(df)
    assert(out.count() == 3)
    assert(out.select("doc_id").as[Long].collect().sorted.sameElements(Array(1L, 2L, 4L)))
  }

  test("shingles handle short documents (no descending-sequence bug)") {
    val df = Seq((1L, "one two"), (2L, "a"), (3L, "x y z w")).toDF("doc_id", "text")
    val out = df.select($"doc_id", size(Dedup.shingles($"text", 3)).as("n"))
      .as[(Long, Int)].collect().toMap
    assert(out == Map(1L -> 0, 2L -> 0, 3L -> 2))
  }

  test("span stats: cross-doc copies and within-doc repeats both count") {
    val df = Seq(
      (1L, "a b c d e f g h i j"), // 3 windows at k=8; all also in doc 2
      (2L, "a b c d e f g h i j"), // exact copy → dup_frac 1.0 both
      (3L, "p q r s t u v w x y"), // 3 unique windows → dup_frac 0.0
      (4L, "m n o m n o m n o m n o m n o"), // period-3 text: every
      //    8-token window repeats 3 positions apart within the doc
      (5L, "too short") // < k tokens → no windows, excluded
    ).toDF("doc_id", "text")
    val got = Dedup.spanStats(df, spanK = 8)
      .orderBy("doc_id")
      .select($"doc_id", $"n_spans", $"dup_frac")
      .as[(Long, Long, Double)].collect()
    assert(got.map(_._1).sameElements(Array(1L, 2L, 3L, 4L)), got.mkString(", "))
    assert(got(0) == ((1L, 3L, 1.0)) && got(1) == ((2L, 3L, 1.0)))
    assert(got(2) == ((3L, 3L, 0.0)))
    assert(got(3)._3 == 1.0, s"periodic text must be fully self-duplicated: ${got(3)}")
  }

  test("chunk dedup rewrite: first corpus occurrence survives, docs rebuilt") {
    val df = Seq(
      (1L, "a b c d x y z w"),   // both chunks original → kept verbatim
      (2L, "a b c d p q r s"),   // first chunk is doc 1's → dropped
      (3L, "p q r s p q r s"),   // pos-1 copy of doc 2's chunk AND a
      //    within-doc repeat: both chunks lose to earlier occurrences
      (4L, "t u v")              // single short chunk (< k tokens)
    ).toDF("doc_id", "text")
    val got = Dedup.chunkDedupRewrite(df, chunkK = 4)
      .orderBy("doc_id")
      .select($"doc_id", $"n_chunks", $"n_kept", $"text_kept", $"kept_frac")
      .as[(Long, Long, Long, String, Double)].collect()
    assert(got(0) == ((1L, 2L, 2L, "a b c d x y z w", 1.0)), got(0).toString)
    assert(got(1) == ((2L, 2L, 1L, "p q r s", 0.5)), got(1).toString)
    assert(got(2) == ((3L, 2L, 0L, "", 0.0)), got(2).toString)
    assert(got(3) == ((4L, 1L, 1L, "t u v", 1.0)), got(3).toString)
  }

  test("canonical selection keeps the best-scored member, not the min id") {
    // mirrors q108's argmax: winner = max (score, -id) per cluster
    val scored = Seq((1L, 10L, 0.3), (2L, 10L, 0.7), (3L, 10L, 0.7), (9L, 9L, 0.1))
      .toDF("doc_id", "cluster_id", "score")
    val winners = scored.groupBy("cluster_id")
      .agg(max(struct($"score", (-$"doc_id").as("negid"))).as("w"))
    val kept = scored.join(winners, Seq("cluster_id"))
      .where($"score" === $"w.score" && -$"doc_id" === $"w.negid")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 9L)) // score beats id; tie -> lower id
  }

  test("chunk dedup rewrite: within-doc winner is the earliest position") {
    val df = Seq((7L, "a b c d e f g h a b c d")).toDF("doc_id", "text")
    val got = Dedup.chunkDedupRewrite(df, chunkK = 4)
      .select($"n_chunks", $"n_kept", $"text_kept")
      .as[(Long, Long, String)].head()
    assert(got == ((3L, 2L, "a b c d e f g h")), got.toString)
  }
}
