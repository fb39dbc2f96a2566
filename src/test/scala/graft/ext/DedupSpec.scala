package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the old river bank"),
    // near-dup of 0: one word changed
    (1L, "the quick brown fox leaps over the lazy dog near the old river bank"),
    // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy dog near the old river bank"),
    // unrelated
    (3L, "completely different content about spark query engines and data"),
    (4L, "another unrelated document mentioning aggregation shuffles and joins"))
    .toDF("doc_id", "text")

  test("exact dedup keeps min id as representative with copy count") {
    val out = Dedup.exact(docs, Seq("text"), "doc_id")
      .select("doc_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(out === Set((0L, 2L), (1L, 1L), (3L, 1L), (4L, 1L)))
  }

  test("incrementalExactByDigest: drops history dups, dedups within batch") {
    val history = Seq((100L, "seen before"), (101L, "also known")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "seen before"),   // in history -> dropped
      (2L, "brand new"),     // survives
      (3L, "brand new"),     // batch-dup of 2 -> dropped
      (4L, "also known"),    // in history -> dropped
      (5L, "another fresh")) // survives
      .toDF("doc_id", "text")
    val kept = Dedup.incrementalExactByDigest(
      batch, "doc_id", "text", Dedup.textDigests(history, "doc_id", "text"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(2L, 5L))
  }

  test("bloomPrefilteredIncremental matches the plain anti-join exactly") {
    val history = Seq((100L, "seen before"), (101L, "also known")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "seen before"), (2L, "brand new"), (3L, "brand new"),
      (4L, "also known"), (5L, "another fresh"))
      .toDF("doc_id", "text")
    val hd = Dedup.textDigests(history, "doc_id", "text")
    val plain = Dedup.incrementalExactByDigest(batch, "doc_id", "text", hd)
      .select("doc_id").as[Long].collect().toSet
    val bloom = Dedup.bloomPrefilteredIncremental(batch, "doc_id", "text", hd)
      .select("doc_id").as[Long].collect().toSet
    assert(bloom === plain && bloom === Set(2L, 5L))
  }

  test("bloom prefilter tolerates null text on both sides like the plain anti-join") {
    // Null digests must neither NPE the sketch build/probe nor change
    // the contract: same answer as incrementalExactByDigest.
    val history = Seq((100L, "seen before"), (101L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, "seen before"),               // in history -> dropped
      (2L, null.asInstanceOf[String]),   // null text: survives (one rep)
      (3L, null.asInstanceOf[String]),   // second null -> deduped in-batch
      (4L, "fresh"))
      .toDF("doc_id", "text")
    val hd = Dedup.textDigests(history, "doc_id", "text")
    val plain = Dedup.incrementalExactByDigest(batch, "doc_id", "text", hd)
      .select("doc_id").as[Long].collect().toSet
    val bloom = Dedup.bloomPrefilteredIncremental(batch, "doc_id", "text", hd)
      .select("doc_id").as[Long].collect().toSet
    assert(bloom === plain && bloom === Set(2L, 4L))
  }

  test("bloom prefilter with EMPTY history keeps one rep per batch digest") {
    // BloomFilterAggregate over zero rows yields a null sketch; the
    // prefilter must read that as "nothing matches" (all rows
    // definitely-new), not drop rows into neither branch.
    val hd = Dedup.textDigests(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text")
    val batch = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "text")
    val plain = Dedup.incrementalExactByDigest(batch, "doc_id", "text", hd)
      .select("doc_id").as[Long].collect().toSet
    val bloom = Dedup.bloomPrefilteredIncremental(batch, "doc_id", "text", hd)
      .select("doc_id").as[Long].collect().toSet
    assert(bloom === plain && bloom === Set(1L, 3L))
  }

  test("bloom prefilter stays exact even when the sketch saturates (all false positives)") {
    // 2 expected items but fpp forced high by inserting many: with a
    // tiny sketch every probe reads positive, so every batch row takes
    // the verify-join path — the answer must not change.
    val history = (0L until 200L).map(i => (i + 1000L, s"hist doc $i")).toDF("doc_id", "text")
    val batch = Seq((1L, "hist doc 7"), (2L, "genuinely new")).toDF("doc_id", "text")
    val hd = Dedup.textDigests(history, "doc_id", "text")
    val out = Dedup.bloomPrefilteredIncremental(
      batch, "doc_id", "text", hd, expectedItems = 2L, fpp = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(out === Set(2L))
  }

  test("clusterPairs: transitive closure with min-id representatives") {
    // components: {1,2,3} via chain, {10,11}, and a 0..9-style long
    // chain {20..27} exercising multi-round propagation (diameter 7)
    val pairs = (Seq((1L, 2L), (2L, 3L), (10L, 11L)) ++
      (20L until 27L).map(i => (i, i + 1)))
      .toDF("id_a", "id_b")
    val comp = Dedup.clusterPairs(pairs, "id_a", "id_b")
    val got = comp.as[(Long, Long)].collect().toMap
    assert(got(1L) === 1L && got(2L) === 1L && got(3L) === 1L)
    assert(got(10L) === 10L && got(11L) === 10L)
    (20L to 27L).foreach(i => assert(got(i) === 20L, s"node $i"))
    comp.unpersist()
  }

  test("collapseNearDuplicates keeps one doc per cluster plus singletons") {
    val corpus = (0L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((0L, 1L), (1L, 2L), (4L, 5L)).toDF("id_a", "id_b")
    val kept = Dedup.collapseNearDuplicates(corpus, "doc_id", pairs, "id_a", "id_b")
      .select("doc_id").as[Long].collect().toSet
    // {0,1,2} -> 0; {4,5} -> 4; 3 and 6 unpaired
    assert(kept === Set(0L, 3L, 4L, 6L))
  }

  test("shingles produce distinct word n-grams") {
    val sh = docs.filter(col("doc_id") === 3)
      .select(Dedup.shingles(col("text"), 3).as("s"))
      .as[Seq[String]].head()
    assert(sh.head === "completely different content")
    assert(sh.distinct.size === sh.size)
    assert(sh.size === 7) // 9 tokens -> 7 trigrams
  }

  test("shingles of short text are empty (no n-gram can exist)") {
    // Matches the oracle's generate_series(1, len-n+1): a doc shorter
    // than n tokens contributes no shingles and thus no signature.
    val sh = Seq(Tuple1("one two")).toDF("t")
      .select(Dedup.shingles(col("t"), 3).as("s")).as[Seq[String]].head()
    assert(sh === Seq.empty)
  }

  test("minhash finds the exact and near duplicates, not the unrelated pair") {
    val pairs = Dedup.minHashNearDuplicates(
      docs, "doc_id", "text", shingleN = 3, numHashes = 16, bands = 4,
      threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 2L))) // exact dup always collides
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("exact duplicates have jaccard 1.0 via minhash verification") {
    val j = Dedup.minHashNearDuplicates(docs, "doc_id", "text")
      .filter(col("id_a") === 0 && col("id_b") === 2)
      .select("jaccard").as[Double].collect()
    assert(j.toSeq === Seq(1.0))
  }

  test("simhash: identical docs distance 0; near-dups close; unrelated far") {
    val sigs = Dedup.simHash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sigs(0L) === sigs(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(0L), sigs(1L)) < ham(sigs(0L), sigs(3L)))
  }

  test("simHashNearDuplicates returns pairs within the distance bound") {
    val out = Dedup.simHashNearDuplicates(docs, "doc_id", "text", maxDist = 3)
      .as[(Long, Long, Int)].collect()
    assert(out.forall(_._3 <= 3))
    assert(out.map(p => (p._1, p._2)).contains((0L, 2L)))
  }

  test("portable minhash (md5 family) finds the planted duplicates too") {
    val pairs = Dedup.portableMinHashNearDuplicates(
      docs, "doc_id", "text", shingleN = 3, numHashes = 16, bands = 4,
      threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("portable simhash: exact duplicates at hamming 0") {
    val out = Dedup.portableSimHashNearDuplicates(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect()
    assert(out.exists(p => p._1 == 0L && p._2 == 2L && p._3 == 0L))
    assert(out.forall(_._3 <= 5))
  }

  test("simhash miners return EVERY pair a brute-force scan finds within the bound") {
    // Recall, not only soundness: banding into maxDist+1 cells must find
    // every pair within maxDist (pigeonhole), so each miner's output must
    // equal an all-pairs bit_count(xor) <= maxDist scan over the miner's
    // own signature table. Real documents plus planted one-word edits.
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val planted = real.filter(col("doc_id") < 40).select(
      (col("doc_id") + 1000).as("doc_id"),
      concat(col("text"), lit(" planted")).as("text"))
    val corpus = real.unionByName(planted)
    def allPairsWithin(sigs: org.apache.spark.sql.DataFrame, maxDist: Int) =
      sigs.select(col("doc_id").as("id_a"), col("simhash").as("__sa"))
        .join(sigs.select(col("doc_id").as("id_b"), col("simhash").as("__sb")),
          col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          bit_count(col("__sa").bitwiseXOR(col("__sb"))).cast("long").as("h"))
        .filter(col("h") <= maxDist)
        .as[(Long, Long, Long)].collect().toSet
    def mined(pairs: org.apache.spark.sql.DataFrame) =
      try pairs.select(col("id_a"), col("id_b"), col("hamming").cast("long"))
        .as[(Long, Long, Long)].collect().toSet
      finally pairs.unpersist()

    val within3 = allPairsWithin(Dedup.simHash(corpus, "doc_id", "text"), 3)
    assert(within3.exists(_._3 > 0))
    assert(mined(Dedup.simHashNearDuplicates(
      corpus, "doc_id", "text", maxDist = 3)) === within3)

    val within5 = allPairsWithin(
      Dedup.portableSimHashSignatures(corpus, "doc_id", "text"), 5)
    assert(within5.exists(_._3 > 0))
    assert(mined(Dedup.portableSimHashNearDuplicates(
      corpus, "doc_id", "text")) === within5)
  }

  test("jaccardPairs computes token-set jaccard with threshold") {
    val out = Dedup.jaccardPairs(docs, docs, "doc_id", "text", 0.5)
      .as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(out((0L, 2L)) === 1.0)
    assert(out.contains((0L, 1L)) && out((0L, 1L)) > 0.7 && out((0L, 1L)) < 1.0)
    assert(!out.contains((0L, 3L)))
  }

  test("jaccardPairs finds boundary pairs at non-representable thresholds (t=0.8)") {
    // jaccard({t1..t5},{t2..t5}) = 4/5 = exactly 0.8. (1-0.8)·5 in
    // floating point is 0.999…, which floored WITHOUT the epsilon gives
    // a 1-token prefix — too short, and this true pair is dropped when
    // the differing token is the globally rarest (regression test).
    val d = Seq(
      (1L, "zzq alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "alpha beta unrelated filler words"),
      (4L, "more alpha beta filler content here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(d, d, "doc_id", "text", 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("jaccardPairs at threshold 1.0 finds exactly the identical token sets") {
    // prefix length collapses to 1 token at t=1.0 — the lemma still
    // guarantees identical sets share their minimum token.
    val out = Dedup.jaccardPairs(docs, docs, "doc_id", "text", 1.0)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(out === Set((0L, 2L))) // the exact-dup pair only
  }

  test("embedding LSH dedup finds same-bucket near-dups as a subset of brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val lsh = Dedup.embeddingNearDuplicatesLsh(
      emb, "vec_id", "embedding", threshold = 0.4, dim = 64, bits = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val brute = Dedup.embeddingNearDuplicates(
      emb, "vec_id", "embedding", threshold = 0.4, queryMax = Long.MaxValue)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // sign-LSH trades recall, never precision: every reported pair is a
    // true near-dup, and identical vectors always share a bucket.
    assert(lsh.nonEmpty && lsh.subsetOf(brute))
  }

  test("prefix-filter jaccardPairs matches brute-force all-pairs on real docs") {
    // The prefix-filter candidate generation must lose NO pair the
    // all-pairs scan finds (completeness of the prefix-filter lemma).
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fast = Dedup.jaccardPairs(d, d, "doc_id", "text", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val toks = d.select(col("doc_id"),
      array_sort(array_distinct(split(trim(lower(col("text"))), " "))).as("toks"))
    val a = toks.select(col("doc_id").as("doc_a"), col("toks").as("ta"))
    val b = toks.select(col("doc_id").as("doc_b"), col("toks").as("tb"))
    val inter = graft.functions.ArrayExprs.sortedIntersectSize(col("ta"), col("tb"))
    val brute = a.join(b, col("doc_a") < col("doc_b"))
      .withColumn("jaccard", inter.cast("double") /
        (size(col("ta")) + size(col("tb")) - inter).cast("double"))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(fast.nonEmpty && fast === brute)
  }

  test("editDistancePairs finds substitution, insertion, and deletion typos") {
    val names = Seq(
      "red widget", "rad widget",  // substitution
      "blue bolt", "blue boltt",   // insertion
      "gear", "ger",               // deletion
      "unrelated thing"
    ).toDF("name")
    val out = Dedup.editDistancePairs(names, "name")
      .as[(String, String, Int)].collect().toSet
    assert(out == Set(
      ("rad widget", "red widget", 1),
      ("blue bolt", "blue boltt", 1),
      ("gear", "ger", 1)))
  }

  test("editDistancePairs matches brute-force levenshtein on a dense domain") {
    // Dense single-digit-distance domain: every pair of 2-digit strings.
    val names = (0 until 100).map(i => f"k$i%02d").toDF("name")
    val fast = Dedup.editDistancePairs(names, "name")
      .as[(String, String, Int)].collect().toSet
    val n = names.select(col("name").as("a"))
    val brute = n.join(names.select(col("name").as("b")), col("a") < col("b"))
      .withColumn("d", levenshtein(col("a"), col("b")))
      .filter(col("d") <= 1)
      .as[(String, String, Int)].collect().toSet
    assert(fast.size > 100 && fast == brute)
  }

  test("editDistancePairs dedups, ignores nulls, and survives empty strings") {
    val names = Seq(Some("ab"), Some("ab"), Some("b"), Some(""), None)
      .toDF("name")
    val out = Dedup.editDistancePairs(names, "name")
      .as[(String, String, Int)].collect().toSet
    // "" <-> "b" (insertion), "b" <-> "ab" (insertion); "" <-> "ab" is d=2
    assert(out == Set(("", "b", 1), ("ab", "b", 1)))
  }

  test("editDistancePairs plans an equi-join, not a pair scan") {
    val names = Seq("a", "b").toDF("name")
    val plan = Dedup.editDistancePairs(names, "name")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin")
      && !plan.contains("CartesianProduct"), plan)
  }

  test("lshCandidateCurve: monotone S-curve with the knee near (1/b)^(1/r)") {
    val curve = Dedup.lshCandidateCurve(spark, Seq((4, 4)))
      .orderBy("s").select("s", "p_candidate")
      .as[(Double, Double)].collect()
    // monotone non-decreasing in similarity
    assert(curve.sliding(2).forall { case Array(lo, hi) => lo._2 <= hi._2 })
    // knee ~ (1/4)^(1/4) = 0.707: well below 50% at s=0.5, high at s=0.9
    val at = curve.toMap
    assert(at(0.5) < 0.25 && at(0.9) > 0.9, at.toString)
  }

  test("crossDocShingleShare: shared-shingle fraction per document") {
    val docs = Seq(
      (1L, "a b c d e"), // shingles: abc bcd cde
      (2L, "a b c x y"), // shingles: abc bcx cxy -> shares abc with doc 1
      (3L, "p q r s"))   // shingles: pqr qrs -> isolated
      .toDF("doc_id", "text")
    val out = Dedup.crossDocShingleShare(docs, "doc_id", "text", 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === ((3L, 1L, 0.333333)))
    assert(out(2L) === ((3L, 1L, 0.333333)))
    assert(out(3L) === ((2L, 0L, 0.0)))
  }

  test("crossDocShingleShare: repeated shingle within ONE doc is not shared") {
    // doc 1 contains "a b c" twice -> shingles() dedups per doc, so the
    // duplicate cannot self-count as cross-doc shared
    val docs = Seq((1L, "a b c z a b c"), (2L, "q r s t")).toDF("doc_id", "text")
    val shared = Dedup.crossDocShingleShare(docs, "doc_id", "text", 3)
      .filter($"doc_id" === 1L).select("n_shared").as[Long].head()
    assert(shared === 0L)
  }

  test("repeatedSpans merges overlapping repeated k-grams into maximal spans") {
    // docs 1 and 2 share the 6-token run "a b c d e f" (and nothing
    // else); with k=3 the shared run contributes starts 0..3 in doc 1
    // (positions of "a b c".."d e f") which must merge into ONE span
    // of length 6. Doc 3 is unrelated noise.
    val docs = Seq(
      (1L, "a b c d e f x1 y1 z1 w1"),
      (2L, "p q a b c d e f r s"),
      (3L, "m n o t u v h i j k"))
      .toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(docs, "doc_id", "text", k = 3, minDocs = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    // doc 1: starts 0,1,2,3 -> span [0, 6); doc 2: starts 2..5 -> [2, 8)
    assert(out === Set((1L, 0L, 6L, 4L), (2L, 2L, 6L, 4L)))
  }

  test("repeatedSpans splits at gaps and keeps within-doc repeats out") {
    // doc 1 shares TWO disjoint 3-gram regions with doc 2, separated by
    // a gap wider than k -> two spans, not one. A 3-gram repeated only
    // WITHIN doc 3 ("a b c" twice) has doc-frequency 1 and must not
    // produce a span.
    val docs = Seq(
      (1L, "a b c g1 g2 g3 g4 x y z"),
      (2L, "a b c h1 h2 h3 h4 x y z"),
      (3L, "a1 b1 c1 d1 a1 b1 c1 d1"))
      .toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(docs, "doc_id", "text", k = 3, minDocs = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out === Set(
      (1L, 0L, 3L, 1L), (1L, 7L, 3L, 1L),
      (2L, 0L, 3L, 1L), (2L, 7L, 3L, 1L)))
  }

  test("repeatedSpans: adjacent-but-not-overlapping grams still chain") {
    // positions p and p+k merge (pos <= prev+k): the covered region is
    // fully made of repeated grams even though the junction gram isn't
    // itself repeated.
    val docs = Seq(
      (1L, "a b c d m n o p"),
      (2L, "a b c d q r s t"),
      (3L, "z z z z m n o p"))
      .toDF("doc_id", "text")
    // k=4: doc 1 has repeated gram at 0 ("a b c d", with doc 2) and at
    // 4 ("m n o p", with doc 3) -> chained into one span [0, 8).
    val out = Dedup.repeatedSpans(docs, "doc_id", "text", k = 4, minDocs = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out === Set(
      (1L, 0L, 8L, 2L), (2L, 0L, 4L, 1L), (3L, 4L, 4L, 1L)))
  }

  test("shingleNovelty: first arrival owns the shingle; repeats and " +
    "short docs behave") {
    val docs = Seq(
      (1L, "a b c d e f"),        // shingles: abcde, bcdef -> both novel
      (2L, "a b c d e x"),        // abcde (seen at 1), bcdex (novel)
      (3L, "a b c d e f"),        // both seen at 1 -> novelty 0
      (4L, "p q r"),              // < 5 words -> no shingles, absent
      (5L, "z z z z z z z z"))    // one distinct shingle "z z z z z"
      .toDF("doc_id", "text")
    val out = Dedup.shingleNovelty(docs, "doc_id", "text", n = 5)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out === Map(
      1L -> ((2L, 2L, 1.0)),
      2L -> ((2L, 1L, 0.5)),
      3L -> ((2L, 0L, 0.0)),
      5L -> ((1L, 1L, 1.0))))
  }

  test("semDeDup prunes planted near-identical vectors, keeps the " +
    "lowest id, and never pairs across clusters") {
    val dim = 4
    // Two well-separated directions (-> two kmeans clusters), three
    // near-copies on each, plus one orthogonal loner per direction.
    def v(base: Array[Double], eps: Double) =
      base.zipWithIndex.map { case (x, i) => x + (if (i == 1) eps else 0.0) }
    val e1 = Array(10.0, 0.0, 0.0, 0.0)
    val e2 = Array(0.0, 0.0, 10.0, 0.0)
    val rows = Seq(
      (0L, v(e1, 0.0)), (1L, v(e1, 0.1)), (2L, v(e1, 0.2)),
      (3L, Array(0.0, 10.0, 0.0, 0.0)), // loner near cluster 1
      (10L, v(e2, 0.0)), (11L, v(e2, 0.1)), (12L, v(e2, 0.2)),
      (13L, Array(0.0, 0.0, 0.0, 10.0))) // loner near cluster 2
    val emb = rows.toDF("vec_id", "embedding")
    val out = Dedup.semDeDup(emb, "vec_id", "embedding",
      dim = dim, k = 2, iters = 3, threshold = 0.95)
      .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
    // Lowest id of each near-dup trio survives; later copies pruned.
    assert(out(0L) && !out(1L) && !out(2L))
    assert(out(10L) && !out(11L) && !out(12L))
    // Orthogonal loners survive (cosine ~0 to everything).
    assert(out(3L) && out(13L))
    // Partition invariance: same verdicts from a different layout.
    val out7 = Dedup.semDeDup(emb.repartition(7), "vec_id", "embedding",
      dim = dim, k = 2, iters = 3, threshold = 0.95)
      .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
    assert(out7 === out)
  }

  test("semDeDup plan: the assignment kernel evaluates on exactly the " +
    "two pair-join sides — the r18 third branch (re-scan + re-attach " +
    "left join) is gone") {
    val rows = Seq(
      (0L, Array(10.0, 0.0, 0.0, 0.0)), (1L, Array(10.0, 0.1, 0.0, 0.0)),
      (10L, Array(0.0, 0.0, 10.0, 0.0)), (11L, Array(0.0, 0.1, 10.0, 0.0)))
    // repartition keeps ConvertToLocalRelation from evaluating the
    // projection at plan time (parquet-backed inventory scans never
    // collapse, so this matches the real plan shape)
    val emb = rows.toDF("vec_id", "embedding").repartition(2)
    val df = Dedup.semDeDup(emb, "vec_id", "embedding",
      dim = 4, k = 2, iters = 1, threshold = 0.95)
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case p => p
    }
    val kernelEvals = plan.collectWithSubqueries { case p =>
      p.expressions.map(_.collect {
        case e if e.getClass.getSimpleName == "NearestCentroidQ" => e
      }.size).sum
    }.sum
    assert(kernelEvals === 2,
      s"expected the a/b pair-join sides only, saw $kernelEvals evals")
    // every input row still reaches the output exactly once (the left
    // outer pair join retains loners; the aggregate keys on id)
    val out = df.collect()
    assert(out.length === rows.length)
    assert(out.map(_.getLong(0)).sorted === rows.map(_._1).sorted.toArray)
  }

  test("semDeDupK ladder: E[cluster]≈256 with floor 8 and cap n, " +
    "pure integer arithmetic") {
    // floor region: everything up to 2048 stays at 8 (all three test
    // SFs: n = 500/500/2000 → 8, so the inventory rung is stable)
    assert(Dedup.semDeDupK(1) === 1)       // capped at n
    assert(Dedup.semDeDupK(7) === 7)       // capped at n
    assert(Dedup.semDeDupK(8) === 8)
    assert(Dedup.semDeDupK(500) === 8)
    assert(Dedup.semDeDupK(2000) === 8)
    assert(Dedup.semDeDupK(2048) === 8)
    // ladder region: k = ceil(n/256)
    assert(Dedup.semDeDupK(2049) === 9)
    assert(Dedup.semDeDupK(16000) === 63)  // 8× sf0.1 (rung proof corpus)
    assert(Dedup.semDeDupK(60000) === 235) // 30× sf0.1
    assert(Dedup.semDeDupK(200000) === 782) // 100× sf0.1
    assert(Dedup.semDeDupK(256L * 1000000) === 1000000)
    intercept[IllegalArgumentException](Dedup.semDeDupK(0))
  }

  test("pairEval: unordered-pair precision/recall with exact counts") {
    val truth = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("a", "b")
    // one hit (reversed order), one false positive, one duplicate row
    val cand = Seq((2L, 1L), (2L, 1L), (7L, 8L)).toDF("x", "y")
    val out = Dedup.pairEval(truth, "a", "b", cand, "x", "y")
      .as[(Long, Long, Long, Double, Double)].head()
    assert(out === ((3L, 2L, 1L, 0.5, 1.0 / 3.0)))
  }

  test("sourceDupMatrix: cells normalized to unordered source pairs, " +
    "within-source pairs on the diagonal") {
    val docs = Seq((1L, "A"), (2L, "B"), (3L, "A"), (4L, "A"))
      .toDF("doc_id", "source")
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("id_a", "id_b")
    val out = Dedup.sourceDupMatrix(pairs, "id_a", "id_b",
      docs, "doc_id", "source")
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out === Map(("A", "B") -> 2L, ("A", "A") -> 2L))
  }

  test("collapseNearDuplicatesBest keeps the top-quality doc per " +
    "cluster, min-id only on ties; unpaired pass through") {
    val docs = Seq(
      (1L, 10L), (2L, 50L), (3L, 50L), // cluster {1,2,3}: 2 wins (tie 2<3)
      (7L, 5L))                        // unpaired
      .toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val kept = Dedup.collapseNearDuplicatesBest(
      docs, "doc_id", "q", pairs, "a", "b")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(2L, 7L))
    // contrast: the min-id collapse keeps doc 1
    val minKept = Dedup.collapseNearDuplicates(
      docs, "doc_id", pairs, "a", "b")
      .select("doc_id").as[Long].collect().toSet
    assert(minKept === Set(1L, 7L))
  }

  test("jaccardPairs finds pairs when query ids are ABOVE corpus ids " +
    "(disjoint incremental pattern)") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "entirely different words about spark engines")).toDF("doc_id", "text")
    val newBatch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "no overlap with anything whatsoever here")).toDF("doc_id", "text")
    val out = Dedup.jaccardPairs(corpus, newBatch, "doc_id", "text", 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // doc_a is the query-side id, doc_b the corpus-side id — the old
    // doc_a < doc_b dedup filter silently returned EMPTY here
    assert(out === Set((100L, 1L)))
  }

  test("clusterPairs rejects non-integral ids loudly instead of " +
    "silently clustering nothing") {
    val pairs = Seq(("url-a", "url-b")).toDF("a", "b")
    val e = intercept[Exception] {
      Dedup.clusterPairs(pairs, "a", "b").collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("integral"),
      s"got: ${e.getMessage}")
  }
}
