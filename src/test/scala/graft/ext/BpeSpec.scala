package graft.ext

import graft.SparkSpec

class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("learnMerges reproduces the hand-computed merge sequence on a " +
    "Sennrich-style corpus (ties break lexicographically)") {
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val out = Bpe.learnMerges(docs, "text", numMerges = 6)
      .as[(Long, String, String, Long)].collect().sortBy(_._1).toList
    // (e,s) and (s,t) tie at 9 -> 'e' < 's'; then chains es->est,
    // l+o -> lo+w; (e,w)/(n,e)/(w,est) tie at 6 -> 'e' first; ew+est.
    assert(out === List(
      (1L, "e", "s", 9L),
      (2L, "es", "t", 9L),
      (3L, "l", "o", 7L),
      (4L, "lo", "w", 7L),
      (5L, "e", "w", 6L),
      (6L, "ew", "est", 6L)))
  }

  test("learnMerges applies same-symbol runs greedily left-to-right " +
    "and stops early when no pair remains") {
    // 'aaaa' x3: (a,a) counts 3 adjacencies x 3 = 9; greedy turns
    // a a a a into aa aa (NOT aa a a), so merge 2 is (aa,aa) x3,
    // after which each word is one symbol and learning stops.
    val docs = Seq((1L, "aaaa aaaa aaaa")).toDF("doc_id", "text")
    val out = Bpe.learnMerges(docs, "text", numMerges = 5)
      .as[(Long, String, String, Long)].collect().sortBy(_._1).toList
    assert(out === List(
      (1L, "a", "a", 9L),
      (2L, "aa", "aa", 3L)))
  }

  test("vocabAfterMerges prices each word in learned tokens") {
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val vocab = Bpe.vocabAfterMerges(docs, "text", numMerges = 6)
      .as[(String, Long)].collect().toMap
    // low -> [low]; lower -> [low,e,r]; newest -> [n,ewest];
    // widest -> [w,i,d,est].
    assert(vocab === Map(
      "low" -> 1L, "lower" -> 3L, "newest" -> 2L, "widest" -> 4L))
  }

  test("learnMerges is partition-invariant") {
    val docs = (0L until 40L)
      .map(i => (i, s"alpha beta gamma tok$i alpha beta"))
      .toDF("doc_id", "text")
    val a = Bpe.learnMerges(docs, "text", numMerges = 4)
      .as[(Long, String, String, Long)].collect().sortBy(_._1).toList
    val b = Bpe.learnMerges(docs.repartition(7), "text", numMerges = 4)
      .as[(Long, String, String, Long)].collect().sortBy(_._1).toList
    assert(a === b && a.size === 4)
  }
}
