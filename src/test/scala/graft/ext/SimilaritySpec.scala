package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.{ArrayExprs, VectorExprs}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),  // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f)),  // orthogonal to 0
    (3L, Array(-1.0f, 0.0f, 0.0f))) // opposite of 0
    .toDF("vec_id", "embedding")

  test("DotProduct expression: exact values, float widened to double") {
    val d = vecs.filter(col("vec_id") === 1)
      .select(VectorExprs.dot(col("embedding"), col("embedding")).as("d"))
      .as[Double].head()
    assert(math.abs(d - (0.9f.toDouble * 0.9f + 0.1f.toDouble * 0.1f)) === 0.0)
  }

  test("DotProduct matches the interpreted HOF formulation bit-for-bit") {
    val both = vecs.select(
      VectorExprs.dot(col("embedding"), col("embedding")).as("fast"),
      aggregate(zip_with(
        transform(col("embedding"), _.cast("double")),
        transform(col("embedding"), _.cast("double")),
        _ * _), lit(0.0), _ + _).as("slow"))
    assert(both.filter(col("fast") =!= col("slow")).count() === 0)
  }

  test("brute-force top-k ranks by cosine with id tiebreak") {
    val out = Similarity.bruteForceTopK(
      vecs, vecs.filter(col("vec_id") === 0), "vec_id", "embedding", k = 3)
      .orderBy("rnk").select("neighbor_id", "sim")
      .as[(Long, Double)].collect()
    assert(out.map(_._1).toSeq === Seq(1L, 2L, 3L))
    assert(out(0)._2 > 0.99 && out(1)._2 === 0.0 && out(2)._2 === -1.0)
  }

  test("lsh bucketed top-k returns a subset of brute-force candidates with equal sims") {
    val exact = Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id", "sim")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val ann = Similarity.lshBucketedTopK(vecs, vecs, "vec_id", "embedding",
      k = 3, dim = 3, bits = 2)
      .select("query_id", "neighbor_id", "sim")
      .as[(Long, Long, Double)].collect()
    assert(ann.nonEmpty)
    ann.foreach { case (q, n, s) => assert(exact((q, n)) === s) }
  }

  test("ivf top-k sims agree with brute force on overlapping pairs") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id", "sim")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val ivf = Similarity.ivfTopK(emb, q, "vec_id", "embedding", 10,
      nlist = 8, nprobe = 3)
      .select("query_id", "neighbor_id", "sim")
      .as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    // every ivf pair that brute force also ranked must carry the same sim
    ivf.foreach { case (qid, nid, sim) =>
      exact.get((qid, nid)).foreach(es => assert(es === sim))
    }
    // all 10 queries produced neighbors
    assert(ivf.map(_._1).distinct.length === 10)
  }

  test("IntersectSize counts common elements without double counting") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d", "e"))).toDF("x", "y")
    val n = df.select(ArrayExprs.intersectSize(col("x"), col("y")).as("n"))
      .as[Int].head()
    assert(n === 2)
  }

  test("SortedIntersectSize matches IntersectSize on sorted inputs") {
    val df = Seq(
      (Seq("a", "b", "c", "x"), Seq("b", "c", "d")),
      (Seq("a"), Seq("b")),
      (Seq.empty[String], Seq("a")),
      (Seq("m", "n", "o"), Seq("m", "n", "o")))
      .toDF("x", "y")
    val bad = df.filter(
      ArrayExprs.sortedIntersectSize(col("x"), col("y")) =!=
        ArrayExprs.intersectSize(col("x"), col("y")))
    assert(bad.count() === 0)
  }

  test("IntersectSize of disjoint and identical sets") {
    val df = Seq(
      (Seq("a"), Seq("b"), 0),
      (Seq("a", "b"), Seq("a", "b"), 2),
      (Seq.empty[String], Seq("a"), 0))
      .toDF("x", "y", "want")
    assert(df.filter(
      ArrayExprs.intersectSize(col("x"), col("y")) =!= col("want")).count() === 0)
  }

  test("labelCentroids: per-label per-dim means, 1-based dims") {
    val emb = Seq(
      (0L, Seq(1.0f, 2.0f), 1),
      (1L, Seq(3.0f, 6.0f), 1),
      (2L, Seq(10.0f, 20.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroids(emb, "label", "embedding")
      .as[(Int, Int, Double, Long)].collect().toSet
    assert(out === Set(
      (1, 1, 2.0, 2L), (1, 2, 4.0, 2L),
      (2, 1, 10.0, 1L), (2, 2, 20.0, 1L)))
  }

  test("rrfFuse sums reciprocal ranks, items missing one list get one term") {
    val a = Seq((1L, 10L, 0.9, 1L), (1L, 11L, 0.8, 2L))
      .toDF("query_id", "neighbor_id", "sim", "rnk")
    val b = Seq((1L, 11L, 0.7, 1L), (1L, 12L, 0.6, 2L))
      .toDF("query_id", "neighbor_id", "sim", "rnk")
    val out = Similarity.rrfFuse(a, b, kConst = 60, topK = 10)
      .collect()
      .map(r => r.getLong(1) ->
        (Option(r.get(2)), Option(r.get(3)), r.getDouble(4), r.getLong(5)))
      .toMap
    def q6(x: Double) = math.floor(x * 1e6) / 1e6
    // 11 is in both lists (1/62 + 1/61) and outranks both singletons.
    assert(out(11L) == ((Some(2L), Some(1L), q6(1.0 / 62 + 1.0 / 61), 1L)))
    assert(out(10L) == ((Some(1L), None, q6(1.0 / 61), 2L)))
    assert(out(12L) == ((None, Some(2L), q6(1.0 / 62), 3L)))
  }

  test("rrfFuse ranks per query on the quantized score with id tie-break") {
    // Same rrf for 20 and 21 (both rank 1 in exactly one list) →
    // neighbor-id ascending breaks the tie; topK truncates.
    val a = Seq((5L, 20L, 0.9, 1L), (5L, 22L, 0.5, 2L))
      .toDF("query_id", "neighbor_id", "sim", "rnk")
    val b = Seq((5L, 21L, 0.9, 1L), (5L, 23L, 0.5, 2L))
      .toDF("query_id", "neighbor_id", "sim", "rnk")
    val got = Similarity.rrfFuse(a, b, kConst = 60, topK = 3)
      .orderBy("fused_rank")
      .select("neighbor_id").as[Long].collect().toSeq
    assert(got == Seq(20L, 21L, 22L))
  }

  test("recallAtK: hits over exact top-k; missing queries in approx " +
    "score zero") {
    val exact = Seq(
      (1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 99L)) // q1 finds 1 of 2; q2 absent
      .toDF("query_id", "neighbor_id")
    val full = Similarity.recallAtK(exact, approx, k = 2)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(full === Map(1L -> ((1L, 0.5)), 2L -> ((0L, 0.0))))
  }

  test("hardNegatives excludes same-label vectors even when they are " +
    "the most similar") {
    val emb = Seq(
      (0L, Array(10.0, 0.0), "a"),
      (1L, Array(9.0, 1.0), "a"),  // most similar — but same label
      (2L, Array(8.0, 2.0), "b"),
      (3L, Array(0.0, 10.0), "b"),
      (4L, Array(7.0, 3.0), "c"))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(
      emb, "vec_id", "embedding", "label", k = 2, queryMax = 1)
      .select("query_id", "neighbor_id", "neg_label", "rnk")
      .as[(Long, Long, String, Long)].collect().sortBy(_._4).toList
    assert(out === List((0L, 2L, "b", 1L), (0L, 4L, "c", 2L)))
  }

  test("hubnessReport: k-occurrence histogram includes anti-hubs") {
    val topk = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L), (3L, 2L), (4L, 2L))
      .toDF("query_id", "neighbor_id")
    val ids = Seq(1L, 2L, 3L, 4L, 5L).toDF("vec_id")
    val out = Similarity.hubnessReport(topk, ids, "vec_id")
      .as[(Long, Long)].collect().toMap
    // degrees: 1->0, 2->3, 3->2, 4->0, 5->0
    assert(out === Map(0L -> 3L, 2L -> 1L, 3L -> 1L))
  }

  test("bounded-broadcast contract is runtime-enforced: an oversized " +
    "query side throws instead of broadcasting") {
    val emb = (1L to 40L).map(i =>
      (i, Array(i.toFloat, 1f), if (i % 2 == 0) "a" else "b"))
      .toDF("vec_id", "embedding", "label")
    val q = emb.select("vec_id", "embedding")
    // under the cap: works
    assert(Similarity.bruteForceTopK(
      q, q.filter($"vec_id" <= 3), "vec_id", "embedding", k = 2,
      maxQueries = 10).count() === 6L)
    // over the cap: loud failure naming the scale path
    val e1 = intercept[IllegalArgumentException](
      Similarity.bruteForceTopK(
        q, q, "vec_id", "embedding", k = 2, maxQueries = 10))
    assert(e1.getMessage.contains("lshBucketedTopK"))
    val e2 = intercept[IllegalArgumentException](
      Similarity.hardNegatives(
        emb, "vec_id", "embedding", "label", k = 2, queryMax = 100L,
        maxQueries = 10))
    assert(e2.getMessage.contains("bounded-broadcast"))
  }

  test("a zero-norm vector never poisons top-k ranks (NaN guard), and " +
    "ivf caps probes at the centroid count") {
    val vecs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0f, 1f)),
      (4L, Array(0f, 0f))) // zero-norm: cosine undefined
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 2)
      .collect()
    // the zero vector appears as neither query nor neighbor; real
    // neighbors hold rank 1 (NaN would have displaced them)
    assert(!out.exists(r => r.getAs[Long]("query_id") == 4L ||
      r.getAs[Long]("neighbor_id") == 4L))
    val rank1 = out.filter(_.getAs[Long]("rnk") == 1L)
    assert(rank1.forall(r => !r.getAs[Double]("sim").isNaN))
    assert(rank1.exists(r => r.getAs[Long]("query_id") == 1L &&
      r.getAs[Long]("neighbor_id") == 2L))
    // nprobe far above nlist/centroids: still returns results (capped),
    // no null-probe silent recall loss, no ANSI array error
    val ivf = Similarity.ivfTopK(vecs, vecs, "vec_id", "embedding",
      k = 2, nlist = 16, nprobe = 99)
    assert(ivf.count() > 0)
  }
}
