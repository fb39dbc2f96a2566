package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

class EmbeddingsSpec extends SparkSpec {
  import spark.implicits._

  test("kmeans recovers well-separated planted clusters") {
    // three tight 2D blobs around (0,0), (10,0), (0,10)
    val blobs = for {
      (cx, cy) <- Seq((0.0, 0.0), (10.0, 0.0), (0.0, 10.0))
      dx <- -1 to 1; dy <- -1 to 1
    } yield (cx, cy, Array((cx + dx * 0.1).toFloat, (cy + dy * 0.1).toFloat))
    val df = blobs.zipWithIndex
      .map { case ((_, _, v), i) => (i.toLong, v) }.toDF("vec_id", "embedding")
    val (centroids, assigned) =
      Embeddings.kmeans(df, "vec_id", "embedding", dim = 2, k = 3, iters = 5)
    // every planted center has a recovered centroid within 0.1
    Seq((0.0, 0.0), (10.0, 0.0), (0.0, 10.0)).foreach { case (cx, cy) =>
      assert(centroids.exists(c =>
        math.abs(c(0) - cx) < 0.1 && math.abs(c(1) - cy) < 0.1),
        s"no centroid near ($cx,$cy): ${centroids.map(_.mkString("[", ",", "]")).mkString}")
    }
    // each blob lands in exactly one cluster (9 points per cluster)
    val sizes = assigned.groupBy("cluster").count()
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(sizes == Seq(9L, 9L, 9L))
  }

  test("kmeans assignments are invariant to input partitioning") {
    // the declared no-oracle reason is CROSS-ENGINE float wobble;
    // within Spark the decimal-exact centroid moments must make the
    // result partition-independent — pin that stronger property
    val pts = (0 until 120).map { i =>
      (i.toLong, Array(((i % 7) * 3.0).toFloat, ((i % 11) * 2.0).toFloat))
    }
    def run(parts: Int) = {
      val df = pts.toDF("vec_id", "embedding").repartition(parts)
      val (cs, assigned) = Embeddings.kmeans(
        df, "vec_id", "embedding", dim = 2, k = 4, iters = 3)
      (cs.map(_.toSeq).toSeq,
        assigned.select("vec_id", "cluster")
          .as[(Long, Int)].collect().toMap)
    }
    val (c1, a1) = run(1)
    val (c16, a16) = run(16)
    assert(c1 == c16 && a1 == a16)
  }

  test("kmeans centroid pass is one aggregate — no window, no join, no explode") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val init = emb.orderBy("vec_id").limit(4)
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    val aggs = Embeddings.lloydPassAggs("embedding", 64)
    val pass = emb
      .groupBy(CentroidReference.nearestCentroidQuantized(col("embedding"), init)
        .as("cluster"))
      .agg(aggs.head, aggs.tail: _*)
    val plan = pass.queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.toLowerCase.contains("join")
      && !plan.contains("Generate"), s"unexpected operators:\n$plan")
  }

  test("IntMomentsAgg pass is one aggregate — no window, no join, " +
    "no explode — and merges exactly across partitionings") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pass = emb.agg(graft.functions.IntMomentsAgg
      .intMoments(col("embedding"), 64, 10000000L))
    val plan = pass.queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.toLowerCase.contains("join")
      && !plan.contains("Generate"), s"unexpected operators:\n$plan")
    def state(df: org.apache.spark.sql.DataFrame) = df
      .agg(graft.functions.IntMomentsAgg
        .intMoments(col("embedding"), 64, 10000000L).as("s"))
      .head().getSeq[java.math.BigDecimal](0).map(_.toBigInteger).toSeq
    assert(state(emb) == state(emb.repartition(17)))
  }

  test("deterministic PCA axes are covariance eigenvectors, partition-invariant") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val det = Embeddings.fitPcaDeterministic(emb, "embedding", dim = 64, k = 3)
    val vs = emb.select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    val n = vs.length
    val mean = Array.tabulate(64)(i => vs.map(_(i)).sum / n)
    val cov = Array.tabulate(64, 64)((i, j) =>
      vs.map(v => (v(i) - mean(i)) * (v(j) - mean(j))).sum / (n - 1))
    val axes = det.components.map(_.map(_.toDouble / 1e7))
    for (c <- 0 until 3) {
      val v = axes(c)
      // unit norm up to the 1e-7 quantization grid
      val nv = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(nv - 1.0) < 1e-5, s"component $c norm $nv")
      // M·v = λ·v, and λ is the Rayleigh quotient
      val mv = cov.map(row => row.zip(v).map { case (a, b) => a * b }.sum)
      val lam = det.eigenvaluesQ(c) / 1e6
      val residual = math.sqrt(mv.zip(v).map { case (a, b) =>
        (a - lam * b) * (a - lam * b) }.sum)
      // the fit's covariance is truncated at 1e-6 per entry, so
      // ‖ΔM‖ ≤ 64·1e-6 bounds both the residual and the Rayleigh gap
      assert(residual < 1e-4, s"component $c residual $residual, λ $lam")
      assert(math.abs(mv.zip(v).map { case (a, b) => a * b }.sum - lam) < 1e-4)
      for (d <- 0 until c)
        assert(math.abs(v.zip(axes(d)).map { case (a, b) => a * b }.sum) < 1e-3)
    }
    // descending, and the first is at least every axis-aligned variance
    assert(det.eigenvaluesQ(0) >= det.eigenvaluesQ(1) &&
      det.eigenvaluesQ(1) >= det.eigenvaluesQ(2))
    assert(det.eigenvaluesQ(0) / 1e6 >= (0 until 64).map(i => cov(i)(i)).max - 1e-4)
    // EXACT integer model invariance under repartitioning — the whole
    // point of the IntMomentsAgg discipline
    val det2 = Embeddings.fitPcaDeterministic(
      emb.repartition(13), "embedding", dim = 64, k = 3)
    assert(det2.components.flatten.toSeq == det.components.flatten.toSeq)
    assert(det2.muQ.toSeq == det.muQ.toSeq)
    assert(det2.eigenvaluesQ.toSeq == det.eigenvaluesQ.toSeq)
  }

  test("deterministic projection is shuffle-free integer codegen") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val det = Embeddings.fitPcaDeterministic(emb, "embedding", dim = 64, k = 3)
    val proj = Embeddings.projectDeterministic(emb, "embedding", det)
    assert(!proj.queryExecution.executedPlan.toString.contains("Exchange"))
    // deterministic twice over
    val a = proj.select("vec_id", "pc1", "pc2", "pc3").collect().toSeq
    val b = Embeddings.projectDeterministic(
      emb.repartition(7), "embedding", det)
      .select("vec_id", "pc1", "pc2", "pc3").collect().toSeq
    assert(a.map(_.toSeq).toSet == b.map(_.toSeq).toSet)
  }

  test("dimHealth: exact sample variance at 1e6 scale; dead dims " +
    "report 0; partition-invariant") {
    import spark.implicits._
    // dim0: {0,1} -> sample var 0.5 -> 500000; dim1 constant (dead);
    // dim2: {-1,1} -> var 2 -> 2000000.
    val emb = Seq(
      (1L, Array(0.0, 7.0, -1.0)),
      (2L, Array(1.0, 7.0, 1.0)))
      .toDF("vec_id", "embedding")
    val out = Embeddings.dimHealth(emb, "embedding", dim = 3)
      .select("dim", "var_q6", "qmin", "qmax")
      .as[(Int, Long, Long, Long)].collect().toSet
    assert(out === Set(
      (0, 500000L, 0L, 10000000L),
      (1, 0L, 70000000L, 70000000L),
      (2, 2000000L, -10000000L, 10000000L)))
    val out5 = Embeddings.dimHealth(emb.repartition(5), "embedding", dim = 3)
      .select("dim", "var_q6", "qmin", "qmax")
      .as[(Int, Long, Long, Long)].collect().toSet
    assert(out5 === out)
  }

  test("quantizeInt8: known codes, constant dims map to 0, " +
    "partition-invariant") {
    import spark.implicits._
    // dim0 spans [0,10], dim1 spans [10,30], dim2 is constant.
    val emb = Seq(
      (1L, Array(0.0, 10.0, 7.0)),
      (2L, Array(5.0, 20.0, 7.0)),
      (3L, Array(10.0, 30.0, 7.0)))
      .toDF("vec_id", "embedding")
    val out = Embeddings.quantizeInt8(emb, "vec_id", "embedding", dim = 3)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // codes: v1 (0,0,0); v2 (floor(5*25.5)=127, floor(10*12.75)=127, 0);
    // v3 (255, 255, 0).
    assert(out === Map(
      1L -> ((0L, 0L, 0L)),
      2L -> ((254L, 0L, 127L)),
      3L -> ((510L, 0L, 255L))))
    val out7 = Embeddings.quantizeInt8(
      emb.repartition(5), "vec_id", "embedding", dim = 3)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out7 === out)
  }

  test("NearestCentroidQ matches the least(struct) form, including " +
    "quantized ties to the lowest cid") {
    import graft.functions.VectorExprs
    // centroids symmetric around several points → exact qd ties; the
    // grid also exercises negative coords and off-centroid points
    val centroids = Array(
      Array(0.0, 0.0), Array(4.0, 0.0), Array(0.0, 4.0), Array(2.0, 2.0))
    val pts = for { x <- -3 to 7; y <- -3 to 7 }
      yield (x * 100L + y, Array((x * 0.5).toFloat, (y * 0.5).toFloat))
    inBothModes {
      // repartition: the optimizer evaluates a projection straight over
      // a local relation itself, which would bypass generated code
      val df = pts.toDF("vec_id", "embedding").repartition(2)
      val both = df.select(
        col("vec_id"),
        VectorExprs.nearestCentroidQ(col("embedding"), centroids).as("fast"),
        CentroidReference.nearestCentroidQuantized(col("embedding"), centroids)
          .as("ref"))
        .as[(Long, Int, Int)].collect()
      assert(both.nonEmpty)
      both.foreach { case (id, fast, ref) =>
        assert(fast === ref, s"vec_id=$id: NearestCentroidQ=$fast least=$ref")
      }
      // (1.0, 1.0) is exactly equidistant from centroids 0 and 3
      // (d² = 2 to each; cids 1 and 2 sit at d² = 10) — the quantized
      // tie between 0 and 3 must go to the LOWER cid in both forms
      val tie = Seq((0L, Array(1.0f, 1.0f))).toDF("vec_id", "embedding")
        .repartition(1)
        .select(VectorExprs.nearestCentroidQ(col("embedding"), centroids))
        .as[Int].head()
      assert(tie === 0)
    }
  }

  test("NearestCentroidQ stays correct at corpus-sized k (300 " +
    "centroids — the least(struct) tree would fall out of codegen)") {
    import graft.functions.VectorExprs
    val dim = 8
    val k = 300
    // deterministic pseudo-random centroids + points
    val rnd = new scala.util.Random(42)
    val centroids = Array.fill(k)(Array.fill(dim)(rnd.nextGaussian()))
    val pts = (0 until 200).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val df = pts.toDF("vec_id", "embedding")
    val got = df.select(col("vec_id"),
      VectorExprs.nearestCentroidQ(col("embedding"), centroids).as("c"))
      .as[(Long, Int)].collect().toMap
    // driver-side reference: same formula, same accumulation order
    def argmin(v: Array[Float]): Int = {
      var xx = 0.0
      v.foreach(x => xx += x.toDouble * x.toDouble)
      var best = Long.MaxValue; var bestJ = 0
      centroids.zipWithIndex.foreach { case (c, j) =>
        var xc = 0.0; var cc = 0.0
        var i = 0
        while (i < dim) {
          xc += v(i).toDouble * c(i); cc += c(i) * c(i); i += 1
        }
        val q = math.floor((xx - xc * 2.0 + cc) * 1e6).toLong
        if (q < best) { best = q; bestJ = j }
      }
      bestJ
    }
    pts.foreach { case (id, v) =>
      assert(got(id) === argmin(v), s"vec_id=$id")
    }
  }

  test("kmeansSpread recovers well-separated planted clusters and is " +
    "invariant to input partitioning") {
    // same three tight blobs as the kmeans test. Forgy (md5-rank)
    // init is pseudo-RANDOM: like any random k-means init it can put
    // two seeds in one blob and converge to a local optimum — that is
    // the algorithm, not a defect, so this MECHANICS test picks ids
    // whose three md5-smallest (6, 19, 24 among 0..26; ids 10↔19
    // swapped) land one per blob. Robustness-to-init is the
    // production caller's iters/k budget, not a seeding property.
    val blobs = for {
      (cx, cy) <- Seq((0.0, 0.0), (10.0, 0.0), (0.0, 10.0))
      dx <- -1 to 1; dy <- -1 to 1
    } yield (cx, cy, Array((cx + dx * 0.1).toFloat, (cy + dy * 0.1).toFloat))
    val pts = blobs.zipWithIndex
      .map { case ((_, _, v), i) =>
        val id = if (i == 10) 19L else if (i == 19) 10L else i.toLong
        (id, v)
      }
    def run(parts: Int) = {
      val df = pts.toDF("vec_id", "embedding").repartition(parts)
      val (cs, assigned) = Embeddings.kmeansSpread(
        df, "vec_id", "embedding", dim = 2, k = 3, iters = 5)
      (cs.map(_.toSeq).toSeq,
        assigned.select("vec_id", "cluster")
          .as[(Long, Int)].collect().toMap)
    }
    val (c1, a1) = run(1)
    Seq((0.0, 0.0), (10.0, 0.0), (0.0, 10.0)).foreach { case (cx, cy) =>
      assert(c1.exists(c =>
        math.abs(c(0) - cx) < 0.1 && math.abs(c(1) - cy) < 0.1),
        s"no centroid near ($cx,$cy): $c1")
    }
    assert(a1.values.groupBy(identity).values.map(_.size).toSeq.sorted
      === Seq(9, 9, 9))
    val (c16, a16) = run(16)
    assert(c1 == c16 && a1 == a16)
  }

  test("kmeansSpread seeds are the k smallest md5-rank ids in rank " +
    "order (the oracle's ROW_NUMBER contract)") {
    import graft.functions.HashExprs
    // k = n with widely-separated distinct embeddings: every vector
    // is its own seed (distance 0 to itself, huge to every other), so
    // after any number of Lloyd passes each vec_id's cluster IS its
    // seed cid — which the contract says is its (md5Prefix60, id)
    // rank. This pins the exact seed ORDER the DuckDB oracle's
    // ROW_NUMBER reproduces.
    val pts = (0 until 40).map(i =>
      (i.toLong, Array((i * 1000.0).toFloat, 0.0f)))
    val df = pts.toDF("vec_id", "embedding")
    val rank = df.select(col("vec_id"),
      HashExprs.md5Prefix60(col("vec_id").cast("string")).as("h"))
      .as[(Long, Long)].collect()
      .sortBy { case (id, h) => (h, id) }
      .map(_._1).zipWithIndex.toMap
    val (_, assigned) = Embeddings.kmeansSpread(
      df, "vec_id", "embedding", dim = 2, k = 40, iters = 2)
    val got = assigned.select("vec_id", "cluster")
      .as[(Long, Int)].collect().toMap
    pts.foreach { case (id, _) =>
      assert(got(id) === rank(id), s"vec_id=$id not at its md5 rank")
    }
  }
}
