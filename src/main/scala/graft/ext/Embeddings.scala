package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{HashExprs, VectorExprs}

/** [EXT] Distributed embedding analytics: PCA over an embedding column
  * with the scale-correct split of work — ONE mergeable-aggregate pass
  * over the data ([[graft.functions.IntMomentsAgg]], constant state),
  * then d×d eigen-math on the DRIVER (d=64: milliseconds), then a
  * distributed projection that is a pure codegen'd expression per row.
  * The corpus is read exactly twice (moments, projection) and never
  * shuffled.
  */
object Embeddings {

  /** Squared L2 distance of a vector column to the nearest literal
    * centroid.
    */
  def nearestCentroidDist(
      vecCol: Column, centroids: Array[Array[Double]]): Column = {
    val v2 = VectorExprs.dot(vecCol, vecCol)
    val dists = centroids.map { c =>
      val c2 = c.map(x => x * x).sum
      v2 - VectorExprs.dot(vecCol, array(c.map(lit): _*)) * 2.0 + lit(c2)
    }
    if (dists.length == 1) dists.head else least(dists: _*)
  }

  /** Deterministic farthest-point init: seed with the lowest-id
    * vector, then k-1 times take the vector farthest from its nearest
    * chosen seed (ties by id). One TakeOrdered pass per seed — k scans
    * total, each a top-1, no shuffle of the data. First-k-by-id init
    * is a trap: adjacent ids often share a source/cluster, and Lloyd's
    * cannot split a blob that got every seed. The farthest-point
    * ordering compares ⌊minDist·10⁶⌋ (floor commutes with min, so the
    * oracle can floor per-seed distances and take MIN).
    */
  private def farthestPointInit(
      df: DataFrame, idCol: String, vecCol: String, k: Int): Array[Array[Double]] = {
    val first = df.orderBy(col(idCol)).limit(1)
      .select(col(vecCol).cast("array<double>")).collect()
    require(first.nonEmpty, "kmeans init on an empty frame")
    var seeds = Array(first(0).getSeq[Double](0).toArray)
    while (seeds.length < k) {
      val next = df
        .orderBy(
          floor(nearestCentroidDist(col(vecCol), seeds) * lit(1e6)).desc,
          col(idCol).asc)
        .limit(1)
        .select(col(vecCol).cast("array<double>")).collect()
      seeds = seeds :+ next(0).getSeq[Double](0).toArray
    }
    seeds
  }

  /** Lloyd's k-means over an embedding column. Deterministic
    * farthest-point init, `iters` full passes; each pass is ONE hash
    * aggregate over the data with constant per-cluster state —
    * assignments are never materialized between passes, and only
    * k·(d+1) scalars reach the driver per pass. Empty clusters keep
    * their previous centroid. Returns (final centroids, assignment
    * frame with `cluster`).
    *
    * Determinism contract (cross-engine oracle-able): assignments
    * compare ⌊dist·10⁶⌋ integers, ties to the lower cluster id
    * ([[graft.functions.NearestCentroidQ]]) — raw-double comparisons
    * are ulp-fragile across engines and round() half-ties are
    * engine-specific, while floor has no tie to break and identical
    * doubles floor identically everywhere (the [[Graph.pageRank]]
    * discipline); centroid updates
    * sum ⌊v_i·10⁶⌋ as exact LONGs per dimension (map-side combinable,
    * partial-aggregation order CANNOT perturb them — the bound is
    * n·max|v|·10⁶ per cluster-dim, far inside 2⁶³ for unit-scale
    * embeddings), and each new centroid coordinate is the one IEEE
    * division sum / (n·10⁶). Every double any engine compares or
    * emits is therefore derived from identical integer state by
    * identical scalar ops — the 3-iteration unroll is SQL-expressible
    * exactly like the [[Graph.pageRank]] oracle.
    */
  def kmeans(
      df: DataFrame, idCol: String, vecCol: String, dim: Int, k: Int,
      iters: Int): (Array[Array[Double]], DataFrame) = {
    // NOTE on k at scale: k here is caller-pinned, which is right for
    // a requested-cluster-count analysis (q_kmeans_assign) but wrong
    // for corpus partitioning — any downstream within-cluster pair
    // work is Σn_c², quadratic at fixed k. Corpus-sized callers
    // should derive k from the row count ([[Dedup.semDeDupK]]'s
    // E[n_c]≈256 ladder) and use [[kmeansSpread]], whose init cost
    // does not grow with k² the way farthest-point's k scans do.
    require(k >= 1 && iters >= 1, s"bad kmeans params: k=$k iters=$iters")
    val init = farthestPointInit(df, idCol, vecCol, k)
    require(init.length == k, s"need >= $k vectors for init")
    // a null vector goes to cluster 0, where the oracle's ROW_NUMBER
    // (all-null distances, ties by cid) puts it
    lloyd(df, vecCol, dim, iters, init,
      cs => coalesce(VectorExprs.nearestCentroidQ(col(vecCol), cs), lit(0)))
  }

  /** The shared Lloyd iteration body (ONE copy — [[kmeans]] and
    * [[kmeansSpread]] differ only in init and null handling, and both
    * must stay bit-identical to the oracle's unrolled CTE chain): per
    * pass, one [[graft.functions.NearestCentroidQ]] assignment and one
    * hash aggregate with exact integer centroid sums
    * (⌊v_i·10⁶⌋ as long — partition order cannot perturb them), new
    * centroid = sum / (n·10⁶) as the one IEEE division, empty
    * clusters keep their previous centroid.
    */
  private def lloyd(
      df: DataFrame, vecCol: String, dim: Int, iters: Int,
      init: Array[Array[Double]],
      assign: Array[Array[Double]] => Column)
      : (Array[Array[Double]], DataFrame) = {
    var centroids = init
    val aggs = lloydPassAggs(vecCol, dim)
    var it = 0
    while (it < iters) {
      val states = df
        .groupBy(assign(centroids).as("cluster"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map(r => r.getInt(0) -> r).toMap
      centroids = centroids.zipWithIndex.map { case (old, j) =>
        states.get(j) match {
          case Some(r) =>
            val n = r.getLong(1)
            Array.tabulate(dim)(i =>
              r.getLong(2 + i).toDouble / (n.toDouble * 1e6))
          case _ => old
        }
      }
      it += 1
    }
    (centroids, df.withColumn("cluster", assign(centroids)))
  }

  /** One [[lloyd]] pass's aggregate columns: the member count `__n`,
    * then the exact integer centroid sums `__s0`…`__s(dim-1)`.
    */
  private[graft] def lloydPassAggs(vecCol: String, dim: Int): Seq[Column] =
    count(lit(1)).as("__n") +: (0 until dim).map(i =>
      sum(floor(col(vecCol).getItem(i).cast("double") * lit(1e6))
        .cast("long")).as(s"__s$i"))

  /** Deterministic pseudo-random (Forgy) init for CORPUS-SIZED k:
    * the k vectors with the smallest portable 60-bit md5 prefix of
    * their id (ties by id), in that order — one distributed top-k
    * (TakeOrdered) pass, O(n) work however large k is, where
    * [[farthestPointInit]] is k sequential jobs totalling O(n·k²)
    * distance work (fine at k=8, prohibitive at a corpus-sized
    * k in the hundreds). The md5-rank order is the repo's standard
    * cross-engine hash gate, so a SQL oracle reproduces BOTH the
    * member set and the cid order with one ROW_NUMBER.
    */
  private def hashSpreadInit(
      df: DataFrame, idCol: String, vecCol: String, k: Int): Array[Array[Double]] =
    df.orderBy(
        HashExprs.md5Prefix60(col(idCol).cast("string")).asc,
        col(idCol).asc)
      .limit(k)
      .select(col(vecCol).cast("array<double>"))
      .collect()
      .map(_.getSeq[Double](0).toArray)

  /** Lloyd's k-means for CORPUS-SIZED k (hundreds+): identical
    * iteration contract to [[kmeans]] (quantized assignments, exact
    * integer centroid sums, empty clusters keep their centroid — the
    * same cross-engine determinism, oracle-able by the same unrolled
    * CTE chain), with the init that breaks at large k swapped:
    * [[hashSpreadInit]] instead of farthest-point (O(n) vs O(n·k²)).
    * cid j = the j-th seed in md5-rank order.
    */
  def kmeansSpread(
      df: DataFrame, idCol: String, vecCol: String, dim: Int, k: Int,
      iters: Int): (Array[Array[Double]], DataFrame) = {
    require(k >= 1 && iters >= 1, s"bad kmeans params: k=$k iters=$iters")
    val init = hashSpreadInit(df, idCol, vecCol, k)
    require(init.length == k, s"need >= $k vectors for init")
    lloyd(df, vecCol, dim, iters, init,
      cs => VectorExprs.nearestCentroidQ(col(vecCol), cs))
  }

  // ── Deterministic (cross-engine bit-reproducible) PCA ─────────────

  /** Vector quantization scale shared by the deterministic PCA fit,
    * its projection, and the SQL oracle: qxᵢ = ⌊xᵢ·10⁷⌋.
    */
  val DetScale = 10000000L
  /** Covariance/eigenvalue scale (10⁶) of the deterministic model. */
  val DetCovScale = 1000000L
  /** Fixed power-iteration budget per component. Sized for the
    * shallow eigengaps of real embedding spectra: the testdata corpus
    * has λ₂/λ₁ ≈ 0.93, so 300 halvings leave a (0.93)³⁰⁰ ≈ 1e-9
    * residual — each axis is an eigenvector of the driver-side
    * covariance to a small residual (spec-asserted). The budget is
    * part of the deterministic CONTRACT (the oracle unrolls exactly
    * this many steps); the driver cost is d²·iters integer ops —
    * microseconds.
    */
  val DetIters = 300

  /** The deterministic model: everything is a scaled integer.
    * `muQ` at 10⁷ (trunc-div mean of quantized vectors), component
    * entries at 10⁷ (unit-norm axes), eigenvalues at 10⁶.
    */
  final case class DetPcaModel(
      n: Long, muQ: Array[Long], components: Array[Array[Long]],
      eigenvaluesQ: Array[Long])

  /** PCA whose every decision is EXACT-integer or
    * exactly-representable-double arithmetic, so an independent engine
    * (the DuckDB oracle, [[graft.queries.EmbeddingQueries]]'s
    * `pcaOracleSql`) reproduces the model
    * BIT-FOR-BIT — the [[kmeans]] quantization discipline applied to
    * eigendecomposition, closing the one "not oracle-able" claim this
    * module used to carry:
    *
    *  1. One [[graft.functions.IntMomentsAgg]] pass: n, Σqx,
    *     upper-triangle Σqx·qxᵀ as exact 128-bit integers
    *     (qx = ⌊x·10⁷⌋). Partition order CANNOT perturb them.
    *  2. Integer covariance: M_ij = trunc((n·P_ij − S_i·S_j)·10⁶
    *     / (n·(n−1)·10¹⁴)) — one exact integer division per cell.
    *  3. k × fixed-budget power method with deflation. Per step:
    *     y = M·v (exact ints), dynamic rescale ys = trunc(y·10⁷ /
    *     max|y|) (exact), then the ONLY floating ops: norm =
    *     √(Σys²) with Σys² ≤ 64·10¹⁴ < 2⁵³ (the sum is an exactly-
    *     representable double and IEEE requires sqrt and ÷ correctly
    *     rounded), and v′ᵢ = ⌊ysᵢ·10⁷ / norm⌋ (inputs again exact).
    *     No libm, no order-dependent float sums anywhere. Budget:
    *     [[DetIters]] (fixed — see its doc for the eigengap sizing).
    *  4. Sign canon: the entry of max |·| (first index on ties) is
    *     made positive. λ = trunc(vᵀMv / 10¹⁴); deflate M −= trunc(
    *     λ·vvᵀ / 10¹⁴).
    *
    * The fixed iteration budget trades adaptive convergence for
    * reproducibility: with a planted eigengap 40 halvings are far
    * past double precision ((λ₂/λ₁)⁴⁰); for gapless spectra the
    * result is still the SAME deterministic vector in every engine —
    * the contract is bit-reproducibility, accuracy follows from the
    * budget (spec'd as an eigenpair residual on the real corpus).
    *
    * Scale shape: one constant-state aggregate pass over the corpus,
    * O(d²·iters·k) integer math on the driver (d=64: milliseconds),
    * distributed projection.
    */
  def fitPcaDeterministic(
      df: DataFrame, vecCol: String, dim: Int, k: Int,
      iters: Int = DetIters): DetPcaModel = {
    require(k >= 1 && k <= dim, s"k=$k out of range for dim=$dim")
    val state = df
      .agg(graft.functions.IntMomentsAgg
        .intMoments(col(vecCol), dim, DetScale).as("s"))
      .head().getSeq[java.math.BigDecimal](0).toArray
      .map(d => BigInt(d.toBigInteger))
    val n = state(0).toLong
    require(n > 1, s"PCA needs at least 2 vectors, got $n")
    val s = Array.tabulate(dim)(i => state(1 + i))
    val p = Array.tabulate(dim * (dim + 1) / 2)(t => state(1 + dim + t))
    // Integer covariance at DetCovScale (trunc division, mirrors //).
    val den = BigInt(n) * BigInt(n - 1) * BigInt(DetScale) * BigInt(DetScale)
    val m = Array.ofDim[Long](dim * dim)
    var t = 0
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val num = (BigInt(n) * p(t) - s(i) * s(j)) * BigInt(DetCovScale)
        val cell = (num / den).toLong // BigInt / truncates toward zero
        require(math.abs(cell) < 1000000000L,
          s"covariance cell $cell out of the deterministic contract " +
            "(|cov| < 1e3); rescale the embeddings")
        m(i * dim + j) = cell
        m(j * dim + i) = cell
        t += 1
        j += 1
      }
      i += 1
    }
    val comps = Array.ofDim[Array[Long]](k)
    val lams = Array.ofDim[Long](k)
    var c = 0
    while (c < k) {
      comps(c) = powerIterate(m, dim, iters)
      lams(c) = rayleighDeflate(m, dim, comps(c))
      c += 1
    }
    val muQ = Array.tabulate(dim)(i => (s(i) / BigInt(n)).toLong)
    DetPcaModel(n, muQ, comps, lams)
  }

  /** One fixed-budget power iteration over the scaled-integer matrix;
    * see [[fitPcaDeterministic]] step 3. Mirrored op-for-op by the
    * recursive CTE in the oracle.
    */
  private def powerIterate(m: Array[Long], dim: Int, iters: Int): Array[Long] = {
    var v = Array.tabulate(dim)(i => 1250000L + (i + 1)) // symmetric-breaking
    var it = 0
    while (it < iters) {
      val y = Array.tabulate(dim) { i =>
        var acc = BigInt(0)
        var j = 0
        while (j < dim) { acc += BigInt(m(i * dim + j)) * BigInt(v(j)); j += 1 }
        acc
      }
      val sMax = y.map(_.abs).max
      if (sMax == 0) { it = iters } // zero matrix: keep v
      else {
        val ys = y.map(yi => ((yi * BigInt(DetScale)) / sMax).toLong)
        var n2 = 0L
        var i = 0
        while (i < dim) { n2 += ys(i) * ys(i); i += 1 } // ≤ 64e14 < 2^53
        val norm = math.sqrt(n2.toDouble)
        v = ys.map(a => math.floor(a.toDouble * DetScale.toDouble / norm).toLong)
        it += 1
      }
    }
    // sign canon: entry of max |·| (first on tie) positive
    val mx = v.map(math.abs).max
    val jm = v.indexWhere(a => math.abs(a) == mx)
    if (v(jm) < 0) v.map(a => -a) else v
  }

  /** λ = trunc(vᵀMv / 10¹⁴) and in-place deflation M −= trunc(λ·vvᵀ /
    * 10¹⁴); see [[fitPcaDeterministic]] step 4.
    */
  private def rayleighDeflate(m: Array[Long], dim: Int, v: Array[Long]): Long = {
    val sc2 = BigInt(DetScale) * BigInt(DetScale)
    var acc = BigInt(0)
    var i = 0
    while (i < dim) {
      var j = 0
      while (j < dim) {
        acc += BigInt(m(i * dim + j)) * BigInt(v(i)) * BigInt(v(j))
        j += 1
      }
      i += 1
    }
    val lam = (acc / sc2).toLong
    i = 0
    while (i < dim) {
      var j = 0
      while (j < dim) {
        m(i * dim + j) -= ((BigInt(lam) * BigInt(v(i)) * BigInt(v(j))) / sc2)
          .toLong
        j += 1
      }
      i += 1
    }
    lam
  }

  /** Distributed projection under the deterministic model: per row and
    * component, pc = trunc((Σᵢ qxᵢ·wᵢ − Σᵢ μqᵢ·wᵢ) / 10⁶) / 10⁸ — an
    * all-integer centered dot product (qx = ⌊x·10⁷⌋ per row; the mean
    * term is a precomputed scalar), one exact int→double conversion
    * (|p₆| < 2⁵³), one division. Codegen'd zip_with/aggregate — no
    * shuffle, no UDF.
    */
  def projectDeterministic(
      df: DataFrame, vecCol: String, model: DetPcaModel,
      outPrefix: String = "pc"): DataFrame = {
    val qx = transform(col(vecCol),
      x => floor(x.cast("double") * lit(DetScale.toDouble)).cast("long"))
    val comps = model.components.zipWithIndex.map { case (w, idx) =>
      val wCol = array(w.map(lit): _*)
      val muDot = model.muQ.zip(w).map { case (a, b) => a * b }.sum
      val p = aggregate(
        zip_with(qx, wCol, (a, b) => a * b), lit(0L), (acc, x) => acc + x) -
        lit(muDot)
      ((p - (p % lit(DetCovScale))) / lit(DetCovScale)).cast("long")
        .cast("double")./(lit(1e8)).as(s"$outPrefix${idx + 1}")
    }
    df.select(df.columns.map(col) ++ comps: _*)
  }

  /** Per-dimension embedding health report — the "which dims are dead
    * or degenerate" diagnostic a team runs before training on (or
    * indexing) an embedding corpus. Per dimension: count, exact
    * quantized variance (qx = ⌊x·10⁷⌋; var_q6 = ⌊(nP−S²)/(n(n−1)·10⁸)⌋
    * — variance at 10⁶ scale from EXACT integer moments, the
    * deterministic-PCA discipline on the covariance diagonal), and
    * the min/max quantized values. A var_q6 of 0 is a dead dim; an
    * extreme one is a scaling bug.
    *
    * Scale shape: one explode + one aggregate keyed on the dimension
    * index (≤ dim keys, map-side combined); moments ride as
    * DECIMAL(38,0) so they stay exact and mergeable at any corpus
    * size. No float accumulates anywhere.
    */
  def dimHealth(
      df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    require(dim >= 2, s"dim must be >= 2: $dim")
    val q = df.select(posexplode(
      transform(col(vecCol),
        x => floor(x.cast("double") * lit(1e7)).cast("long")))
      .as(Seq("dim", "qx")))
    val m = q.groupBy(col("dim"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("qx").cast("decimal(38,0)")).as("__s"),
        // each factor casts BEFORE the square: qx ~ 1e10 for the very
        // badly-scaled dimensions this diagnostic exists to expose,
        // and a LongType qx*qx wraps at 9.2e18 silently (ANSI off) —
        // the decimal product is exact to 1e38
        sum(col("qx").cast("decimal(19,0)") *
          col("qx").cast("decimal(19,0)")).as("__p"),
        min(col("qx")).as("qmin"), max(col("qx")).as("qmax"))
    val num = col("n").cast("decimal(38,0)") * col("__p") -
      col("__s") * col("__s")
    val den = (col("n") * (col("n") - 1)).cast("decimal(38,0)") *
      lit(100000000L)
    m.select(col("dim"), col("n"),
      ((num - num % den) / den).cast("long").as("var_q6"),
      col("qmin"), col("qmax"))
  }

  /** Int8 scalar quantization of an embedding column — the 4×
    * memory/IO shrink an ANN index or training shard applies before
    * storage. Per-dimension corpus [min, max] (one constant-state
    * aggregate, broadcast back) maps each value to
    * `code = min(255, ⌊(x−mn)·255/(mx−mn)⌋)` (0 on a constant
    * dimension). min/max are exact (no float accumulation), the code
    * formula is three IEEE basic ops in fixed order + an exact floor
    * — bit-identical in any engine, so the codes carry a SQL oracle.
    *
    * Output: per-vector integer code digests (sum/min/max, exact) —
    * the auditable projection of the code array; callers wanting the
    * codes themselves use the same `codes` expression.
    */
  def quantizeInt8(
      df: DataFrame, idCol: String, vecCol: String, dim: Int): DataFrame = {
    require(dim >= 1, s"dim must be >= 1: $dim")
    val aggs = (0 until dim).flatMap { i =>
      Seq(min(col(vecCol).getItem(i).cast("double")).as(s"__mn$i"),
        max(col(vecCol).getItem(i).cast("double")).as(s"__mx$i"))
    }
    val mm = df.agg(aggs.head, aggs.tail: _*)
    val codes = (0 until dim).map { i =>
      val x = col(vecCol).getItem(i).cast("double")
      val (mn, mx) = (col(s"__mn$i"), col(s"__mx$i"))
      when(mx === mn, lit(0L)).otherwise(
        least(lit(255L),
          floor((x - mn) * lit(255.0) / (mx - mn)).cast("long")))
    }
    df.crossJoin(broadcast(mm))
      .select(col(idCol),
        codes.reduce(_ + _).as("code_sum"),
        codes.reduce((a, b) => least(a, b)).as("code_min"),
        codes.reduce((a, b) => greatest(a, b)).as("code_max"))
  }
}
