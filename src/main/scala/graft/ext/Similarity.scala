package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorExprs

/** [EXT] Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`). North-star extension; no reference equivalent.
  *
  * Two paths:
  *   - [[bruteForceTopK]]: exact cosine top-k, query-side broadcast.
  *     O(|Q|·|C|) — the correctness baseline, fine when |Q| is small.
  *   - [[lshBucketedTopK]]: random-hyperplane (sign) LSH. Both sides
  *     hash to sign-bit buckets; the join keys on bucket id, so the
  *     candidate set per query is |C| / 2^bits on average and the whole
  *     thing is one shuffle-join on a short key — the 100 TB path.
  *
  * All arithmetic is done in double after widening the float vectors:
  * sequential left-to-right accumulation via `aggregate`, matching the
  * DuckDB oracle's `list_inner_product` evaluation order so rounded
  * results hash-match.
  */
object Similarity {

  /** Sequential dot product — the codegen'd [[graft.functions.DotProduct]]
    * expression (the higher-order-function formulation
    * `aggregate(zip_with(a,b,_*_),0.0,_+_)` is interpreted per element:
    * measured ~50x slower on the pair scans below).
    */
  def dot(a: Column, b: Column): Column = VectorExprs.dot(a, b)

  /** `side` plus the L2 norm of its vector column `vec` as `norm` —
    * computed once per ROW, so a pair loop over two sides is one
    * codegen'd dot product per pair.
    */
  private[graft] def withNorm(
      side: DataFrame, vec: String, norm: String): DataFrame =
    side.withColumn(norm, sqrt(dot(col(vec), col(vec))))

  /** The cosine of a joined pair of normed sides (vectors `va`/`vb`,
    * norms `na`/`nb`): the oracle's dot/(‖a‖·‖b‖), rounded to 6 dp
    * BEFORE any threshold or rank so decisions agree across engines.
    */
  private[graft] def pairCosine(
      va: String, na: String, vb: String, nb: String): Column =
    round(dot(col(va), col(vb)) / (col(na) * col(nb)), 6)

  /** One side of a retrieval join: `cols` of `df`, the norm of its
    * vector column `vec` as `norm`, zero-norm rows dropped — such a
    * vector has no cosine direction: 0/0 = NaN and Spark ranks NaN
    * ABOVE every real sim, so an all-zero embedding would poison rank 1
    * of every query.
    */
  private def retrievalSide(df: DataFrame, vec: String, norm: String)(
      cols: Column*): DataFrame =
    withNorm(df.select(cols: _*), vec, norm).filter(col(norm) > 0)

  private def querySide(df: DataFrame, cols: Column*): DataFrame =
    retrievalSide(df, "__qv", "__qn")(cols: _*)

  private def candidateSide(df: DataFrame, cols: Column*): DataFrame =
    retrievalSide(df, "__cv", "__cn")(cols: _*)

  private def notSelf: Column = col("query_id") =!= col("neighbor_id")

  /** The shared tail of every cosine retriever: 6-dp cosine of each
    * joined (query, candidate) row of `pairs`, then the per-query top-k
    * by (sim desc, neighbor_id asc) — similarities rounded BEFORE
    * ranking, the id as tiebreaker, so ranks stay deterministic across
    * engines and partitionings; the rank filter plans as a
    * WindowGroupLimit (map-side k-prune), never a global sort. Output:
    * (query_id, neighbor_id, carried..., sim, rnk).
    */
  private def rankTopK(pairs: DataFrame, k: Int, carried: String*): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    pairs
      .withColumn("sim", pairCosine("__qv", "__qn", "__cv", "__cn"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", ("neighbor_id" +: carried) ++ Seq("sim", "rnk"): _*)
  }

  /** Per-label centroid in LONG format: one row per (label, dimension)
    * with the mean component value — class prototypes for
    * nearest-centroid classification, cluster drift monitoring, or IVF
    * coarse-quantizer seeding.
    *
    * Long format is deliberate: explode + hash-aggregate keyed on
    * (label, dim) is map-side combinable and shuffles `labels × dim`
    * aggregate rows — never vectors — so it scales to any corpus. (A
    * collected array-of-avgs would need either HOF lambdas or a
    * per-label collect.) Reassemble with
    * `groupBy(label).agg(array_sort(collect_list(struct(dim, centroid))))`
    * when a vector shape is needed — labels × dim stays tiny.
    */
  def labelCentroids(
      emb: DataFrame, labelCol: String, vecCol: String): DataFrame =
    emb
      .select(col(labelCol), posexplode(col(vecCol)).as(Seq("__p", "__v")))
      .groupBy(col(labelCol), (col("__p") + 1).cast("int").as("dim"))
      // Decimal-exact sum, one double division: avg(double) sums in
      // partition order and can flip the 6dp rounding vs the oracle's
      // sequential sum. float→double is exact and both engines convert
      // the SAME double to the same DECIMAL(28,12), so the sum is
      // bit-identical cross-engine.
      .agg(round(
        sum(col("__v").cast("double").cast("decimal(28,12)")).cast("double") /
          count(lit(1)), 6).as("centroid"),
        count(lit(1)).as("n_vectors"))

  /** Runtime enforcement of a documented bounded-broadcast contract:
    * the operators below broadcast their query side, which is safe
    * ONLY while it stays small — and "the caller promised" does not
    * survive a 100× scale-up. The probe is `limit(max+1).count()`,
    * which short-circuits after max+1 rows (one cheap job, never a
    * full scan of a huge side), so an oversized side fails LOUDLY at
    * the contract boundary instead of OOMing executors mid-broadcast.
    */
  private def requireBoundedSide(
      df: DataFrame, max: Int, what: String, alternative: String): Unit = {
    val n = df.limit(max + 1).count()
    require(n <= max,
      s"$what exceeds the bounded-broadcast contract (> $max rows); " +
        s"route the unbounded side through $alternative instead")
  }

  /** Exact top-k neighbors for each query vector.
    *
    * @param candidates (idCol, vecCol) — the full corpus
    * @param queries    (idCol, vecCol) — the (small) query set; gets
    *                    broadcast so the corpus is never shuffled.
    *                    BOUNDED-SIDE CONTRACT, runtime-enforced: at
    *                    most `maxQueries` rows, else this throws — use
    *                    [[lshBucketedTopK]] / [[ivfTopK]] for an
    *                    unbounded query set.
    * @param k          neighbors per query
    * Similarities are rounded to 6 dp BEFORE ranking, with the id as a
    * tiebreaker — ranks stay deterministic across engines/partitionings.
    *
    * ID-NAMESPACE CONTRACT (all retrievers here): queries and
    * candidates must share one id namespace — the self-pair exclusion
    * compares ids, so two INDEPENDENT auto-increment id spaces would
    * silently drop candidate i from query i's neighbors on a mere
    * collision. Re-key one side if the sets come from different
    * tables. Zero-norm vectors are excluded on both sides (cosine is
    * undefined; their NaN sims would rank above every real neighbor).
    */
  def bruteForceTopK(
      candidates: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      maxQueries: Int = 1 << 16): DataFrame = {
    requireBoundedSide(queries, maxQueries,
      "bruteForceTopK query side", "lshBucketedTopK/ivfTopK")
    val q = querySide(queries,
      col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val c = candidateSide(candidates,
      col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    rankTopK(c.crossJoin(broadcast(q)).filter(notSelf), k)
  }

  /** Recall@k of an approximate retriever against exact ground truth
    * — the eval every ANN deployment runs before trusting its index
    * ("measure, don't guess" applied to the library's own LSH/IVF
    * paths). Inputs are two top-k tables in the retriever schema
    * (query_id, neighbor_id, ...); output is per-query n_hits +
    * recall (exact integer-over-constant division). One equi-join on
    * (query, neighbor) + one query-keyed aggregate — scales with the
    * top-k tables, not the corpus.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val a = approx.select(
      col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
    e.join(a, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .withColumn("recall", col("n_hits").cast("double") / lit(k.toDouble))
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the `k` most-cosine-similar vectors with a DIFFERENT
    * label — the negatives that actually teach a bi-encoder, vs the
    * trivially-easy random ones. Same bounded-query-side contract and
    * 6-dp-cosine discipline as [[bruteForceTopK]]; the label
    * inequality prunes pairs before the rank, and the top-k is a
    * WindowGroupLimit (map-side k-prune), never a global sort. For
    * unbounded query sides, bucket with [[lshBucket]] first — the
    * [[graft.ext.Dedup.embeddingNearDuplicatesLsh]] path. The
    * bounded-side contract is runtime-enforced like
    * [[bruteForceTopK]]'s: > `maxQueries` query rows throws.
    */
  def hardNegatives(
      emb: DataFrame, idCol: String, vecCol: String, labelCol: String,
      k: Int, queryMax: Long, maxQueries: Int = 1 << 16): DataFrame = {
    val bounded = emb.filter(col(idCol) < queryMax)
    requireBoundedSide(bounded, maxQueries,
      "hardNegatives query side", "lshBucket-prefiltered candidates")
    val q = querySide(bounded,
      col(idCol).as("query_id"), col(labelCol).as("__ql"),
      col(vecCol).as("__qv"))
    val c = candidateSide(emb,
      col(idCol).as("neighbor_id"), col(labelCol).as("neg_label"),
      col(vecCol).as("__cv"))
    rankTopK(c.crossJoin(broadcast(q)).filter(col("neg_label") =!= col("__ql")),
      k, "neg_label")
  }

  /** Deterministic pseudo-random unit-free hyperplanes for sign-LSH:
    * component j of plane p from a seeded generator so plans are
    * identical across runs/JVMs — and inlinable into the DuckDB oracle
    * (the same constants render into SQL literals).
    */
  private[graft] def hyperplane(p: Int, dim: Int): Array[Double] = {
    val rnd = new scala.util.Random(0x5EED0000L + p)
    Array.fill(dim)(rnd.nextGaussian())
  }

  /** Bucket-count ladder for corpus-sized sign-LSH: the smallest even
    * `bits` ≥ 4 keeping the EXPECTED bucket population ≤ 256, capped
    * at 30. A constant `bits` makes every self-join over LSH buckets
    * quadratic — bucket population grows with the corpus, so
    * Σ n_b² grows as n²/2^bits (measured: q_ann_hubness at bits=4 ran
    * 1.1 s on 2 k vectors and >20 min on 60 k). Scaling bits with
    * log₂(n) pins the population, making total pair work ~n·256 —
    * linear. The ladder is integer-threshold (n vs 256·2^b), stepped
    * by 2, so the DuckDB oracle reproduces the choice exactly with a
    * CASE over COUNT(*) — no float log at a rung boundary can
    * disagree between engines.
    *
    * Because the bucket id weights plane p by 2^p, the b-bit bucket is
    * the (b+Δ)-bit bucket mod 2^b — the oracle computes one max-width
    * bucket and masks, while Spark evaluates only the chosen planes.
    */
  def adaptiveLshBits(n: Long): Int = {
    var b = 4
    while (b < 30 && n > (256L << b)) b += 2
    b
  }

  /** Sign-LSH bucket id: one bit per hyperplane. The projection is
    * rounded to 6 dp before the sign test so bucket assignment can't
    * flip on a last-ulp difference between engines.
    */
  def lshBucket(vec: Column, dim: Int, bits: Int): Column = {
    val planes = (0 until bits).map(p => hyperplane(p, dim))
    planes.zipWithIndex.map { case (plane, i) =>
      val planeCol = array(plane.map(lit): _*)
      when(round(dot(vec, planeCol), 6) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** ANN top-k: candidates are restricted to the query's sign-LSH
    * bucket, so the pair space shrinks ~2^bits-fold and the join is a
    * plain equi-join on (bucket) that AQE can re-plan for skew. Recall
    * is traded for scale; raise `k`/lower `bits` to recover.
    */
  def lshBucketedTopK(
      candidates: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      dim: Int, bits: Int = 8): DataFrame = {
    val q = querySide(queries,
      col(idCol).as("query_id"), col(vecCol).as("__qv"),
      lshBucket(col(vecCol), dim, bits).as("__bucket"))
    val c = candidateSide(candidates,
      col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      lshBucket(col(vecCol), dim, bits).as("__bucket"))
    rankTopK(c.join(q, Seq("__bucket")).filter(notSelf), k)
  }

  /** IVF-Flat ANN top-k.
    *
    * Coarse quantizer: `nlist` deterministic centroids (the corpus
    * vectors with the smallest ids — reproducible without a training
    * job; swap in k-means centroids for better recall). Every corpus
    * vector is assigned to its nearest centroid (one pass, `nlist`
    * static codegen'd dot products per row); each query probes its
    * `nprobe` nearest lists. Candidates come from an equi-join on the
    * list id, so the pair space is ~|C|·nprobe/nlist and the whole
    * search is one shuffle-join — the standard IVF trade of recall for
    * scale, complementary to [[lshBucketedTopK]] (IVF adapts to the
    * data distribution; sign-LSH doesn't).
    *
    * `nlist` at scale: like any bucket count, a PINNED nlist makes
    * per-list population — and with it the candidate join — grow
    * linearly with the corpus (pair work ~n²·nprobe/nlist). The
    * default 16 is sized for the test corpus (this method is the
    * frozen-oracle inventory shape, `q_sim_ivf`). First-`nlist`-by-id
    * seeding is a known recall trap when adjacent ids share a cluster
    * (`Embeddings.scala` kmeans doc); the frozen oracle keeps it.
    */
  def ivfTopK(
      candidates: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    require(nlist >= 1 && nprobe >= 1,
      s"nlist/nprobe must be >= 1: nlist=$nlist nprobe=$nprobe")
    ivfSearch(candidates, queries, idCol, vecCol, k, nprobe,
      ivfSeedsById(candidates, idCol, vecCol, nlist))
  }

  /** Deterministic centroid table for the IVF coarse quantizer: the
    * first `nlist` corpus vectors by id (the frozen-oracle seed rule of
    * [[ivfTopK]]), collected once (`nlist` rows, the ONE bounded driver
    * collect of this module) and inlined as literals so assignment
    * stays pure projection; cid = row position in id order. Zero-norm
    * seeds are dropped AFTER indexing (cids keep their positions, gaps
    * allowed) — such a centroid would make every row's sim to it NaN
    * and the struct argmax would always pick it.
    */
  private def ivfSeedsById(
      candidates: DataFrame, idCol: String, vecCol: String,
      nlist: Int): Array[(Int, Array[Double])] = {
    val centroids = candidates.orderBy(col(idCol).asc).limit(nlist)
      .select(col(vecCol)).collect()
      .zipWithIndex.map { case (r, i) =>
        i -> r.getSeq[Float](0).map(_.toDouble).toArray
      }
      .filter { case (_, c) => c.exists(_ != 0.0) }
    require(centroids.nonEmpty,
      "ivfTopK: no nonzero centroid seeds in the candidate set")
    centroids
  }

  // array of (similarity, centroidId) structs; argmax = last of the
  // sorted array (struct ordering compares sim first, id breaks ties).
  // Row norm comes in as a column so dot(vec,vec) is evaluated once
  // per row, not once per centroid. No HOF lambdas anywhere: static
  // element_at extractions instead (lambda codegen is expensive).
  // Sims are rounded to 6 dp BEFORE the argmax so list assignment is
  // deterministic across engines (same guard as lshBucket).
  private def simsTo(
      centroids: Array[(Int, Array[Double])],
      vec: Column, vecNorm: Column): Column =
    array(centroids.map { case (cid, c) =>
      val cCol = array(c.map(lit): _*)
      val norm = math.sqrt(c.map(x => x * x).sum)
      struct(round(dot(vec, cCol) / (lit(norm) * vecNorm), 6).as("sim"),
        lit(cid).as("cid"))
    }: _*)

  /** Nearest-list id for one vector: the argmax of the struct-sort
    * tree. The tree grows ~10 expression nodes per centroid, which is
    * fine at the frozen inventory's nlist = 16; a corpus-sized nlist
    * would need a codegen'd kernel (the [[graft.functions.NearestCentroidQ]]
    * lesson).
    */
  private def nearestListCol(
      centroids: Array[(Int, Array[Double])],
      vec: Column, vecNorm: Column): Column =
    element_at(array_sort(simsTo(centroids, vec, vecNorm)), -1)
      .getField("cid")

  /** The `n` probe-list ids for one query vector, (sim DESC, cid
    * DESC).
    */
  private def probeListsCol(
      centroids: Array[(Int, Array[Double])],
      vec: Column, vecNorm: Column, n: Int): Column = {
    val ranked = reverse(array_sort(simsTo(centroids, vec, vecNorm)))
    array((1 to n).map(i => element_at(ranked, i).getField("cid")): _*)
  }

  /** The coarse-quantizer assignment frame: every nonzero-norm
    * candidate with its vector, norm, and nearest-centroid list id —
    * the first half of [[ivfTopK]].
    */
  private def ivfAssign(
      candidates: DataFrame, idCol: String, vecCol: String,
      centroids: Array[(Int, Array[Double])]): DataFrame =
    candidateSide(candidates,
      col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      // coalesce(…, -1): the assignment feeds an equi-join key, and a
      // NULLABLE key makes the join infer `isnotnull(<assignment>)` —
      // which the optimizer pushes into the Filter BELOW the Project,
      // so the whole quantizer expression (nlist dot products!) ran
      // TWICE per candidate row (measured r18: the Filter+Project pair
      // both carried it, ~2× the assignment cost). The sentinel makes
      // the column non-nullable, the inferred isnotnull folds to true,
      // and the quantizer evaluates once; -1 is no centroid id, so a
      // (theoretical) null assignment still matches no probe list —
      // row semantics are bit-identical (oracle re-proven).
      .withColumn("__list",
        coalesce(nearestListCol(centroids, col("__cv"), col("__cn")),
          lit(-1)))

  private def ivfSearch(
      candidates: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      centroids: Array[(Int, Array[Double])]): DataFrame = {
    val c = ivfAssign(candidates, idCol, vecCol, centroids)
    val q = querySide(queries,
      col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__list",
        // probes are capped at the CENTROID count: element_at past the
        // ranked array's end is null (non-ANSI) — null probe lists
        // would silently vanish in the join (lost recall, no warning)
        // — or an INVALID_ARRAY_INDEX error under ANSI.
        explode(probeListsCol(centroids, col("__qv"), col("__qn"),
          math.min(nprobe, centroids.length))))
    rankTopK(c.join(q, Seq("__list")).filter(notSelf), k)
  }

  /** Reciprocal-rank fusion of two retrievers' ranked lists — the
    * standard score-free way to combine heterogeneous retrieval
    * signals (exact + ANN here; BM25 + dense in a hybrid search
    * stack):
    *
    *   rrf(d) = Σ_lists 1 / (kConst + rank_list(d))
    *
    * RRF needs no score calibration between lists, which is exactly
    * why it wins for fusing an inner-product ranking with a lexical
    * one. `kConst` = 60 is the published default.
    *
    * Inputs are two (query_id, neighbor_id, rnk) frames — the output
    * shape of [[bruteForceTopK]] / [[lshBucketedTopK]] (and of any
    * future lexical retriever). Items missing from one list simply
    * contribute 0 from it.
    *
    * Scale shape: one equi-join on (query, item) between two
    * already-k-bounded candidate lists, then a per-QUERY window over
    * ≤ 2k fused rows — partitioned by query, never global. No
    * all-pairs work happens here; the retrievers own that.
    *
    * Determinism: ranks are exact integers; each contribution is one
    * IEEE division and their two-term sum is order-free; the fused
    * score is floor-quantized to 6 dp BEFORE ranking (decide on the
    * quantized value — [[graft.ext.Drift.psi]] documents the trap) and
    * ties break on neighbor id.
    *
    * Output: (query_id, neighbor_id, rank_a, rank_b, rrf, fused_rank)
    * for fused_rank ≤ topK; rank_a/rank_b null when the item missed
    * that retriever's list.
    */
  def rrfFuse(
      a: DataFrame, b: DataFrame, kConst: Int = 60, topK: Int): DataFrame = {
    require(kConst >= 1, s"kConst must be >= 1: $kConst")
    require(topK >= 1, s"topK must be >= 1: $topK")
    val ra = a.select(
      col("query_id"), col("neighbor_id"), col("rnk").as("rank_a"))
    val rb = b.select(
      col("query_id"), col("neighbor_id"), col("rnk").as("rank_b"))
    def contrib(c: Column) = coalesce(
      lit(1.0) / (lit(kConst.toDouble) + c.cast("double")), lit(0.0))
    val fused = ra.join(rb, Seq("query_id", "neighbor_id"), "full_outer")
      .withColumn("rrf",
        floor((contrib(col("rank_a")) + contrib(col("rank_b"))) * lit(1e6))
          / lit(1e6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("neighbor_id").asc)
    fused
      .withColumn("fused_rank", row_number().over(w).cast("long"))
      .filter(col("fused_rank") <= topK)
      .select("query_id", "neighbor_id", "rank_a", "rank_b", "rrf",
        "fused_rank")
  }

  /** Hubness report (Radovanović et al., JMLR'10): the k-occurrence
    * histogram of a retrieval table — for each in-degree d, how many
    * corpus vectors appear as a neighbor in exactly d result lists.
    * High-dimensional embedding spaces grow "hubs" (vectors in
    * everyone's top-k) and "anti-hubs" (in no one's); a long-tailed
    * histogram is the standard diagnostic that cosine retrieval over
    * this embedding will over-serve a few documents — read it next to
    * [[recallAtK]] before trusting an ANN index.
    *
    * `topk` is ANY (query_id, neighbor_id) retrieval table (the
    * [[bruteForceTopK]] / [[lshBucketedTopK]] / [[ivfTopK]] output
    * shape); `ids` is the id universe so zero-degree anti-hubs are
    * counted too. Two bounded aggregates: per-neighbor degree (keyed
    * on the id) then per-degree count (keyed on ≤ max-degree values);
    * the left anti-hub join is id-keyed. Nothing scans pairs twice.
    */
  def hubnessReport(
      topk: DataFrame, ids: DataFrame, idCol: String): DataFrame = {
    val deg = topk.groupBy(col("neighbor_id"))
      .agg(count(lit(1)).as("__d"))
    ids.select(col(idCol).as("neighbor_id"))
      .join(deg, Seq("neighbor_id"), "left")
      .select(coalesce(col("__d"), lit(0L)).as("in_degree"))
      .groupBy(col("in_degree"))
      .agg(count(lit(1)).as("n_vecs"))
  }
}
