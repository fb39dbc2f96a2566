package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Record linkage (entity resolution) between two snapshots of the
  * same logical entities — "which rows of the vendor feed are the
  * same customer as ours, despite typos and drifted balances?".
  * Extends the reference's exact-key upsert world (K2) to the fuzzy
  * world every real master-data pipeline lives in.
  *
  * Design is the standard blocking architecture: candidate pairs come
  * ONLY from an equi-join on the blocking key (never a cross
  * product), then a weighted similarity score — computed as one
  * codegen'd projection over the joined stream — gates the emitted
  * links. Blocking is the scale lever: pairs per block are
  * (|L_b|·|R_b|), so pick keys that cut the corpus into many small
  * blocks; a row whose true match lands in another block is lost
  * (recall trade, documented — run multiple passes with different
  * blocking keys and union when that matters).
  */
object Linkage {

  /** 1 − levenshtein/maxlen similarity in [0, 1] (1 = equal), via the
    * banded DP: `maxDist` caps the edit distance actually computed —
    * strings further apart than the cap score 0, and the per-pair
    * cost is O(len·maxDist), not O(len²).
    */
  def nameSimilarity(a: Column, b: Column, maxDist: Int): Column = {
    val lev = levenshtein(a, b, maxDist)
    val maxLen = greatest(length(a), length(b))
    when(maxLen === 0, lit(1.0))
      .when(lev < 0, lit(0.0))
      .otherwise(lit(1.0) - lev.cast("double") / maxLen.cast("double"))
  }

  /** Blocked scored link. Emits (left row id, right row id, score)
    * for every same-block pair whose
    *   score = round(Σ_i weight_i · sim_i, 6) ≥ threshold,
    * where each `sims` entry gives (output weight, similarity Column
    * in [0,1] over the joined pair). Column names on the two sides
    * must be disjoint for the sim expressions to reference both
    * (alias upstream).
    */
  /** Blocked, scored record linkage. `bandBlock = (leftNum, rightNum,
    * width)` adds a NUMERIC BAND to the blocking key: the left side
    * explodes to bands ⌊v/width⌋ − 1 / ± 0 / + 1 and the right side
    * keys its own band, so every pair with |l − r| < width meets in
    * exactly one band (the right band is unique per row) and block
    * sizes stay scale-stable even when the categorical keys have
    * CONSTANT cardinality — the 30× scale run measured the plain
    * (nation, segment) blocking going quadratic (39.9× wall-time at
    * 30× data) precisely because 125 blocks each grew linearly.
    *
    * Result-preservation contract (caller's obligation): banding is
    * EXACT only when every pair scoring ≥ threshold must satisfy
    * |leftNum − rightNum| < width — e.g. when the numeric similarity
    * term is required to reach the threshold and it zeroes outside
    * that window.
    */
  def scoredLink(
      left: DataFrame, right: DataFrame, blockCols: Seq[(String, String)],
      leftId: String, rightId: String,
      sims: Seq[(Double, Column)], threshold: Double,
      bandBlock: Option[(String, String, Double)] = None): DataFrame = {
    require(blockCols.nonEmpty, "linkage needs at least one blocking key")
    require(sims.nonEmpty, "linkage needs at least one similarity")
    val (l2, r2, extraCond) = bandBlock match {
      case Some((lc, rc, w)) =>
        require(w > 0, s"band width must be positive: $w")
        val bands = array((-1 to 1).map(d =>
          (floor(col(lc) / lit(w)) + lit(d)).cast("long")): _*)
        (left.withColumn("__lband", explode(bands)),
          right.withColumn("__rband",
            floor(col(rc) / lit(w)).cast("long")),
          Some(col("__lband") === col("__rband")))
      case None => (left, right, None)
    }
    val cond = (blockCols.map { case (l, r) => l2(l) === r2(r) } ++
      extraCond).reduce(_ && _)
    val score = round(
      sims.map { case (w, sim) => lit(w) * sim }.reduce(_ + _), 6)
    l2.join(r2, cond)
      .withColumn("score", score)
      .filter(col("score") >= threshold)
      .select(col(leftId), col(rightId), col("score"))
  }

  /** GOLDEN RECORDS — the step after [[scoredLink]]: collapse the
    * accepted match pairs into entity clusters (connected components,
    * [[graft.ext.Dedup.clusterPairs]] — min-id representative) and
    * materialize ONE row per entity by FIELD-LEVEL survivorship: each
    * field independently takes the value of the best NON-NULL member,
    * best = highest `priorityCol` (source trust rank), ties by lowest
    * member id. That is the MDM contract: a trusted source's stale
    * null must not erase a lesser source's real value.
    *
    * Mechanics: one struct-max per field inside a single entity-keyed
    * aggregate — `max(struct(present ? priority : −1, −id, value))`
    * picks the survivor without a window or a per-field join; a field
    * null in EVERY member survives as null (the −1 rank wins only
    * alone). One CC pass + one aggregate; per-entity state is one
    * struct per field.
    *
    * Output: (entity_id, n_members, fields…).
    */
  def goldenRecords(
      records: DataFrame, idCol: String, priorityCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      fields: Seq[String]): DataFrame = {
    require(fields.nonEmpty, "at least one survivorship field")
    val comp = graft.ext.Dedup.clusterPairs(pairs, aCol, bCol)
      .withColumnRenamed("id", "__cid")
    val keyed = records
      .join(comp, records(idCol).cast("long") === col("__cid"), "left")
      .withColumn("entity_id",
        coalesce(col("cluster_rep"), col(idCol).cast("long")))
    val aggs = fields.map { f =>
      max(struct(
        when(col(f).isNotNull, col(priorityCol).cast("long"))
          .otherwise(lit(-1L)).as("p"),
        (-col(idCol).cast("long")).as("nid"),
        col(f).as("v"))).getField("v").as(f)
    } :+ count(lit(1)).as("n_members")
    // EAGER: clusterPairs' labels cache has no caller-visible handle —
    // materialize the golden records and release it here.
    graft.ext.Dedup.withCleanup(
      keyed.groupBy(col("entity_id")).agg(aggs.head, aggs.tail: _*)
        .select(
          col("entity_id") +: col("n_members") +: fields.map(col): _*),
      Seq(comp))
  }
}
