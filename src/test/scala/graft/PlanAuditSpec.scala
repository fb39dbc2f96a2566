package graft

import org.apache.spark.sql.functions._

/** Plan invariants over the WHOLE inventory, built on [[PlanAudit]]'s
  * walker and allowlist (the CLI main and this spec share them, so they
  * cannot drift). Each query is built once at sf0.001 and audited in
  * both join shapes.
  *
  * A finding outside [[PlanAudit.allowlist]], or at a count other than
  * the pinned one, fails this spec until it is re-expressed
  * (plans.Prefix / plans.Ordinal / pre-aggregation / pruning) or proven
  * bounded and allowlisted with the reason stated; an entry that no
  * longer flags fails it too. Counts are pinned, not just keys, so an
  * allowlisted query is no blanket exemption: a new shape added inside
  * it shows as a count change — re-verify its bound before updating.
  */
class PlanAuditSpec extends SparkSpec {

  private lazy val inventory: Seq[(String, Map[String, PlanAudit.Census])] = {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.keys.toSeq.sorted.map { k =>
      k -> PlanAudit.shapeCensus(SparkEntry.queries(k)(spark, dir))
    }
  }

  /** Every query's finding count (> 0) in `column`, per shape, against
    * what the allowlist permits there.
    */
  private def checkFindings(column: String): Unit =
    PlanAudit.shapes.foreach { shape =>
      val found = inventory.flatMap { case (k, m) =>
        val n = m(shape)(column)
        if (n > 0) Some(k -> n) else None
      }.toMap
      val allowed = PlanAudit.permitted(shape)(column)
      val unexpected = found.filter { case (k, n) => !allowed.get(k).contains(n) }
      val stale = allowed.filter { case (k, n) => !found.get(k).contains(n) }
      assert(unexpected.isEmpty && stale.isEmpty,
        s"$shape shape, $column: found $unexpected outside the allowlist " +
          s"(or at another count); allowlisted $stale no longer found as " +
          "pinned — re-express the plan, or state the reason and update " +
          "PlanAudit.allowlist")
    }

  test("no inventory query plans a single-partition window or exchange " +
    "outside the global-agg merge and the documented bounded allowlist") {
    // Canary: the detector must see a deliberate unpartitioned window,
    // or a Spark plan-shape change silently turns this audit vacuous.
    {
      import org.apache.spark.sql.expressions.Window
      val bad = spark.range(10).toDF("v")
        .withColumn("r", row_number().over(Window.orderBy(col("v"))))
      assert(PlanAudit.census(bad)("single_part") >= 1,
        "detector canary failed")
    }
    checkFindings("single_part")
  }

  test("the census walks the prepared plan: a keyed aggregate with " +
    "broadcast disabled shows its shuffle exchange") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val keyed = spark.range(100).groupBy((col("id") % 7).as("k")).count()
      val c = PlanAudit.census(keyed)
      assert(c("sx") >= 1, s"census missed the exchange: ${c.line}")
    } finally spark.conf.set(key, prev)
  }

  test("a centroid kernel inside a Filter counts as misplaced") {
    val centroids = Array(Array(0.0, 0.0), Array(9.0, 0.0))
    val bad = spark.range(10)
      .select(array(col("id").cast("double"), lit(0.0)).as("v"))
      .filter(graft.functions.VectorExprs.nearestCentroidQ(
        col("v"), centroids) === 1)
    val c = PlanAudit.census(bad)
    assert(c("kernels_misplaced") >= 1, s"kernel placement missed: ${c.line}")
  }

  test("in both join shapes: no ScalaUDF, no misplaced kernel, and " +
    "Cartesian products and full-width scans only as allowlisted") {
    Seq("scalaudf", "kernels_misplaced", "cartesian", "scans_unpruned")
      .foreach(checkFindings)
  }
}
