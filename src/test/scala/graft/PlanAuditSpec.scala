package graft

/** Single-partition-shape tripwire over the WHOLE inventory, built on
  * [[PlanAudit]]'s collector and allowlist (the CLI main and this spec
  * share them, so they cannot drift — this spec supersedes the older
  * window-only WindowPartitionAuditSpec by also covering 1-partition
  * shuffle exchanges and window-group-limits, including inside
  * subquery plans).
  *
  * Adding a single-partition shape anywhere outside the allowlist
  * fails this spec until it is re-expressed (plans.Prefix /
  * plans.Ordinal / pre-aggregation) or proven bounded and allowlisted
  * in [[PlanAudit.boundedAllowlist]] with the bound stated.
  */
class PlanAuditSpec extends SparkSpec {

  test("no inventory query plans a single-partition window or exchange " +
    "outside the global-agg merge and the documented bounded allowlist") {
    // Canary: the detector must see a deliberate unpartitioned window,
    // or a Spark plan-shape change silently turns this audit vacuous.
    {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val bad = spark.range(10).toDF("v")
        .withColumn("r", row_number().over(Window.orderBy(col("v"))))
      assert(PlanAudit.singlePartitionShapes(PlanAudit.preparedPlan(bad))
        .nonEmpty, "detector canary failed")
    }
    val dir = "/root/testdata/sf0.001"
    val shapeCounts: Map[String, Int] =
      SparkEntry.queries.keys.toSeq.sorted.flatMap { k =>
        val plan = PlanAudit.preparedPlan(SparkEntry.queries(k)(spark, dir))
        val n = PlanAudit.singlePartitionShapes(plan).size
        if (n > 0) Some(k -> n) else None
      }.toMap
    val flagged = shapeCounts.keys.toSeq
    val unexpected = flagged.filterNot(PlanAudit.boundedAllowlist.contains)
    assert(unexpected.isEmpty,
      s"single-partition plans outside the allowlist: $unexpected — " +
        "re-express via plans.Prefix/Ordinal or prove the input " +
        "bounded and allowlist it with the bound stated")
    // the allowlist must not go stale either: every entry still flags
    val stale = PlanAudit.boundedAllowlist.keySet -- flagged.toSet
    assert(stale.isEmpty,
      s"allowlisted queries no longer plan a single-partition shape: " +
        s"$stale — drop them from the allowlist")
    // ...and it must not become a BLANKET exemption: the allowlist is
    // per-QUERY, so a new, genuinely-unbounded shape added inside an
    // allowlisted query would otherwise ride the exemption unseen.
    // Pin the exact shape census of each allowlisted plan (sf0.001 is
    // deterministic); any change here means a shape was added or
    // removed — re-verify its bound before updating the census.
    assert(shapeCounts === Map(
      "q_mix_plan" -> 2, // Hamilton rank window + its feeding exchange
      "q_mix_temp_general" -> 2, // same shape via temperatureAllocate
      "q_mix_capped" -> 16), // water-filling: 4 rank rounds × (window,
                             // window-group-limit, exchange) + ranks
      s"allowlisted single-partition shape census changed: $shapeCounts")
  }

  test("the census walks the prepared plan: a keyed aggregate with " +
    "broadcast disabled shows its shuffle exchange") {
    import org.apache.spark.sql.functions._
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val keyed = spark.range(100).groupBy((col("id") % 7).as("k")).count()
      val c = Explain.census(keyed)
      assert(c.shuffleEx >= 1, s"census missed the exchange: ${c.line}")
    } finally spark.conf.set(key, prev)
  }
}
