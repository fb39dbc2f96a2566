package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{
  BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Plan audit — THE one walker, census and allowlist over the static
  * physical plans of the query inventory, shared by PlanAuditSpec
  * (which asserts every invariant below) and the CLI main, so they
  * cannot drift.
  *
  * Each query is audited in two join shapes from ONE build: its
  * default plan, and the same logical plan re-planned with broadcast
  * joins off — the at-scale shape, since every local table fits under
  * the broadcast threshold. In both shapes:
  *
  *   - no `ScalaUDF`: every kernel is a native Catalyst expression;
  *   - no centroid kernel inside a Filter (`kernels_misplaced`): the
  *     planner would evaluate it there and again in the Project above.
  *     A Bloom probe in a Filter is the design and does not count;
  *   - no Cartesian product in the default shape;
  *   - single-partition shapes, Cartesian products and full-width
  *     scans only where [[allowlist]] states why, at the pinned count.
  *
  * A single-partition shape is a window (or window-group-limit) with
  * an empty partition spec, or a shuffle into ONE partition: every row
  * goes through one task — invisible at local scale, fatal at 100 TB.
  * The global-aggregate merge is exempt: a 1-partition exchange whose
  * child aggregates with ZERO grouping keys moves at most one row per
  * upstream partition (a KEYED partial below it would move
  * #distinct-keys rows and is not exempt).
  */
object PlanAudit {

  /** Census columns, in print order. */
  val columns: Seq[String] = Seq("sx", "bx", "smj", "bhj", "shj", "bnlj",
    "cartesian", "scalaudf", "kernels", "kernels_misplaced", "single_part",
    "scans", "scans_unpruned", "scans_pushed")

  /** The audited join shapes, in print order. */
  val shapes: Seq[String] = Seq("default", "no_broadcast")

  /** One (column, detail) hit per counted node or expression; counts,
    * sums and printed lines all derive from [[columns]].
    */
  case class Census(hits: Seq[(String, String)]) {
    def apply(column: String): Int = hits.count(_._1 == column)
    def line: String = columns.map(apply).mkString(" ")
  }

  private val centroidKernels = Set("NearestCentroidQ")
  private val kernels = centroidKernels + "BloomFilterMightContain"

  private val sharedStrata = "ranks one row per source after a full " +
    "aggregate (bounded strata: single digits here, thousands in any " +
    "real corpus mix); partitioning |strata| rows would shuffle for nothing"
  private val rowPreservingSample =
    "hash-gated sample/assignment returns whole document rows"

  /** finding column → query → (count per plan, the same at sf0.001 and
    * sf0.01; why the finding is bounded or every column is needed).
    * Columns with no entries hold for every query. Cartesian entries
    * apply to the no-broadcast shape only (see [[permitted]]): each
    * crosses a side that is bounded by construction and broadcasts by
    * stats by default.
    */
  val allowlist: Map[String, Map[String, (Int, String)]] = Map(
    "scalaudf" -> Map.empty,
    "kernels_misplaced" -> Map.empty,
    "single_part" -> Map(
      "q_mix_plan" -> (2, "largestRemainderAllocate's Hamilton rank " +
        "window and its feeding exchange " + sharedStrata),
      "q_mix_temp_general" -> (2, "temperatureAllocate → " +
        "largestRemainderAllocate " + sharedStrata),
      "q_mix_capped" -> (16, "cappedAllocate water-filling: one " +
        "Hamilton rank per cap iteration, each " + sharedStrata)),
    "cartesian" -> Map(
      "q_ab_ztest" -> (1, "limit-1 arm summary × limit-1 arm summary"),
      "q_welch_ttest" -> (1, "limit-1 arm summary × limit-1 arm summary"),
      "q_chi_square" -> (3, "the two marginals over small categorical " +
        "domains (event type × day of week), and the 1-row grand total " +
        "× two 1-row level counts"),
      "q_join_plan" -> (1, "1-row stats of one side × 1-row stats of " +
        "the other"),
      "q_lsh_curve" -> (1, "the 3-row (bands, rows) config table × " +
        "range(1, 20)"),
      "q_source_kl" -> (2, "one total row per source × the vocabulary, " +
        "on each side of the source-pair join: |sources|·|vocab| by " +
        "design, never corpus rows")),
    "scans_unpruned" -> Map(
      "q_validate_filter" -> (1, "row filter returns whole event rows"),
      "q_route_valid_groups" -> (1, "returns whole rows of all-valid " +
        "groups"),
      "q_upsert_latest" -> (1, "returns the latest whole row per key"),
      "q_profile_columns" -> (1, "profiles every column"),
      "q_merge_upsert" -> (2, "target and change set are whole order " +
        "rows merged by key"),
      "q_snapshot_diff" -> (2, "update detection compares every " +
        "non-key column of both snapshots"),
      "q_record_link" -> (2, "both sides use every customer column: key, " +
        "blocking on nation/segment/balance band, score on name and balance"),
      "q_hard_negatives" -> (2, "id, vector and label are all needed: " +
        "similarity over vectors, negatives by label"),
      "q_dedup_incremental" -> (1, "new-batch documents survive the " +
        "history anti-join as whole rows"),
      "q_dedup_bloom" -> (2, "new-batch documents survive the Bloom " +
        "probe and history anti-join as whole rows"),
      "q_sample_stratified" -> (1, rowPreservingSample),
      "q_split_assign" -> (1, rowPreservingSample),
      "q_mix_temperature" -> (1, rowPreservingSample)))

  /** What [[allowlist]] permits in `shape`: column → query → count. */
  def permitted(shape: String): Map[String, Map[String, Int]] =
    allowlist.map { case (column, entries) =>
      column -> (if (shape == "default" && column == "cartesian") Map.empty
        else entries.map { case (q, (n, _)) => q -> n })
    }

  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case c: WholeStageCodegenExec => unwrap(c.child)
    case c: InputAdapter => unwrap(c.child)
    case other => other
  }

  private def isGlobalAggMerge(e: ShuffleExchangeExec): Boolean =
    unwrap(e.child) match {
      case a: BaseAggregateExec => a.groupingExpressions.isEmpty
      case _ => false
    }

  private def hits(p: SparkPlan): Seq[(String, String)] = {
    def node(columns: String*) = columns.map(_ -> p.nodeName)
    val exprNames =
      p.expressions.flatMap(_.collect { case e => e.getClass.getSimpleName })
    val exprHits = exprNames.collect {
      case "ScalaUDF" => "scalaudf" -> p.nodeName
      case k if kernels(k) => "kernels" -> k
    } ++ (if (p.isInstanceOf[FilterExec])
      exprNames.filter(centroidKernels).map("kernels_misplaced" -> _)
    else Nil)
    exprHits ++ (p match {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.numPartitions == 1 && !isGlobalAggMerge(e) =>
        node("sx", "single_part")
      case _: ShuffleExchangeExec => node("sx")
      case _: BroadcastExchangeExec => node("bx")
      case _: SortMergeJoinExec => node("smj")
      case _: BroadcastHashJoinExec => node("bhj")
      case _: ShuffledHashJoinExec => node("shj")
      case _: BroadcastNestedLoopJoinExec => node("bnlj")
      case _: CartesianProductExec => node("cartesian")
      case w: WindowExec if w.partitionSpec.isEmpty => node("single_part")
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
        node("single_part")
      case s: FileSourceScanExec =>
        val (read, width) = (s.requiredSchema.size, s.relation.dataSchema.size)
        val table = s.relation.location.rootPaths.headOption
          .map(_.getName).getOrElse("?")
        val pushed = s.metadata.get("PushedFilters")
          .exists(v => v.nonEmpty && v != "[]")
        Seq("scans" -> table) ++
          (if (read >= width && width > 1)
            Seq("scans_unpruned" -> s"$table read=$read/$width pushed=$pushed")
          else Nil) ++
          (if (pushed) Seq("scans_pushed" -> table) else Nil)
      case _ => Nil
    })
  }

  /** Census of the fully-prepared static plan (exchanges inserted, AQE
    * wrapper stripped to its initial plan), subquery plans included —
    * the BNLJ scalar-subquery shapes live there.
    */
  private def census(qe: QueryExecution): Census = {
    val plan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    Census(plan.collectWithSubqueries { case p => p }.flatMap(hits))
  }

  /** Census of `df`'s plan under the session's current settings. */
  def census(df: DataFrame): Census = census(df.queryExecution)

  /** Census of `df` in each of [[shapes]]. The no-broadcast shape
    * re-plans the already-built logical plan instead of rebuilding the
    * query, so eager construction jobs run once.
    */
  def shapeCensus(df: DataFrame): Map[String, Census] = {
    val default = census(df)
    val spark = df.sparkSession
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try Map("default" -> default, "no_broadcast" ->
      census(spark.sessionState.executePlan(df.queryExecution.logical)))
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Usage:
    *   runMain graft.PlanAudit <sfDir> sweep         census of every query
    *                                                 in both shapes, findings
    *                                                 labelled by the allowlist
    *   runMain graft.PlanAudit <sfDir> all           formatted plans, all queries
    *   runMain graft.PlanAudit <sfDir> <queryKey...> formatted plans
    *
    * Env knobs, formatted plans only:
    *   GRAFT_EXPLAIN_RUN=1           execute first, print the FINAL adaptive
    *                                 plan (ReusedExchange, AQE decisions)
    *   GRAFT_EXPLAIN_NO_BROADCAST=1  plan with broadcast joins off
    */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: PlanAudit <sfDir> sweep|all|<queryKey...>")
    val dir = args(0)
    val sweep = args(1) == "sweep"
    val keys =
      if (args(1) == "all" || sweep) SparkEntry.queries.keys.toSeq.sorted
      else args.drop(1).toSeq
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.prepare(spark)
    if (sweep) {
      val built = keys.map(k => k -> shapeCensus(SparkEntry.queries(k)(spark, dir)))
      shapes.foreach { shape =>
        val byQuery = built.map { case (k, m) => k -> m(shape) }
        println(s"\n== shape: $shape ==\nquery ${columns.mkString(" ")}")
        byQuery.foreach { case (k, c) => println(s"$k ${c.line}") }
        val total = Census(byQuery.flatMap(_._2.hits))
        println("TOTALS " + columns.map(c => s"$c=${total(c)}").mkString(" "))
        val allowed = permitted(shape)
        println("FINDINGS (query column count [allowlist] nodes):")
        for ((k, c) <- byQuery; column <- allowed.keys.toSeq.sorted
             if c(column) > 0) {
          val tag = if (allowed(column).get(k).contains(c(column)))
            "allowlisted" else "NOT ALLOWLISTED"
          val nodes = c.hits.collect { case (`column`, d) => d }.distinct
          println(s"  $k $column ${c(column)} [$tag] ${nodes.mkString(", ")}")
        }
      }
    } else {
      if (sys.env.get("GRAFT_EXPLAIN_NO_BROADCAST").contains("1"))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // GRAFT_EXPLAIN_RUN=1 shows AQE decisions — ReusedExchange, join
      // strategy changes, coalesced partitions — instead of the static plan.
      val runFirst = sys.env.get("GRAFT_EXPLAIN_RUN").contains("1")
      keys.foreach { k =>
        val fn = SparkEntry.queries.getOrElse(k,
          sys.error(s"unknown query key: $k"))
        println(s"\n========== $k ==========")
        val df = fn(spark, dir)
        if (runFirst) {
          df.collect()
          println(df.queryExecution.executedPlan.toString)
        } else df.explain("formatted")
      }
    }
    spark.stop()
  }
}
