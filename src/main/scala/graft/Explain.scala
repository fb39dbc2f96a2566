package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan

/** Plan-audit helper: print the formatted physical plan of one or more
  * inventory queries, or a machine-checked one-line-per-query sweep of
  * the whole inventory. Usage:
  *   runMain graft.Explain <sfDir> <queryKey> [queryKey ...]
  *   runMain graft.Explain <sfDir> all     — formatted plans, all queries
  *   runMain graft.Explain <sfDir> sweep   — operator/scan-pruning census
  *
  * Env knobs:
  *   GRAFT_EXPLAIN_RUN=1           execute first, print the FINAL adaptive
  *                                 plan (ReusedExchange, AQE decisions)
  *   GRAFT_EXPLAIN_NO_BROADCAST=1  autoBroadcastJoinThreshold=-1, forcing
  *                                 the at-scale SMJ shape for plan audits
  */
object Explain {

  /** Expensive per-row kernels whose duplicate evaluation (especially
    * inside a Filter) is the guide-§4.4 signature the sweep hunts.
    */
  private val kernelNames = Set(
    "NearestCentroidQ", "TopCentroidsBySim", "TopCentroidsTwoLevel",
    "BloomFilterMightContain")

  /** Per-query census over the physical operator TREE (subqueries
    * included) — exact node counts, unlike the r18 text scan which
    * counted each operator twice (tree line + detail header): compare
    * r18 numbers at half value.
    */
  private[graft] case class Census(
      shuffleEx: Int, bcastEx: Int, smj: Int, bhj: Int, shj: Int,
      bnlj: Int, cartesian: Int, scalaUdf: Int, kernels: Int,
      kernelsInFilter: Int, scans: Int, scansUnpruned: Int,
      scansPushed: Int, unprunedDetail: Seq[String]) {
    def +(o: Census): Census = Census(
      shuffleEx + o.shuffleEx, bcastEx + o.bcastEx, smj + o.smj,
      bhj + o.bhj, shj + o.shj, bnlj + o.bnlj, cartesian + o.cartesian,
      scalaUdf + o.scalaUdf, kernels + o.kernels,
      kernelsInFilter + o.kernelsInFilter, scans + o.scans,
      scansUnpruned + o.scansUnpruned, scansPushed + o.scansPushed,
      unprunedDetail ++ o.unprunedDetail)
    def line: String =
      s"$shuffleEx $bcastEx $smj $bhj $shj $bnlj $cartesian " +
        s"$scalaUdf $kernels $kernelsInFilter $scans $scansUnpruned $scansPushed"
  }
  private val zero =
    Census(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, Nil)

  /** Census of the same static tree [[PlanAudit]] walks: the prepared
    * plan, exchanges inserted.
    */
  private[graft] def census(df: DataFrame): Census = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.exchange.{
      BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins._
    val plan = PlanAudit.preparedPlan(df)
    // collectWithSubqueries descends into scalar/IN-subquery plans —
    // the BNLJ scalar-subquery shapes live there.
    val nodes: Seq[SparkPlan] = plan.collectWithSubqueries { case p => p }
    def exprCount(p: SparkPlan, pred: String => Boolean): Int =
      p.expressions.map(_.collect {
        case e if pred(e.getClass.getSimpleName) => e
      }.size).sum
    nodes.map { p =>
      val kernels = exprCount(p, kernelNames.contains)
      val udfs = exprCount(p, _ == "ScalaUDF")
      val base = zero.copy(
        scalaUdf = udfs, kernels = kernels,
        kernelsInFilter = p match {
          case _: FilterExec => kernels
          case _ => 0
        })
      p match {
        case _: ShuffleExchangeExec => base.copy(shuffleEx = 1)
        case _: BroadcastExchangeExec => base.copy(bcastEx = 1)
        case _: SortMergeJoinExec => base.copy(smj = 1)
        case _: BroadcastHashJoinExec => base.copy(bhj = 1)
        case _: ShuffledHashJoinExec => base.copy(shj = 1)
        case _: BroadcastNestedLoopJoinExec => base.copy(bnlj = 1)
        case _: CartesianProductExec => base.copy(cartesian = 1)
        case s: FileSourceScanExec =>
          val read = s.requiredSchema.size
          val total = s.relation.dataSchema.size
          val table = s.relation.location.rootPaths.headOption
            .map(_.getName).getOrElse("?")
          val pushed = s.metadata.get("PushedFilters")
            .exists(v => v.nonEmpty && v != "[]")
          base.copy(
            scans = 1,
            scansUnpruned = if (read >= total && total > 1) 1 else 0,
            scansPushed = if (pushed) 1 else 0,
            unprunedDetail =
              if (read >= total && total > 1)
                Seq(s"$table read=$read/$total pushed=$pushed")
              else Nil)
        case _ => base
      }
    }.foldLeft(zero)(_ + _)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Explain <sfDir> <queryKey...>|all|sweep")
    val dir = args(0)
    val sweep = args(1) == "sweep"
    val keys =
      if (args(1) == "all" || sweep) SparkEntry.queries.keys.toSeq.sorted
      else args.drop(1).toSeq
    val builder = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
    // Force the at-scale join shape (both sides exchanged, SMJ) so a
    // plan audit can see what 100-TB execution would: sf-sized tables
    // all fit under the default broadcast threshold locally.
    if (sys.env.get("GRAFT_EXPLAIN_NO_BROADCAST").contains("1"))
      builder.config("spark.sql.autoBroadcastJoinThreshold", "-1")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.prepare(spark)
    // GRAFT_EXPLAIN_RUN=1: execute the query first and print the FINAL
    // adaptive plan (shows AQE decisions — ReusedExchange, join
    // strategy changes, coalesced partitions) instead of the static one.
    val runFirst = sys.env.get("GRAFT_EXPLAIN_RUN").contains("1")
    if (sweep) {
      println("query sx bx smj bhj shj bnlj cartesian scalaudf " +
        "kernels kernels_in_filter scans scans_unpruned scans_pushed")
      var total = zero
      val unpruned = scala.collection.mutable.ListBuffer.empty[String]
      keys.foreach { k =>
        val c = census(SparkEntry.queries(k)(spark, dir))
        println(s"$k ${c.line}")
        c.unprunedDetail.foreach(d => unpruned += s"$k $d")
        total = total + c
      }
      println(s"\nTOTALS sx=${total.shuffleEx} bx=${total.bcastEx} " +
        s"smj=${total.smj} bhj=${total.bhj} shj=${total.shj} " +
        s"bnlj=${total.bnlj} cartesian=${total.cartesian} " +
        s"scalaudf=${total.scalaUdf} kernels=${total.kernels} " +
        s"kernels_in_filter=${total.kernelsInFilter} " +
        s"scans=${total.scans} scans_unpruned=${total.scansUnpruned} " +
        s"scans_pushed=${total.scansPushed}")
      if (unpruned.nonEmpty) {
        println("\nFULL-WIDTH SCANS (ReadSchema = table width; audit " +
          "each: legitimate all-column read vs pruning failure):")
        unpruned.foreach(d => println(s"  $d"))
      }
    } else keys.foreach { k =>
      val fn = SparkEntry.queries.getOrElse(k,
        sys.error(s"unknown query key: $k"))
      println(s"\n========== $k ==========")
      val df = fn(spark, dir)
      if (runFirst) {
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      } else df.explain("formatted")
    }
    spark.stop()
  }
}
