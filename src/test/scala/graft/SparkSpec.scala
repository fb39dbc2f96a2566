package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One SparkSession for the whole forked test JVM. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    Tables.prepare(s)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** Runs `body` as planned (whole-stage codegen), then again with no
    * generated code at all, where kernels are found by reflection.
    */
  def inBothModes(body: => Unit): Unit = {
    withClue("codegen: ")(body)
    val interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    interpreted.foreach { case (k, v) => spark.conf.set(k, v) }
    try withClue("interpreted: ")(body)
    finally interpreted.foreach { case (k, _) => spark.conf.unset(k) }
  }
}
