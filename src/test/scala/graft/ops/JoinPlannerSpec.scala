package graft.ops

import graft.SparkSpec

class JoinPlannerSpec extends SparkSpec {
  import spark.implicits._

  private lazy val smallBuild = (0L until 50L).map(i => (i, s"dim$i"))
    .toDF("k", "name")
  private lazy val evenProbe = (0L until 2000L).map(i => (i % 100, i))
    .toDF("k", "payload")
  // one hot key holding half the rows
  private lazy val skewProbe = ((0L until 1000L).map(_ => (7L, 1L)) ++
    (0L until 1000L).map(i => (i % 100 + 1000L, 2L)))
    .zipWithIndex.map { case ((k, g), i) => (k, g, i.toLong) }
    .toDF("k", "grp", "row_id")

  test("plan: each branch fires on the data shaped for it") {
    val big = (0L until 2000L).map(i => (i, i)).toDF("k", "x")
    def plan(probe: org.apache.spark.sql.DataFrame,
        build: org.apache.spark.sql.DataFrame) =
      JoinPlanner.planReport(probe, build, Seq("k"),
        broadcastMaxRows = 100L, skewRatio = 16L).head()
    assert(plan(evenProbe, smallBuild).getAs[String]("strategy") === "broadcast")
    assert(plan(evenProbe, big).getAs[String]("strategy") === "shuffle")
    val p = plan(skewProbe, big)
    // max=1000 over 101 keys on 2000 rows: 1000*101 >= 16*2000
    assert(p.getAs[String]("strategy") === "salted")
    assert(p.getAs[Long]("probe_max_key_rows") === 1000L &&
      p.getAs[Long]("probe_rows") === 2000L)
  }
}
