package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class GraftFunctionsSpec extends SparkSpec {
  import spark.implicits._

  // Tables.prepare (run by the shared test session) installs the SQL
  // surface; re-registration is idempotent.
  GraftFunctions.registerAll(spark)

  test("SQL surface matches the Column API kernels") {
    inBothModes {
      // repartition: the optimizer evaluates a projection straight over
      // a local relation itself, which would bypass generated code
      val df = Seq(("the quick brown fox jumps", Array("a", "b", "c"),
        Array("b", "c", "d"), "cafÃ©", 2.0, 3L))
        .toDF("text", "xs", "ys", "moji", "x", "n").repartition(1)
      df.createOrReplaceTempView("t")

      val row = spark.sql(
        """SELECT
          |  intersect_size(xs, ys) AS isz,
          |  graft_md5_prefix60(text) AS h,
          |  graft_shingles(text, 3) AS sh,
          |  graft_bigrams(text) AS bg,
          |  graft_token_chunks(text, 3, 1) AS ch,
          |  graft_char_entropy('aabb') AS ent,
          |  graft_zorder2(3, 5, 4) AS z,
          |  graft_nfc('é') AS nfc,
          |  graft_strip_accents('café') AS acc,
          |  graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
          |            array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS dot
          |FROM t""".stripMargin).head()

      assert(row.getAs[Long]("isz") === 2L)
      // same value as the Column API
      val viaColumn = df.select(HashExprs.md5Prefix60($"text")).head().getLong(0)
      assert(row.getAs[Long]("h") === viaColumn)
      assert(row.getSeq[String](row.fieldIndex("sh"))
        .contains("quick brown fox"))
      val bg0 = row.getSeq[org.apache.spark.sql.Row](row.fieldIndex("bg")).head
      assert((bg0.getAs[String]("w1"), bg0.getAs[String]("w2")) ===
        (("the", "quick")))
      assert(row.getSeq[String](row.fieldIndex("ch")).nonEmpty)
      assert(math.abs(row.getAs[Double]("ent") - 1.0) < 1e-12)
      // interleave(3=011, 5=101) -> y1x1 y0x0 ... = 100111 = 39
      assert(row.getAs[Long]("z") === 39L)
      assert(row.getAs[String]("nfc") === "é")
      assert(row.getAs[String]("acc") === "cafe")
      assert(row.getAs[Double]("dot") === 11.0)

      // kernels only the Column API reaches
      val more = df.select(
        TextExprs.wordShinglesAll($"text", 2),
        NormalizeExprs.fixMojibake($"moji"),
        ArrayExprs.sortedIntersectSize($"xs", $"ys"),
        DetMath.lnq($"x"),
        DetMath.expq($"x"),
        DetMath.psiTerm($"n", $"n" - 3L, $"n" + 7L, $"n" + 17L, lit(1000L)))
        .head()
      assert(more.getSeq[String](0) ===
        Seq("the quick", "quick brown", "brown fox", "fox jumps"))
      assert(more.getString(1) === "café")
      assert(more.getInt(2) === 2)
      assert(more.getDouble(3) === DetMath.lnqDouble(2.0))
      assert(more.getDouble(4) === DetMath.expqDouble(2.0))
      assert(more.getLong(5) === DetMath.psiTermMicro12(3L, 0L, 10L, 20L, 1000L))
    }
  }

  test("static-config arguments demand INT literals") {
    spark.range(1).selectExpr("CAST(id AS STRING) AS s")
      .createOrReplaceTempView("lit_t")
    val e = intercept[Exception] {
      spark.sql("SELECT graft_shingles(s, CAST(id AS INT)) FROM range(3) " +
        "JOIN lit_t").collect()
    }
    assert(e.getMessage.contains("INT literal"))
    Seq(
      "graft_shingles(s, 0)" -> "shingle size must be >= 1",
      "graft_shingles_all(s, 0)" -> "shingle size must be >= 1",
      "graft_token_chunks(s, 0, 0)" -> "chunk size must be >= 1",
      "graft_token_chunks(s, 3, 3)" -> "overlap must be in [0, size)",
      "graft_zorder2(1, 2, 0)" -> "bits must be in [1,32]",
      "graft_zorder2(1, 2, 33)" -> "bits must be in [1,32]"
    ).foreach { case (call, message) =>
      val e = intercept[Exception](spark.sql(s"SELECT $call FROM lit_t").collect())
      assert(e.getMessage.contains(message), call)
    }
    val e2 = intercept[IllegalArgumentException](TextExprs.tokenChunks($"s", 3, -1))
    assert(e2.getMessage.contains("overlap must be in [0, size)"))
  }

  test("Tables.prepare installs the SQL surface on any session") {
    graft.Tables.prepare(spark)
    val bg = spark.sql("SELECT graft_bigrams('x y z') AS b").head()
    assert(bg.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getString(1))) ===
      Seq(("x", "y"), ("y", "z")))
  }
}
