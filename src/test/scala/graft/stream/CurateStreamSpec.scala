package graft.stream

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec

/** The stateless curation operators are plain Column expressions, so
  * the batch pipeline (sample gate → split → chunking) composes
  * unchanged on a STREAM — this spec is the proof.
  */
class CurateStreamSpec extends SparkSpec {
  import spark.implicits._

  test("streaming chunk + sample + split: stateless curation ops on a stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")

    // The round-3 curation ops are pure projections/filters, so they
    // compose on an unbounded stream with NO state and no watermark:
    // deterministic sample gate -> split assignment -> token chunking.
    val prepped = graft.ext.TextStats.tokenWindowChunks(
      graft.ext.Sampling.splitAssign(
        docs.filter(graft.ext.Sampling.hashGate(
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.lit(100))), "doc_id"),
      "doc_id", "text", chunkSize = 4, overlap = 1)

    val q = prepped.writeStream.outputMode("append")
      .format("memory").queryName("chunked_out").start()
    try {
      mem.addData(
        (1L, "t0 t1 t2 t3 t4 t5"), // 6 toks, size 4 stride 3 -> 2 chunks
        (2L, "a b"))
      q.processAllAvailable()
      val rows = spark.table("chunked_out")
        .select("doc_id", "chunk_id", "chunk_text")
        .as[(Long, Long, String)].collect().toSet
      assert(rows === Set(
        (1L, 0L, "t0 t1 t2 t3"), (1L, 1L, "t3 t4 t5"),
        (2L, 0L, "a b")))
      // split column must match the batch assignment for the same keys
      val streamSplits = spark.table("chunked_out")
        .select("doc_id", "split").distinct().as[(Long, String)].collect().toMap
      val batchSplits = graft.ext.Sampling.splitAssign(
        Seq((1L, "x"), (2L, "y")).toDF("doc_id", "text"), "doc_id")
        .select("doc_id", "split").as[(Long, String)].collect().toMap
      assert(streamSplits === batchSplits)
    } finally q.stop()
  }
}
