package graft

import org.apache.spark.sql.functions._
import graft.ext.Dedup

/** Dev harness measuring the committed corpus-scale SimHash posture
  * (`portableSimHashNearDuplicatesSharded`) against the unscoped miner
  * on the same corpus:
  *
  *   sbt "runMain graft.SimHashShardProbe <corpusDir>"
  *
  * Shard = the Scaling generator's copy index (doc_id / 10^12) — the
  * realistic per-crawl-snapshot locality domain: the v4 construction
  * makes copies content-disjoint (bijective Caesar map), so true
  * near-dups are within-copy and the sharded pass should recover
  * ~every unsharded pair while its band cells hold 1/S of the rows.
  * Prints pair counts for both, the cross-shard remainder (pairs the
  * scoped contract excludes — accidental band collisions at this
  * construction), and wall times.
  */
object SimHashShardProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 1,
      "usage: SimHashShardProbe <corpusDir> [docFactor]")
    val baseDir = args(0)
    val spark = Tables.localSession()

    // Optional second arg: build (once, version-markered) a
    // DOCUMENTS-ONLY factor-x corpus via Scaling's own v4 Caesar
    // construction — higher shard counts without a full corpus build.
    val corpusDir = args.lift(1).map(_.toInt) match {
      case Some(f) =>
        require(f >= 2, s"docFactor must be >= 2: $f")
        val dir = s"/tmp/graft_docs_${f}x"
        val marker = new java.io.File(s"$dir/_built_$f")
        val upToDate = marker.exists() &&
          java.nio.file.Files.readString(marker.toPath) ==
            Scaling.generatorVersion
        if (!upToDate) {
          System.err.println(
            s"[shardprobe] building ${f}x documents-only corpus at $dir")
          val d = spark.read.parquet(s"$baseDir/documents.parquet")
          (0 until f).map(k => Scaling.documentCopy(d, k))
            .reduce(_ union _)
            .write.mode("overwrite").parquet(s"$dir/documents.parquet")
          java.nio.file.Files.writeString(
            marker.toPath, Scaling.generatorVersion)
        }
        dir
      case None => baseDir
    }

    // Shard = the v4 copy index via INTEGER division: `/` on longs is
    // Divide (DOUBLE), exact only below 2^53 — at copy indices ≳9000
    // boundary ids like k·10¹²−1 would round into shard k. `div` stays
    // in the integer domain at any id.
    val docs = Tables.documents(spark, corpusDir)
      .withColumn("shard", expr("doc_id div 1000000000000"))
    val nShards = docs.select(countDistinct(col("shard"))).head().getLong(0)

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    // Warm codegen on a small sibling SF (Bench discipline: env
    // override, loud skip, no hardcoded absolute path).
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      new java.io.File(
        new java.io.File(corpusDir).getParentFile, "sf0.001").getPath)
    if (new java.io.File(warmDir).isDirectory) {
      val wd = Tables.documents(spark, warmDir)
      Dedup.portableSimHashNearDuplicates(wd, "doc_id", "text")
        .write.mode("overwrite").format("noop").save()
      // Also warm the SHARDED miner (ADVICE r17): its keyed signature
      // aggregate and (shard, band, bk) join compile distinct stages,
      // so warming only the unsharded shape left sec_sharded paying
      // first-run codegen inside its timed window. Synthetic 2-way
      // shard on the warm corpus; noop sink, untimed.
      Dedup.portableSimHashNearDuplicatesSharded(
        wd.withColumn("shard", expr("doc_id % 2")), "doc_id", "text", "shard")
        .write.mode("overwrite").format("noop").save()
    } else System.err.println(
      s"[shardprobe] WARM SKIPPED: $warmDir not found — timings include first-run codegen")

    // SYMMETRIC timed regions: each side is the miner's own EAGER
    // materialization (both return persisted, counted pair frames —
    // withCleanup) plus one cached count. No probe-side persist inside
    // either window; the cross-shard join reuses the miner's cache
    // OUTSIDE the timed region.
    val (nSharded, tSharded) = timed {
      val p = Dedup.portableSimHashNearDuplicatesSharded(
        docs, "doc_id", "text", "shard")
      val n = p.count()
      p.unpersist()
      n
    }
    val (unshardedPairs, tUnsharded) = timed {
      val p = Dedup.portableSimHashNearDuplicates(docs, "doc_id", "text")
      p.count()
      p
    }
    val nUnsharded = unshardedPairs.count()
    // Cross-shard remainder: unsharded pairs whose docs sit in
    // different copies — what the scoped contract excludes.
    val shardOf = docs.select(col("doc_id"), col("shard"))
    val nCross = unshardedPairs
      .join(shardOf.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("shard", "__sha"), Seq("id_a"))
      .join(shardOf.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("shard", "__shb"), Seq("id_b"))
      .filter(col("__sha") =!= col("__shb"))
      .count()
    unshardedPairs.unpersist()

    // Optional cascade datapoint (VERDICT r17 #2): the committed
    // corpus-wide composition (sharded SimHash → within-shard
    // collapse → MinHash over survivors → pair union) timed
    // end-to-end on the same corpus. Gated because the MinHash stage
    // shingles the survivor corpus — a deliberate extra pass the
    // within-shard A/B above must not absorb.
    val cascade: Option[(Long, Double)] =
      if (!sys.env.get("SPARK_GRAFT_CASCADE").contains("1")) None
      else Some(timed {
        val p = Dedup.nearDupsSharded(docs, "doc_id", "text", "shard")
        val n = p.count()
        p.unpersist()
        n
      })

    println(
      f"""{"metric":"simhash_shard","shards":$nShards,""" +
        f""""pairs_sharded":$nSharded,"pairs_unsharded":$nUnsharded,""" +
        f""""pairs_cross_shard":$nCross,""" +
        f""""sec_sharded":$tSharded%.3f,"sec_unsharded":$tUnsharded%.3f,""" +
        cascade.map { case (n, t) =>
          f""""pairs_cascade":$n,"sec_cascade":$t%.3f,""" }.getOrElse("") +
        f""""corpus":"$corpusDir"}""")
    spark.stop()
  }
}
