package graft

import java.nio.file.{Files, Path}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import graft.config.PipelineConf
import graft.sink.ParquetSink
import graft.stream.Ingest

/** Flagship-ingest throughput bench: the reference's headline workload
  * (20 CSV files = 19×5000 + 1,453 rows = 96,453 sensor rows;
  * `logs/pipeline.log` 2025-05-26 12:37:49→12:38:05, 16.57 s ≈ 5,820
  * rows/s end-to-end read→validate→aggregate→insert→move) driven
  * through `stream/Ingest` end-to-end in parquet-sink mode: watched
  * dir → checkpointed file source → one distributed validate pass →
  * group commit → per-file move to processed/.
  *
  * Methodology mirrors `Bench`: untimed warm-up drains at the timed
  * shape, each on a SEPARATE workload dir, pay session, codegen, JIT
  * and stream-initialization cost until two in a row agree, then
  * [[TimedDrains]] timed runs each measure start-to-quiescence over a
  * fresh backlog — the same window the reference's log timestamps span
  * (its process was already warm when file 1 arrived). The median
  * drain is reported, with every drain's seconds beside it. Lenient
  * validation, like the reference's headline run. Prints ONE JSON line.
  *
  * Usage: `sbt "runMain graft.IngestBench"` (SPARK_GRAFT_CPUS to
  * override parallelism; SPARK_GRAFT_INGEST_FILES/ROWS to scale the
  * workload).
  */
object IngestBench {

  /** Timed drains per invocation: one drain's run-to-run spread (10%
    * between two invocations of one commit) hides smaller changes; the
    * median of five does not move with one outlier.
    */
  private val TimedDrains = 5

  /** Warm-up drains run at the timed shape until two in a row agree
    * within `WarmAgreement` of the slower one (perfbench's rule), and
    * at most `MaxWarmDrains` of them. One fixed warm-up drain is not
    * enough: the drains keep getting faster through the run.
    */
  private val WarmAgreement = 0.10
  private val MaxWarmDrains = 8

  /** File f carries seeded-invalid rows iff its index lands in the
    * badPct stripe: ((f·pct) mod 100) < pct puts EXACTLY pct dirty
    * files in every 100 consecutive indices, deterministically — a
    * seeded-random choice would make reruns incomparable.
    */
  private[graft] def isDirty(f: Int, badPct: Int): Boolean =
    badPct > 0 && ((f.toLong * badPct) % 100) < badPct

  /** The reference generator's six row-level error classes
    * (`test_csv_files_generator.py:73-90`), mapped onto the sensor CSV
    * schema and cycled deterministically. Each dirty file gets 3 bad
    * rows (the generator's 1–3 cap) at fixed relative positions.
    */
  private val badRows = Seq(
    "2025-05-26 10:00:04,,25.0,0.50,1000.00",          // null sensor_id (key)
    "NOT_A_VALID_TIMESTAMP,S1,25.0,0.50,1000.00",      // unparseable ts (key)
    "2025-05-26 10:00:00,S2,abc,0.50,1000.00",         // bad-type temperature
    "2025-05-26 10:00:01,S3,-75.0,0.50,1000.00",       // temp below -50 range
    "2025-05-26 10:00:02,S4,75.0,0.50,1000.00",        // temp above +50 range
    "2025-05-26 10:00:03,S5,25.0,,1000.00")            // null humidity reading

  /** Workload accounting: `validRows` is what LENIENT mode commits
    * (all rows minus seeded-bad ones); `dirtyFileRows` is what STRICT
    * mode quarantines (every row of a file containing any bad row).
    */
  private final case class Workload(
      total: Long, validRows: Long, dirtyFiles: Int, dirtyFileRows: Long)

  private def writeWorkload(dataDir: Path, files: Int, rowsPerFile: Int,
      lastFileRows: Int, badPct: Int = 0): Workload = {
    var total = 0L
    var validRows = 0L
    var dirtyFiles = 0
    var dirtyFileRows = 0L
    (1 to files).foreach { f =>
      val n = if (f == files) lastFileRows else rowsPerFile
      val dirty = isDirty(f, badPct)
      if (dirty) { dirtyFiles += 1; dirtyFileRows += n }
      // 3 bad rows per dirty file at fixed relative positions
      val badAt: Set[Int] =
        if (dirty) Set(n / 4, n / 2, (3 * n) / 4) else Set.empty
      val sb = new StringBuilder(n * 48)
      sb.append("timestamp,sensor_id,temperature,humidity,pressure\n")
      var i = 0
      while (i < n) {
        if (badAt(i)) {
          sb.append(badRows((f + i) % badRows.length)).append('\n')
        } else {
          // valid, in-range readings; varied sensors and timestamps
          val hh = (i / 3600) % 24
          val mm = (i / 60) % 60
          val ss = i % 60
          sb.append(f"2025-05-26 $hh%02d:$mm%02d:$ss%02d,S${i % 10},")
            .append(f"${20.0 + (i % 25)}%.1f,${0.30 + (i % 60) * 0.01}%.2f,")
            .append(f"${990.0 + (i % 50)}%.2f\n")
        }
        i += 1
      }
      Files.writeString(dataDir.resolve(f"sensor_$f%02d.csv"), sb.toString)
      total += n
      validRows += (if (dirty) n - badAt.size else n)
    }
    Workload(total, validRows, dirtyFiles, dirtyFileRows)
  }

  /** One full ingest run to quiescence; returns
    * (total rows, rows sunk, files actually QUARANTINED, seconds) —
    * quarantined is the verified on-disk count, not the seeded dirty
    * count (lenient mode routes zero files for the same seeding).
    */
  /** One drain over a fresh temp root (CSV inputs, lake, checkpoint),
    * deleted once its routing and row checks have run.
    */
  private def runOnce(spark: SparkSession, prefix: String,
      files: Int, rowsPerFile: Int, lastFileRows: Int,
      badPct: Int, strict: Boolean): (Long, Long, Int, Double) = {
    val root = Files.createTempDirectory(prefix)
    try drain(spark, root, files, rowsPerFile, lastFileRows, badPct, strict)
    finally FileUtils.deleteDirectory(root.toFile)
  }

  private def drain(spark: SparkSession, root: Path,
      files: Int, rowsPerFile: Int, lastFileRows: Int,
      badPct: Int, strict: Boolean): (Long, Long, Int, Double) = {
    val dataDir = Files.createDirectories(root.resolve("data"))
    val conf = PipelineConf(
      dataDir = dataDir.toString,
      processedDir = root.resolve("processed").toString,
      quarantineDir = root.resolve("quarantine").toString,
      checkpointDir = root.resolve("checkpoint").toString,
      monitorIntervalSec = 1,
      strictMode = strict)
    val w = writeWorkload(dataDir, files, rowsPerFile, lastFileRows, badPct)
    val sink = new ParquetSink(
      root.resolve("raw").toString, root.resolve("agg").toString)
    val t0 = System.nanoTime()
    val q = Ingest.start(spark, conf, sink)
    // Clock stops at QUIESCENCE (the documented window); q.stop()'s
    // stream-thread shutdown can absorb up to a trigger interval and
    // must not count against throughput.
    val sec =
      try { q.processAllAvailable(); (System.nanoTime() - t0) / 1e9 }
      finally q.stop()
    // Routing must be EXACT for the figure to mean anything: in strict
    // mode every dirty file quarantines (its CSV plus a reason line)
    // and every clean file moves to processed/; in lenient mode dirty
    // files commit their valid subset and still move to processed/.
    val expectProcessed = if (strict) files - w.dirtyFiles else files
    val expectQuarantined = if (strict) w.dirtyFiles else 0
    // processed/ (like quarantine/ below) only exists once a file
    // routes there — an all-quarantined run (BAD_PCT=100 strict) never
    // creates it, and absence IS the correct zero count.
    val pDir = root.resolve("processed")
    val processed = if (!Files.isDirectory(pDir)) 0L else {
      val moved = Files.list(pDir)
      try moved.count() finally moved.close()
    }
    require(processed == expectProcessed,
      s"expected $expectProcessed files in processed/, got $processed")
    val qDir = root.resolve("quarantine")
    val quarantined = if (!Files.isDirectory(qDir)) 0L else {
      val s = Files.list(qDir)
      try s.filter(p => p.getFileName.toString.endsWith(".csv")).count()
      finally s.close()
    }
    require(quarantined == expectQuarantined,
      s"expected $expectQuarantined files in quarantine/, got $quarantined")
    // The throughput claim divides rows HANDLED by wall time — so the
    // sink must have received exactly the committable subset: clean
    // files' rows in strict mode (dirty files quarantine wholesale),
    // every non-seeded row in lenient mode. A silent drop (or a leak
    // of a quarantined file's rows) turns into a loud failure instead
    // of a wrong rows/s figure.
    val wantSunk = if (strict) w.total - w.dirtyFileRows else w.validRows
    // An all-quarantined workload (BAD_PCT=100 strict) never creates
    // raw/ — reading it would throw PATH_NOT_FOUND; absence IS the
    // correct zero-row verification there.
    val sunk =
      if (Files.isDirectory(root.resolve("raw")))
        spark.read.parquet(root.resolve("raw").toString).count()
      else 0L
    require(sunk == wantSunk, s"sink has $sunk rows, expected $wantSunk — " +
      "rows were dropped or leaked; the throughput figure would be a lie")
    (w.total, sunk, quarantined.toInt, sec)
  }

  def main(args: Array[String]): Unit = {
    val files = sys.env.getOrElse("SPARK_GRAFT_INGEST_FILES", "20").toInt
    val rowsPerFile = sys.env.getOrElse("SPARK_GRAFT_INGEST_ROWS", "5000").toInt
    // The reference's 20th file has 1,453 rows; that tail only applies
    // to the DEFAULT workload — a scaled probe (FILES/ROWS overridden)
    // gets uniform files, otherwise FILES=1 would silently measure a
    // 1,453-row corpus whatever ROWS asked for.
    // Quarantine-heavy probe knobs: BAD_PCT percent of files carry 3
    // seeded-invalid rows (the reference generator's error taxonomy);
    // STRICT=1 quarantines those files wholesale (the reference's
    // strict per-file verdict), unset commits their valid subset.
    val badPct = sys.env.getOrElse("SPARK_GRAFT_INGEST_BAD_PCT", "0").toInt
    require(badPct >= 0 && badPct <= 100, s"BAD_PCT out of [0,100]: $badPct")
    val strict = sys.env.get("SPARK_GRAFT_INGEST_STRICT").contains("1")
    // The probe's semantics are PARTIALLY-dirty files (3 bad rows at
    // n/4, n/2, 3n/4). At n <= 3 those positions cover every row, the
    // file becomes all-bad, and lenient mode quarantines it like
    // strict does — the routing expectations below would be wrong.
    require(badPct == 0 ||
      sys.env.getOrElse("SPARK_GRAFT_INGEST_ROWS", "5000").toInt >= 4,
      "BAD_PCT needs INGEST_ROWS >= 4: 3-row dirty files are all-bad")
    val isReferenceWorkload =
      !sys.env.contains("SPARK_GRAFT_INGEST_FILES") &&
        !sys.env.contains("SPARK_GRAFT_INGEST_ROWS") && badPct == 0 && !strict
    val lastFileRows = if (isReferenceWorkload) 1453 else rowsPerFile
    val spark = Tables.localSession()

    // Untimed drains at the timed shape (files, rows, dirty share and
    // verdict mode), so every path the timed drains take has run, and
    // run warm, before timing starts.
    val warm = scala.collection.mutable.ArrayBuffer.empty[Double]
    def agreed = warm.size >= 2 && {
      val Seq(a, b) = warm.takeRight(2).toSeq
      math.abs(a - b) <= WarmAgreement * math.max(a, b)
    }
    while (!agreed && warm.size < MaxWarmDrains)
      warm += runOnce(spark, "graft_ingest_warm",
        files, rowsPerFile, lastFileRows, badPct, strict)._4

    // Each drain gets a fresh root and its own routing and row checks.
    // The deferred per-file move loop is the one O(files) driver-side
    // tail in the batch; report its share so a deep small-file backlog
    // probe shows whether the sequential renames ever dominate.
    val drains = (1 to TimedDrains).map { _ =>
      Ingest.moveLoopNanos.set(0L)
      val (rows, sunk, quarantined, sec) = runOnce(spark, "graft_ingest_bench",
        files, rowsPerFile, lastFileRows, badPct, strict)
      (rows, sunk, quarantined, sec, Ingest.moveLoopNanos.get() / 1e9)
    }
    val (rows, sunk, filesQuarantined, sec, moveSec) =
      drains.sortBy(_._4).apply(TimedDrains / 2)
    // End-to-end claim: every row was read, validated, and ROUTED
    // (committed or quarantined) — total-over-wall is the rate the
    // reference's headline measures too (its log window includes its
    // quarantine decisions).
    val rps = rows / sec
    val moveShare = moveSec / sec
    def list(xs: Seq[Double]) = xs.map(x => f"$x%.2f").mkString("[", ",", "]")
    val secs = list(drains.map(_._4))
    // The reference's 5,820 rows/s was measured on ITS default workload
    // (20 files = 96,453 rows) only — a scaled probe must not carry the
    // figure, or its JSON line reads as apples-to-apples against a
    // workload shape the reference never ran. Keyed on env presence,
    // NOT lastFileRows == 1453: SPARK_GRAFT_INGEST_ROWS=1453 is a
    // scaled probe too (uniform files), and must not carry the figure.
    val baselineField =
      if (isReferenceWorkload) ""","baseline_rows_per_sec":5820""" else ""
    val dirtyField =
      if (badPct == 0) ""
      else f""","bad_pct":$badPct,"strict":$strict,"rows_sunk":$sunk,"files_quarantined":$filesQuarantined,"quarantine_share":${filesQuarantined.toDouble / files}%.4f"""
    println(
      f"""{"metric":"ingest_rows_per_sec","value":$rps%.0f,"unit":"rows/s","rows":$rows,"files":$files,"sec":$sec%.2f,"secs":$secs,"warm_secs":${list(warm.toSeq)},"move_sec":$moveSec%.3f,"move_share":$moveShare%.4f$dirtyField$baselineField}""")
    spark.stop()
  }
}
