package graft.stream

import java.nio.file.{Files, Path, Paths}
import graft.SparkSpec
import graft.config.PipelineConf
import graft.sink.ParquetSink

/** Streaming integration: drop reference-taxonomy fixtures into a
  * watched dir, run the query to quiescence, assert the per-file routing
  * and reason-log parity with `quarantine_log.txt`, then restart from
  * checkpoint and verify exactly-once (T3/T5).
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): Path =
    Files.createTempDirectory(prefix)

  private def writeCsv(dir: Path, name: String, lines: String*): Path = {
    val p = dir.resolve(name)
    Files.writeString(p,
      ("timestamp,sensor_id,temperature,humidity,pressure" +: lines)
        .mkString("", "\n", "\n"))
    p
  }

  private def mkConf(root: Path): PipelineConf = PipelineConf(
    dataDir = root.resolve("data").toString,
    processedDir = root.resolve("processed").toString,
    quarantineDir = root.resolve("quarantine").toString,
    checkpointDir = root.resolve("checkpoint").toString,
    monitorIntervalSec = 1)

  /** Capture the Ingest logger's formatted messages while `body` runs
    * (K8 assertions — the structured run log is part of the contract).
    * The logger is made non-additive while capturing, so its INFO lines
    * reach only the capture appender, not the suite's console.
    */
  private def capturingLogs(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    val appender = new AbstractAppender(
        "graft-ingest-capture", null, null, false, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = events.synchronized {
        events += e.getMessage.getFormattedMessage
      }
    }
    appender.start()
    val core = LogManager.getLogger("graft.stream.Ingest")
      .asInstanceOf[CoreLogger]
    val prevLevel = core.getLevel
    val prevAdditive = core.isAdditive
    Configurator.setLevel("graft.stream.Ingest", Level.INFO)
    core.addAppender(appender)
    core.setAdditive(false)
    try body
    finally {
      core.removeAppender(appender)
      core.setAdditive(prevAdditive)
      Configurator.setLevel("graft.stream.Ingest", prevLevel)
      appender.stop()
    }
    events.synchronized(events.toSeq)
  }

  /** Every node of an executed plan, through adaptive plans, query
    * stages and command results.
    */
  private def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p +: (p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      planNodes(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      planNodes(s.plan)
    case c: org.apache.spark.sql.execution.CommandResultExec =>
      planNodes(c.commandPhysicalPlan)
    case o => o.children.flatMap(planNodes)
  })

  /** Run `body` with the given session confs, restoring them after. */
  private def withConfs(kvs: (String, String)*)(body: => Unit): Unit = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Run `body` with Spark's CSV split sizes shrunk so far that a
    * line-mode read would cut even a few-KB file into several splits.
    */
  private def withTinySplits(body: => Unit): Unit =
    withConfs("spark.sql.files.maxPartitionBytes" -> "2048",
      "spark.sql.files.openCostInBytes" -> "256")(body)

  test("the reference flagship loop runs end-to-end against a REAL " +
    "database: watched dir -> validate -> route -> per-file Derby txn") {
    val root = tmp("graft_derby_e2e")
    val conf = mkConf(root)
    val dataDir = Files.createDirectories(root.resolve("data"))
    writeCsv(dataDir, "good.csv",
      "2025-05-26 04:36:01,S1,25.5,0.65,1013.25",
      "2025-05-26 04:36:02,S1,26.5,0.66,1013.50")
    writeCsv(dataDir, "bad.csv",
      "not-a-timestamp,S2,25.5,0.65,1013.25")

    val url = s"jdbc:derby:memory:graft_e2e_${System.nanoTime()};create=true"
    val jconf = graft.config.JdbcConf(url, "", "", retries = 1,
      retryDelaySec = 0)
    graft.sink.JdbcBootstrap.run(jconf)
    val q = Ingest.start(spark, conf, new graft.sink.JdbcSink(jconf))
    try q.processAllAvailable() finally q.stop()

    // strict mode: the valid file committed one Derby transaction and
    // moved to processed/; the invalid file went to quarantine and
    // wrote NOTHING
    assert(Files.exists(root.resolve("processed/good.csv")))
    assert(Files.exists(root.resolve("quarantine/bad.csv")))
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      val raw = st.executeQuery(
        "SELECT COUNT(*) FROM raw_sensor_data WHERE file_name='good.csv'")
      raw.next(); assert(raw.getLong(1) === 2L)
      val none = st.executeQuery(
        "SELECT COUNT(*) FROM raw_sensor_data WHERE file_name='bad.csv'")
      none.next(); assert(none.getLong(1) === 0L)
      // long-format aggregates: one row per metric for S1
      val agg = st.executeQuery(
        "SELECT COUNT(*), MIN(metric_name), MAX(record_count) " +
          "FROM aggregated_sensor_data WHERE sensor_id='S1'")
      agg.next()
      assert(agg.getLong(1) === 3L) // temperature, humidity, pressure
      assert(agg.getLong(3) === 2L)
    } finally conn.close()
  }

  test("maxFilesPerTrigger bounds each micro-batch; backlog drains across triggers") {
    val root = tmp("graft_backpressure")
    val conf = mkConf(root).copy(maxFilesPerTrigger = Some(1))
    val dataDir = Files.createDirectories(root.resolve("data"))
    (1 to 3).foreach(i => writeCsv(dataDir, s"f$i.csv",
      s"2025-05-26 04:36:0$i,S$i,25.5,0.65,1013.25"))

    val q = Ingest.start(spark, conf, new ParquetSink(
      root.resolve("raw").toString, root.resolve("agg").toString))
    try q.processAllAvailable() finally q.stop()

    // all three committed despite the 1-file batch cap...
    val processed = Files.list(root.resolve("processed"))
    val names = try {
      import scala.jdk.CollectionConverters._
      processed.iterator().asScala.map(_.getFileName.toString).toSet
    } finally processed.close()
    assert(names === Set("f1.csv", "f2.csv", "f3.csv"))
    // ...over at least 3 non-empty micro-batches (the cap was honored)
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches >= 3, s"expected >=3 capped batches, got $dataBatches")
  }

  test("backpressure at file-count scale: 1k files drain under a bounded per-batch outcome list") {
    val root = tmp("graft_1k")
    val cap = 100
    val conf = mkConf(root).copy(maxFilesPerTrigger = Some(cap))
    val dataDir = Files.createDirectories(root.resolve("data"))
    (1 to 1000).foreach { i =>
      writeCsv(dataDir, f"f$i%04d.csv",
        f"2025-05-26 04:${i % 60}%02d:08,S${i % 7},25.5,0.65,1013.25")
    }
    // Counting sink that never materializes the frames: isolates the
    // DRIVER cost of the per-file loop (verdict collect + routing)
    // from sink IO, which is what this spec bounds.
    val committed = new java.util.concurrent.atomic.AtomicInteger(0)
    val countingSink = new graft.sink.BatchSink {
      override def write(f: String, raw: org.apache.spark.sql.DataFrame,
          agg: org.apache.spark.sql.DataFrame): Boolean = {
        committed.incrementAndGet(); true
      }
    }
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Int]
    val q = Ingest.start(spark, conf, countingSink,
      onBatch = o => batchSizes.synchronized { batchSizes += o.size })
    try q.processAllAvailable() finally q.stop()

    assert(committed.get() === 1000)
    val sizes = batchSizes.synchronized(batchSizes.toSeq)
    // The driver's per-batch state (collected verdicts + outcome list)
    // is bounded by the trigger cap, NOT by the backlog depth: a
    // restart against 1k pending files must not become one 1k-file
    // batch/transaction.
    assert(sizes.nonEmpty && sizes.max <= cap,
      s"per-batch outcome list exceeded cap $cap: max=${sizes.max}")
    assert(sizes.sum === 1000)
    assert(sizes.count(_ > 0) >= 1000 / cap)
    // every file landed in processed/ exactly once
    val listing = Files.list(root.resolve("processed"))
    val moved = try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala.count(_.toString.endsWith(".csv"))
    } finally listing.close()
    assert(moved === 1000)
  }

  test("1k files against a REAL parquet sink drain in O(batches) group " +
    "commits, not O(files) job pairs — the group-commit scale contract") {
    val root = tmp("graft_1k_real")
    val cap = 100
    val conf = mkConf(root).copy(maxFilesPerTrigger = Some(cap))
    val dataDir = Files.createDirectories(root.resolve("data"))
    (1 to 1000).foreach { i =>
      writeCsv(dataDir, f"r$i%04d.csv",
        f"2025-05-26 04:${i % 60}%02d:08,S${i % 7},25.5,0.65,1013.25")
    }
    val writeAllCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    val perFileCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    val real = new ParquetSink(
      root.resolve("raw").toString, root.resolve("agg").toString)
    val sink = new graft.sink.BatchSink {
      override def write(f: String, raw: org.apache.spark.sql.DataFrame,
          agg: org.apache.spark.sql.DataFrame): Boolean = {
        perFileCalls.incrementAndGet(); real.write(f, raw, agg)
      }
      override def writeAll(names: Seq[String],
          raw: org.apache.spark.sql.DataFrame,
          agg: org.apache.spark.sql.DataFrame): Set[String] = {
        writeAllCalls.incrementAndGet(); real.writeAll(names, raw, agg)
      }
    }
    val q = Ingest.start(spark, conf, sink)
    try q.processAllAvailable() finally q.stop()
    // ONE group write per data-bearing micro-batch — 1000/cap of them,
    // never 1000 per-file job pairs (before group commit this spec
    // shape was driver-serialized minutes; now it's bounded by batch
    // count)
    assert(perFileCalls.get() === 0)
    assert(writeAllCalls.get() === 1000 / cap,
      s"expected ${1000 / cap} group writes, got ${writeAllCalls.get()}")
    val raw = spark.read.parquet(root.resolve("raw").toString)
    assert(raw.count() === 1000)
    assert(raw.select("file_name").distinct().count() === 1000)
    val listing = Files.list(root.resolve("processed"))
    val moved = try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala.count(_.toString.endsWith(".csv"))
    } finally listing.close()
    assert(moved === 1000)
  }

  test("end-to-end routing: clean commits+moves, dirty quarantines with reason, empty sweeps") {
    val root = tmp("graft_ingest")
    val conf = mkConf(root)
    val dataDir = Files.createDirectories(root.resolve("data"))
    val rawOut = root.resolve("raw").toString
    val aggOut = root.resolve("agg").toString

    writeCsv(dataDir, "clean.csv",
      "2025-05-26 04:36:08,S1,26.41,0.95,1014.74",
      "2025-05-26 04:37:08,S1,27.00,0.90,1015.00",
      "2025-05-26 04:38:08,S2,-4.35,0.90,1016.09")
    writeCsv(dataDir, "dirty.csv",
      "2025-05-26 04:36:08,S1,26.41,0.95,1014.74",
      "2025-05-26 04:37:08,S1,abc,0.95,1014.74")
    writeCsv(dataDir, "empty.csv") // header only

    val q = Ingest.start(spark, conf, new ParquetSink(rawOut, aggOut))
    try { q.processAllAvailable() } finally q.stop()

    // routing
    assert(Files.exists(root.resolve("processed/clean.csv")))
    assert(Files.exists(root.resolve("quarantine/dirty.csv")))
    assert(Files.exists(root.resolve("quarantine/empty.csv")))
    assert(!Files.exists(dataDir.resolve("clean.csv")))

    // reason log parity (quarantine_log.txt format)
    val log = Files.readString(root.resolve("quarantine/quarantine_log.txt"))
    assert(log.contains("File: dirty.csv, Reason: Validation failed at row 3: " +
      "Row 3: 'temperature' ('abc') is not a valid number."))
    assert(log.contains("File: empty.csv, Reason: " +
      "File is empty or contains only headers after NA filtering."))

    // sink contents: only the clean file's rows and aggregates
    val raw = spark.read.parquet(rawOut)
    assert(raw.count() === 3)
    val agg = spark.read.parquet(aggOut)
    assert(agg.count() === 6) // 2 sensors x 3 metrics
    assert(raw.select("file_name").distinct().collect()
      .map(_.getString(0)).toSet === Set("clean.csv"))
  }

  test("NA tokens read as null fields, not as non-numeric ones") {
    val root = tmp("graft_na")
    val conf = mkConf(root)
    val dataDir = Files.createDirectories(root.resolve("data"))
    writeCsv(dataDir, "na.csv",
      "2025-05-26 04:36:08,S1,26.41,0.95,1014.74",
      "2025-05-26 04:37:08,S2,NaN,n/a,")

    val q = Ingest.start(spark, conf, new ParquetSink(
      root.resolve("raw").toString, root.resolve("agg").toString))
    try q.processAllAvailable() finally q.stop()

    assert(Files.exists(root.resolve("quarantine/na.csv")))
    val log = Files.readString(root.resolve("quarantine/quarantine_log.txt"))
    assert(log.contains("File: na.csv, Reason: Validation failed at row 3: " +
      "Row 3: 'temperature' is null.; Row 3: 'humidity' is null.; " +
      "Row 3: 'pressure' is null."), log)
    assert(!log.contains("not a valid number"), log)
  }

  test("lenient mode commits the valid subset of a mixed file and logs the drop") {
    val root = tmp("graft_lenient")
    val conf = mkConf(root).copy(strictMode = false)
    val dataDir = Files.createDirectories(root.resolve("data"))
    val rawOut = root.resolve("raw").toString
    val aggOut = root.resolve("agg").toString

    writeCsv(dataDir, "mixed.csv",
      "2025-05-26 04:36:08,S1,26.41,0.95,1014.74",
      "2025-05-26 04:37:08,S1,abc,0.95,1014.74", // bad temperature
      "2025-05-26 04:38:08,S2,-4.35,0.90,1016.09")

    val logs = capturingLogs {
      val q = Ingest.start(spark, conf, new ParquetSink(rawOut, aggOut))
      try { q.processAllAvailable() } finally q.stop()
    }

    // lenient: file is PROCESSED (not quarantined), bad row dropped
    assert(Files.exists(root.resolve("processed/mixed.csv")))
    assert(!Files.exists(root.resolve("quarantine/mixed.csv")))
    val raw = spark.read.parquet(rawOut)
    assert(raw.count() === 2)
    assert(raw.select("sensor_id").distinct().collect()
      .map(_.getString(0)).toSet === Set("S1", "S2"))

    // K8 run-log parity with the reference's lenient evidence
    // (`logs/pipeline.log`: "Validation complete. 19 valid rows out of 20.")
    assert(logs.exists(_.contains(
      "File 'mixed.csv': Validation complete. 2 valid rows out of 3.")))
    assert(logs.exists(_.contains(
      "File 'mixed.csv': Summary of row-level issues:")))
    assert(logs.exists(_.contains(
      "Successfully stored data from 'mixed.csv'. Moving to processed.")))
  }

  test("lenient mode still quarantines a file with zero valid rows") {
    val root = tmp("graft_lenient0")
    val conf = mkConf(root).copy(strictMode = false)
    val dataDir = Files.createDirectories(root.resolve("data"))

    writeCsv(dataDir, "garbage.csv",
      "2025-05-26 04:36:08,S1,abc,0.95,1014.74",
      "2025-05-26 04:37:08,S1,999.0,0.95,1014.74") // all rows invalid

    val q = Ingest.start(spark, conf, new ParquetSink(
      root.resolve("raw").toString, root.resolve("agg").toString))
    try { q.processAllAvailable() } finally q.stop()

    // nothing valid to commit -> quarantine, never silently "processed"
    assert(Files.exists(root.resolve("quarantine/garbage.csv")))
    assert(!Files.exists(root.resolve("processed/garbage.csv")))
  }

  test("strict mode logs the per-stage run log with file context (K8)") {
    val root = tmp("graft_k8")
    val conf = mkConf(root)
    val dataDir = Files.createDirectories(root.resolve("data"))

    writeCsv(dataDir, "good.csv",
      "2025-05-26 04:36:08,S1,26.41,0.95,1014.74")
    writeCsv(dataDir, "bad.csv",
      "2025-05-26 04:36:08,S1,999.0,0.95,1014.74") // out of range

    val logs = capturingLogs {
      val q = Ingest.start(spark, conf, new ParquetSink(
        root.resolve("raw").toString, root.resolve("agg").toString))
      try { q.processAllAvailable() } finally q.stop()
    }

    assert(logs.exists(_.contains(
      "File 'good.csv': STRICT validation checked 1 rows.")))
    assert(logs.exists(_.contains(
      "File 'good.csv': All 1 rows passed strict validation.")))
    assert(logs.exists(_.contains(
      "Successfully stored data from 'good.csv'. Moving to processed.")))
    assert(logs.exists(l => l.contains(
      "Strict validation failed for 'bad.csv'. Quarantining. Summary:")))
    assert(logs.exists(_.contains(
      "File 'bad.csv' moved to quarantine. Reason:")))
  }

  test("file with missing required columns is quarantined at the header check") {
    val root = tmp("graft_header")
    val conf = mkConf(root)
    val dataDir = Files.createDirectories(root.resolve("data"))
    val p = dataDir.resolve("badheader.csv")
    Files.writeString(p, // humidity/pressure missing from the header
      "timestamp,sensor_id,temperature" + System.lineSeparator() +
        "2025-05-26 04:36:08,S1,26.41" + System.lineSeparator())
    val q = Ingest.start(spark, conf,
      new ParquetSink(root.resolve("raw").toString, root.resolve("agg").toString))
    try { q.processAllAvailable() } finally q.stop()
    assert(Files.exists(root.resolve("quarantine/badheader.csv")))
    val log = Files.readString(root.resolve("quarantine/quarantine_log.txt"))
    assert(log.contains("File: badheader.csv, Reason: Missing critical columns: " +
      "humidity, pressure. Quarantining."))
  }

  test("checkpoint restart: old files not reprocessed, new files picked up") {
    val root = tmp("graft_restart")
    val conf = mkConf(root)
    val dataDir = Files.createDirectories(root.resolve("data"))
    val rawOut = root.resolve("raw").toString
    val aggOut = root.resolve("agg").toString
    val sink = new ParquetSink(rawOut, aggOut)

    writeCsv(dataDir, "first.csv",
      "2025-05-26 04:36:08,S1,26.41,0.95,1014.74")
    val q1 = Ingest.start(spark, conf, sink)
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(rawOut).count() === 1)

    writeCsv(dataDir, "second.csv",
      "2025-05-26 05:36:08,S2,20.00,0.80,1000.00")
    val q2 = Ingest.start(spark, conf, sink)
    try { q2.processAllAvailable() } finally q2.stop()

    val raw = spark.read.parquet(rawOut)
    assert(raw.count() === 2) // first.csv not duplicated
    assert(raw.select("file_name").distinct().count() === 2)
    assert(Files.exists(root.resolve("processed/first.csv")))
    assert(Files.exists(root.resolve("processed/second.csv")))
  }

  test("failing sink retains the file for retry; recovery commits it") {
    val root = tmp("graft_retry")
    val conf = mkConf(root)
    val dataDir = Files.createDirectories(root.resolve("data"))
    val rawOut = root.resolve("raw").toString
    val aggOut = root.resolve("agg").toString

    writeCsv(dataDir, "retry.csv",
      "2025-05-26 04:36:08,S1,26.41,0.95,1014.74")

    var fail = true
    val flaky = new graft.sink.BatchSink {
      val real = new ParquetSink(rawOut, aggOut)
      override def write(f: String, raw: org.apache.spark.sql.DataFrame,
          agg: org.apache.spark.sql.DataFrame): Boolean =
        if (fail) false else real.write(f, raw, agg)
    }

    val q1 = Ingest.start(spark, conf, flaky)
    try { q1.processAllAvailable() } finally q1.stop()
    // sink failed ⇒ file retained in data/ (T5) and ledgered for retry
    assert(Files.exists(dataDir.resolve("retry.csv")))
    assert(!Files.exists(root.resolve("processed/retry.csv")))
    assert(Files.exists(
      Paths.get(conf.checkpointDir, "graft-retry", "retry.csv")))

    // The checkpointed source never re-emits a seen path, so recovery
    // MUST come from the ledger: restart on the SAME checkpoint with
    // the sink healthy — the startup retry commits the retained file,
    // and a new file proves the stream itself still progresses.
    fail = false
    writeCsv(dataDir, "after.csv",
      "2025-05-26 05:00:00,S2,21.00,0.50,1001.00")
    val q2 = Ingest.start(spark, conf, flaky)
    try { q2.processAllAvailable() } finally q2.stop()
    assert(spark.read.parquet(rawOut).count() === 2)
    assert(Files.exists(root.resolve("processed/retry.csv")))
    assert(Files.exists(root.resolve("processed/after.csv")))
    // ledger entry cleared once the file left data/
    assert(!Files.exists(
      Paths.get(conf.checkpointDir, "graft-retry", "retry.csv")))
  }

  test("a REMAPPED file whose sink write fails transiently keeps retry " +
    "semantics — the quarantine guard covers only the structural remap") {
    val root = tmp("graft_remap_retry")
    val conf = mkConf(root)
    val dataDir = Files.createDirectories(root.resolve("data"))
    val rawOut = root.resolve("raw").toString
    val aggOut = root.resolve("agg").toString
    // reordered header → the remap path; the file itself is VALID
    Files.writeString(dataDir.resolve("swapret.csv"),
      "timestamp,sensor_id,humidity,temperature,pressure\n" +
        "2025-05-26 04:36:08,S1,0.95,26.41,1014.74\n")
    var fail = true
    val flaky = new graft.sink.BatchSink {
      val real = new ParquetSink(rawOut, aggOut)
      override def write(f: String, raw: org.apache.spark.sql.DataFrame,
          agg: org.apache.spark.sql.DataFrame): Boolean =
        if (fail) false else real.write(f, raw, agg)
    }
    val q1 = Ingest.start(spark, conf, flaky)
    try { q1.processAllAvailable() } finally q1.stop()
    // sink refused ⇒ retained for retry, NOT quarantined as a remap
    // failure (the pre-fix guard swallowed exactly this class)
    assert(Files.exists(dataDir.resolve("swapret.csv")))
    assert(!Files.exists(root.resolve("quarantine/swapret.csv")))
    fail = false
    val q2 = Ingest.start(spark, conf, flaky)
    try { q2.processAllAvailable() } finally q2.stop()
    assert(Files.exists(root.resolve("processed/swapret.csv")))
    val row = spark.read.parquet(rawOut)
      .select("temperature", "humidity").as[(Double, Double)].head()
    assert(row === ((26.41, 0.95))) // still mapped by NAME on retry
  }

  test("a THROWING sink mid-batch neither quarantines the valid " +
    "remapped file nor strands an earlier failed-remap file: moves " +
    "are deferred, the replay converges") {
    val root = tmp("graft_remap_throw")
    val conf = mkConf(root)
    val dataDir = Files.createDirectories(root.resolve("data"))
    val rawOut = root.resolve("raw").toString
    val aggOut = root.resolve("agg").toString
    // structural remap failure (duplicate required name) …
    Files.writeString(dataDir.resolve("dup2.csv"),
      "timestamp,sensor_id,temperature,temperature,humidity,pressure\n" +
        "2025-05-26 04:36:08,S1,26.41,26.42,0.95,1014.74\n")
    // … alongside a VALID remappable file whose sink THROWS transiently
    Files.writeString(dataDir.resolve("swap3.csv"),
      "timestamp,sensor_id,humidity,temperature,pressure\n" +
        "2025-05-26 04:36:08,S1,0.95,26.41,1014.74\n")
    @volatile var explode = true
    val throwing = new graft.sink.BatchSink {
      val real = new ParquetSink(rawOut, aggOut)
      override def write(f: String, raw: org.apache.spark.sql.DataFrame,
          agg: org.apache.spark.sql.DataFrame): Boolean =
        if (explode) throw new RuntimeException("transient FS outage")
        else real.write(f, raw, agg)
    }
    val q1 = Ingest.start(spark, conf, throwing)
    // the exception escapes foreachBatch by design — the query dies
    // so the checkpoint replays the batch (retry semantics)
    intercept[Exception] { q1.processAllAvailable() }
    q1.stop()
    // NOTHING moved: the valid file is not quarantined (the guard is
    // structural-only) and the failed-remap file is still in data/ —
    // a file moved before the batch's actions complete would make
    // the replayed batch unreadable forever
    assert(Files.exists(dataDir.resolve("dup2.csv")))
    assert(Files.exists(dataDir.resolve("swap3.csv")))
    assert(!Files.exists(root.resolve("quarantine/dup2.csv")))
    assert(!Files.exists(root.resolve("quarantine/swap3.csv")))
    // recovery: same checkpoint, healthy sink — replay converges
    explode = false
    val q2 = Ingest.start(spark, conf, throwing)
    try { q2.processAllAvailable() } finally q2.stop()
    assert(Files.exists(root.resolve("quarantine/dup2.csv")))
    assert(Files.exists(root.resolve("processed/swap3.csv")))
    val row = spark.read.parquet(rawOut)
      .select("temperature", "humidity").as[(Double, Double)].head()
    assert(row === ((26.41, 0.95)))
  }

  test("a reordered-or-extended header is re-read by column NAME, " +
    "never misparsed positionally (pandas name-mapping parity)") {
    val root = tmp("graft_remap")
    val conf = mkConf(root)
    val dataDir = Files.createDirectories(root.resolve("data"))
    val rawOut = root.resolve("raw").toString
    val aggOut = root.resolve("agg").toString
    // temperature and humidity SWAPPED, plus an extra trailing column
    // and RFC-4180 quoted names — valid for the reference's pandas,
    // value-corrupting under a positional schema read
    Files.writeString(dataDir.resolve("swapped.csv"),
      "\"timestamp\",sensor_id,humidity,temperature,pressure,extra\n" +
        "2025-05-26 04:36:08,S1,0.95,26.41,1014.74,zzz\n")
    val q = Ingest.start(spark, conf, new ParquetSink(rawOut, aggOut))
    try { q.processAllAvailable() } finally q.stop()
    assert(Files.exists(root.resolve("processed/swapped.csv")))
    val row = spark.read.parquet(rawOut)
      .select("temperature", "humidity").as[(Double, Double)].head()
    assert(row === ((26.41, 0.95))) // by NAME: not swapped
  }

  test("header tokenizer is quote-aware: a quoted name containing a " +
    "comma is ONE token, and the file still routes correctly") {
    assert(Ingest.splitCsvLine("a,\"b,c\",d") === Some(Seq("a", "b,c", "d")))
    assert(Ingest.splitCsvLine("\"he said \"\"hi\"\"\",x") ===
      Some(Seq("he said \"hi\"", "x")))
    assert(Ingest.splitCsvLine("plain,tokens") === Some(Seq("plain", "tokens")))
    val root = tmp("graft_quoted_hdr")
    val conf = mkConf(root)
    val dataDir = Files.createDirectories(root.resolve("data"))
    val rawOut = root.resolve("raw").toString
    // extra column whose quoted name contains a comma: a raw split
    // would fragment it into two phantom tokens
    Files.writeString(dataDir.resolve("quoted.csv"),
      "timestamp,sensor_id,temperature,humidity,pressure,\"notes, extra\"\n" +
        "2025-05-26 04:36:08,S1,26.41,0.95,1014.74,\"z,z\"\n")
    val q = Ingest.start(spark, conf,
      new ParquetSink(rawOut, root.resolve("agg").toString))
    try { q.processAllAvailable() } finally q.stop()
    assert(Files.exists(root.resolve("processed/quoted.csv")))
    val row = spark.read.parquet(rawOut)
      .select("temperature", "humidity").as[(Double, Double)].head()
    assert(row === ((26.41, 0.95)))
  }

  test("splitCsvLine round-trips RFC-4180 encoding on randomized fields") {
    val rnd = new scala.util.Random(20260814L)
    val alphabet = "ab,\"x \t_".toCharArray
    def encode(f: String): String =
      if (f.exists(c => c == ',' || c == '"')) {
        "\"" + f.replace("\"", "\"\"") + "\""
      } else f
    for (_ <- 1 to 500) {
      val fields = Seq.fill(1 + rnd.nextInt(6))(
        String.valueOf(Array.fill(rnd.nextInt(8))(
          alphabet(rnd.nextInt(alphabet.length)))))
      val line = fields.map(encode).mkString(",")
      assert(Ingest.splitCsvLine(line) === Some(fields), s"line=<$line>")
    }
  }

  test("splitCsvLine flags malformed quoting instead of guessing tokens") {
    // unterminated quote
    assert(Ingest.splitCsvLine("timestamp,\"sensor_id") === None)
    // quote opening mid-field
    assert(Ingest.splitCsvLine("time\"stamp,x") === None)
    // text after a closing quote
    assert(Ingest.splitCsvLine("\"a\"b,x") === None)
    // adjacent quoted fields without a separator
    assert(Ingest.splitCsvLine("\"a\"\"b\",x") === Some(Seq("a\"b", "x")))
    assert(Ingest.splitCsvLine("\"a\",\"b\"") === Some(Seq("a", "b")))
  }

  test("a file with malformed header quoting quarantines with the " +
    "malformed-quoting reason (never best-effort tokens)") {
    val root = tmp("graft_malformed_hdr")
    val conf = mkConf(root)
    val dataDir = Files.createDirectories(root.resolve("data"))
    // unterminated quote in the header: a best-effort split would call
    // this remappable on tokens Spark's parser won't reproduce
    Files.writeString(dataDir.resolve("malformed.csv"),
      "timestamp,\"sensor_id,temperature,humidity,pressure\n" +
        "2025-05-26 04:36:08,S1,26.41,0.95,1014.74\n")
    writeCsv(dataDir, "fine.csv",
      "2025-05-26 04:36:08,S1,22.5,0.45,1013.25")
    val q = Ingest.start(spark, conf, new ParquetSink(
      root.resolve("raw").toString, root.resolve("agg").toString))
    try { q.processAllAvailable() } finally q.stop()
    assert(Files.exists(root.resolve("quarantine/malformed.csv")))
    assert(Files.exists(root.resolve("processed/fine.csv")))
    val log = Files.readString(root.resolve("quarantine/quarantine_log.txt"))
    assert(log.contains(
      "File: malformed.csv, Reason: Malformed header quoting. Quarantining."))
  }

  test("N clean files group-commit in ONE sink write per micro-batch") {
    val root = tmp("graft_groupcommit")
    val conf = mkConf(root)
    val dataDir = Files.createDirectories(root.resolve("data"))
    val rawOut = root.resolve("raw").toString
    val aggOut = root.resolve("agg").toString
    (1 to 5).foreach(i => writeCsv(dataDir, s"g$i.csv",
      s"2025-05-26 04:36:0$i,S$i,2$i.5,0.65,1013.25",
      s"2025-05-26 04:37:0$i,S$i,2$i.7,0.66,1013.50"))
    // two dirty files alongside prove quarantine routing stays per-file,
    // each naming its own CSV line
    writeCsv(dataDir, "dirty.csv",
      "2025-05-26 04:36:08,S9,abc,0.95,1014.74")
    writeCsv(dataDir, "dirty2.csv",
      "2025-05-26 04:36:08,S9,21.5,0.95,1014.74",
      "2025-05-26 04:36:09,S9,21.5,abc,1014.74")

    val writeAllCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    val perFileCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    val real = new ParquetSink(rawOut, aggOut)
    val counting = new graft.sink.BatchSink {
      override def write(f: String, raw: org.apache.spark.sql.DataFrame,
          agg: org.apache.spark.sql.DataFrame): Boolean = {
        perFileCalls.incrementAndGet(); real.write(f, raw, agg)
      }
      override def writeAll(names: Seq[String],
          raw: org.apache.spark.sql.DataFrame,
          agg: org.apache.spark.sql.DataFrame): Set[String] = {
        writeAllCalls.incrementAndGet(); real.writeAll(names, raw, agg)
      }
    }
    // Spark jobs per streaming query id; a last job tagged "drain"
    // arrives after every earlier event on the ordered listener bus
    val jobsByQuery = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
          .foreach(id => jobsByQuery.merge(id, 1, (a, b) => a + b))
        if (props.exists(_.getProperty("graft.test.drain") != null))
          drained.countDown()
      }
    }
    // Every plan the query runs, as its executed physical plan. Its
    // events share the ordered listener bus with the drain job above.
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlan]()
    val planListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = plans.add(qe.executedPlan)
    }
    spark.sparkContext.addSparkListener(listener)
    // registered before the query starts: its session is cloned at start
    spark.listenerManager.register(planListener)
    var queryId = ""
    // minPartitionNum = 1 packs every file of this small batch into ONE
    // input partition, so rows must be numbered per file, not per
    // partition
    try withConfs("spark.sql.files.minPartitionNum" -> "1") {
      val q = Ingest.start(spark, conf, counting)
      queryId = q.id.toString
      try { q.processAllAvailable() } finally q.stop()
      spark.sparkContext.setLocalProperty("graft.test.drain", "1")
      try spark.range(1).count()
      finally spark.sparkContext.setLocalProperty("graft.test.drain", null)
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(planListener)
    }

    // ONE group write drove all five files — never a per-file loop
    assert(writeAllCalls.get() === 1,
      s"expected 1 group write, got ${writeAllCalls.get()}")
    assert(perFileCalls.get() === 0,
      s"expected no per-file writes, got ${perFileCalls.get()}")
    // one validation pass lists and decides every file; the rest of the
    // batch is the group write
    assert(jobsByQuery.get(queryId) === Integer.valueOf(5),
      s"expected 5 jobs for the query, got ${jobsByQuery.get(queryId)}")
    // The batch is cached as rows: no plan scans a columnar table cache
    // (that cache costs its own building job and a decode per reader).
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.adaptive.TableCacheQueryStageExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    val seen = plans.asScala.toSeq.flatMap(planNodes)
    assert(seen.exists(_.isInstanceOf[DataWritingCommandExec]),
      "the canary saw none of the sink's writes")
    val columnar = seen.filter {
      case _: InMemoryTableScanExec | _: TableCacheQueryStageExec => true
      case _ => false
    }.map(_.nodeName)
    assert(columnar.isEmpty,
      s"columnar cache nodes in the ingest plans: $columnar")
    (1 to 5).foreach(i =>
      assert(Files.exists(root.resolve(s"processed/g$i.csv"))))
    assert(Files.exists(root.resolve("quarantine/dirty.csv")))
    assert(Files.exists(root.resolve("quarantine/dirty2.csv")))
    val log = Files.readString(root.resolve("quarantine/quarantine_log.txt"))
    assert(log.contains("File: dirty.csv, Reason: Validation failed at " +
      "row 2: Row 2: 'temperature' ('abc') is not a valid number."), log)
    assert(log.contains("File: dirty2.csv, Reason: Validation failed at " +
      "row 3: Row 3: 'humidity' ('abc') is not a valid number."), log)
    // per-file lineage survives the group write
    val raw = spark.read.parquet(rawOut)
    assert(raw.count() === 10)
    assert(raw.groupBy("file_name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ===
      (1 to 5).map(i => s"g$i.csv" -> 2L).toMap)
    val agg = spark.read.parquet(aggOut)
    assert(agg.count() === 15) // 5 files x 1 sensor x 3 metrics
    assert(agg.select("file_name").distinct().count() === 5)
  }

  test("each batch's row cache is released after a clean drain and " +
    "after a sink-failed one: no persisted RDD or cached table outlives it") {
    val cacheManager = spark
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.size
    var whileWriting = -1
    def drain(name: String, sink: graft.sink.BatchSink): Path = {
      val root = tmp(s"graft_cache_$name")
      writeCsv(Files.createDirectories(root.resolve("data")), s"$name.csv",
        "2025-05-26 04:36:08,S1,26.41,0.95,1014.74",
        "2025-05-26 04:36:09,S1,abc,0.95,1014.74")
      val q = Ingest.start(spark, mkConf(root).copy(strictMode = false), sink)
      try {
        q.processAllAvailable()
        assert(spark.sparkContext.getPersistentRDDs.size === before,
          spark.sparkContext.getPersistentRDDs)
        assert(cacheManager.isEmpty)
      } finally q.stop()
      root
    }

    val clean = drain("clean", new ParquetSink(
      tmp("graft_cache_raw").toString, tmp("graft_cache_agg").toString))
    assert(Files.exists(clean.resolve("processed/clean.csv")))

    // the sink reads both frames from the cache, then reports failure
    val failed = drain("failed", new graft.sink.BatchSink {
      override def write(f: String, raw: org.apache.spark.sql.DataFrame,
          agg: org.apache.spark.sql.DataFrame): Boolean = false
      override def writeAll(names: Seq[String],
          raw: org.apache.spark.sql.DataFrame,
          agg: org.apache.spark.sql.DataFrame): Set[String] = {
        raw.count(); agg.count()
        whileWriting = spark.sparkContext.getPersistentRDDs.size
        names.toSet
      }
    })
    assert(whileWriting === before + 1) // the batch was cached meanwhile
    assert(Files.exists(failed.resolve("data/failed.csv")))
    assert(Files.exists(failed.resolve("checkpoint/graft-retry/failed.csv")))
  }

  test("a restarted stream compiles no generated class on its second drain") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // Two directories of the same shape, each drained by its own query
    // with a fresh checkpoint: the same file count keeps the commit
    // filter's `isin` planned alike, so only the session a batch job
    // runs in could make the second drain compile again.
    def drain(name: String): Unit = {
      val root = tmp(s"graft_codegen_$name")
      val dataDir = Files.createDirectories(root.resolve("data"))
      (1 to 3).foreach(i => writeCsv(dataDir, s"$name$i.csv",
        s"2025-05-26 04:36:0$i,S$i,2$i.5,0.65,1013.25",
        s"2025-05-26 04:37:0$i,S$i,abc,0.66,1013.50"))
      val q = Ingest.start(spark, mkConf(root).copy(strictMode = false),
        new ParquetSink(root.resolve("raw").toString,
          root.resolve("agg").toString))
      try q.processAllAvailable() finally q.stop()
      (1 to 3).foreach(i =>
        assert(Files.exists(root.resolve(s"processed/$name$i.csv"))))
    }
    drain("first")
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    drain("second")
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiles)
  }

  test("each field is parsed once: the raw table equals castTyped over " +
    "the valid rows, and the reasons quote the raw strings") {
    import org.apache.spark.sql.functions.col
    import graft.ops.{Cleanse, Validate}
    import graft.schema.Schemas
    // all six Cleanse.timestampFormats, NA tokens, non-numeric and
    // out-of-range values; lines 2, 3, 5, 6, 8 and 9 are valid
    val lines = Seq(
      "2025-05-26 04:36:01,S1,26.41,0.95,1014.74",
      "2025-05-26 04:36:02.123456,S1,-50,0.2,980",
      "not-a-time,NULL,abc,1.50,n/a",
      "2025-05-26T04:36:03,S2,50,0.99,1050.0",
      "2025-05-26T04:36:04.500+02:00,S2, 21.5 ,0.5,1001",
      "2025-05-26 04:36:05.250 +0100,S3,75.00,0.5,1001",
      "2025-05-27,S3,-10,0.5,1001",
      "2025-05-26 04:36:05.250 +0100,S3,1e1,0.5,1001",
      "2025-05-26T04:36:04.500+02:00,S4,NaN,0.5,5000",
      "#N/A,S4,10,0.5,1000",
      "2025-05-26 04:36:06,  NA ,10,0.5,1000",
      "2025-05-26 04:36:07,S5,Infinity,0.5,1000")
    val reason = "Validation failed at row 4: " +
      "Row 4: 'sensor_id' is null.; " +
      "Row 4: 'timestamp' ('not-a-time') is unparsable.; " +
      "Row 4: 'temperature' ('abc') is not a valid number.; " +
      "Row 4: 'humidity' (1.5) out of range [0.2, 0.99].; " +
      "Row 4: 'pressure' is null."

    val root = tmp("graft_parse_once")
    val conf = mkConf(root).copy(strictMode = false)
    writeCsv(Files.createDirectories(root.resolve("data")), "parse.csv",
      lines: _*)
    val rawOut = root.resolve("raw").toString
    val logs = capturingLogs {
      val q = Ingest.start(spark, conf,
        new ParquetSink(rawOut, root.resolve("agg").toString))
      try q.processAllAvailable() finally q.stop()
    }
    assert(logs.contains(
      "File 'parse.csv': Validation complete. 6 valid rows out of 12."), logs)
    assert(logs.contains(
      s"File 'parse.csv': Summary of row-level issues: $reason"), logs)

    // the old path: validity from the error strings, then the bulk cast
    val file = root.resolve("processed/parse.csv").toString
    val strings = spark.read.option("header", "true")
      .schema(Schemas.sensorCsvRaw).csv(file)
    val normalized = Schemas.sensorColumns.foldLeft(strings)((d, c) =>
      d.withColumn(c, Cleanse.naNormalize(col(c))))
    val expected = graft.ops.CleanseReference.castTyped(normalized
      .filter(Validate.fieldErrors(conf).map(_.isNull).reduce(_ && _)))
    val actual = spark.read.parquet(rawOut).drop("file_name")
    def types(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => f.name -> f.dataType).toSeq
    assert(types(actual) === types(expected))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(rows(actual).size === 6)
    assert(rows(actual) === rows(expected))

    // strict: the same content quarantines with the same reason
    val strictRoot = tmp("graft_parse_once_strict")
    writeCsv(Files.createDirectories(strictRoot.resolve("data")), "parse.csv",
      lines: _*)
    val q = Ingest.start(spark, mkConf(strictRoot), new ParquetSink(
      strictRoot.resolve("raw").toString, strictRoot.resolve("agg").toString))
    try q.processAllAvailable() finally q.stop()
    val qlog = Files.readString(
      strictRoot.resolve("quarantine/quarantine_log.txt"))
    assert(qlog.contains(s"File: parse.csv, Reason: $reason\n"), qlog)
  }

  test("a file several times larger than maxPartitionBytes is read " +
    "whole: strict quarantines it and lenient processes it, both " +
    "naming the bad row's true CSV line") {
    withTinySplits {
      // ~8 KB, four times the split size; the bad record is CSV line 191
      val rows = (1 to 200).map(i =>
        if (i == 190) "2025-05-26 04:10:08,S1,abc,0.65,1013.25"
        else f"2025-05-26 04:${i % 60}%02d:08,S${i % 5},25.5,0.65,1013.25")
      val expected = "Validation failed at row 191: " +
        "Row 191: 'temperature' ('abc') is not a valid number."
      Seq(true, false).foreach { strict =>
        val root = tmp("graft_bigfile")
        val conf = mkConf(root).copy(strictMode = strict)
        val dataDir = Files.createDirectories(root.resolve("data"))
        writeCsv(dataDir, "big.csv", rows: _*)
        val logs = capturingLogs {
          val q = Ingest.start(spark, conf, new ParquetSink(
            root.resolve("raw").toString, root.resolve("agg").toString))
          try q.processAllAvailable() finally q.stop()
        }
        if (strict) {
          assert(Files.exists(root.resolve("quarantine/big.csv")))
          val log = Files.readString(
            root.resolve("quarantine/quarantine_log.txt"))
          assert(log.contains(s"File: big.csv, Reason: $expected"), log)
        } else {
          assert(Files.exists(root.resolve("processed/big.csv")))
          assert(spark.read.parquet(root.resolve("raw").toString)
            .count() === 199)
          assert(logs.contains(
            s"File 'big.csv': Summary of row-level issues: $expected"), logs)
        }
      }
    }
  }

  test("a quoted field spanning lines is ONE record: the strict " +
    "quarantine names the reference's record-based row number") {
    val root = tmp("graft_multiline")
    val conf = mkConf(root)
    val dataDir = Files.createDirectories(root.resolve("data"))
    // record 1 (row 2) spans CSV lines 2-3; record 2 (row 3) is invalid
    Files.writeString(dataDir.resolve("nl.csv"),
      "timestamp,sensor_id,temperature,humidity,pressure\n" +
        "2025-05-26 04:36:08,\"S\n1\",26.41,0.95,1014.74\n" +
        "2025-05-26 04:37:08,S1,abc,0.95,1014.74\n")
    val q = Ingest.start(spark, conf, new ParquetSink(
      root.resolve("raw").toString, root.resolve("agg").toString))
    try q.processAllAvailable() finally q.stop()
    assert(Files.exists(root.resolve("quarantine/nl.csv")))
    val log = Files.readString(root.resolve("quarantine/quarantine_log.txt"))
    assert(log.contains("File: nl.csv, Reason: Validation failed at row 3: " +
      "Row 3: 'temperature' ('abc') is not a valid number."), log)
  }

  test("retryPending defers markers for files the current batch lists " +
    "(replay window: retry must not move a file out from under the batch)") {
    val root = tmp("graft_retry_excl")
    val conf = mkConf(root)
    val dataDir = Files.createDirectories(root.resolve("data"))
    writeCsv(dataDir, "x.csv",
      "2025-05-26 04:36:08,S1,26.41,0.95,1014.74")
    // simulate a prior trigger's sink failure: marker exists, file in data/
    val ledger = Files.createDirectories(
      Paths.get(conf.checkpointDir, "graft-retry"))
    Files.createFile(ledger.resolve("x.csv"))
    val sink = new ParquetSink(
      root.resolve("raw").toString, root.resolve("agg").toString)
    // excluded: the marker survives untouched and the file stays put
    val deferred = Ingest.retryPending(spark, conf, sink,
      exclude = Set("x.csv"))
    assert(deferred.isEmpty)
    assert(Files.exists(ledger.resolve("x.csv")))
    assert(Files.exists(dataDir.resolve("x.csv")))
    // not excluded: the retry drives it to completion and clears the marker
    val driven = Ingest.retryPending(spark, conf, sink)
    assert(driven.map(_.status) === Seq("processed"))
    assert(!Files.exists(ledger.resolve("x.csv")))
    assert(Files.exists(root.resolve("processed/x.csv")))
  }

  test("a batch that aborts AFTER recording a sink-failure marker " +
    "converges on restart: the startup retry commits the file and the " +
    "replayed batch tolerates its absence") {
    val root = tmp("graft_replay_window")
    val conf = mkConf(root)
    val dataDir = Files.createDirectories(root.resolve("data"))
    val rawOut = root.resolve("raw").toString
    val aggOut = root.resolve("agg").toString
    writeCsv(dataDir, "x.csv",
      "2025-05-26 04:36:08,S1,26.41,0.95,1014.74")
    @volatile var failSink = true
    val flaky = new graft.sink.BatchSink {
      val real = new ParquetSink(rawOut, aggOut)
      override def write(f: String, raw: org.apache.spark.sql.DataFrame,
          agg: org.apache.spark.sql.DataFrame): Boolean =
        if (failSink) false else real.write(f, raw, agg)
      override def writeAll(names: Seq[String],
          raw: org.apache.spark.sql.DataFrame,
          agg: org.apache.spark.sql.DataFrame): Set[String] =
        if (failSink) names.toSet else real.writeAll(names, raw, agg)
    }
    // the batch records the retry marker for x.csv, then an observer
    // crash aborts the trigger BEFORE the checkpoint commits — the
    // worst-case ordering for the replay window
    @volatile var boom = true
    val q1 = Ingest.start(spark, conf, flaky, onBatch = o =>
      if (boom && o.nonEmpty) { boom = false; throw new RuntimeException("observer crash") })
    intercept[Exception] { q1.processAllAvailable() }
    q1.stop()
    assert(Files.exists(dataDir.resolve("x.csv")))
    assert(Files.exists(
      Paths.get(conf.checkpointDir, "graft-retry", "x.csv")))

    // restart, sink healthy: the STARTUP retry pass re-drives x.csv and
    // moves it to processed/ — then the replayed batch 0 still lists a
    // file that no longer exists, which must scan as empty, not wedge
    // the stream forever
    failSink = false
    val q2 = Ingest.start(spark, conf, flaky)
    try { q2.processAllAvailable() } finally q2.stop()
    assert(Files.exists(root.resolve("processed/x.csv")))
    assert(!Files.exists(dataDir.resolve("x.csv")))
    assert(!Files.exists(
      Paths.get(conf.checkpointDir, "graft-retry", "x.csv")))
    assert(spark.read.parquet(rawOut).count() === 1)
    // and the stream still makes progress on new files
    writeCsv(dataDir, "y.csv",
      "2025-05-26 05:00:00,S2,21.00,0.50,1001.00")
    val q3 = Ingest.start(spark, conf, flaky)
    try { q3.processAllAvailable() } finally q3.stop()
    assert(Files.exists(root.resolve("processed/y.csv")))
    assert(spark.read.parquet(rawOut).count() === 2)
  }

  test("a replayed batch drives its ledgered file ONCE: the retry pass " +
    "skips the files the batch itself just drove") {
    val root = tmp("graft_replay_once")
    val conf = mkConf(root)
    val dataDir = Files.createDirectories(root.resolve("data"))
    writeCsv(dataDir, "x.csv",
      "2025-05-26 04:36:08,S1,26.41,0.95,1014.74")
    val calls = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val failing = new graft.sink.BatchSink {
      override def write(f: String, raw: org.apache.spark.sql.DataFrame,
          agg: org.apache.spark.sql.DataFrame): Boolean = false
      override def writeAll(names: Seq[String],
          raw: org.apache.spark.sql.DataFrame,
          agg: org.apache.spark.sql.DataFrame): Set[String] = {
        names.foreach(n => calls.merge(n, 1, (a, b) => a + b))
        names.toSet
      }
    }
    def drives: Int = Option(calls.get("x.csv")).fold(0)(_.intValue)
    // the batch records x.csv's marker, then an observer crash aborts
    // the trigger before the checkpoint commits it
    @volatile var boom = true
    val q1 = Ingest.start(spark, conf, failing, onBatch = o =>
      if (boom && o.nonEmpty) { boom = false; throw new RuntimeException("observer crash") })
    intercept[Exception] { q1.processAllAvailable() }
    q1.stop()
    assert(drives === 1)
    assert(Files.exists(Paths.get(conf.checkpointDir, "graft-retry", "x.csv")))

    // restart, sink still failing: the startup retry drives x.csv once,
    // then the replayed batch 0 re-lists it and drives it once more
    val q2 = Ingest.start(spark, conf, failing)
    try { q2.processAllAvailable() } finally q2.stop()
    assert(drives === 3, s"x.csv was driven $drives times, expected 3")
    assert(Files.exists(dataDir.resolve("x.csv")))
    assert(Files.exists(Paths.get(conf.checkpointDir, "graft-retry", "x.csv")))
  }

  test("file names with a space, '#', '%' and a non-ASCII letter route " +
    "under their names on disk: clean, dirty and remapped") {
    val root = tmp("graft_odd_names")
    val conf = mkConf(root)
    val dataDir = Files.createDirectories(root.resolve("data"))
    val rawOut = root.resolve("raw").toString
    // input_file_name() URL-encodes each (`a%20b%231%25x%20é.csv`)
    val (clean, dirty, remap) =
      ("a b#1%x é.csv", "d b#1%x é.csv", "r b#1%x é.csv")
    writeCsv(dataDir, clean, "2025-05-26 04:36:08,S1,22.5,0.45,1013.25")
    writeCsv(dataDir, dirty, "2025-05-26 04:36:08,S1,abc,0.45,1013.25")
    Files.writeString(dataDir.resolve(remap),
      "timestamp,sensor_id,humidity,temperature,pressure\n" +
        "2025-05-26 04:36:08,S2,0.95,26.41,1014.74\n")
    val logs = capturingLogs {
      val q = Ingest.start(spark, conf,
        new ParquetSink(rawOut, root.resolve("agg").toString))
      try q.processAllAvailable() finally q.stop()
    }
    assert(Files.exists(root.resolve("processed").resolve(clean)))
    assert(Files.exists(root.resolve("processed").resolve(remap)))
    assert(Files.exists(root.resolve("quarantine").resolve(dirty)))
    assert(logs.contains(s"Strict validation failed for '$dirty'. " +
      "Quarantining. Summary: Validation failed at row 2: Row 2: " +
      "'temperature' ('abc') is not a valid number."), logs)
    assert(spark.read.parquet(rawOut)
      .select("file_name", "temperature").as[(String, Double)]
      .collect().toSet === Set(clean -> 22.5, remap -> 26.41))
  }

  test("a remappable file whose by-name re-read fails is quarantined " +
    "with the failure reason — the stream survives (no crash loop)") {
    val root = tmp("graft_remap_fail")
    val conf = mkConf(root)
    val dataDir = Files.createDirectories(root.resolve("data"))
    // all required names present (so: remappable, not headerBad), but
    // 'temperature' DUPLICATED — Spark's by-name re-read cannot map it
    Files.writeString(dataDir.resolve("dup.csv"),
      "timestamp,sensor_id,temperature,temperature,humidity,pressure\n" +
        "2025-05-26 04:36:08,S1,26.41,26.42,0.95,1014.74\n")
    // a clean file alongside proves the batch is unharmed
    writeCsv(dataDir, "clean.csv",
      "2025-05-26 04:36:08,S1,22.5,0.45,1013.25")
    val q = Ingest.start(spark, conf, new ParquetSink(
      root.resolve("raw").toString, root.resolve("agg").toString))
    try { q.processAllAvailable() } finally q.stop()
    assert(Files.exists(root.resolve("quarantine/dup.csv")))
    assert(Files.exists(root.resolve("processed/clean.csv")))
    val log = root.resolve("quarantine/quarantine_log.txt")
    assert(Files.exists(log) &&
      Files.readString(log).contains("Header remap failed"))
  }

  test("a remappable file is re-read whole by name: processed and " +
    "numbered by record even where a line-mode read would split it") {
    withTinySplits {
      val root = tmp("graft_remap_split")
      val conf = mkConf(root).copy(strictMode = false)
      val dataDir = Files.createDirectories(root.resolve("data"))
      val rows = (1 to 60).map(i =>
        f"2025-05-26 04:${i % 60}%02d:08,S${i % 5},25.5,0.65,1013.25")
      // reordered header -> the remap path; the record at CSV line 56
      // carries a bad temperature
      Files.writeString(dataDir.resolve("bigremap.csv"),
        ("timestamp,sensor_id,humidity,temperature,pressure" +:
          rows.zipWithIndex.map { case (r, i) =>
            val c = r.split(",")
            val temp = if (i == 54) "abc" else c(2)
            Seq(c(0), c(1), c(3), temp, c(4)).mkString(",")
          }).mkString("", "\n", "\n"))
      (1 to 15).foreach(i => writeCsv(dataDir, s"pad$i.csv", rows: _*))
      val rawOut = root.resolve("raw").toString
      val logs = capturingLogs {
        val q = Ingest.start(spark, conf,
          new ParquetSink(rawOut, root.resolve("agg").toString))
        try q.processAllAvailable() finally q.stop()
      }
      assert(Files.exists(root.resolve("processed/bigremap.csv")))
      (1 to 15).foreach(i =>
        assert(Files.exists(root.resolve(s"processed/pad$i.csv"))))
      assert(logs.contains("File 'bigremap.csv': Summary of row-level " +
        "issues: Validation failed at row 56: Row 56: 'temperature' " +
        "('abc') is not a valid number."), logs)
      val remapped = spark.read.parquet(rawOut)
        .filter($"file_name" === "bigremap.csv")
        .select("temperature", "humidity").as[(Double, Double)].collect()
      assert(remapped.length === 59)
      assert(remapped.forall(_ == ((25.5, 0.65)))) // by NAME: not swapped
    }
  }
}
