package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{SparkEntry, Tables}
import graft.config.PipelineConf
import graft.sink.ParquetSink
import graft.stream.Ingest

/** One unit of a workload (an ingest drain or a pass over the query
  * list): its wall time and everything observed about it.
  */
final case class UnitResult(wall: Double, record: Map[String, Any])

/** Benchmark harness. Runs one workload through the program's public
  * entry points and writes what it observed to a JSON file; `run.py`
  * makes the inputs, launches this and turns the observations into
  * metrics and output checks.
  *
  * Arguments, each `key=value`: `workload`, `inputs` and `warm` (input
  * directories for the timed and the warm units), `work` (scratch
  * directory), `seconds`, `trace` (0 or 1), `out` (result file),
  * `cpus`, and for llm_ops `queries` (comma-separated).
  */
object Main {

  /** Successive warm units agree when their CPU times (JIT compiler
    * threads excluded) differ by at most this share of the larger one.
    */
  val WarmAgreement = 0.10

  /** Warm units run until they agree, but no fewer than `MinWarmUnits`
    * (the JIT compiler is still at work after the first few, and every
    * run should start timing at the same depth of it) and no more than
    * `MaxWarmUnits`.
    */
  val MinWarmUnits = 4
  val MaxWarmUnits = 5

  val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opt = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got '$a'")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val workload = opt("workload")
    val cpus = opt("cpus").toInt
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Files.createDirectories(Paths.get(opt("work")))

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.prepare(spark)
    val tracer = new Tracer(spark.sparkContext)

    val unit: (Int, Boolean) => UnitResult = workload match {
      case "ingest_bulk" =>
        val runner = new IngestRunner(spark, tracer, work)
        (i, warm) => runner.drain(
          Paths.get(if (warm) opt("warm") else opt("inputs")), i, check = !warm)
      case "llm_ops" =>
        val runner = new OpsRunner(spark, tracer)
        val queries = opt("queries").split(",").toSeq
        (_, warm) => runner.pass(if (warm) opt("warm") else opt("inputs"), queries)
      case other => sys.error(s"unknown workload '$other'")
    }

    // A unit with what the machine did while it ran.
    var unitIndex = 0
    def measured(warm: Boolean): (UnitResult, Host.Delta) = {
      val before = Host.counters()
      val u = unit(unitIndex, warm)
      unitIndex += 1
      (u, Host.delta(before, Host.counters()))
    }

    // Warm on the workload's own warm inputs until two successive
    // units agree; everything up to the first timed unit is set-up.
    val warmUnits = ArrayBuffer.empty[(Double, Double)]
    def agreed = warmUnits.size >= 2 && {
      val Seq(a, b) = warmUnits.takeRight(2).map(_._2).toSeq
      math.abs(a - b) <= WarmAgreement * math.max(a, b)
    }
    while ((warmUnits.size < MinWarmUnits || !agreed) &&
        warmUnits.size < MaxWarmUnits) {
      val (u, host) = measured(warm = true)
      warmUnits += u.wall -> host.workCpuNs / 1e9
    }
    val setupEnd = Clock.now()

    def timed(): Seq[Map[String, Any]] = {
      val t0 = System.nanoTime()
      val out = ArrayBuffer.empty[Map[String, Any]]
      while (out.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
        val (u, host) = measured(warm = false)
        out += u.record + ("host" -> host.toMap)
      }
      out.toSeq
    }

    val units = timed()
    // A traced run repeats the timed section with tracing on, so the
    // difference between the two sections is the tracing overhead.
    val (tracedUnits, jobs) =
      if (!trace) (Seq.empty, Seq.empty)
      else {
        val listener = new JobListener
        spark.sparkContext.addSparkListener(listener)
        tracer.on = true
        val traced = tracer.span("workload")(_ => timed())
        tracer.on = false
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        (traced, listener.records)
      }

    val result = Map(
      "workload" -> workload,
      "cpus" -> cpus,
      "setup_end" -> setupEnd,
      "warm_walls" -> warmUnits.map(_._1).toSeq,
      "warm_cpu" -> warmUnits.map(_._2).toSeq,
      "warm_agreed" -> agreed,
      "units" -> units,
      "traced_units" -> tracedUnits,
      "spans" -> tracer.spans.asScala.toSeq.sortBy(_.id),
      "jobs" -> jobs,
      "peak_rss_kb" -> peakRssKb())
    json.writeValue(Paths.get(opt("out")).toFile, result)
    spark.stop()
  }

  /** High-water resident set of this JVM; in local mode the driver and
    * executors share it.
    */
  def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** Order-insensitive fingerprint of a result: its row count and the
    * sum of a 64-bit hash of each row's columns taken in name order.
    * This is the action that runs the query.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.map(c => df.col("`" + c.replace("`", "``") + "`"))
    val row = df.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    (row.getLong(0), Option(row.get(1)).map(_.toString).getOrElse("0"))
  }

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  def listFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString)
      finally s.close()
    }
}

/** What the machine did around a unit: this process's CPU time, the
  * part of it the JIT compiler threads took, and the CPU time the
  * hypervisor gave to others while our CPUs wanted to run (`steal` in
  * /proc/stat), which slows a unit without showing in the program.
  *
  * The compiler threads are told apart by name in /proc/self/task; the
  * runner starts the JVM with a fixed set of them
  * (`-XX:-UseDynamicNumberOfCompilerThreads`), so none ends with its
  * CPU time uncounted.
  */
object Host {
  final case class Counters(processCpuNs: Long, jitCpuNs: Long,
      jiffies: Long, steal: Long)

  final case class Delta(processCpuNs: Long, jitCpuNs: Long, jiffies: Long,
      steal: Long) {
    /** CPU time of everything but the JIT compiler: driver, executors,
      * Spark's own threads and the garbage collector.
      */
    def workCpuNs: Long = processCpuNs - jitCpuNs
    def toMap: Map[String, Long] = Map("process_cpu_ns" -> processCpuNs,
      "jit_cpu_ns" -> jitCpuNs, "jiffies" -> jiffies, "steal" -> steal)
  }

  def isCompiler(comm: String): Boolean =
    comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre") ||
      comm.startsWith("Sweeper thread")

  /** CPU time (ns) of the JIT compiler threads, from their schedstat. */
  def jitCpuNs(): Long =
    Main.listFiles(Paths.get("/proc/self/task")).map { t =>
      try {
        if (!isCompiler(Files.readString(t.resolve("comm")).trim)) 0L
        else Files.readString(t.resolve("schedstat")).trim.split(" ")(0).toLong
      } catch { case NonFatal(_) => 0L } // the thread ended meanwhile
    }.sum

  def counters(): Counters = {
    val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      .split("\\s+").drop(1).map(_.toLong)
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    Counters(os.getProcessCpuTime, jitCpuNs(), cpu.take(8).sum, cpu(7))
  }

  def delta(a: Counters, b: Counters): Delta = Delta(
    b.processCpuNs - a.processCpuNs, b.jitCpuNs - a.jitCpuNs,
    b.jiffies - a.jiffies, b.steal - a.steal)
}

/** ingest_bulk through `Ingest.start` (lenient, as in the reference's
  * headline run) with a `ParquetSink` wrapped in a [[TimedSink]].
  */
final class IngestRunner(spark: SparkSession, tracer: Tracer, work: Path) {
  import Main.{listFiles, rmTree}

  private def csvs(dir: Path): Seq[Path] =
    listFiles(dir).filter(_.getFileName.toString.endsWith(".csv"))

  /** Every file is in `data/` before the query starts; the unit ends
    * when `processAllAvailable` returns. If `check`, what the query
    * left behind is read back afterwards (warm units skip the reads).
    */
  def drain(staged: Path, i: Int, check: Boolean): UnitResult = {
    val root = work.resolve(s"unit-$i")
    val data = Files.createDirectories(root.resolve("data"))
    csvs(staged).foreach(f => Files.copy(f, data.resolve(f.getFileName)))
    val conf = PipelineConf(
      dataDir = data.toString,
      processedDir = root.resolve("processed").toString,
      quarantineDir = root.resolve("quarantine").toString,
      checkpointDir = root.resolve("checkpoint").toString,
      monitorIntervalSec = 1,
      strictMode = false)
    val rawDir = root.resolve("raw")
    val aggDir = root.resolve("agg")
    val sink = new TimedSink(
      new ParquetSink(rawDir.toString, aggDir.toString), tracer)
    val batches = new ConcurrentLinkedQueue[(Long, Seq[Ingest.FileOutcome])]()
    Ingest.moveLoopNanos.set(0L)
    val (t0, t1, progress, unitSpan) = tracer.span("unit",
        attrs = Map("kind" -> "drain")) { unitSpan =>
      val t0 = Clock.now()
      val q = Ingest.start(spark, conf, sink,
        outcomes => batches.add(Clock.now() -> outcomes))
      try {
        q.processAllAvailable()
        (t0, Clock.now(), q.recentProgress.toSeq, unitSpan)
      } finally q.stop()
    }
    val moveNanos = Ingest.moveLoopNanos.get()
    // Triggers come from the query's progress reports. A trigger that
    // ran a batch has an `addBatch` time, and that batch ended at the
    // matching `onBatch` call, which the program makes last in it.
    val batchEnds = batches.asScala.toSeq.map(_._1).iterator
    progress.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp)
      val startNs = start.getEpochSecond * 1000000000L + start.getNano
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val trigger = tracer.record("trigger", startNs,
        startNs + d.getOrElse("triggerExecution", 0L) * 1000000L, unitSpan,
        Map("batch" -> p.batchId.toString))
      d.get("addBatch").filter(_ => batchEnds.hasNext).foreach { ms =>
        val end = batchEnds.next()
        tracer.record("add_batch", end - ms * 1000000L, end, trigger,
          Map("batch" -> p.batchId.toString))
      }
    }

    // Output checks, outside the timed window.
    val quarantine = root.resolve("quarantine")
    val logLines =
      if (!Files.exists(quarantine.resolve("quarantine_log.txt"))) 0
      else Files.readAllLines(quarantine.resolve("quarantine_log.txt")).size
    val sunkByFile: Map[String, Long] =
      if (!check || !Files.isDirectory(rawDir)) Map.empty
      else spark.read.parquet(rawDir.toString).groupBy("file_name").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val recordCount =
      if (!check || !Files.isDirectory(aggDir)) 0L
      else Option(spark.read.parquet(aggDir.toString)
        .agg(sum("record_count")).head().get(0))
        .map(_.toString.toLong).getOrElse(0L)
    val outputs = Seq(rawDir, aggDir).filter(Files.isDirectory(_)).flatMap { d =>
      val s = Files.walk(d)
      try s.iterator().asScala.filter(p =>
        Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
        .map(Files.size).toSeq
      finally s.close()
    }
    val record = Map(
      "start" -> t0, "end" -> t1, "wall_s" -> (t1 - t0) / 1e9,
      "batches" -> batches.asScala.toSeq.map { case (t, os) =>
        Map("t" -> t, "outcomes" -> os.map(o =>
          Map("file" -> o.file, "status" -> o.status, "rows" -> o.rows)))
      },
      "progress" -> progress.map { p =>
        Map("batch" -> p.batchId, "rows" -> p.numInputRows,
          "duration_ms" -> p.durationMs.asScala.map { case (k, v) =>
            k -> v.longValue }.toMap)
      },
      "move_ns" -> moveNanos,
      "sink_calls" -> sink.calls.get, "sink_ns" -> sink.nanos.get,
      "processed" -> listFiles(root.resolve("processed")).size,
      "quarantined" -> csvs(quarantine).size,
      "quarantine_log_lines" -> logLines,
      "sunk_rows" -> sunkByFile,
      "record_count_sum" -> recordCount,
      "output_files" -> outputs.size,
      "output_bytes" -> outputs.sum)
    rmTree(root)
    UnitResult((t1 - t0) / 1e9, record)
  }
}

/** One pass over the `llm_ops` query list through `SparkEntry.queries`:
  * build (the call that returns the DataFrame, including its eager
  * jobs), then run (one action that also fingerprints the result).
  */
final class OpsRunner(spark: SparkSession, tracer: Tracer) {

  def pass(dir: String, queries: Seq[String]): UnitResult = {
    val (t0, records) = tracer.span("unit", attrs = Map("kind" -> "pass")) { u =>
      val t0 = Clock.now()
      (t0, queries.map { q =>
        // Each query pays for its own caches: nothing a previous query
        // cached or memoized carries over.
        spark.catalog.clearCache()
        SparkEntry.clearCorpusSizeCache()
        val b0 = Clock.now()
        var b1 = 0L
        val result = tracer.span("query", u, Map("query" -> q)) { qs =>
          try {
            val df = tracer.span("build", qs)(_ =>
              SparkEntry.queries(q)(spark, dir))
            b1 = Clock.now()
            Right(tracer.span("run", qs)(_ => Main.fingerprint(df)))
          } catch { case NonFatal(e) => Left(e.toString) }
        }
        val r1 = Clock.now()
        if (b1 == 0L) b1 = r1
        Map("query" -> q, "build_s" -> (b1 - b0) / 1e9,
          "run_s" -> (r1 - b1) / 1e9,
          "rows" -> result.map(_._1).getOrElse(-1L),
          "hash" -> result.map(_._2).getOrElse(""),
          "error" -> result.left.toOption)
      })
    }
    val t1 = Clock.now()
    UnitResult((t1 - t0) / 1e9, Map("start" -> t0, "end" -> t1,
      "wall_s" -> (t1 - t0) / 1e9, "queries" -> records))
  }
}
