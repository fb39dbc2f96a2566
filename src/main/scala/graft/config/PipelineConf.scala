package graft.config

/** Inclusive numeric validation range (reference: `config.ini:15-20`,
  * loaded at `pipeline.py:31-37`).
  */
final case class ValueRange(lo: Double, hi: Double) {
  require(lo <= hi, s"bad range [$lo, $hi]")
}

/** Typed pipeline configuration mirroring the reference's `config.ini`.
  *
  * The reference hardcodes DB credentials in `config.ini:9-12`; here
  * credentials come from the environment only and everything else is a
  * plain case class so tests can inject ranges (the config/code fallback
  * mismatch at `pipeline.py:34-35` is why ranges must be injectable).
  *
  * @param tempRange     temperature bounds (`config.ini:15-16`, −50..50)
  * @param humidityRange humidity bounds (`config.ini:17-18`, 0.20..0.99)
  * @param pressureRange pressure bounds (`config.ini:19-20`, 980..1050)
  * @param monitorIntervalSec streaming trigger interval
  *                           (`config.ini:6`, `pipeline.py:24`)
  * @param strictMode true = the reference's strict pipeline (ANY bad row
  *                   quarantines the whole file, `pipeline.py:161-165`);
  *                   false = the lenient variant evidenced in
  *                   `logs/pipeline.log` 2025-05-26 ("19 valid rows out
  *                   of 20" then commit): bad rows are dropped with a
  *                   logged summary and the valid subset is committed.
  * @param maxFilesPerTrigger backpressure cap on files per micro-batch.
  *                   None = Spark default (unbounded): a restart against
  *                   a large backlog ingests EVERYTHING in one batch —
  *                   at production scale that is one giant transactional
  *                   unit and one giant retry domain. Set to bound batch
  *                   size; the checkpoint drains the backlog across
  *                   triggers either way (T2/T3 unchanged).
  */
final case class PipelineConf(
    tempRange: ValueRange = ValueRange(-50.0, 50.0),
    humidityRange: ValueRange = ValueRange(0.20, 0.99),
    pressureRange: ValueRange = ValueRange(980.0, 1050.0),
    monitorIntervalSec: Int = 5,
    dataDir: String = "data",
    processedDir: String = "processed",
    quarantineDir: String = "quarantine",
    checkpointDir: String = "checkpoint",
    chunkRows: Int = 5000,
    strictMode: Boolean = true,
    maxFilesPerTrigger: Option[Int] = None,
)

object PipelineConf {
  /** JDBC settings come exclusively from the environment (never from a
    * checked-in config file). Returns None when unset → tests and the
    * lake-native mode run without any database.
    */
  def jdbcFromEnv(env: Map[String, String] = sys.env): Option[JdbcConf] =
    env.get("GRAFT_JDBC_URL").map { url =>
      JdbcConf(url, env.getOrElse("GRAFT_JDBC_USER", ""),
        env.getOrElse("GRAFT_JDBC_PASSWORD", ""))
    }
}

/** @param retries connection attempts before giving up
  *                 (`pipeline.py:59`, retry_count=3)
  * @param retryDelaySec backoff between attempts (`pipeline.py:59`,
  *                      delay=5; injectable so tests don't sleep)
  */
final case class JdbcConf(
    url: String, user: String, password: String,
    retries: Int = 3, retryDelaySec: Int = 5)
