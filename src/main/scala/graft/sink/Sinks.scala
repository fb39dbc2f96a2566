package graft.sink

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.config.JdbcConf

/** K1-K3: per-file transactional sink abstraction.
  *
  * The reference writes raw rows + aggregates in ONE MySQL transaction
  * per file and relies on `INSERT … ON DUPLICATE KEY UPDATE` for the
  * aggregate upsert (`pipeline.py:211-261`). A failed write leaves the
  * file in `data/` for retry (`pipeline.py:326-328`) — so the sink must
  * be idempotent under replay: raw rows are delete-by-file-then-insert
  * (the `file_name` lineage column makes that cheap), aggregates are a
  * native upsert on the unique key.
  */
trait BatchSink {
  /** Write one file's raw rows and aggregates atomically.
    * @return true on commit; false leaves the file for retry. */
  def write(fileName: String, raw: DataFrame, agg: DataFrame): Boolean

  /** Group-commit: write MANY files' rows and aggregates in one pass.
    * Both frames carry a `file_name` column mapping every row to its
    * source file. Returns the file names that FAILED (empty = all
    * committed) — per-file failure isolation survives grouping because
    * every sink write is per-file idempotent, so a failed subset can be
    * replayed alone later.
    *
    * Default: per-file delegation to [[write]] (the reference's
    * one-transaction-per-file contract, K3 — right for JDBC, where the
    * transaction boundary IS the semantics). Sinks whose commit is a
    * Spark job should override with ONE partitioned write: at scale the
    * default serializes O(files) job submissions on the driver per
    * micro-batch.
    */
  def writeAll(fileNames: Seq[String], raw: DataFrame, agg: DataFrame)
      : Set[String] =
    fileNames.filterNot { name =>
      write(name,
        raw.filter(col("file_name") === name).drop("file_name"),
        agg.filter(col("file_name") === name).drop("file_name"))
    }.toSet
}

/** Lake-native sink for tests/CI: parquet appends keyed by file_name.
  * Idempotency comes from dynamic partition overwrite on the lineage
  * column — a replayed file replaces exactly its own partition, the
  * parquet analog of delete-by-file-then-insert.
  */
final class ParquetSink(rawDir: String, aggDir: String) extends BatchSink {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[ParquetSink])

  /** One file is a one-file group commit: [[writeAll]] with the file's
    * name as the `file_name` lineage column.
    */
  override def write(fileName: String, raw: DataFrame, agg: DataFrame): Boolean =
    writeAll(Seq(fileName), raw.withColumn("file_name", lit(fileName)),
      agg.withColumn("file_name", lit(fileName))).isEmpty

  /** Group-commit override: ONE dynamic-partition-overwrite write per
    * table for the whole batch, regardless of file count — the lake
    * path's scale shape (the per-file default would issue two Spark
    * jobs per clean file, serialized on the driver). Each file is still
    * exactly its own `file_name=` partition, so a replayed subset
    * overwrites only itself; a failure reports EVERY file failed and
    * the replay (idempotent) converges.
    */
  override def writeAll(fileNames: Seq[String], raw: DataFrame,
      agg: DataFrame): Set[String] =
    try {
      // Writer-scoped option, NOT spark.conf.set: mutating the
      // session-global partitionOverwriteMode would silently change
      // every later partitioned overwrite in the session (stale
      // partitions surviving where the caller expected a full wipe).
      raw.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("file_name").parquet(rawDir)
      agg.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("file_name").parquet(aggDir)
      Set.empty
    } catch {
      case e: Exception =>
        log.error(
          s"Parquet sink group write failed for ${fileNames.size} file(s)", e)
        fileNames.toSet
    }
}

/** JDBC sink reproducing the reference's store_data
  * (`pipeline.py:211-261`): executemany-style batched statements, one
  * transaction per file, rollback on error.
  *
  * Dialects (inferred from the url): `mysql` (reference parity —
  * `INSERT … ON DUPLICATE KEY UPDATE`) and `derby` (embedded Apache
  * Derby: quoted `"timestamp"` identifier, update-then-insert upsert
  * inside the same transaction). Derby is what lets the WHOLE
  * transactional path — bootstrap DDL, delete-by-file replay, batched
  * inserts, upsert, rollback-on-violation — run against a REAL
  * database in-process in CI, where MySQL itself is unavailable.
  *
  * Scale note: rows are collected per file partition via
  * `toLocalIterator` batches on the driver only because the reference's
  * contract is one transaction per file; the lake-native path
  * ([[ParquetSink]]) is the 100 TB path, JDBC is the compatibility exit.
  */
final class JdbcSink(conf: JdbcConf) extends BatchSink {

  private val derby = conf.url.startsWith("jdbc:derby")

  private val log = org.slf4j.LoggerFactory.getLogger("graft.sink.JdbcSink")

  /** Connection retry ×`conf.retries` with `conf.retryDelaySec` backoff,
    * mirroring the reference's `get_db_connection(retry_count=3,
    * delay=5)` (`pipeline.py:59-83`) including its log lines. Returns
    * null after the final attempt — the caller then reports a sink
    * failure and the file stays in data/ for the next trigger.
    */
  private[sink] def connectWithRetry(): java.sql.Connection = {
    var attempt = 0
    while (attempt < conf.retries) {
      try {
        val conn = java.sql.DriverManager.getConnection(
          conf.url, conf.user, conf.password)
        log.info("Successfully connected to database.")
        return conn
      } catch {
        case e: Exception =>
          log.error(s"Database connection failed " +
            s"(attempt ${attempt + 1}/${conf.retries}): ${e.getMessage}")
          attempt += 1
          if (attempt < conf.retries) {
            log.info(s"Retrying in ${conf.retryDelaySec} seconds...")
            Thread.sleep(conf.retryDelaySec * 1000L)
          } else {
            log.error("Max retry attempts reached for DB connection.")
          }
      }
    }
    null
  }

  private[sink] val upsertSql =
    """INSERT INTO aggregated_sensor_data
      |(sensor_id, file_name, aggregation_time, metric_name, min_value,
      | max_value, avg_value, std_dev_value, record_count)
      |VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?)
      |ON DUPLICATE KEY UPDATE
      |  min_value=VALUES(min_value), max_value=VALUES(max_value),
      |  avg_value=VALUES(avg_value), std_dev_value=VALUES(std_dev_value),
      |  record_count=VALUES(record_count), processed_at=NOW()""".stripMargin

  // Derby upsert: UPDATE, then INSERT the misses — same observable
  // effect as the MySQL single statement inside the per-file txn.
  private val derbyUpdateSql =
    """UPDATE aggregated_sensor_data SET
      |  min_value=?, max_value=?, avg_value=?, std_dev_value=?,
      |  record_count=?, processed_at=CURRENT_TIMESTAMP
      |WHERE sensor_id=? AND file_name=? AND metric_name=?
      |  AND aggregation_time=?""".stripMargin
  private val derbyInsertSql =
    """INSERT INTO aggregated_sensor_data
      |(sensor_id, file_name, aggregation_time, metric_name, min_value,
      | max_value, avg_value, std_dev_value, record_count)
      |VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?)""".stripMargin

  private[sink] val rawSql =
    if (derby)
      """INSERT INTO raw_sensor_data
        |(sensor_id, "timestamp", temperature, humidity, pressure, file_name)
        |VALUES (?, ?, ?, ?, ?, ?)""".stripMargin
    else
      """INSERT INTO raw_sensor_data
        |(sensor_id, timestamp, temperature, humidity, pressure, file_name)
        |VALUES (?, ?, ?, ?, ?, ?)""".stripMargin

  override def write(fileName: String, raw: DataFrame, agg: DataFrame): Boolean = {
    var conn: java.sql.Connection = null
    try {
      conn = connectWithRetry()
      if (conn == null) return false
      conn.setAutoCommit(false)
      // idempotent replay: remove any previous attempt for this file
      val del = conn.prepareStatement(
        "DELETE FROM raw_sensor_data WHERE file_name = ?")
      del.setString(1, fileName)
      del.executeUpdate()

      val rawPs = conn.prepareStatement(rawSql)
      raw.toLocalIterator().forEachRemaining { r =>
        rawPs.setString(1, r.getAs[String]("sensor_id"))
        rawPs.setTimestamp(2, r.getAs[java.sql.Timestamp]("timestamp"))
        Seq("temperature", "humidity", "pressure").zipWithIndex.foreach {
          case (c, i) =>
            val v = r.getAs[Any](c)
            if (v == null) rawPs.setNull(3 + i, java.sql.Types.DOUBLE)
            else rawPs.setDouble(3 + i, v.asInstanceOf[Double])
        }
        rawPs.setString(6, fileName)
        rawPs.addBatch()
      }
      rawPs.executeBatch()

      if (derby) {
        val upd = conn.prepareStatement(derbyUpdateSql)
        val ins = conn.prepareStatement(derbyInsertSql)
        agg.toLocalIterator().forEachRemaining { r =>
          upd.setDouble(1, r.getAs[Double]("min_value"))
          upd.setDouble(2, r.getAs[Double]("max_value"))
          upd.setDouble(3, r.getAs[Double]("avg_value"))
          upd.setDouble(4, r.getAs[Double]("std_dev_value"))
          upd.setLong(5, r.getAs[Long]("record_count"))
          upd.setString(6, r.getAs[String]("sensor_id"))
          upd.setString(7, fileName)
          upd.setString(8, r.getAs[String]("metric_name"))
          upd.setTimestamp(9, r.getAs[java.sql.Timestamp]("aggregation_time"))
          if (upd.executeUpdate() == 0) {
            ins.setString(1, r.getAs[String]("sensor_id"))
            ins.setString(2, fileName)
            ins.setTimestamp(3, r.getAs[java.sql.Timestamp]("aggregation_time"))
            ins.setString(4, r.getAs[String]("metric_name"))
            ins.setDouble(5, r.getAs[Double]("min_value"))
            ins.setDouble(6, r.getAs[Double]("max_value"))
            ins.setDouble(7, r.getAs[Double]("avg_value"))
            ins.setDouble(8, r.getAs[Double]("std_dev_value"))
            ins.setLong(9, r.getAs[Long]("record_count"))
            ins.executeUpdate()
          }
        }
      } else {
        val aggPs = conn.prepareStatement(upsertSql)
        agg.toLocalIterator().forEachRemaining { r =>
          aggPs.setString(1, r.getAs[String]("sensor_id"))
          aggPs.setString(2, fileName)
          aggPs.setTimestamp(3, r.getAs[java.sql.Timestamp]("aggregation_time"))
          aggPs.setString(4, r.getAs[String]("metric_name"))
          aggPs.setDouble(5, r.getAs[Double]("min_value"))
          aggPs.setDouble(6, r.getAs[Double]("max_value"))
          aggPs.setDouble(7, r.getAs[Double]("avg_value"))
          aggPs.setDouble(8, r.getAs[Double]("std_dev_value"))
          aggPs.setLong(9, r.getAs[Long]("record_count"))
          aggPs.addBatch()
        }
        aggPs.executeBatch()
      }
      conn.commit()
      true
    } catch {
      case e: Exception =>
        // The exception must reach the run log: without it an operator
        // cannot distinguish a dead DB from a schema mismatch from a
        // constraint violation — the reference logs the DB error too
        // (`pipeline.py:259-261`).
        log.error(s"DB transaction failed for '$fileName' " +
          s"(rolling back): ${e.getMessage}", e)
        if (conn != null) { try conn.rollback() catch { case _: Exception => } }
        false
    } finally {
      if (conn != null) { try conn.close() catch { case _: Exception => } }
    }
  }
}

/** DDL bootstrap mirroring `setup_database_in_mysql.py:58-103` (run once
  * against MySQL; the lake-native mode needs no DDL).
  */
object JdbcBootstrap {
  val rawTableDdl: String =
    """CREATE TABLE IF NOT EXISTS raw_sensor_data (
      |  id INT AUTO_INCREMENT PRIMARY KEY,
      |  sensor_id VARCHAR(255) NOT NULL,
      |  timestamp DATETIME NOT NULL,
      |  temperature FLOAT, humidity FLOAT, pressure FLOAT,
      |  file_name VARCHAR(255),
      |  processed_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP,
      |  INDEX idx_sensor_id (sensor_id),
      |  INDEX idx_timestamp (timestamp),
      |  INDEX idx_file_name (file_name))""".stripMargin

  val aggTableDdl: String =
    """CREATE TABLE IF NOT EXISTS aggregated_sensor_data (
      |  id INT AUTO_INCREMENT PRIMARY KEY,
      |  sensor_id VARCHAR(255) NOT NULL,
      |  file_name VARCHAR(255),
      |  aggregation_time DATETIME,
      |  metric_name VARCHAR(50),
      |  min_value FLOAT, max_value FLOAT, avg_value FLOAT,
      |  std_dev_value FLOAT, record_count INT,
      |  processed_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP
      |    ON UPDATE CURRENT_TIMESTAMP,
      |  UNIQUE KEY uq_agg (sensor_id, file_name, metric_name, aggregation_time))""".stripMargin

  /** Derby-dialect DDL: identity columns instead of AUTO_INCREMENT,
    * quoted `"timestamp"` (reserved word), standalone CREATE INDEX,
    * a table-level UNIQUE constraint (whose columns Derby requires
    * NOT NULL — the sink always writes them), and no `IF NOT EXISTS`
    * (Derby lacks it — [[run]] swallows SQLState X0Y32 instead).
    */
  val derbyDdl: Seq[String] = Seq(
    """CREATE TABLE raw_sensor_data (
      |  id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
      |  sensor_id VARCHAR(255) NOT NULL,
      |  "timestamp" TIMESTAMP NOT NULL,
      |  temperature DOUBLE, humidity DOUBLE, pressure DOUBLE,
      |  file_name VARCHAR(255),
      |  processed_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP)""".stripMargin,
    "CREATE INDEX idx_raw_sensor_id ON raw_sensor_data (sensor_id)",
    "CREATE INDEX idx_raw_timestamp ON raw_sensor_data (\"timestamp\")",
    "CREATE INDEX idx_raw_file_name ON raw_sensor_data (file_name)",
    """CREATE TABLE aggregated_sensor_data (
      |  id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
      |  sensor_id VARCHAR(255) NOT NULL,
      |  file_name VARCHAR(255) NOT NULL,
      |  aggregation_time TIMESTAMP NOT NULL,
      |  metric_name VARCHAR(50) NOT NULL,
      |  min_value DOUBLE, max_value DOUBLE, avg_value DOUBLE,
      |  std_dev_value DOUBLE, record_count INT,
      |  processed_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP,
      |  CONSTRAINT uq_agg UNIQUE
      |    (sensor_id, file_name, metric_name, aggregation_time))""".stripMargin)

  def run(conf: JdbcConf): Unit = {
    val conn = java.sql.DriverManager.getConnection(
      conf.url, conf.user, conf.password)
    try {
      val st = conn.createStatement()
      if (conf.url.startsWith("jdbc:derby")) {
        derbyDdl.foreach { ddl =>
          try st.execute(ddl)
          catch {
            case e: java.sql.SQLException if e.getSQLState == "X0Y32" =>
            // object already exists — Derby's IF NOT EXISTS
          }
        }
      } else {
        st.execute(rawTableDdl)
        st.execute(aggTableDdl)
      }
    } finally conn.close()
  }
}
