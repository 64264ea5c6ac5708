package graft.core

import org.apache.spark.sql.types._

/** Data contracts of the engine, derived from the reference's fixed schema
  * (reference: `Parquet Export/consolidate.cpp:124-128` Arrow schema;
  * `Parquet Export/db_extractor.py:83-88` pandas dtype contract).
  *
  * `date_time`/`ts` are deliberately STRING, not TimestampType: the
  * reference stores 19-char `"YYYY-MM-DD HH:MM:SS"` strings and relies on
  * their lexicographic ordering (resume point = string max,
  * `db_extractor.py:68`). We preserve that at-rest representation and only
  * convert to TimestampType transiently inside normalization operators.
  */
object Schemas {

  /** Sentinel encoding a NULL/unparseable datetime
    * (`db_extractor.py:56,206,245`). It is data, not null: written and
    * counted like any row, but excluded from resume-point max. */
  val Sentinel = "0001-01-01 00:00:00"

  /** Exact format of both datetime columns (19 chars). */
  val DtPattern = "yyyy-MM-dd HH:mm:ss"

  /** Validation regex (`db_extractor.py:14`). Kept simple so the same
    * pattern string is valid in Java regex and RE2 (DuckDB oracle). */
  val DtRegex = """^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}$"""

  /** Historical cutoff (`db_extractor.py:12`). */
  val MinDate = "2010-01-02 00:00:00"

  /** The exported lake row (`consolidate.cpp:124-128`). */
  val timeseriesSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("date_time", StringType, nullable = false),
    StructField("value", DoubleType, nullable = true),
    StructField("ts", StringType, nullable = false)))

  /** A parsed CDC event (`consolidate.cpp:310-369`).
    *
    * @param op  "I" | "U" | "D"
    * @param pk  primary key (`@1`); must be != 0 (`consolidate.cpp:61`)
    * @param dateTime `@3`, unquoted; day = first 10 chars
    *                 (`consolidate.cpp:66`)
    * @param value `@4`; None when the literal was `NULL`
    *              (`consolidate.cpp:76-86`); meaningless for D
    * @param ts  `@6` unix seconds rendered as UTC+2 19-char string
    *            (`consolidate.cpp:45-53`); meaningless for D
    * @param seq monotonically increasing sequence within the batch; later
    *            events win (`consolidate.cpp:98,103,106`)
    */
  final case class ChangeEvent(
      op: String,
      pk: Long,
      dateTime: String,
      value: Option[Double],
      ts: String,
      seq: Long) {
    def day: String = dateTime.substring(0, 10)
  }

  /** Monitoring snapshot shape (`Email Node Status/watcher.py:81-121`). */
  final case class ReplicationStatus(
      secondsBehindMaster: Option[Long],
      slaveIoRunning: String,
      slaveSqlRunning: String,
      masterHost: String,
      lastError: String)

  final case class NodeStatus(
      ip: String,
      isOnline: Boolean,
      isMaster: Boolean,
      replication: Option[ReplicationStatus],
      pollTs: Long)

  /** Anomaly emitted by the state-change diff (`watcher.py:234-266`). */
  final case class Anomaly(
      ip: String,
      kind: String,
      detail: String,
      pollTs: Long)

  /** Replication-lag alert threshold, seconds
    * (`watcher_config.py:24`). */
  val LagThresholdSeconds = 600L
}
