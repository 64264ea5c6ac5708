package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.input_file_name

import graft.core.Schemas.ChangeEvent

/** Distributed binlog-text ingestion (C1 + B1/B2 batch boundary).
  *
  * The reference pipes `mysqlbinlog` output through awk into the
  * consolidator one file at a time, sequentially
  * (`Parquet Export/parse_binlogs.sh:115-144`); cross-file ordering
  * matters because each file's merge lands on disk before the next file
  * runs. We reproduce that total order in one batch: every file gets a
  * sequence-number window of 2^32 based on its binlog rank, so events
  * in later files always win last-write-wins without any cross-file
  * coordination — the parse stays embarrassingly parallel, one task
  * per file.
  *
  * File rank follows MySQL's own ordering: the numeric suffix of
  * `mysql-bin.NNNNNN` (names without a number fall back to
  * lexicographic order after all numbered ones). Plain lexicographic
  * ordering would invert at the 6-to-7-digit rollover
  * (`...999999` vs `...1000000`).
  *
  * Files are read whole (`wholetext`) because binlog blocks are
  * multi-line and must not be split at arbitrary byte offsets. Binlog
  * files are size-bounded by the DB (`max_binlog_size`, typically
  * <= 1 GiB), so a whole file per task is safe at any lake scale.
  */
object CdcSource {

  private val SeqWindow = 1L << 32

  /** Binlog sort key: (numeric suffix, name). */
  private[cdc] def binlogKey(name: String): (Long, String) = {
    val num = "\\d+".r.findAllIn(name).toSeq.lastOption
      .map(_.toLong).getOrElse(Long.MaxValue)
    (num, name)
  }

  /** Parse all binlog dump files under `path` (glob ok) into events.
    * The file list for ranking comes from a driver-side FS listing —
    * no data is read to establish order. */
  def readEvents(spark: SparkSession, path: String,
      table: String = BinlogParser.DefaultTable): Dataset[ChangeEvent] = {
    import spark.implicits._
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // Key the rank map by scheme-less path: input_file_name() and the
    // FS listing normalize URIs differently (file:/ vs file:///).
    val names = Option(fs.globStatus(p)).getOrElse(Array.empty)
      .filter(_.isFile)
      .map(_.getPath.toUri.getPath)
    val rank = names.sortBy(binlogKey).zipWithIndex.toMap
    val rankB = spark.sparkContext.broadcast(rank)
    spark.read.option("wholetext", "true").text(path)
      .select(input_file_name().as("_1"), $"value".as("_2"))
      .as[(String, String)]
      .flatMap { case (name, text) =>
        val key = new Path(name).toUri.getPath
        val idx = rankB.value.getOrElse(key, throw new IllegalStateException(
          s"binlog file $name missing from the ranked listing"))
        BinlogParser.parseText(text, table, seqStart = idx * SeqWindow)
      }
  }
}
